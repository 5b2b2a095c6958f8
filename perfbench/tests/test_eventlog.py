"""The event-log parser on a small canned log with hand-computed metrics."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from perfbench.eventlog import find_event_log, layer_table, per_layer_metric_names

CANNED = Path(__file__).parent / "data" / "canned_eventlog.jsonl"

SPANS = [
    {"layer": "extract", "start_ms": 900, "end_ms": 1500},
    {"layer": "graph", "start_ms": 1900, "end_ms": 2200},
    {"layer": "graph", "start_ms": 2250, "end_ms": 2400},
]

EXPECTED = {
    "extract": {
        "time_s": 0.6,
        # tasks cover [1000, 1400] of the 600 ms span
        "driver_s": 0.2,
        "busy_s": 0.47,
        "jobs": 1,
        "shuffle_mb": 3.0,
        "spill_mb": 3.0,
        "gc_s": 0.015,
        # task times 100 and 400 ms: max 400 / median 250
        "skew": 1.6,
    },
    "graph": {
        "time_s": 0.45,
        # tasks clipped to the two spans cover [2000, 2200] and [2250, 2330]
        "driver_s": 0.17,
        "busy_s": 0.56,
        "jobs": 2,
        "shuffle_mb": 0.5,
        "spill_mb": 0.0,
        "gc_s": 0.02,
        # longest stage has tasks of 100, 100 and 300 ms
        "skew": 3.0,
    },
}


def _check(table):
    assert set(table) == set(EXPECTED)
    for layer, want in EXPECTED.items():
        assert table[layer] == pytest.approx(want), layer


def test_layer_table_single_file():
    _check(layer_table(CANNED, SPANS))


def test_layer_table_rolling_log(tmp_path):
    """Spark 4 writes a directory of numbered ``events_<n>_<app>`` parts by
    default; the parts are read in numeric order."""
    lines = CANNED.read_text().splitlines(keepends=True)
    log_dir = tmp_path / "eventlog_v2_app-1"
    log_dir.mkdir()
    (log_dir / "events_1_app-1").write_text("".join(lines[:10]))
    (log_dir / "events_2_app-1").write_text("".join(lines[10:]))
    found = find_event_log(tmp_path, "app-1")
    assert found == log_dir
    _check(layer_table(found, SPANS))


def test_find_event_log_single_file(tmp_path):
    shutil.copy(CANNED, tmp_path / "app-2")
    assert find_event_log(tmp_path, "app-2") == tmp_path / "app-2"


def test_ungrouped_jobs_are_not_attributed():
    table = layer_table(CANNED, [{"layer": "sinks", "start_ms": 2900, "end_ms": 3600}])
    assert table["sinks"]["jobs"] == 0
    assert table["sinks"]["busy_s"] == 0
    assert table["sinks"]["driver_s"] == pytest.approx(0.7)


def test_metric_names():
    names = per_layer_metric_names()
    assert len(names) == 119
    assert names["graph_analytics.triangles.skew"] == "ratio"
    assert names["trace.overhead_s"] == "s"
