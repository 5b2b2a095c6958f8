"""Per-layer metrics from Spark's own event log.

The traced run enables ``spark.eventLog`` (uncompressed JSON lines) and
wraps each layer's public call in a span that sets the Spark job group to
the layer's name. This module joins the spans with the log's job, stage and
task records into one row of eight metrics per layer:

- ``time_s``     summed wall time of the layer's spans
- ``driver_s``   span time during which none of the layer's tasks ran
                 (driver planning, collects, job barriers)
- ``busy_s``     summed executor run time of the layer's tasks
- ``jobs``       Spark jobs whose job group is the layer
- ``shuffle_mb`` shuffle bytes written (MB = 10^6 bytes)
- ``spill_mb``   bytes spilled to disk
- ``gc_s``       JVM GC time of the layer's tasks
- ``skew``       max / median task wall time in the layer's longest stage
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

LAYERS = (
    "textclean",
    "parse",
    "extract",
    "graph",
    "merge",
    "topk",
    "sinks",
    "lineage",
    "graph_analytics.pagerank",
    "graph_analytics.hits",
    "graph_analytics.k_hop",
    "graph_analytics.triangles",
    "graph_analytics.k_core",
    "dataops.components",
)

LAYER_METRICS = {
    "time_s": "s",
    "driver_s": "s",
    "busy_s": "s",
    "jobs": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "skew": "ratio",
}

# counts and ratios measured at layer boundaries by the traced run itself
EXTRA_METRICS = {
    "extract.ok_ratio": "ratio",
    "merge.rounds": "count",
    "merge.absorb_ratio": "ratio",
    "topk.keep_ratio": "ratio",
    "lineage.resume_s": "s",
    "sinks.write_mb": "MB",
    "trace.overhead_s": "s",
}


def per_layer_metric_names() -> dict[str, str]:
    """Every per-layer metric name mapped to its unit (119 names)."""
    names = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    names.update(EXTRA_METRICS)
    return names


@dataclass
class _Stage:
    group: str | None = None
    submitted_ms: int | None = None
    completed_ms: int | None = None
    tasks: list = field(default_factory=list)  # (launch_ms, finish_ms)
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id") or None


def _log_lines(path: Path):
    """Lines of an uncompressed event log: one file, or a rolling log
    directory (Spark 4's default) whose ``events_<n>_<app>`` files are read
    in order."""
    path = Path(path)
    if path.is_dir():
        files = sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    else:
        files = [path]
    for file in files:
        with open(file) as f:
            yield from f


def find_event_log(log_dir: Path, app_id: str) -> Path:
    rolling = Path(log_dir) / f"eventlog_v2_{app_id}"
    return rolling if rolling.is_dir() else Path(log_dir) / app_id


def read_event_log(path: Path) -> tuple[dict[str, int], dict[int, _Stage]]:
    """→ (jobs per group, stages by id) from one uncompressed event log."""
    jobs: dict[str, int] = {}
    stages: dict[int, _Stage] = {}
    for line in _log_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            if group is not None:
                jobs[group] = jobs.get(group, 0) + 1
            for sid in ev.get("Stage IDs", ()):
                # a stage listed by several jobs runs in the first
                st = stages.setdefault(sid, _Stage())
                if st.group is None:
                    st.group = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _Stage())
            st.group = _group(ev.get("Properties")) or st.group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _Stage())
            st.submitted_ms = info.get("Submission Time")
            st.completed_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _Stage())
            ti = ev["Task Info"]
            st.tasks.append((ti["Launch Time"], ti["Finish Time"]))
            tm = ev.get("Task Metrics") or {}
            st.run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _skew(stages: list[_Stage]) -> float:
    timed = [s for s in stages if s.tasks and s.submitted_ms and s.completed_ms]
    if not timed:
        return 0.0
    longest = max(timed, key=lambda s: s.completed_ms - s.submitted_ms)
    durations = [b - a for a, b in longest.tasks]
    # task times are whole milliseconds; a 0 ms median would divide by zero
    return max(durations) / max(statistics.median(durations), 1)


def layer_table(log_path: Path, spans: list[dict]) -> dict[str, dict[str, float]]:
    """One row of :data:`LAYER_METRICS` per layer that has a span.

    ``spans`` are ``{"layer", "start_ms", "end_ms"}`` records on the same
    epoch-millisecond clock as the event log.
    """
    jobs, stages = read_event_log(log_path)
    table = {}
    for layer in dict.fromkeys(s["layer"] for s in spans):
        windows = [(s["start_ms"], s["end_ms"]) for s in spans if s["layer"] == layer]
        mine = [st for st in stages.values() if st.group == layer]
        covered = _union_ms(
            [
                (max(a, w0), min(b, w1))
                for st in mine
                for a, b in st.tasks
                for w0, w1 in windows
                if min(b, w1) > max(a, w0)
            ]
        )
        span_ms = sum(w1 - w0 for w0, w1 in windows)
        table[layer] = {
            "time_s": span_ms / 1e3,
            "driver_s": max(span_ms - covered, 0.0) / 1e3,
            "busy_s": sum(st.run_ms for st in mine) / 1e3,
            "jobs": jobs.get(layer, 0),
            "shuffle_mb": sum(st.shuffle_bytes for st in mine) / 1e6,
            "spill_mb": sum(st.spill_bytes for st in mine) / 1e6,
            "gc_s": sum(st.gc_ms for st in mine) / 1e3,
            "skew": _skew(mine),
        }
    return table
