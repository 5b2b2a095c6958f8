"""Seed determinism of the benchmark's input generators."""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pytest

from perfbench.workloads import KgScale, power_law_edges


def test_power_law_edges_repeat_per_seed():
    a = power_law_edges(7, 2_000, 12_000)
    b = power_law_edges(7, 2_000, 12_000)
    c = power_law_edges(8, 2_000, 12_000)
    assert a.dtype == np.int64 and a.shape[1] == 2
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_power_law_edges_shape():
    e = power_law_edges(3, 2_000, 12_000)
    assert (e[:, 0] != e[:, 1]).all(), "self-loop"
    assert len(np.unique(e, axis=0)) == len(e), "duplicate edge"
    out_deg = np.bincount(e[:, 0])
    # heavy tail: the top hub has many times the median positive degree
    assert out_deg.max() >= 20 * np.median(out_deg[out_deg > 0])


@pytest.fixture(scope="module")
def spark():
    from openie_spark.session import build_session

    # the Python workers unpickle the page generator from the checkout
    root = str(Path(__file__).resolve().parents[2])
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    s = build_session(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _pages(spark, tmp_path, seed):
    wl = KgScale(spark, tmp_path / str(seed), seed, {})
    wl.n_pages = {"main": 12}
    wl.generate()
    wl.open("main")
    return sorted(tuple(r) for r in wl.pages.collect())


def test_pages_repeat_per_seed(spark, tmp_path):
    a = _pages(spark, tmp_path / "a", 5)
    b = _pages(spark, tmp_path / "b", 5)
    c = _pages(spark, tmp_path / "c", 6)
    assert len(a) == 12
    assert a == b
    assert a != c
