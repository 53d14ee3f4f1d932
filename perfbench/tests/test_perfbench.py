"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The last test runs the two-query ``smoke`` workload traced at sf0.001
through the normal runner (about a minute on 4 cores).
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from spans import Span, Tracer, innermost, self_times, union_length  # noqa: E402
from spark_stats import metric_value  # noqa: E402
from workloads import WORKLOADS, order, p75  # noqa: E402


def test_union_length_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_with_overlapping_children():
    spans = [
        Span("build", 0.0, 10.0, None, "q"),
        Span("sources", 1.0, 4.0, 0, "q"),  # overlaps the next child
        Span("sources", 3.0, 6.0, 0, "q"),
        Span("fixtures.read", 2.0, 3.0, 1, "q"),
        Span("exports", 8.0, 12.0, 0, "q"),  # ends after its parent
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 1, 3, 1, 4])


def test_innermost_span_gets_the_job():
    spans = [
        Span("build", 0.0, 10.0, None, "q"),
        Span("sources", 1.0, 4.0, 0, "q"),
        Span("fixtures.read", 2.0, 3.0, 1, "q"),
        Span("build", 0.0, 10.0, None, "other"),
    ]
    assert innermost(spans, 2.5, "q") == 2
    assert innermost(spans, 3.5, "q") == 1
    assert innermost(spans, 9.0, "q") == 0
    assert innermost(spans, 11.0, "q") is None


def test_tracer_nests_and_collapses_same_layer():
    tr = Tracer()

    def inner():
        return 1

    f = tr.wrap("sources", lambda: g())
    g = tr.wrap("sources", inner)
    with tr.span("driver_queries.build", phase=True):
        assert f() == 1
    assert [s.layer for s in tr.spans] == ["driver_queries.build", "sources"]
    assert tr.spans[1].parent == 0


def test_p75_needs_40_samples():
    assert p75([1.0] * 39) is None
    vals = [float(i) for i in range(40)]
    assert p75(vals) == pytest.approx(29.75)


def test_seed_fixes_the_permutation():
    for w, names in WORKLOADS.items():
        a, b = order(w, 7), order(w, 7)
        assert a == b and sorted(a) == sorted(names)
        assert len({tuple(order(w, s)) for s in range(10)}) > 1


def test_metric_value_parses_status_store_strings():
    assert metric_value("1,234") == 1234
    assert metric_value("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert metric_value("") == 0


def test_traced_smoke_run_touches_its_layers():
    import run

    data = os.path.join(run.DATA, "sf0.001")
    r = run.run_child("smoke", 1, 1, data, data, 0)
    assert r["failed"] == [] and [len(p) for p in r["passes"]] == [2]
    assert r["setup_s"] > 0
    assert r["checks"] == {"tno_ingest": True, "wrf_flux": True}
    for layer in ("driver_queries.build", "action", "fixtures.read", "sources", "exports"):
        assert r["spans"].get(layer, 0) >= 1, (layer, r["spans"])
    assert r["layers"][0]["driver_queries.build_jobs"] >= 1
    assert r["layers"][0]["exports.calls"] >= 1
