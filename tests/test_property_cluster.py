"""connected_components has two executions of one round algorithm: a
driver-side numpy path for graphs within the broadcast bound and the
distributed pointer-jumping loop above it.  These tests pin that both
give the same result (labels, or the non-convergence error) for every
round budget, that the numpy rounds match a plain-Python loop of the
same rounds, and that the small path costs one Spark job."""

from collections import defaultdict

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from emiproc_spark import obs
from emiproc_spark.operators.cluster import _label_on_driver, connected_components
from emiproc_spark.session import scoped_conf

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# random graphs over few nodes (self-loops and duplicate edges are
# likely), plus long paths that need many rounds
edge_lists = st.one_of(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)), max_size=40),
    st.integers(1, 100).map(lambda n: [(i, i + 1) for i in range(n)]),
)


def _components(spark, edges, max_iter):
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    try:
        out = connected_components(pairs, max_iter=max_iter).collect()
    except RuntimeError as e:
        assert "did not converge" in str(e)
        return "did not converge"
    return sorted((r["node"], r["component"]) for r in out)


@given(edge_lists, st.randoms(use_true_random=False), st.integers(-(2**40), 2**40))
@settings(max_examples=4, deadline=None)
def test_small_and_distributed_paths_agree(spark, edges, rnd, offset):
    # spread ids over int64 in shuffled order, so the dense renaming of
    # the small path and the id order both matter
    nodes = sorted({v for e in edges for v in e})
    ids = list(range(len(nodes)))
    rnd.shuffle(ids)
    rename = {v: offset + 1_000_003 * k for v, k in zip(nodes, ids)}
    edges = [(rename[a], rename[b]) for a, b in edges]
    edges += [(b, a) for a, b in edges[:3]]  # reversed duplicates

    for max_iter in range(1, 9):
        small = _components(spark, edges, max_iter)
        with scoped_conf(spark, _THRESHOLD, "-1"):
            distributed = _components(spark, edges, max_iter)
        assert small == distributed, f"max_iter={max_iter}"


def test_small_graph_is_one_job(spark):
    """The small path is one bounded collect: the guarded edge fetch.
    The distributed loop spends several jobs per round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 101)], "doc_a long, doc_b long"
    )
    with obs.jobs(spark, "test-cc-small-graph-jobs") as jobs:
        comp = connected_components(pairs)
    assert len(jobs) == 1
    assert {r["component"] for r in comp.collect()} == {0, 100}


@pytest.mark.parametrize("threshold", ["0", "15"])
def test_threshold_without_room_forces_distributed_loop(spark, threshold):
    """A broadcast threshold that leaves room for no edge (bound <= 0)
    keeps every edge off the driver: the rounds run distributed and
    still label correctly."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    group = f"test-cc-forced-distributed-{threshold}"
    with scoped_conf(spark, _THRESHOLD, threshold), obs.jobs(spark, group) as jobs:
        comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert len(jobs) > 2


def _rounds_reference(edges, max_iter):
    """The rounds as a plain loop: closed-neighbourhood min label, then
    the pointer jump from round 1 on.  None when max_iter runs out."""
    closed = defaultdict(set)
    for a, b in edges:
        closed[a].update((a, b))
        closed[b].update((a, b))
    lab = {v: v for v in closed}
    for rnd in range(max_iter):
        new = {v: min(lab[u] for u in closed[v]) for v in closed}
        if rnd:
            new = {v: min(c, lab[c]) for v, c in new.items()}
        if new == lab:
            return lab
        lab = new
    return None


def _min_reachable(edges):
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(edge_lists, st.integers(-(2**62), 2**62), st.integers(0, 12))
@settings(max_examples=200, deadline=None)
def test_numpy_rounds_match_reference_loop(edges, offset, max_iter):
    edges = [(offset + 7 * a, offset + 7 * b) for a, b in edges]
    expected = _rounds_reference(edges, max_iter)
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    try:
        node, comp = _label_on_driver(src, dst, max_iter)
    except RuntimeError as e:
        assert "did not converge" in str(e)
        assert expected is None
        return
    assert dict(zip(node.tolist(), comp.tolist())) == expected
    assert expected == _min_reachable(edges)
