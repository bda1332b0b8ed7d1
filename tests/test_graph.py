"""connected_components / duplicate_groups unit tests (operators/graph.py).

The sf0.01 oracle check (dedup_minhash_groups, recursive-CTE twin) covers
the integrated path; these cover graph shapes the corpus may not contain:
long chains (transitivity over many hops), multiple disjoint clusters,
and the convergence bound.
"""

import pytest
from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.graph import (
    connected_components,
    duplicate_groups,
)


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    return {
        r["node"]: r["comp"] for r in connected_components(edges, **kw).collect()
    }


# small graphs take the driver union-find path by default;
# driver_edges=0 sends them through the distributed loop
PATHS = pytest.mark.parametrize(
    "path_kw", [{}, {"driver_edges": 0}], ids=["driver", "loop"]
)


@PATHS
def test_chain_collapses_to_min_label(spark, path_kw):
    # 1-2, 2-3, 3-4, 4-5: one component, min label 1, needs multi-round
    # propagation (diameter 4)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], **path_kw)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


@PATHS
def test_disjoint_components_keep_separate_labels(spark, path_kw):
    got = _cc(spark, [(10, 11), (11, 12), (50, 51), (99, 98)], **path_kw)
    assert got == {10: 10, 11: 10, 12: 10, 50: 50, 51: 50, 98: 98, 99: 98}


@PATHS
def test_edge_direction_irrelevant(spark, path_kw):
    # pairs arrive as (bigger, smaller) — symmetrization must handle it
    got = _cc(spark, [(7, 3), (3, 9)], **path_kw)
    assert got == {3: 3, 7: 3, 9: 3}


def test_convergence_bound_strict_raises(spark):
    # pointer jumping reaches ~2^r hops after r rounds, so a 100-hop path
    # is provably unreachable in 2 rounds. driver_edges=0 forces the
    # distributed loop (r12: small graphs otherwise take the driver
    # union-find path, which has no iteration bound to pin).
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(
            spark,
            [(i, i + 1) for i in range(100)],
            max_iter=2,
            strict=True,
            driver_edges=0,
        )


def test_long_path_converges_logarithmically(spark):
    """A 512-hop path graph — the adversarial diameter case that breaks
    pure min-label propagation (O(diameter) rounds) — must converge well
    inside the default bound thanks to pointer jumping (O(log D)).
    driver_edges=0 pins the DISTRIBUTED loop (r12)."""
    got = _cc(spark, [(i, i + 1) for i in range(512)], max_iter=15, driver_edges=0)
    assert set(got.values()) == {0} and len(got) == 513


def test_cc_driver_path_matches_loop(spark):
    """r12: graphs under the driver_edges gate run union-find on the
    driver. The label table must be IDENTICAL (node -> min reachable id)
    to the distributed loop's fixpoint, on shapes that exercise chains,
    merges of chains, disjoint clusters, self-loops and reversed edges."""
    pairs = (
        [(i, i + 1) for i in range(0, 40)]  # long chain
        + [(100 + i, 100 + (i * 7) % 23) for i in range(23)]  # tangled
        + [(500, 501), (503, 502), (504, 504)]  # reversed + self-loop
        + [(900, 800), (800, 850), (850, 950)]  # min in the middle
    )
    driver = _cc(spark, pairs)  # 89 edges <= default gate -> driver path
    loop = _cc(spark, pairs, driver_edges=0)  # forced distributed loop
    assert driver == loop
    # and the gate itself: the driver path runs only the width-sizing
    # count + the bounded collect (2 jobs), no closure rounds — the
    # forced loop schedules strictly more
    from data_pipeline_agent_spark.operators.graph import connected_components

    st = spark.sparkContext.statusTracker()
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")

    def _max_jid() -> int:
        # max job id, NOT len(): job ids are monotonic per application,
        # while the tracker EVICTS old jobs past spark.ui.retainedJobs —
        # len() deltas go negative deep into a long test session
        return max(st.getJobIdsForGroup(None) or [-1])

    j0 = _max_jid()
    connected_components(edges)
    j_driver = _max_jid() - j0
    j0 = _max_jid()
    connected_components(edges, driver_edges=0).collect()
    j_loop = _max_jid() - j0
    assert j_driver <= 3 < j_loop


def test_duplicate_groups_survivor_semantics(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in duplicate_groups(pairs).collect()}
    assert rows[1]["group_id"] == 1 and rows[1]["is_kept"]
    assert rows[3]["group_id"] == 1 and not rows[3]["is_kept"]
    assert rows[1]["group_size"] == 3
    assert rows[8]["group_id"] == 8 and rows[8]["group_size"] == 2
    # every cluster keeps exactly one survivor
    kept = [r for r in rows.values() if r["is_kept"]]
    assert len(kept) == 2


def test_cc_never_mutates_session_conf(spark, monkeypatch):
    """r8 (verdict task 3): the closure sizes its shuffles via explicit
    repartition(width, key) scoped to its own plan — a concurrent plan
    compiled in the same session must never see a narrowed
    spark.sql.shuffle.partitions. Gate: any conf.set during the closure
    fails the test."""

    def _boom(*a, **kw):
        raise AssertionError(f"session conf mutated during CC: {a}")

    monkeypatch.setattr(type(spark.conf), "set", _boom)
    got = _cc(spark, [(1, 2), (2, 3), (8, 9)])
    assert got == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_connected_components_matches_naive_closure_property(spark):
    """Property test: on random small graphs, the distributed min-label
    propagation must agree with a driver-side union-find ground truth."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_pipeline_agent_spark.operators.graph import connected_components

    @settings(max_examples=8, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
                lambda p: p[0] != p[1]
            ),
            min_size=1,
            max_size=40,
        )
    )
    def check(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected = {n: find(n) for n in parent}

        df = spark.createDataFrame(edges, "id_a int, id_b int")
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df, max_iter=40).collect()
        }
        assert got == expected, (sorted(got.items()), sorted(expected.items()))

    check()
