"""Split-leakage guard + leak-free assignment (queries_dedup.py r9)."""

import hashlib
import os

from data_pipeline_agent_spark.plans.registry import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _split_of(doc_id: int) -> str:
    b = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "test" if b < "14" else ("val" if b < "28" else "train")


def test_assignment_is_leakfree_at_default_sf(spark):
    """THE invariant: under the repaired assignment no verified near-dup
    pair straddles splits (the detector query may legitimately show
    leaked pairs under the naive per-doc split; the repair must show
    zero)."""
    from pyspark.sql import functions as F

    assign = REGISTRY["corpus_split_assign_leakfree"].spark(spark, SF_DIR)
    pairs = REGISTRY["dedup_minhash_lsh"].spark(spark, SF_DIR)
    a = assign.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assign.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leaked = (
        pairs.join(a, "id_a").join(b, "id_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaked == 0


def test_singletons_keep_their_own_split(spark):
    """Docs with no near-dup anchor themselves: split identical to the
    naive per-doc hash split used by corpus_split_leakage."""
    rows = (
        REGISTRY["corpus_split_assign_leakfree"]
        .spark(spark, SF_DIR)
        .where("NOT moved_with_cluster")
        .collect()
    )
    assert rows, "expected singleton docs"
    # every singleton, not a prefix slice (ADVICE r9): the sf0.001 frame
    # is small enough to check all rows, and a split-hash drift that
    # only hits later rows must not pass
    for r in rows:
        assert r["split"] == _split_of(r["doc_id"])


def test_split_survivor_composition_invariants(spark):
    """r10 (r9 verdict task 5): the composed corpus_split_survivor query
    must agree with corpus_split_assign_leakfree — every cluster's
    survivor AND members land in the cluster's one split — and the
    survivor must be a member of its own cluster."""
    from pyspark.sql import functions as F

    comp = REGISTRY["corpus_split_survivor"].spark(spark, SF_DIR)
    assign = REGISTRY["corpus_split_assign_leakfree"].spark(spark, SF_DIR)
    assert comp.count() > 0, "corpus should contain duplicate clusters"
    # member splits == the composed cluster split (survivor included:
    # it is one of the members)
    j = assign.join(
        comp.select(
            F.col("group_id").alias("anchor_id"),
            F.col("split").alias("cluster_split"),
        ),
        "anchor_id",
    )
    assert j.where(F.col("split") != F.col("cluster_split")).count() == 0
    # survivor is a member of the cluster it represents
    memb = assign.select(
        F.col("doc_id").alias("survivor_doc_id"),
        F.col("anchor_id").alias("group_id"),
    )
    assert comp.join(memb, ["survivor_doc_id", "group_id"], "left_anti").count() == 0
    # and the split is a pure function of the anchor hash
    for r in comp.collect():
        assert r["split"] == _split_of(r["group_id"])


def test_cluster_members_share_anchor_split(spark):
    rows = (
        REGISTRY["corpus_split_assign_leakfree"]
        .spark(spark, SF_DIR)
        .where("moved_with_cluster")
        .collect()
    )
    assert rows, "corpus should contain near-dup clusters"
    for r in rows:
        assert r["split"] == _split_of(r["anchor_id"])
        assert r["anchor_id"] < r["doc_id"]  # anchor is the min member


def test_dual_grain_constructed_instance(spark):
    """r11 (r10 verdict task 4) — THE invariant the dual-grain closure
    exists for: doc B is LEXICALLY near-dup with A and SEMANTICALLY
    near-dup with C; a single-grain pipeline could split {A,B} and
    {B,C} independently (B in two clusters -> potentially two splits),
    the union closure must land A, B, C in exactly ONE cluster and ONE
    split, with one survivor."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.plans.queries_dedup import (
        dual_grain_split_assign,
    )
    from data_pipeline_agent_spark.session import release

    lex_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, lex_text),
            (2, lex_text),  # lexical pair with 1 (identical shingles)
            (3, "completely different words about spark shuffles and joins"),
            (4, "an unrelated singleton document with its own words here"),
        ],
        "doc_id long, text string",
    )
    e1 = [0.0, 1.0, 0.0, 0.0]
    e23 = [1.0, 0.0, 0.0, 0.0]  # 2 and 3 identical -> semantic pair
    e4 = [0.0, 0.0, 1.0, 0.0]
    emb = spark.createDataFrame(
        [(1, e1), (2, e23), (3, e23), (4, e4)],
        "vec_id long, embedding array<float>",
    )
    ranked, lex, sem = dual_grain_split_assign(docs, emb, n_clusters=2)
    rows = {r["doc_id"]: r for r in ranked.collect()}
    assert {(r["id_a"], r["id_b"]) for r in lex.collect()} == {(1, 2)}
    assert (2, 3) in {(r["id_a"], r["id_b"]) for r in sem.collect()}
    # one row per doc; A, B, C one cluster (anchor = min id = 1), D alone
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[1]["anchor_id"] == rows[2]["anchor_id"] == rows[3]["anchor_id"] == 1
    assert rows[4]["anchor_id"] == 4
    assert len({rows[i]["split"] for i in (1, 2, 3)}) == 1
    assert rows[1]["split"] == _split_of(1)  # anchor-keyed
    assert sum(1 for i in (1, 2, 3) if rows[i]["rk"] == 1) == 1
    assert rows[4]["rk"] == 1
    release(ranked, lex, sem)


def test_dual_grain_registry_contract(spark):
    """The registered contract query: every boolean genuinely TRUE on
    the test corpus, corpus count carried."""
    out = REGISTRY["corpus_split_budget_dual"].spark(spark, SF_DIR).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 500
    for c in (
        "assignment_unique_ok",
        "lexical_cohesion_ok",
        "semantic_cohesion_ok",
        "one_survivor_per_cluster_ok",
        "survivor_split_matches_members_ok",
        "budget_conserved_ok",
    ):
        assert r[c] is True, f"{c} violated"
