"""IVF approximate-NN tests: recall floor vs brute force; exact when
probing every cell."""

import os

import pytest


def test_ivf_recall_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, anchors, k=5)
    approx = ivf_topk(emb, anchors, k=5, n_centroids=8, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall
    # exact when probing every cell
    full = ivf_topk(emb, anchors, k=5, n_centroids=8, nprobe=8)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e


def test_semantic_dup_pairs_contained_in_bruteforce(spark):
    """SemDeDup pairs must be a SUBSET of the brute-force all-pairs set at
    the same threshold (within-cluster search can miss boundary pairs but
    must never invent one), and every reported cosine honors the bound."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        cosine,
        semantic_dup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = semantic_dup_pairs(emb, n_clusters=16, threshold=0.4).collect()
    assert got, "threshold 0.4 should produce pairs on this corpus"
    assert all(r["cos_sim"] >= 0.4 for r in got)

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    bf = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cs"))
        .where(F.col("cs") >= 0.4)
        .collect()
    )
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}
    bf_pairs = {(r["id_a"], r["id_b"]) for r in bf}
    assert got_pairs <= bf_pairs
    # within-cluster search at k=16 keeps most of the mass on this corpus
    assert len(got_pairs) / len(bf_pairs) >= 0.3


def test_quantized_cosine_error_bound(spark):
    """int8 symmetric quantization: per-pair cosine drift is bounded (the
    4x-bandwidth trade is quantified, not assumed) and top-1 neighbors
    substantially survive quantization."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        quantized_topk,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, anchors, k=5)
    quant = quantized_topk(emb, anchors, k=5)
    j = exact.alias("e").join(
        quant.alias("q"),
        (F.col("e.query_id") == F.col("q.query_id"))
        & (F.col("e.neighbor_id") == F.col("q.neighbor_id")),
    )
    drift = j.select(
        F.max(F.abs(F.col("e.cos_sim") - F.col("q.qcos_sim"))).alias("m")
    ).first()["m"]
    # 64-dim int8: worst-case elementwise error 0.5/127 per component; the
    # observed cosine drift stays well under 2e-2 on real vectors
    assert drift < 0.02, f"quantized cosine drifted {drift}"
    top1_exact = {r.query_id: r.neighbor_id for r in exact.where("rk = 1").collect()}
    top1_quant = {r.query_id: r.neighbor_id for r in quant.where("rk = 1").collect()}
    overlap = sum(top1_exact[q] == top1_quant.get(q) for q in top1_exact)
    assert overlap >= 7, f"only {overlap}/10 top-1 neighbors survive quantization"


def test_pq_candidates_recall_floor(spark):
    """PQ top-20 candidates must recover a meaningful share of the exact
    top-5 (deterministic: seeded numpy codebooks over a deterministic
    sample), and the codes must be within the 4-bit range."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 10)
    pq = pq_topk(emb, anchors, k=20).collect()
    ex = brute_force_topk(emb, anchors, k=5).collect()
    top5, cand = {}, {}
    for r in ex:
        top5.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in pq:
        cand.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(top5[q] & cand.get(q, set())) for q in top5)
    assert hits >= 12, f"PQ candidates recovered only {hits}/50 exact top-5 slots"
    # determinism across invocations (same codebooks, same sample)
    pq2 = pq_topk(emb, anchors, k=20).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rk) for r in pq) == sorted(
        (r.query_id, r.neighbor_id, r.rk) for r in pq2
    )


# The recall-gated registry queries: (anchors vec_id < n, exact top-k).
RECALL_GATED = {
    "sim_ivf_topk": (10, 5),
    "sim_pq_topk": (10, 5),
    "sim_ivfpq_topk": (10, 5),
    "sim_knn_graph_recall": (50, 3),
    "sim_knn_graph_multiprobe_recall": (50, 3),
    "sim_knn_graph_multiprobe_linear_recall": (50, 3),
}


@pytest.mark.parametrize("name", sorted(RECALL_GATED))
def test_recall_gated_contract_rows(spark, name):
    """The r5 contract-oracle conversion: a recall-gated registry query's
    output must be the exact brute-force top-k twin (hash-comparable)
    with the recall boolean genuinely TRUE on the test data."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import brute_force_topk
    from data_pipeline_agent_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    n_anchors, k = RECALL_GATED[name]
    out = REGISTRY[name].spark(spark, SF_DIR).collect()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = brute_force_topk(emb, emb.where(F.col("vec_id") < n_anchors), k=k).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rk, r.cos_sim) for r in out) == sorted(
        (r.query_id, r.neighbor_id, r.rk, r.cos_sim) for r in exact
    )
    assert all(r.recall_ok for r in out)


def test_ivfpq_refine_recall_and_determinism(spark):
    """IVF-PQ composed index (r10): (a) the re-ranked top-5 recovers a
    meaningful share of the exact top-5 (bounded above by IVF cell
    recall at nprobe=4/16; measured 0.42-0.62 across SFs); (b) the
    refine stage strictly dominates pure-ADC ranking; (c) deterministic
    across invocations (memoized KMeans + seeded numpy codebooks over a
    deterministic sample)."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 10)
    ex = brute_force_topk(emb, anchors, k=5).collect()
    top5 = {}
    for r in ex:
        top5.setdefault(r.query_id, set()).add(r.neighbor_id)

    def hits(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(top5[q] & got.get(q, set())) for q in top5)

    refined = ivfpq_topk(emb, anchors, k=5, rerank=25).collect()
    pure = ivfpq_topk(emb, anchors, k=5).collect()
    assert hits(refined) >= 15, f"refined IVF-PQ recovered {hits(refined)}/50"
    assert hits(refined) >= hits(pure), "refine must not lose recall vs ADC"
    refined2 = ivfpq_topk(emb, anchors, k=5, rerank=25).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rk) for r in refined) == sorted(
        (r.query_id, r.neighbor_id, r.rk) for r in refined2
    )


# measured composed recall at the r11 registry dials (n_centroids=16,
# nprobe=8, m=16, rerank=50) — session-stable since ivf_assign's
# deterministic ORDER BY id fit sample: 0.72 / 0.76 / 0.66. Gates sit
# just under the measured value per SF (the PQ per-SF pattern), so a
# regression that costs even a tenth of recall fails HERE while the
# registry boolean (floor 0.6) guards the driver hash at every SF.
_IVFPQ_SF_FLOOR = {
    "/root/testdata/sf0.001": 0.70,
    "/root/testdata/sf0.01": 0.70,
    "/root/testdata/sf0.1": 0.60,
}


def test_ivfpq_per_sf_recall_gate(spark):
    """r11 (VERDICT r10 task 1): the composed IVF-PQ recall at the
    registry dials must clear the per-SF floor — deterministic, so the
    gate can sit within 0.06 of the measured value."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )
    from tests.conftest import SF_DIR

    floor = _IVFPQ_SF_FLOOR.get(SF_DIR, 0.6)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    anchors = emb.where(F.col("vec_id") < 10)
    ex = brute_force_topk(emb, anchors, k=5).collect()
    top5 = {}
    for r in ex:
        top5.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = ivfpq_topk(
        emb, anchors, k=5, n_centroids=16, nprobe=8, m=16, rerank=50
    ).collect()
    mine = {}
    for r in got:
        mine.setdefault(r.query_id, set()).add(r.neighbor_id)
    total = sum(len(v) for v in top5.values())
    recall = sum(len(top5[q] & mine.get(q, set())) for q in top5) / total
    assert recall >= floor, f"IVF-PQ recall {recall} under the {floor} gate"


def test_ivfpq_guards_fail_loud(spark):
    """ADVICE r10: empty anchors and an undersized codebook sample must
    raise actionable ValueErrors, and probe_t without multiprobe must
    not silently degrade to the plain graph."""
    import numpy as np
    import pytest

    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        _np_kmeans,
        ivfpq_topk,
        knn_graph,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="anchors is empty"):
        ivfpq_topk(emb, emb.where(F.col("vec_id") < 0), k=5)
    with pytest.raises(ValueError, match="at least k distinct sample rows"):
        _np_kmeans(np.zeros((3, 4)), k=16, seed=42)
    with pytest.raises(ValueError, match="probe_t is a multiprobe dial"):
        knn_graph(emb, k=3, bits=8, probe_t=2)


def test_ivfpq_zero_norm_centroid_ranking():
    """ADVICE r10: the driver-side cell ranking must treat a zero-norm
    centroid (or query) as similarity 0.0 — the try_divide convention —
    instead of raising ZeroDivisionError."""
    from data_pipeline_agent_spark.operators.similarity import _driver_cosine

    assert _driver_cosine([1.0, 0.0], [0.0, 0.0]) == 0.0
    assert _driver_cosine([0.0, 0.0], [1.0, 0.0]) == 0.0
    assert _driver_cosine([1.0, 0.0], [1.0, 0.0]) == 1.0
    assert _driver_cosine([1.0, 0.0], [0.0, 2.0]) == 0.0


def test_knn_graph_exact_within_bucket_and_adaptive_bits(spark):
    """All-points kNN graph: (a) the within-bucket result is EXACT — for
    any query, its reported neighbors are the true cosine top-k among the
    vectors sharing its sign bucket (cross-checked against a brute-force
    per-bucket computation); (b) the scale default sizes the bucket width
    from the corpus (small corpus -> the 4-bit floor), keeping expected
    bucket size ~constant as N grows instead of going quadratic at a
    fixed width."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        cosine,
        knn_graph,
        sign_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = knn_graph(emb, k=3, bits=4).collect()
    assert got, "expected neighbors on this corpus"
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) <= 3
        assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(
            range(1, len(rows) + 1)
        )

    # brute-force per-bucket cross-check (50 vectors — cheap)
    b = emb.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), 4).alias("bkt")
    )
    a = b.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), "bkt"
    )
    e = b.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ev"), "bkt"
    )
    truth = {}
    for r in (
        a.join(e, "bkt")
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(cosine(F.col("qv"), F.col("ev")), 6).alias("c"))
        .collect()
    ):
        truth.setdefault(r["qid"], []).append((r["c"], r["nid"]))
    for q, rows in by_q.items():
        want = sorted(truth[q], key=lambda t: (-t[0], t[1]))[: len(rows)]
        got_pairs = [
            (r["cos_sim"], r["neighbor_id"])
            for r in sorted(rows, key=lambda r: r["rk"])
        ]
        assert got_pairs == want, (q, got_pairs, want)

    # adaptive width: 50 vectors / target 500 -> the 4-bit floor, so the
    # default path must equal the explicit bits=4 result
    auto = knn_graph(emb, k=3).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in auto} == {
        (r["query_id"], r["neighbor_id"]) for r in got
    }


def test_knn_graph_recall_vs_bruteforce(spark):
    """r8 (verdict task 1), floor raised r9: the kNN graph's recall vs
    the TRUE top-3 is measured and gated — the density signal built on
    the graph inherits this number. (a) the scale-default mode (adaptive
    bits, adaptive rotations = min(8, dim//bits) -> R=8 at the 4-bit
    floor) clears the 0.6 aggregate floor the registered contract also
    gates; (b) adding rotations must not LOWER recall (each rotation
    only adds candidates; the top-k window can only improve toward the
    true set)."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        knn_graph,
    )
    from data_pipeline_agent_spark.plans.queries_similarity import (
        KNN_GRAPH_RECALL_FLOOR,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 50)
    exact = brute_force_topk(emb, probes, k=3).localCheckpoint(eager=True)
    tot = exact.count()

    def recall(rot: int | None) -> float:
        g = knn_graph(emb, k=3, bits=None, rotations=rot).where(
            F.col("query_id") < 50
        )
        hits = exact.join(
            g.select(
                F.col("query_id").alias("q"), F.col("neighbor_id").alias("nb")
            ),
            (exact["query_id"] == F.col("q"))
            & (exact["neighbor_id"] == F.col("nb")),
            "left_semi",
        ).count()
        return hits / tot

    r1 = recall(1)
    r_auto = recall(None)
    assert r_auto >= KNN_GRAPH_RECALL_FLOOR, (r1, r_auto)
    assert r_auto >= r1, (r1, r_auto)


def test_knn_graph_guard_fails_loud_when_rotations_exceed_dim(spark):
    """ADVICE r8: sign_bucket reads past the vector end as NULL
    (try_element_at), silently zeroing high bucket bits — recall and
    cost would degrade with a green hash. The in-plan assert_true guard
    must fail the job with the actionable message instead."""
    import pytest

    from data_pipeline_agent_spark.operators.similarity import knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bad = knn_graph(emb, k=3, bits=16, rotations=8)  # 128 > dim 64
    with pytest.raises(Exception, match="rotations\\*bits"):
        bad.collect()


def test_adaptive_rotations_formula():
    """R = min(8, dim//bits), floored at 1: the cap binds at the 4-bit
    adaptive floor (64-dim affords 16 blocks), dim//bits binds at the
    16-bit ceiling — rotations*bits <= dim holds by construction at
    every adaptive operating point."""
    from data_pipeline_agent_spark.operators.similarity import (
        adaptive_bits,
        adaptive_rotations,
    )

    assert adaptive_rotations(4, 64) == 8
    assert adaptive_rotations(8, 64) == 8
    assert adaptive_rotations(9, 64) == 7
    assert adaptive_rotations(16, 64) == 4
    assert adaptive_rotations(16, 16) == 1
    for n in (1, 500, 2_000, 200_000, 10**9):
        bits = adaptive_bits(n)
        assert adaptive_rotations(bits, 64) * bits <= 64


def _knn_pair_join_reference(emb, k, bits, rotations, multiprobe=False, probe_t=None):
    """The pre-kernel kNN scoring stage: a (rotation, bucket) equi-join of
    query probe keys to candidate home buckets, each pair scored by the
    interpreted ``dot`` fold, then distinct + row_number top-k. Returns
    the scored pair stage (cross-rotation duplicates included) and the
    top-k frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        cosine_pre,
        dot,
        row_norm,
        sign_bucket,
    )

    b = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        row_norm(F.col("embedding")).alias("__nrm"),
        F.posexplode(
            F.array(
                *[
                    sign_bucket(F.col("embedding"), bits, r * bits)
                    for r in range(rotations)
                ]
            )
        ).alias("__rot", "__bkt"),
    )
    keys = F.array(F.col("__bkt"))
    if multiprobe and probe_t is None:
        keys = F.array(
            F.col("__bkt"), *[F.col("__bkt").bitwiseXOR(1 << i) for i in range(bits)]
        )
    elif multiprobe:
        margins = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(
                            F.element_at(
                                "embedding", (F.col("__rot") * bits + i + 1).cast("int")
                            ).cast("double")
                        ).alias("m"),
                        F.lit(i).alias("i"),
                    )
                    for i in range(bits)
                ]
            )
        )
        keys = F.concat(
            F.array(F.col("__bkt")),
            F.transform(
                F.slice(margins, 1, probe_t),
                lambda s: F.col("__bkt").bitwiseXOR(F.pow(F.lit(2.0), s["i"]).cast("long")),
            ),
        )
    a = b.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("__nrm").alias("__qn"),
        "__rot",
        F.explode(keys).alias("__bkt"),
    )
    e = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__ev"),
        F.col("__nrm").alias("__en"),
        "__rot",
        "__bkt",
    )
    scored = (
        a.join(e, ["__rot", "__bkt"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_pre(
                    dot(F.col("__qv"), F.col("__ev")), F.col("__qn"), F.col("__en")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored, (
        scored.distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rk").cast("long").alias("rk"),
        )
    )


KNN_KERNEL_CASES = [
    dict(k=3, bits=4, rotations=4),
    dict(k=3, bits=4, rotations=2, multiprobe=True),
    dict(k=3, bits=4, rotations=2, multiprobe=True, probe_t=2),
    dict(k=4, bits=8, rotations=1),
    dict(k=3, bits=2, rotations=3, tile_rows=64),
    dict(k=2, bits=2, rotations=1, multiprobe=True, probe_t=1, tile_rows=64),
]


def test_knn_graph_dense_rank_prune_identical_and_map_side(spark, monkeypatch):
    """The blocked kernel is bit-identical to the pair-join stage it
    replaced, and no pair row is ever joined.

    (a) Row-for-row equality with ``_knn_pair_join_reference`` (the old
    equi-join + interpreted ``dot`` fold + distinct/row_number tail) on
    the sf0.01 vectors and on the test tier's, each plus a zero-norm
    vector (NULL cosines) and exact copies of existing vectors (cosine
    ties broken by neighbor_id), for every ``KNN_KERNEL_CASES`` entry:
    plain with cross-rotation duplicates, full-flip and probe_t
    multiprobe, tiny buckets where k >= bucket size, and buckets forced
    across several tiles (a small ``KNN_TILE_ROWS`` and 5-row query
    blocks). Every multi-rotation case's scored pair stage must hold
    cross-rotation duplicates, so the dense_rank/distinct dedup is
    exercised. Where tiles are forced, every kernel group stays within
    the tile bound.
    (b) Plan shape: the executed plan runs the per-group Arrow kernel and
    holds no join at all, so no candidate pair becomes a row before the
    kernel has pruned it to a per-query top-k superset."""
    from data_pipeline_agent_spark.operators import similarity as S
    from tests.conftest import SF_DIR

    tiers = sorted({os.path.join(os.path.dirname(SF_DIR), "sf0.01"), SF_DIR})
    for sf_dir in tiers:
        _check_knn_kernel_cases(spark, monkeypatch, S, sf_dir)


def _check_knn_kernel_cases(spark, monkeypatch, S, sf_dir):
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # ids past the tier's own, so the added rows never collide with it
    top = base.agg(F.max("vec_id")).first()[0] + 1
    dim = len(base.first()["embedding"])
    zero = spark.createDataFrame(
        [(top, [0.0] * dim)], "vec_id bigint, embedding array<float>"
    )
    dups = base.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + top + 1).alias("vec_id"), "embedding"
    )
    emb = base.unionByName(zero).unionByName(dups).localCheckpoint(eager=True)
    n = emb.count()

    for case in KNN_KERNEL_CASES:
        args = dict(case)
        tile_rows = args.pop("tile_rows", None)
        with monkeypatch.context() as mp:
            groups = []
            if tile_rows is not None:
                mp.setattr(S, "KNN_TILE_ROWS", tile_rows)
                mp.setattr(S, "_KNN_QUERY_BLOCK", 5)
                tile_fn = S._knn_tile_rows
                mp.setattr(
                    S, "_knn_tile_rows", lambda *a: groups.append(tile_fn(*a)) or groups[-1]
                )
            got_df = S.knn_graph(emb, n_hint=n if tile_rows else None, **args)
            got = sorted(map(tuple, got_df.collect()))
        ref_scored, ref_df = _knn_pair_join_reference(emb, **args)
        if args["rotations"] > 1:
            assert ref_scored.count() > ref_scored.distinct().count(), (
                "no cross-rotation duplicates",
                sf_dir,
                case,
            )
        ref = sorted(map(tuple, ref_df.collect()))
        assert got == ref, (sf_dir, case)
        assert any(r[2] is None for r in got), case
        if tile_rows is not None:
            (rows,) = groups
            biggest, top_tile = (
                rows.groupBy(*S._KNN_GROUP).count().agg(F.max("count"), F.max("__qt")).first()
            )
            assert top_tile >= 1, ("no bucket spans several tiles", case)
            assert biggest <= tile_rows, (biggest, case)

        exec_txt = got_df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInArrow" in exec_txt, exec_txt[:2000]
        assert "Join" not in exec_txt, exec_txt[:2000]


def test_knn_graph_string_ids_match_integer_ids(spark):
    """``id_col`` may be any comparable type, as it was for the pair
    join: string ids, zero-padded so they sort as the integers do, give
    exactly the integer-id graph."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import knn_graph
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def pad(c):
        return F.lpad(F.col(c).cast("string"), 12, "0").alias(c)

    want = knn_graph(emb, k=3, bits=4, rotations=2).select(
        pad("query_id"), pad("neighbor_id"), "cos_sim", "rk"
    )
    got = knn_graph(emb.withColumn("vec_id", pad("vec_id")), k=3, bits=4, rotations=2)
    assert got.schema["query_id"].dataType.simpleString() == "string"
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pq_search_id_types(spark):
    """``ivfpq_topk`` takes any id type, as brute_force_topk and knn_graph
    do: string ids ("v" plus zero padding, so they sort as the integers
    do) give exactly the integer-id result, with and without re-rank.
    ``pq_topk`` renders anchor ids as BIGINT literals, so it rejects a
    non-integral id column up front, naming itself."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import ivfpq_topk, pq_topk
    from tests.conftest import SF_DIR

    def sid(c):
        return F.concat(F.lit("v"), F.lpad(F.col(c).cast("string"), 12, "0")).alias(c)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    semb = emb.withColumn("vec_id", sid("vec_id"))
    anchors = emb.where(F.col("vec_id") < 5)
    sanchors = semb.where(F.col("vec_id") < "v000000000005")
    for rerank in (None, 20):
        dials = dict(k=5, n_centroids=8, nprobe=4, m=8, rerank=rerank)
        want = ivfpq_topk(emb, anchors, **dials)
        want = want.select(sid("query_id"), sid("neighbor_id"), *want.columns[2:])
        got = ivfpq_topk(semb, sanchors, **dials)
        assert got.schema["query_id"].dataType.simpleString() == "string"
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(TypeError, match="pq_topk: id column 'vec_id' is string"):
        pq_topk(semb, sanchors, k=5)


def test_knn_block_kernel_dots_are_the_left_fold(monkeypatch):
    """The kNN kernel on one Arrow group, without Spark: every emitted
    dot equals ``dot``'s left fold bit for bit (a reordered sum, as a BLAS
    product makes, fails here long before it flips a 6-dp cosine), pairs
    with a NULL element or unequal lengths get a NULL dot, no self pair is
    emitted, and every query's rounded top-k is inside what it emits."""
    import random

    import pyarrow as pa

    from data_pipeline_agent_spark.operators import similarity as S

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    vecs += [list(vecs[0]), [0.0] * 16, [1.0] * 8, [0.5] * 15 + [None]]
    ids = list(range(len(vecs)))

    def fold(a, b):
        if len(a) != len(b) or None in a or None in b:
            return None
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(v):
        d = fold(v, v)
        return None if d is None else d**0.5

    k = 3
    n = len(vecs)
    table = pa.table(
        {
            "__id": pa.array(ids, pa.int64()),
            "__v": pa.array(vecs, pa.list_(pa.float64())),
            "__nrm": pa.array([norm(v) for v in vecs], pa.float64()),
            "__q": pa.array([True] * n),
            "__c": pa.array([True] * n),
        }
    )
    for block in (256, 7):
        monkeypatch.setattr(S, "_KNN_QUERY_BLOCK", block)
        out = S._knn_block_kernel(k)(table).to_pylist()
        got = {(r["query_id"], r["neighbor_id"]): r["__dot"] for r in out}
        assert len(got) == len(out)
        assert all(q != c for q, c in got)
        for (q, c), d in got.items():
            assert d == fold(vecs[q], vecs[c]) or (d is None and fold(vecs[q], vecs[c]) is None)
        for q in ids:
            scored = []
            for c in ids:
                d, nq, nc = fold(vecs[q], vecs[c]), norm(vecs[q]), norm(vecs[c])
                cos = None if d is None or not nq or not nc else round(d / (nq * nc), 6)
                if c != q:
                    scored.append((cos is None, -(cos or 0.0), c))
            for _null, _neg, c in sorted(scored)[:k]:
                assert (q, c) in got, (q, c)


def test_knn_graph_multiprobe_beats_plain_and_clears_floor(spark):
    """r9 high-recall dial: flip-one-bit multi-probe at rotations=4 must
    clear the 0.85 contract floor and strictly beat the plain R=4 graph
    (it only ADDS candidates per rotation)."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import (
        brute_force_topk,
        knn_graph,
    )
    from data_pipeline_agent_spark.plans.queries_similarity import (
        KNN_MULTIPROBE_RECALL_FLOOR,
        KNN_MULTIPROBE_ROTATIONS,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 50)
    exact = brute_force_topk(emb, probes, k=3).localCheckpoint(eager=True)
    tot = exact.count()

    def recall(mp: bool) -> float:
        g = knn_graph(
            emb, k=3, bits=None, rotations=KNN_MULTIPROBE_ROTATIONS, multiprobe=mp
        ).where(F.col("query_id") < 50)
        hits = exact.join(
            g.select(
                F.col("query_id").alias("q"), F.col("neighbor_id").alias("nb")
            ),
            (exact["query_id"] == F.col("q"))
            & (exact["neighbor_id"] == F.col("nb")),
            "left_semi",
        ).count()
        return hits / tot

    r_plain = recall(False)
    r_mp = recall(True)
    assert r_mp >= KNN_MULTIPROBE_RECALL_FLOOR, (r_plain, r_mp)
    assert r_mp > r_plain, (r_plain, r_mp)


def test_pq_books_memoized_and_identical_to_refit(spark):
    """r12: pq_fit memoizes codebooks per (session, plan, dials) through
    ``session.fit_memo`` — the cached fit must be the SAME books a cold
    refit produces (the sample is ORDER BY id, deterministic), and a
    repeat call must hit the memo (no new entry, identical object)."""
    from data_pipeline_agent_spark.operators.similarity import pq_fit
    from data_pipeline_agent_spark.session import _FIT_MEMO
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    _FIT_MEMO.clear()
    cold = pq_fit(emb, m=4, k=8, seed=7)
    assert len(_FIT_MEMO) == 1
    warm = pq_fit(emb, m=4, k=8, seed=7)
    assert warm is cold  # memo hit, zero Spark jobs
    _FIT_MEMO.clear()
    refit = pq_fit(emb, m=4, k=8, seed=7)
    assert refit == cold  # bit-identical books: memoization changes nothing
    # a different dial is a different key, not a stale hit
    other = pq_fit(emb, m=4, k=8, seed=8)
    assert other != cold
    _FIT_MEMO.clear()
