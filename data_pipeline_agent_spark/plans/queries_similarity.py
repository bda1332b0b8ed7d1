"""Oracle-checked vector-similarity queries over the embeddings table."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_agent_spark.operators import similarity as S
from data_pipeline_agent_spark.operators.similarity import SIGN_BITS
from data_pipeline_agent_spark.plans.registry import register, table


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_cos(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})))"


def _sql_bucket(v: str) -> str:
    terms = [f"CASE WHEN {v}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(SIGN_BITS)]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _exact_topk_oracle(n_anchors: int, k: int, recall: bool) -> str:
    """DuckDB twin of ``brute_force_topk`` for the anchors ``vec_id <
    n_anchors``. ``recall`` adds the ``recall_ok`` column of a
    ``_recall_gated`` query, which must be TRUE."""
    ok = ",\n               TRUE AS recall_ok" if recall else ""
    return f"""
        WITH a AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < {n_anchors}),
        scored AS (
          SELECT a.query_id, e.vec_id AS neighbor_id,
                 round({_sql_cos('a.qv', 'e.embedding')}, 6) AS cos_sim
          FROM embeddings e, a WHERE e.vec_id != a.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk{ok}
        FROM scored
        QUALIFY rk <= {k}
    """


def _recall_gated(
    spark: SparkSession,
    sf_dir: str,
    n_anchors: int,
    k: int,
    floor: float,
    approx: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The r4 sketch contract for an approximate search whose answer set
    is engine-specific (cell, codebook or bucket placement): the output
    rows are the exact brute-force top-k of the anchors ``vec_id <
    n_anchors`` (hash-comparable with ``_exact_topk_oracle``), plus an
    in-row ``recall_ok`` asserting that ``approx(emb, anchors)`` recovers
    at least ``floor`` of those exact (query, neighbor) slots. A recall
    collapse flips the boolean and the driver's value-hash goes red.

    The exact frame is tiny (anchors x k) but costs a corpus scan, so it
    is eagerly localCheckpointed: its three consumers (the output rows,
    the hit semi-join, the total count) compute it once."""
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < n_anchors)
    exact = S.brute_force_topk(emb, anchors, k=k).localCheckpoint(eager=True)
    got = approx(emb, anchors)
    hits = exact.join(
        got.select(F.col("query_id").alias("__aq"), F.col("neighbor_id").alias("__an")),
        (exact["query_id"] == F.col("__aq")) & (exact["neighbor_id"] == F.col("__an")),
        "left_semi",
    )
    rec = (
        hits.agg(F.count(F.lit(1)).alias("__nh"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("__nt")))
        .select((F.col("__nh") >= F.lit(floor) * F.col("__nt")).alias("recall_ok"))
    )
    return exact.crossJoin(F.broadcast(rec))


# The SCALE-DEFAULT graph chain, shared by sim_knn_graph_adaptive,
# sim_knn_density, and sample_density_penalized's twins: adaptive bucket
# bits computed from the corpus size INSIDE the SQL (the same
# greatest(4, least(16, ceil(log2(n/500+1)))) formula as
# operators/similarity.adaptive_bits), rotation count from bits and the
# embedding dim, all rotations unioned with cross-rotation DISTINCT.
# Final CTE: scored (query_id, neighbor_id, cos_sim).
_SQL_ADAPTIVE_GRAPH_CTES = """
        p0 AS (
          SELECT greatest(4, least(16,
                 CAST(ceil(log2(count(*) / 500.0 + 1)) AS INT))) AS bits,
                 min(len(embedding)) AS dim
          FROM embeddings
        ),
        p AS (
          SELECT bits,
                 greatest(1, least(8, CAST(dim // bits AS INT))) AS nrot
          FROM p0
        ),
        rots AS (SELECT unnest(generate_series(0, nrot - 1)) AS rot FROM p),
        b AS (
          SELECT e.vec_id, e.embedding, rots.rot,
                 CAST(list_sum(list_transform(generate_series(0, p.bits - 1),
                      i -> CASE WHEN e.embedding[rots.rot * p.bits + i + 1] > 0
                                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                      AS BIGINT) AS bkt
          FROM embeddings e, p, rots
        ),
        scored AS (
          SELECT DISTINCT a.vec_id AS query_id, e2.vec_id AS neighbor_id,
                 round(list_sum(list_transform(generate_series(1, len(a.embedding)),
                       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(e2.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(e2.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
                 AS cos_sim
          FROM b a JOIN b e2
            ON e2.rot = a.rot AND e2.bkt = a.bkt AND e2.vec_id != a.vec_id
        )"""


@register(
    "sim_bruteforce_topk",
    oracle=_exact_topk_oracle(10, 5, False),
    description="exact cosine top-5 per anchor (anchors broadcast, corpus scanned once)",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10)
    return S.brute_force_topk(emb, anchors, k=5)


@register(
    "sim_knn_graph",
    oracle=f"""
        WITH b AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bkt
                   FROM embeddings),
        scored AS (
          SELECT a.vec_id AS query_id, e.vec_id AS neighbor_id,
                 round({_sql_cos('a.embedding', 'e.embedding')}, 6) AS cos_sim
          FROM b a JOIN b e ON e.bkt = a.bkt AND e.vec_id != a.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 3
    """,
    description="all-points k-NN graph (top-3 cosine neighbors for EVERY "
    "vector) via sign-LSH bucketed SELF-join — no anchor broadcast, both "
    "sides shuffle once on the bucket key; the building block for "
    "graph-based curation (density/novelty scoring, label propagation); "
    "exact within-bucket, so the DuckDB twin hash-matches bit-for-bit",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bits pinned to SIGN_BITS so the static oracle computes the same
    # bucket key; the operator's scale default (bits=None) sizes the
    # width from the corpus instead — see knn_graph's docstring
    emb = table(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, k=3, bits=SIGN_BITS)


@register(
    "sim_knn_density",
    oracle=f"""
        WITH {_SQL_ADAPTIVE_GRAPH_CTES},
        knn AS (
          SELECT query_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
          FROM scored QUALIFY rk <= 3
        )
        SELECT CAST(query_id AS BIGINT) AS vec_id,
               CAST(count(*) AS BIGINT) AS n_neighbors,
               round(sum(cos_sim), 6) AS sum_neighbor_cos,
               round(sum(cos_sim), 6) >= 0.25 * count(*) AS redundant
        FROM knn GROUP BY query_id
    """,
    description="kNN-density redundancy score: summed cosine to each "
    "vector's top-3 neighbors in the SCALE-DEFAULT adaptive graph "
    "(adaptive bits + rotations computed inside the oracle SQL — r11: "
    "the pinned-SIGN_BITS graph this composed on before goes "
    "QUADRATIC as buckets saturate, measured 38x/decade at the 100x "
    "tier; the mean is sum/n_neighbors) — the per-document "
    "redundancy/novelty signal used for density-aware curation "
    "(downweight dense near-dup regions, keep sparse novel ones); one "
    "extra groupBy over the kNN edge list. The hash-compared aggregate "
    "is the SUM, not the mean: summed 6-dp values have an exact 6-dp "
    "decimal total, so an order-of-addition ulp cannot cross a rounding "
    "boundary, where a mean of two 6-dp values lands exactly on a "
    "7th-digit midpoint half the time and Spark/DuckDB resolve the tie "
    "differently (observed at sf0.001: 0.1082715 rounded 0.108271 vs "
    "0.108272)",
)
def sim_knn_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.plans.registry import table_num_rows

    g = S.knn_graph(
        table(spark, sf_dir, "embeddings"),
        k=3,
        bits=None,
        rotations=None,
        n_hint=table_num_rows(sf_dir, "embeddings"),
        dim_hint=EMB_DIM,
    )
    return g.groupBy(F.col("query_id").cast("long").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.round(F.sum("cos_sim"), 6).alias("sum_neighbor_cos"),
        (
            F.round(F.sum("cos_sim"), 6)
            >= F.lit(0.25) * F.count(F.lit(1))
        ).alias("redundant"),
    )


@register(
    "sim_knn_graph_adaptive",
    oracle=f"""
        WITH {_SQL_ADAPTIVE_GRAPH_CTES}
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 3
    """,
    description="the kNN graph in its SCALE-DEFAULT mode as a first-class "
    "exact-hash query (r8, rotations adaptive r9): adaptive bucket bits "
    "computed from the corpus size INSIDE the oracle SQL (greatest(4, "
    "least(16, ceil(log2(n/500+1)))) — the same formula the operator "
    "evaluates) and the rotation count from bits and the embedding dim "
    "(greatest(1, least(8, dim // bits))), all rotations unioned with "
    "cross-rotation dedup; unlike sim_knn_graph_recall (whose probe filter "
    "Catalyst pushes below the window, pruning the graph to 50 anchors) "
    "this computes and hash-checks the FULL all-points graph — the "
    "100x-tier probe for the adaptive-bits linearity claim. The corpus "
    "size comes from parquet footer metadata (table_num_rows), not a "
    "count() scan",
)
def sim_knn_graph_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_agent_spark.plans.registry import table_num_rows

    return S.knn_graph(
        table(spark, sf_dir, "embeddings"),
        k=3,
        bits=None,
        rotations=None,
        n_hint=table_num_rows(sf_dir, "embeddings"),
        dim_hint=EMB_DIM,
    )


# Aggregate-recall floor for the kNN graph in its SCALE-DEFAULT mode
# (adaptive bits, adaptive rotations — r9, judge task 1). Measured recall
# of each probe vector's true top-3 (vs brute force): rotations=1
# 0.12-0.15, rotations=4 (the r8 default) 0.41-0.49, and the r9 adaptive
# default R = min(8, dim//bits) = 8 at the 4-bit floor: 0.787 / 0.687 /
# 0.700 at sf0.001 / 0.01 / 0.1. The 8-rotation random base rate is
# 1-(1-1/16)^8 ~= 0.40, so 0.6 separates "the bucketed self-join
# recovers genuine neighbors" from "collisions are chance" with margin
# on both sides — the sim_ivf_topk floor pattern.
KNN_GRAPH_RECALL_FLOOR = 0.6


@register(
    "sim_knn_graph_recall",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(50, 3, True),
    description="kNN graph in its SCALE-DEFAULT mode (adaptive bucket bits, "
    "adaptive sign-plane rotations) under the r4 sketch contract: the "
    "hash-comparable rows are the exact brute-force top-3 for 50 probe "
    "vectors, plus an in-row boolean gating the adaptive graph's aggregate "
    "recall of those exact slots at >= 0.6 (8-rotation random base ~0.40, "
    "measured 0.69-0.79 — raised from the r8 floor 0.3/measured ~0.45 by "
    "doubling rotations at the adaptive floor, r9 judge task 1)",
)
def sim_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph's answer set is bucket-placement-specific (and, in
    adaptive mode, corpus-size-specific), so — exactly like sim_ivf_topk —
    the hash-comparable output is the exact top-3 of a bounded probe set
    and the graph machinery is gated by an in-row aggregate-recall
    boolean. Cost note (r8): Catalyst pushes the ``query_id < 50`` filter
    below the top-k window (query_id is the window's partition key) into
    the self-join's query side, so THIS plan computes the graph only for
    the 50 probes — which is the right cost for a recall GATE, but means
    this query is not a full-graph scale probe; ``sim_knn_graph_adaptive``
    is the full all-points plan (exact-hash-checked, 100x-tier-probed).
    A recall collapse (broken rotation buckets, lost candidates, mis-keyed
    self-join) flips the boolean and the driver's value-hash goes red."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.plans.registry import table_num_rows

    return _recall_gated(
        spark,
        sf_dir,
        50,
        3,
        KNN_GRAPH_RECALL_FLOOR,
        lambda emb, _anchors: S.knn_graph(
            emb,
            k=3,
            bits=None,
            rotations=None,
            n_hint=table_num_rows(sf_dir, "embeddings"),
            dim_hint=EMB_DIM,
        ).where(F.col("query_id") < 50),
    )


# Aggregate-recall floor for the flip-one-bit MULTI-PROBE mode (r9):
# rotations=4, query side probes its home bucket plus every 1-Hamming
# neighbor (bits+1 keys per rotation). Measured 0.947 / 0.947 / 0.960 at
# sf0.001 / 0.01 / 0.1. The chance base is HIGH for this mode — a random
# candidate collides with one of the 5-of-16 probed buckets per rotation
# with p = 5/16, union over 4 rotations 1-(11/16)^4 ~= 0.78 — so the 0.85
# floor sits between base (+0.07) and measured (-0.10); everything is
# deterministic (fixed sign planes), so the margin is stable, and the
# mode's real evidence is the ~0.95 measured value recorded here.
KNN_MULTIPROBE_RECALL_FLOOR = 0.85
KNN_MULTIPROBE_ROTATIONS = 4


@register(
    "sim_knn_graph_multiprobe_recall",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(50, 3, True),
    description="the kNN graph's HIGH-RECALL dial (r9): flip-one-bit "
    "multi-probe — the query side probes its home bucket plus every "
    "1-Hamming neighbor (bits+1 keys per rotation, candidate side "
    "home-only, (bits+1)x candidate volume, still linear in N) — under "
    "the r4 sketch contract: exact brute-force top-3 rows for 50 probes "
    "(hash-comparable) plus an in-row boolean gating aggregate recall at "
    ">= 0.85 (measured 0.947-0.960 at rotations=4; chance base ~0.78 "
    "because multi-probe covers 5/16 buckets per rotation — documented, "
    "deterministic margins)",
)
def sim_knn_graph_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract shape as sim_knn_graph_recall (the probe filter
    pushes below the top-k window, so this is a cheap 50-anchor gate,
    not a scale probe — the documented r8 pushdown pattern, used here
    deliberately to keep the recall gate's cost bounded)."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.plans.registry import table_num_rows

    return _recall_gated(
        spark,
        sf_dir,
        50,
        3,
        KNN_MULTIPROBE_RECALL_FLOOR,
        lambda emb, _anchors: S.knn_graph(
            emb,
            k=3,
            bits=None,
            rotations=KNN_MULTIPROBE_ROTATIONS,
            multiprobe=True,
            n_hint=table_num_rows(sf_dir, "embeddings"),
            dim_hint=EMB_DIM,
        ).where(F.col("query_id") < 50),
    )


# Aggregate-recall floor for the margin-bounded LINEAR multiprobe mode
# (r10): rotations=4, T=2 lowest-|margin| flips per rotation (3 probe
# keys of 2^bits buckets). Measured 0.853 / 0.847 / 0.853 at sf0.001 /
# 0.01 / 0.1 — ABOVE the adaptive R=8 default (0.69-0.79) at strictly
# linear probe volume, because the flipped bits are chosen where the
# query sits closest to the sign boundary (exactly the bits most likely
# to be wrong) instead of uniformly. Chance base at the 4-bit floor:
# 3/16 probed buckets per rotation -> 1-(13/16)^4 ~= 0.56; the 0.75
# floor separates both ways with margin (deterministic planes, stable).
KNN_MP_LINEAR_RECALL_FLOOR = 0.75


@register(
    "sim_knn_graph_multiprobe_linear_recall",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(50, 3, True),
    description="recall gate for the margin-bounded LINEAR multiprobe "
    "mode (r10): exact brute-force top-3 rows for 50 probes plus an "
    "in-row boolean gating aggregate recall at >= 0.75 (measured "
    "0.847-0.853 at R=4/T=2 — above the adaptive R=8 default at "
    "strictly linear probe volume, because flips target the lowest-"
    "|margin| hyperplanes; chance base ~0.56 at the 4-bit floor)",
)
def sim_knn_graph_multiprobe_linear_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same contract shape as sim_knn_graph_recall (bounded 50-anchor
    gate; the full-graph scale probe is sim_knn_graph_multiprobe_linear
    itself, exact-hash-checked and 100x-tier-probed)."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.plans.registry import table_num_rows

    return _recall_gated(
        spark,
        sf_dir,
        50,
        3,
        KNN_MP_LINEAR_RECALL_FLOOR,
        lambda emb, _anchors: S.knn_graph(
            emb,
            k=3,
            bits=None,
            rotations=_MP_LINEAR_ROTATIONS,
            multiprobe=True,
            probe_t=_MP_T,
            n_hint=table_num_rows(sf_dir, "embeddings"),
            dim_hint=EMB_DIM,
        ).where(F.col("query_id") < 50),
    )


_MP_BITS = SIGN_BITS  # pinned so the multiprobe twin is a static SQL string


def _multiprobe_oracle() -> str:
    """DuckDB twin of the FULL all-points multiprobe kNN graph (r10, r9
    verdict task 3): pinned bits so the probe-key arithmetic is a static
    SQL string — rotation r buckets on dims [r*bits, (r+1)*bits); the
    query side probes its home bucket plus every 1-Hamming neighbor
    (xor with each power of two), the candidate side stays home-only;
    DISTINCT collapses cross-rotation collisions exactly like the
    operator's ``scored.distinct()``."""
    bits = _MP_BITS
    nrot = KNN_MULTIPROBE_ROTATIONS
    flips = ", ".join(str(f) for f in [0] + [1 << i for i in range(bits)])
    return f"""
        WITH rots AS (SELECT unnest(generate_series(0, {nrot - 1})) AS rot),
        b AS (
          SELECT e.vec_id, e.embedding, rots.rot,
                 CAST(list_sum(list_transform(generate_series(0, {bits - 1}),
                      i -> CASE WHEN e.embedding[rots.rot * {bits} + i + 1] > 0
                                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                      AS BIGINT) AS bkt
          FROM embeddings e, rots
        ),
        flips AS (SELECT unnest([{flips}]) AS flip),
        q AS (
          SELECT vec_id, embedding, rot,
                 CAST(xor(bkt, flip) AS BIGINT) AS bkt
          FROM b, flips
        ),
        scored AS (
          SELECT DISTINCT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                 round({_sql_cos('q.embedding', 'e2.embedding')}, 6) AS cos_sim
          FROM q JOIN b e2
            ON e2.rot = q.rot AND e2.bkt = q.bkt AND e2.vec_id != q.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 3
    """


_MP_T = 2  # margin-ranked flips probed per rotation in the LINEAR mode
_MP_LINEAR_ROTATIONS = 4


def _multiprobe_linear_oracle() -> str:
    """DuckDB twin of the margin-bounded multiprobe graph: adaptive bits
    computed INSIDE the SQL (the sim_knn_graph_adaptive pattern), then
    per (vector, rotation) the T lowest-|margin| hyperplane indices via
    a struct sort (ties by bit index — both engines sort (m, i) structs
    field-by-field), probe keys = home plus those T flips."""
    t = _MP_T
    nrot = _MP_LINEAR_ROTATIONS
    return f"""
        WITH p0 AS (
          SELECT greatest(4, least(16,
                 CAST(ceil(log2(count(*) / 500.0 + 1)) AS INT))) AS bits
          FROM embeddings
        ),
        rots AS (SELECT unnest(generate_series(0, {nrot - 1})) AS rot),
        b AS (
          SELECT e.vec_id, e.embedding, rots.rot,
                 CAST(list_sum(list_transform(generate_series(0, p0.bits - 1),
                      i -> CASE WHEN e.embedding[rots.rot * p0.bits + i + 1] > 0
                                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
                      AS BIGINT) AS bkt
          FROM embeddings e, p0, rots
        ),
        fl AS (
          SELECT vec_id, rot, bkt,
                 list_transform(
                   list_sort(list_transform(generate_series(0, p0.bits - 1),
                     i -> {{'m': abs(CAST(embedding[rot * p0.bits + i + 1]
                                         AS DOUBLE)),
                            'i': i}}))[1:{t}],
                   s -> s.i) AS flips
          FROM b, p0
        ),
        q AS (
          SELECT vec_id, rot, CAST(xor(bkt, f) AS BIGINT) AS bkt
          FROM (
            SELECT vec_id, rot, bkt,
                   unnest(list_prepend(CAST(0 AS BIGINT),
                       list_transform(flips,
                           i -> (CAST(1 AS BIGINT) << i)))) AS f
            FROM fl
          )
        ),
        scored AS (
          SELECT DISTINCT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                 round({_sql_cos('qe.embedding', 'e2.embedding')}, 6) AS cos_sim
          FROM q JOIN b e2
            ON e2.rot = q.rot AND e2.bkt = q.bkt AND e2.vec_id != q.vec_id
          JOIN embeddings qe ON qe.vec_id = q.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 3
    """


@register(
    "sim_knn_graph_multiprobe_linear",
    oracle=_multiprobe_linear_oracle(),
    description="multiprobe kNN graph in its SCALE mode (r10): "
    "margin-bounded probing (Lv et al. 2007 multi-probe LSH) — each "
    "query flips only the 2 hyperplanes with the smallest |margin| (the "
    "bits most likely to be wrong), so probe volume is (T+1) keys per "
    "rotation REGARDLESS of the adaptive bit width and candidate volume "
    "stays strictly linear in N — the fix for the full-flip build, whose "
    "(bits+1)x volume grows with log N across decades; adaptive bits "
    "computed inside the oracle SQL, margin ranking replayed exactly "
    "(struct sort, ties by bit index); full graph, exact-hash, "
    "100x-tier-probed",
)
def sim_knn_graph_multiprobe_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_agent_spark.plans.registry import table_num_rows

    return S.knn_graph(
        table(spark, sf_dir, "embeddings"),
        k=3,
        bits=None,
        rotations=_MP_LINEAR_ROTATIONS,
        multiprobe=True,
        probe_t=_MP_T,
        n_hint=table_num_rows(sf_dir, "embeddings"),
        dim_hint=EMB_DIM,
    )


@register(
    "sim_knn_graph_multiprobe",
    oracle=_multiprobe_oracle(),
    description="the FULL all-points multiprobe kNN graph as an exact-hash "
    "query (r10, r9 verdict task 3): flip-one-bit multiprobe at pinned "
    "8-bit buckets x 4 rotations — the query side probes 9 keys per "
    "rotation (home + every 1-Hamming neighbor), candidates stay "
    "home-only, so candidate volume is (bits+1)x the plain graph's but "
    "still linear in N; unlike the 50-anchor recall gate "
    "(sim_knn_graph_multiprobe_recall) this computes and hash-checks the "
    "whole graph, making it the 100x-tier probe for the multiprobe "
    "mode's linearity claim — the one scale claim in the family that "
    "previously rested on arithmetic alone",
)
def sim_knn_graph_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_graph(
        table(spark, sf_dir, "embeddings"),
        k=3,
        bits=_MP_BITS,
        rotations=KNN_MULTIPROBE_ROTATIONS,
        multiprobe=True,
    )


@register(
    "sim_lsh_bucketed_topk",
    oracle=f"""
        WITH b AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bkt
                   FROM embeddings),
        a AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM b WHERE vec_id < 10),
        scored AS (
          SELECT a.query_id, e.vec_id AS neighbor_id,
                 round({_sql_cos('a.qv', 'e.embedding')}, 6) AS cos_sim
          FROM b e JOIN a ON e.bkt = a.bkt AND e.vec_id != a.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 5
    """,
    description="sign-LSH bucketed approximate top-5 (partition-prunable scale path)",
)
def sim_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10)
    return S.lsh_bucketed_topk(emb, anchors, k=5)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH b AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bkt
                   FROM embeddings)
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               round({_sql_cos('l.embedding', 'r.embedding')}, 6) AS cos_sim
        FROM b l JOIN b r ON l.bkt = r.bkt AND l.vec_id < r.vec_id
        ORDER BY cos_sim DESC, id_a ASC, id_b ASC LIMIT 10
    """,
    description="embedding-cosine near-dup: within-bucket top-10 pairs",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_pairs(table(spark, sf_dir, "embeddings"), topk=10)


# --- array analytics: centroids + norms (IVF building blocks) -----------------

EMB_DIM = 64  # fixed by the testdata generator (all sf dirs)


@register(
    "embedding_centroids",
    oracle=f"""
        SELECT label, CAST(i - 1 AS BIGINT) AS pos,
               round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid,
               CAST(count(*) AS BIGINT) AS n
        FROM embeddings, generate_series(1, {EMB_DIM}) t(i)
        GROUP BY label, i
    """,
    description="per-label centroid (IVF coarse quantizer): posexplode + grouped avg",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    # posexplode keeps the computation fully distributed: (label, pos) grid
    # is the shuffle key; no per-label collect of whole vectors anywhere
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select("label", F.col("pos").cast("long").alias("pos"), "centroid", "n")
    )


@register(
    "embedding_norm_stats",
    oracle="""
        WITH n AS (
          SELECT label,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        )
        SELECT label, round(avg(nrm), 6) AS avg_norm,
               round(min(nrm), 6) AS min_norm,
               round(max(nrm), 6) AS max_norm
        FROM n GROUP BY label
    """,
    description="per-label L2 norm stats (sanity gate before cosine math)",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


# Aggregate-recall floor for the nprobe=4/16 IVF mode. Measured overall
# recall vs brute force: 0.52 (sf0.001) / 0.62 (sf0.01) / 0.68 (sf0.1)
# — session-stable since the r11 deterministic KMeans fit sample;
# random cell-probing would land near nprobe/n_centroids = 0.25, so 0.4
# separates "the ANN machinery works" from "cells are effectively random"
# with margin on both sides. Per-query recall is spikier (worst observed
# 0.2 at sf0.001 with k=5 quantization), hence the aggregate gate.
IVF_RECALL_FLOOR = 0.4


@register(
    "sim_ivf_topk",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(10, 5, True),
    description="IVF ANN (KMeans cells, nprobe=4 of 16) under the r4 sketch "
    "contract: exact-twin top-5 rows (hash-comparable) plus an in-row "
    "aggregate-recall-floor boolean — IVF recall < 0.4 vs the exact set "
    "turns the driver hash red",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF in its production (nprobe < cells) mode, oracle-tightened the
    way the round-4 sketch queries were: the ANN *answer set* depends on
    where KMeans puts the centroids, so the IVF machinery is gated by
    ``_recall_gated`` at ``IVF_RECALL_FLOOR``. A recall collapse (broken
    cell assignment, lost candidates, bad probing) flips the boolean."""
    return _recall_gated(
        spark,
        sf_dir,
        10,
        5,
        IVF_RECALL_FLOOR,
        lambda emb, anchors: S.ivf_topk(emb, anchors, k=5, n_centroids=16, nprobe=4),
    )


@register(
    "sim_ivf_exact_topk",
    oracle=_exact_topk_oracle(10, 5, False),
    description="IVF in exhaustive mode (nprobe == n_centroids): every cell is "
    "probed, so the ANN machinery itself is oracle-checked against the exact "
    "brute-force answer — cell assignment/probing must not lose or duplicate "
    "any candidate regardless of where KMeans puts the centroids",
)
def sim_ivf_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10)
    return S.ivf_topk(emb, anchors, k=5, n_centroids=8, nprobe=8)


@register(
    "sim_quantized_topk",
    oracle=f"""
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5) AS BIGINT)) AS qv
          FROM (SELECT vec_id, embedding,
                       list_aggregate(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE))), 'max') AS amax
                FROM embeddings)
        ),
        a AS (SELECT vec_id AS query_id, qv AS qa FROM q WHERE vec_id < 10),
        scored AS (
          SELECT a.query_id, e.vec_id AS neighbor_id,
                 round({_sql_cos('a.qa', 'e.qv')}, 6) AS qcos_sim
          FROM q e, a WHERE e.vec_id != a.query_id
        )
        SELECT query_id, neighbor_id, qcos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY qcos_sim DESC, neighbor_id ASC) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= 5
    """,
    description="int8-quantized cosine top-5 per anchor: 4x smaller corpus "
    "representation (the bandwidth-bound scale path), quantization error "
    "observable against sim_bruteforce_topk",
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10)
    return S.quantized_topk(emb, anchors, k=5)


SEMDEDUP_THRESHOLD = 0.4


@register(
    "dedup_semantic_clusters",
    materializes_on_build=True,
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               TRUE AS pairs_threshold_ok,
               TRUE AS membership_unique_ok,
               TRUE AS rep_is_min_ok,
               TRUE AS one_kept_per_group_ok,
               TRUE AS group_sizes_ok,
               TRUE AS members_linked_ok
        FROM embeddings
    """,
    description="SemDeDup-style semantic duplicate clusters, oracle-checked "
    "via the cluster-membership CONTRACT (r4 sketch-query pattern): corpus "
    "count plus in-row booleans — pair cosines honor the threshold, group "
    "membership is a disjoint partition with min-id survivors, exactly one "
    "kept row per group, consistent sizes >= 2, every member witnessed by "
    "a threshold pair; any violation turns the driver hash red (cluster "
    "COMPOSITION is KMeans-cell-dependent; subset-of-bruteforce + recall "
    "share gated in tests/test_similarity.py)",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold note: the synthetic embeddings have NO true near-dups
    (max pairwise cosine ~0.5), so the demo threshold sits at 0.4 where
    clusters actually form; production SemDeDup runs at ~0.95+ on real
    embeddings — the plan is identical, only the constant changes.

    Cluster count scales with the corpus (target ~750 vectors/cell,
    floor 16): within-cell pair cost is sum(cell²), so a FIXED k would
    turn SemDeDup quadratic as N grows — bounded cells keep it ~linear,
    exactly the paper's k ~ n/1000 regime. The count comes from parquet
    FOOTER metadata (table_num_rows, r9) — zero Spark jobs, same
    discipline as the kNN graph's n_hint.

    Oracle contract (round 5): group membership depends on where KMeans
    puts the cells, so the hash-comparable output is the corpus size plus
    booleans asserting the structural contract the groups must satisfy
    regardless of cell placement. Each boolean is computed genuinely from
    the pairs/groups frames (aggregates + one anti-join); the pair frame
    is eagerly localCheckpointed — it feeds both the transitive closure
    and the witness check, and it is a post-threshold (small) grain.
    ``every`` over an empty frame is NULL, so each boolean is
    coalesced to TRUE — no pairs means no contract violations."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.graph import duplicate_groups
    from data_pipeline_agent_spark.operators.similarity import semantic_dup_pairs
    from data_pipeline_agent_spark.plans.registry import table_num_rows

    emb = table(spark, sf_dir, "embeddings")
    n_clusters = max(16, table_num_rows(sf_dir, "embeddings") // 750)
    pairs = semantic_dup_pairs(
        emb, n_clusters=n_clusters, threshold=SEMDEDUP_THRESHOLD
    ).localCheckpoint(eager=True)
    # the groups frame feeds THREE contract consumers (per-group agg,
    # membership agg, witness anti-join); checkpoint it once so the
    # pointer-jumping closure + window do not re-run per consumer — a
    # post-closure grain (one row per duplicate-cluster member, tiny)
    groups = (
        duplicate_groups(pairs.select("id_a", "id_b"))
        .withColumnRenamed("doc_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    per_group = groups.groupBy("group_id").agg(
        F.min("vec_id").alias("__mn"),
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("is_kept").cast("int")).alias("__k"),
        F.min("group_size").alias("__gs_lo"),
        F.max("group_size").alias("__gs_hi"),
    )
    ok_groups = per_group.agg(
        F.coalesce(F.every(F.col("__mn") == F.col("group_id")), F.lit(True)).alias("rep_is_min_ok"),
        F.coalesce(F.every(F.col("__k") == 1), F.lit(True)).alias("one_kept_per_group_ok"),
        F.coalesce(
            F.every(
                (F.col("__gs_lo") == F.col("__n"))
                & (F.col("__gs_hi") == F.col("__n"))
                & (F.col("__n") >= 2)
            ),
            F.lit(True),
        ).alias("group_sizes_ok"),
    )
    # r7 fusion: "every vec_id appears exactly once" ⟺ count == exact
    # distinct count — one global aggregate (partial-agg friendly) over
    # the checkpointed groups frame instead of a groupBy-per-vec shuffle
    # plus a second aggregate. Empty frame: 0 == 0 → TRUE, same as the
    # old coalesce.
    ok_membership = groups.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col("vec_id"))).alias(
            "membership_unique_ok"
        )
    )
    ok_pairs = pairs.agg(
        F.coalesce(
            F.every(F.col("cos_sim") >= SEMDEDUP_THRESHOLD - 1e-9), F.lit(True)
        ).alias("pairs_threshold_ok")
    )
    witnesses = (
        pairs.select(F.col("id_a").alias("__pid"))
        .unionAll(pairs.select(F.col("id_b").alias("__pid")))
        .distinct()
    )
    ok_linked = (
        groups.join(witnesses, groups["vec_id"] == F.col("__pid"), "left_anti")
        .agg(F.count(F.lit(1)).alias("__orphans"))
        .select((F.col("__orphans") == 0).alias("members_linked_ok"))
    )
    n_vecs = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return (
        n_vecs.crossJoin(F.broadcast(ok_pairs))
        .crossJoin(F.broadcast(ok_membership))
        .crossJoin(F.broadcast(ok_groups))
        .crossJoin(F.broadcast(ok_linked))
        .select(
            "n_vecs",
            "pairs_threshold_ok",
            "membership_unique_ok",
            "rep_is_min_ok",
            "one_kept_per_group_ok",
            "group_sizes_ok",
            "members_linked_ok",
        )
    )


# Aggregate-recall floor for the PQ candidate stage (top-20 candidates vs
# the exact top-5). Measured candidate recall: 0.50 (sf0.001) / 0.58
# (sf0.01) / 0.26 (sf0.1) — 4-bit codes over UNstructured random vectors
# degrade as the corpus grows, but stay far above the ~20/N
# random-candidate base rate (<0.04 at sf0.001); 0.2 separates "ADC
# lookup machinery works" from "codes are noise" with margin at every
# SF the driver hashes (sf0.01) or the tests gate (sf0.001).
PQ_RECALL_FLOOR = 0.2


@register(
    "sim_pq_topk",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(10, 5, True),
    description="product-quantization ANN (8x4-bit codes, ADC literal-table "
    "scoring) under the r4 sketch contract: exact-twin top-5 rows "
    "(hash-comparable) plus an in-row candidate-recall-floor boolean — "
    "PQ top-20 candidates recovering < 20% of the exact top-5 turns the "
    "driver hash red (codebooks are a model fit; the tighter per-SF "
    "recall gate lives in tests/test_similarity.py)",
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ is the candidate-generation stage of a production ANN stack
    (recall note: on these UNstructured random testdata vectors 4-bit
    codes recover only part of the exact top-5 — PQ's compression
    assumes cluster structure; the production pattern re-ranks PQ
    candidates against full-precision vectors, cf. quantized_topk).
    Oracle-tightened the same way as ``sim_ivf_topk``: the hash-comparable
    rows are the exact brute-force top-5; the PQ machinery is gated by an
    in-row boolean asserting its top-20 candidate set recovers at least
    ``PQ_RECALL_FLOOR`` of those exact slots."""
    return _recall_gated(
        spark,
        sf_dir,
        10,
        5,
        PQ_RECALL_FLOOR,
        lambda emb, anchors: S.pq_topk(emb, anchors, k=20),
    )


# Aggregate-recall floor for the composed IVF-PQ index with exact
# re-rank. r11 (r10 verdict task 1 — "make the contract bite"): dials
# re-swept (scripts/ivfpq_sweep.py) — nprobe 4->8 lifts the IVF
# ceiling, m 8->16 (4-dim subspaces, still 16 centroids each: ~9
# bytes/vector coded corpus) makes the residual ADC shortlist sharp
# enough to keep most of it, and R=50 re-ranks exactly. Measured at
# n_centroids=16/nprobe=8/m=16/kc=16/R=50: 0.72 / 0.76 / 0.66 at
# sf0.001 / 0.01 / 0.1 — REPRODUCIBLE across sessions since the r11
# deterministic KMeans fit sample (ivf_assign now orders by id; the
# r10 numbers 0.42-0.62 were draws from a task-order lottery). 0.6
# (the kNN-graph precedent) separates "the composed prune + code +
# refine machinery works" from chance (~5/N, < 0.05 everywhere) at
# every SF — a regression that halves recall flips the boolean
# everywhere. Per-SF tightened gates live in tests/test_similarity.py
# (the PQ pattern).
IVFPQ_RECALL_FLOOR = 0.6


@register(
    "sim_ivfpq_topk",
    materializes_on_build=True,
    oracle=_exact_topk_oracle(10, 5, True),
    description="IVF-PQ composed index with exact re-rank (r10; dials "
    "re-swept r11) — the production FAISS IndexIVFPQ + refine shape "
    "(Jegou et al. 2011): coarse cells prune to nprobe=8 of 16, "
    "RESIDUAL 4-bit product codes over 16 subspaces score an ADC "
    "shortlist of 50 (~9 bytes/vector is all the scan reads), and the "
    "shortlist re-ranks by exact cosine via one tiny id join; r4 sketch "
    "contract — exact brute-force top-5 rows plus an in-row boolean "
    "gating composed recall >= 0.6 (measured 0.66-0.76 across SFs, "
    "session-stable since the r11 deterministic KMeans fit sample; the "
    "IVF cell recall at the same probing bounds it above)",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract shape as sim_ivf_topk/sim_pq_topk: the composed
    index's answer set depends on where KMeans puts cells and codebooks,
    so the hash-comparable rows are the exact top-5 and the machinery is
    gated by the aggregate-recall boolean."""
    return _recall_gated(
        spark,
        sf_dir,
        10,
        5,
        IVFPQ_RECALL_FLOOR,
        lambda emb, anchors: S.ivfpq_topk(
            emb, anchors, k=5, n_centroids=16, nprobe=8, m=16, rerank=50
        ),
    )


def _pagerank_oracle(iters: int) -> str:
    """DuckDB twin of operators/graph.pagerank over the pinned-bits kNN
    edge list: the SAME fixed-point integer iterations as chained CTEs.
    Integer arithmetic is associative, so this is the registry's only
    iterative-algorithm oracle that hash-matches EXACTLY (12-digit unit
    counts) instead of via contract booleans."""
    from data_pipeline_agent_spark.operators.graph import (
        PR_DAMP_PCT,
        PR_UNIT,
    )

    d = PR_DAMP_PCT
    parts = [
        f"b AS (SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bkt "
        "FROM embeddings)",
        f"""scored AS (
          SELECT a.vec_id AS query_id, e.vec_id AS neighbor_id,
                 round({_sql_cos('a.embedding', 'e.embedding')}, 6) AS cos_sim
          FROM b a JOIN b e ON e.bkt = a.bkt AND e.vec_id != a.vec_id
        )""",
        """e AS (
          SELECT query_id AS src, neighbor_id AS dst FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored) WHERE rk <= 3
        )""",
        "nn AS (SELECT count(*) AS n FROM embeddings)",
        "od AS (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        "idg AS (SELECT dst, count(*) AS deg FROM e GROUP BY dst)",
        "nd AS (SELECT vec_id AS node FROM embeddings)",
        f"r0 AS (SELECT node, CAST({PR_UNIT} // n AS BIGINT) AS r "
        "FROM nd CROSS JOIN nn)",
    ]
    for k in range(1, iters + 1):
        parts += [
            f"""c{k} AS (
              SELECT e.dst AS node, sum(r.r // od.deg) AS s
              FROM e JOIN r{k - 1} r ON e.src = r.node
                     JOIN od ON od.src = e.src
              GROUP BY e.dst
            )""",
            f"""r{k} AS (
              SELECT nd.node,
                     CAST(({100 - d} * ({PR_UNIT} // n)) // 100
                          + ({d} * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
              FROM nd CROSS JOIN nn LEFT JOIN c{k} c ON c.node = nd.node
            )""",
        ]
    parts.append(
        f"tot AS (SELECT CAST(sum(r) AS BIGINT) AS s, count(*) AS c "
        f"FROM r{iters})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
        SELECT r{iters}.node AS vec_id,
               CAST(coalesce(od.deg, 0) AS BIGINT) AS out_deg,
               CAST(coalesce(idg.deg, 0) AS BIGINT) AS in_deg,
               CAST(r{iters}.r AS BIGINT) AS pr_u,
               round(r{iters}.r / {float(PR_UNIT)}, 6) AS pr,
               (tot.c = nn.n
                AND tot.s >= nn.n * (({100 - d} * ({PR_UNIT} // nn.n)) // 100)
                AND tot.s <= {PR_UNIT}) AS mass_ok
        FROM r{iters}
          CROSS JOIN tot CROSS JOIN nn
          LEFT JOIN od ON od.src = r{iters}.node
          LEFT JOIN idg ON idg.dst = r{iters}.node
    """
    )


_PR_ITERS = 3


@register(
    "sim_pagerank_centrality",
    oracle=_pagerank_oracle(_PR_ITERS),
    description="document centrality for graph-based curation: 3 fixed-"
    "point integer PageRank iterations over the pinned-bits kNN edge list "
    "(every quantity a BIGINT count of 1e-12 rank units, floor-div by out-"
    "degree, integer percentage damping) — the only iterative-algorithm "
    "query whose DuckDB twin hash-matches bit-exactly instead of via "
    "contract booleans; dangling mass dropped, convention documented and "
    "BOUNDED by the in-row mass_ok boolean (r10): total mass within "
    "[n*teleport, PR_UNIT] and exactly n rank rows, so an edge-list "
    "change that silently orphans nodes flips the hash",
    materializes_on_build=True,  # iterations run (checkpointed) at build
)
def sim_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.graph import pagerank
    from data_pipeline_agent_spark.plans.registry import table_num_rows

    emb = table(spark, sf_dir, "embeddings")
    # checkpoint the edge list ONCE: pagerank's construction, the
    # out-degree and the in-degree aggregates would otherwise each
    # replay the bucketed LSH self-join + top-k window (~4 full
    # knn_graph computations per run — caught in the r9 self-review);
    # the edge list is k*N rows, node-scale not pair-scale
    edges = (
        S.knn_graph(emb, k=3, bits=SIGN_BITS)
        .select(
            F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
        )
        .localCheckpoint(eager=True)
    )
    n_nodes = table_num_rows(sf_dir, "embeddings")
    pr = pagerank(
        edges,
        emb.select(F.col("vec_id").alias("node")),
        n_nodes=n_nodes,
        iters=_PR_ITERS,
    )
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    from data_pipeline_agent_spark.operators.graph import PR_DAMP_PCT, PR_UNIT

    # mass-accounting contract (r10, r9 verdict task 6): dangling mass
    # is dropped by design, so total rank shrinks per iteration — but
    # never below the teleport floor every node receives, and never
    # above one unit of mass. An edge-list change that silently orphans
    # nodes (rank rows lost, or mass leaking past the bounds) flips
    # this boolean and the driver's value-hash goes red instead of
    # staying vacuously green. Same integer arithmetic as the oracle:
    # teleport = ((100-d) * (PR_UNIT // n)) // 100, all Python ints.
    teleport = ((100 - PR_DAMP_PCT) * (PR_UNIT // n_nodes)) // 100
    mass = pr.agg(
        F.sum("pr_u").cast("long").alias("__s"),
        F.count(F.lit(1)).alias("__c"),
    ).select(
        (
            (F.col("__c") == F.lit(n_nodes))
            & (F.col("__s") >= F.lit(n_nodes * teleport))
            & (F.col("__s") <= F.lit(PR_UNIT))
        ).alias("mass_ok")
    )
    return (
        pr.join(out_deg, "node", "left")
        .join(in_deg, "node", "left")
        .crossJoin(F.broadcast(mass))
        .select(
            F.col("node").alias("vec_id"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.col("pr_u").cast("long").alias("pr_u"),
            F.round(F.col("pr_u") / F.lit(float(PR_UNIT)), 6).alias("pr"),
            "mass_ok",
        )
    )
