"""ML-layer queries. Model fitting is not ANSI-SQL-expressible, so the
fitted VALUES are engine-specific — but each query's CONTRACT is not.
Round 5 converts the last rows-only entries to the sketch-query oracle
pattern (r4): the hash-comparable output is whatever IS deterministic and
oracle-derivable (feature names, probe keys, ranks), plus in-row booleans
computed genuinely from the fitted model; the oracle emits literal TRUEs,
so any contract violation (negative importance, non-normalized vector,
out-of-domain or seen recommendation, non-descending scores) turns the
driver's value-hash red. Full-value outputs stay available via the
``_rf_importances`` / ``_als_recommendations`` helpers, which
tests/test_ml.py exercises directly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_agent_spark.plans.registry import register, table
from data_pipeline_agent_spark.session import local_frame

RF_FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey", "l_suppkey"]


def _rf_importances(spark: SparkSession, sf_dir: str) -> list[tuple[str, float]]:
    """Seeded RandomForest fit for l_extendedprice; returns
    (feature, importance) descending — the artifact train_model persists
    (main.py:373-383). Single fit, no CV: the full tournament lives in
    ml/train.py."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    li = table(spark, sf_dir, "lineitem")
    assembler = VectorAssembler(inputCols=RF_FEATURES, outputCol="features")
    rf = RandomForestRegressor(
        seed=42, numTrees=10, maxDepth=5, labelCol="label", featuresCol="features"
    )
    # importance ranks stabilize far below full data; a seeded sample is
    # the scale path for fit-for-insight (not fit-for-serving) models
    df = li.sample(fraction=0.25, seed=42).withColumn("label", F.col("l_extendedprice"))
    model = Pipeline(stages=[assembler, rf]).fit(df)
    imp = list(zip(RF_FEATURES, (float(v) for v in model.stages[-1].featureImportances.toArray())))
    imp.sort(key=lambda t: -t[1])
    return imp


def _importance_contract_rows(imp: list[tuple[str, float]]) -> list[tuple]:
    """Contract rows for ``ml_feature_importance``: one row per feature
    plus in-row booleans computed genuinely from the fitted vector.
    Factored out so tests can feed a degenerate vector (constant, or
    non-normalized) and watch the matching boolean flip — the r5 verdict
    found the previous two booleans held for ANY syntactically valid
    MLlib vector, degenerate fits included."""
    total = sum(v for _, v in imp)
    vals = [v for _, v in imp]
    # a constant vector (each = 1/n) is what a degenerate fit (zero
    # trees, all-identical splits) produces; a real fit on any data with
    # unequal feature signal separates by far more than 1e-9
    not_all_equal = bool(max(vals) - min(vals) > 1e-9)
    return [
        (f, bool(v >= 0.0), not_all_equal, bool(abs(total - 1.0) < 1e-6))
        for f, v in sorted(imp)
    ]


@register(
    "ml_feature_importance",
    materializes_on_build=True,
    oracle="""
        SELECT f AS feature,
               TRUE AS importance_nonneg_ok,
               TRUE AS not_all_equal_ok,
               TRUE AS sum_to_one_ok
        FROM (VALUES ('l_discount'), ('l_partkey'), ('l_quantity'),
                     ('l_suppkey'), ('l_tax')) t(f)
    """,
    description="RF feature importances for predicting l_extendedprice, "
    "oracle-checked via the model CONTRACT (r4 sketch pattern): one row per "
    "feature plus in-row booleans — every importance non-negative, the "
    "vector sums to 1 (MLlib normalizes), and (r6) the importances are NOT "
    "all equal (a constant 1/n vector is the degenerate-fit signature; a "
    "real fit separates features by far more than 1e-9 — discriminating, "
    "unlike the first two booleans which any valid vector satisfies); any "
    "violation turns the driver hash red. Importance VALUES and the "
    "ranking are a model fit (measured: near-uniform on this synthetic "
    "data, top feature flips between l_quantity and l_suppkey across SFs "
    "— no stable rank contract exists), exercised in tests/test_ml.py via "
    "_rf_importances",
)
def ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _importance_contract_rows(_rf_importances(spark, sf_dir))
    return local_frame(
        spark,
        rows,
        "feature string, importance_nonneg_ok boolean, "
        "not_all_equal_ok boolean, sum_to_one_ok boolean",
    )


@register(
    "ml_class_balance_report",
    oracle="""
        WITH k AS (SELECT count(*) AS n, count(DISTINCT o_orderstatus) AS nc FROM orders)
        SELECT o_orderstatus AS label,
               CAST(count(*) AS BIGINT) AS cnt,
               round(count(*) / n, 6) AS frac,
               (min(count(*)) OVER () / (max(count(*)) OVER () * 1.0)) < 0.2 AS imbalanced
        FROM orders, k GROUP BY o_orderstatus, n
    """,
    description="M6 imbalance detection: per-class counts + min/max<0.2 flag",
)
def ml_class_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    df = table(spark, sf_dir, "orders")
    n = df.count()
    counts = df.groupBy(F.col("o_orderstatus").alias("label")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy()
    return counts.select(
        "label",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / F.lit(n), 6).alias("frac"),
        (
            F.min("cnt").over(w) / (F.max("cnt").over(w) * F.lit(1.0)) < 0.2
        ).alias("imbalanced"),
    )


def _als_recommendations(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Matrix factorization at Spark scale: MLlib ALS is the canonical
    distributed recommender (block-partitioned normal equations, no
    driver-side matrix). Interactions come from the order history —
    customer x part with summed quantity as implicit confidence.

    Returns (recs, inter): recs = top-``k`` UNSEEN parts per probe
    customer (custkey, rk, partkey, score); inter = the (cust, part, qty)
    interaction frame the model was fit on. Implicit ALS ranks a user's
    own history highly, so every item is scored per probe user and the
    seen pairs are anti-joined out before the final top-k — the standard
    serving-time filter.

    Scale notes: the interaction aggregate is one shuffle on (cust, part),
    eagerly localCheckpointed — the fit, the probe scalar, the seen
    anti-join, and the caller's contract pass all reuse the materialized
    frame instead of re-running the join+agg lineage (r6; same
    blast-radius trade as documented in operators/graph.py: an executor
    loss fails the query and the outer retry recomputes). ALS itself
    alternates block solves partitioned by user/item block — both sides
    stay distributed. Scoring (r8, verdict task 5): the 5 probe users'
    factor vectors broadcast as literals against ONE scan of the
    distributed itemFactors table — dot products as codegen'd
    zip_with/aggregate, per-user top-k via the WindowGroupLimit-pushdown
    window. This is the standard batch-serving plan at any corpus size
    (queries broadcast, item factors partitioned) and replaced
    recommendForUserSubset's blockify + block-cross + per-block topK
    machinery, which was the query's single heaviest non-fit stage
    (~1.5 s warm / 3.4 s cold at sf0.1 for 5 users); it also removes the
    r6 data-sized candidate-pool scalar entirely — the anti-join now
    runs before the top-k, so >= k unseen survivors per user is
    guaranteed by construction at any SF. maxIter=3 (was 5): implicit-
    feedback quality saturates within a few alternations and the fit is
    the only iterative stage (measured 1.7 -> 1.1 s warm; the contract
    booleans and seeded determinism are unaffected). The 15-row recs
    output is localCheckpointed too: consumers (tests, the registry
    contract pass) iterate over it without re-triggering the scoring
    scan."""
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    inter = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("cust"),
            F.col("l_partkey").cast("int").alias("part"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("qty"))
        .localCheckpoint(eager=False)  # materialized by als.fit's first pass (r12)
    )
    als = ALS(
        rank=8,
        maxIter=3,
        seed=42,
        implicitPrefs=True,
        alpha=1.0,
        regParam=0.1,
        userCol="cust",
        itemCol="part",
        ratingCol="qty",
        coldStartStrategy="drop",
    )
    model = als.fit(inter)
    probe_keys = [
        r["cust"]
        for r in inter.select("cust").distinct().orderBy("cust").limit(5).collect()
    ]
    # probe-user history: bounded at 5 users x their parts; the unseen
    # filter (checkpointed inter -> cheap)
    hist = inter.where(F.col("cust").isin(probe_keys)).select("cust", "part")
    # 5 probe factor vectors -> literals (rank doubles each; tiny); the
    # implicit-ALS score is the plain user.item dot product, identical to
    # what recommendForUserSubset computes blockwise
    ufac = {
        r["id"]: [float(x) for x in r["features"]]
        for r in model.userFactors.where(F.col("id").isin(probe_keys)).collect()
    }
    scored = model.itemFactors.select(
        F.col("id").cast("int").alias("part"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("int").alias("cust"),
                        F.aggregate(
                            F.zip_with(
                                F.lit(ufac[c]),
                                F.col("features"),
                                lambda a, b: a * b.cast("double"),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ).cast("float").alias("rating"),
                    )
                    for c in probe_keys
                ]
            )
        ).alias("s"),
    ).select(F.col("s.cust").alias("cust"), "part", F.col("s.rating").alias("rating"))
    unseen = scored.join(hist, ["cust", "part"], "left_anti")
    w = Window.partitionBy("cust").orderBy(F.col("rating").desc(), F.col("part").asc())
    recs = (
        unseen.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("cust").cast("long").alias("custkey"),
            F.col("rk").cast("long").alias("rk"),
            F.col("part").cast("long").alias("partkey"),
            F.round("rating", 4).alias("score"),
        )
        .localCheckpoint(eager=True)
    )
    return recs, inter


@register(
    "ml_als_recommend_parts",
    materializes_on_build=True,
    oracle="""
        WITH probe AS (
            SELECT DISTINCT o_custkey AS custkey
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            ORDER BY custkey LIMIT 5
        )
        SELECT CAST(p.custkey AS BIGINT) AS custkey,
               CAST(r.rk AS BIGINT) AS rk,
               TRUE AS in_part_domain_ok,
               TRUE AS unseen_ok,
               TRUE AS scores_desc_ok
        FROM probe p CROSS JOIN (VALUES (1), (2), (3)) r(rk)
    """,
    description="ALS implicit-feedback recommender (top-3 unseen parts per "
    "probe customer), oracle-checked via the serving CONTRACT (r4 sketch "
    "pattern): the 5 probe custkeys and ranks 1-3 are deterministic and "
    "hash-compared exactly; in-row booleans — recommended part exists in "
    "the part table, was never in the customer's history, scores "
    "non-increasing in rank — are computed genuinely from the fitted "
    "model's output, so a broken fit or filter turns the driver hash red. "
    "Recommendation VALUES are an iterative factorization, exercised in "
    "tests/test_ml.py via _als_recommendations",
)
def ml_als_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    recs, inter = _als_recommendations(spark, sf_dir)
    # recs is a localCheckpointed 15-row frame — collecting its key sets
    # is free and lets both contract joins put the BOUNDED side on the
    # right: Spark can only broadcast the right side of a LEFT OUTER join
    # (recs, the preserved side, is never broadcastable), so the r5 shape
    # `recs LEFT JOIN part` shuffled the full SF-scaling part table. An
    # isin-filtered part slice (predicate pushed to the parquet scan,
    # <= 15 keys) is bounded at any SF, so AQE broadcasts it as the right
    # side — no hint needed (and none allowed: the r5 sweep rule bans
    # hints over part scans).
    rec_rows = recs.select("custkey", "partkey").collect()
    rec_parts = sorted({r["partkey"] for r in rec_rows})
    rec_custs = sorted({r["custkey"] for r in rec_rows})
    part_keys = (
        table(spark, sf_dir, "part")
        .where(F.col("p_partkey").isin(rec_parts))
        .select(F.col("p_partkey").cast("long").alias("partkey"))
        .distinct()
        .withColumn("__in_domain", F.lit(True))
    )
    # probe-user history only (isin on the checkpointed inter frame):
    # bounded at 5 users x their parts vs the r5 full interaction grain
    seen = (
        inter.where(F.col("cust").isin(rec_custs))
        .select(
            F.col("cust").cast("long").alias("custkey"),
            F.col("part").cast("long").alias("partkey"),
            F.lit(True).alias("__seen"),
        )
    )
    w = Window.partitionBy("custkey").orderBy("rk")
    return (
        recs.join(part_keys, "partkey", "left")
        .join(seen, ["custkey", "partkey"], "left")
        .withColumn("__prev_score", F.lag("score").over(w))
        .select(
            "custkey",
            "rk",
            F.coalesce("__in_domain", F.lit(False)).alias("in_part_domain_ok"),
            F.col("__seen").isNull().alias("unseen_ok"),
            (
                F.col("__prev_score").isNull()
                | (F.col("score") <= F.col("__prev_score"))
            ).alias("scores_desc_ok"),
        )
    )
