"""Approximate-sketch queries — the extreme-scale path for statistics the
engine computes exactly elsewhere (A2 exact distinct counts,
O1/median exact percentiles; SURVEY.md §2.7a).

At 100 TB exact countDistinct is a full shuffle of the key universe and
exact percentile keeps whole groups in memory; HLL++ and GK-sketch
aggregates are single-pass, mergeable, and bounded-memory. Sketch BITS
are engine-specific (DuckDB's implementations don't match Spark's), so
the raw estimates can't be hash-compared — instead the HLL/CMS queries
emit the EXACT value plus a boolean asserting the estimate sits inside
its published error bound, which IS oracle-comparable: the oracle emits
the same exact values with the bools TRUE, so a bound violation turns
the driver's hash-match red. The error magnitudes themselves are
additionally asserted in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_agent_spark.plans.registry import register, table
from data_pipeline_agent_spark.session import fan_out, local_frame


@register(
    "approx_distinct_partkeys",
    oracle="""
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
               TRUE AS hll_within_6pct
        FROM lineitem
    """,
    description="HLL++ distinct vs exact: single-pass mergeable sketch "
    "(rsd 2%), oracle-checked — exact distinct + a 3-sigma bound boolean "
    "on the estimate, so an out-of-bound sketch turns the hash red",
)
def approx_distinct_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no fan_out: the agg partial-aggregates map-side and per-row work is a
    # hash update — repartitioning the full-width fact first costs 3-5x the
    # whole query (measured at sf0.1); at real scale the scan has splits
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").cast("long").alias("n_exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).cast("long").alias("n_approx"),
    ).select(
        "n_exact",
        # rsd=0.02 -> 3-sigma bound 6%; the raw estimate magnitude is
        # additionally asserted in tests/test_sketches.py
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact") <= 0.06
        ).alias("hll_within_6pct"),
    )


@register(
    "approx_percentiles_extendedprice",
    materializes_on_build=True,
    oracle="""
        SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
               round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact,
               TRUE AS p50_rank_ok, TRUE AS p99_rank_ok
        FROM lineitem
    """,
    description="percentile_approx (GK sketch) vs exact percentile, p50/p99 "
    "— oracle-checked: exact values + rank-error bound booleans (the GK "
    "guarantee is |rank(v) - q*N| <= N/accuracy), so a bound violation "
    "turns the driver's hash red",
)
def approx_percentiles_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentiles with the oracle-comparable contract.

    The sketch VALUE is engine-specific (any value whose rank sits within
    eps*N of the target qualifies), so the query emits the exact
    percentiles (hash-comparable) plus booleans asserting the approx
    value's true rank honors the published bound. The exact side feeds
    from ``operators.ranking.exact_percentiles`` (scan-only distributed
    selection — the last ``F.percentile`` value-list buffer over a
    scaling grain left the registry in round 4); the rank booleans come
    from one conditional-aggregate pass against the 1-row broadcast of
    the sketch output. Every pass is a single-column scan with map-side
    partials."""
    from data_pipeline_agent_spark.operators.ranking import exact_percentiles_cols

    # project to the one needed column before widening; the checkpoint
    # lets the selection passes and the rank pass re-read 8 bytes/row.
    # Blast-radius note (this is a CORPUS-grain checkpoint, unlike
    # ordered_prefix's post-aggregation grain): localCheckpoint truncates
    # lineage, so a lost executor loses its blocks unrecoverably and the
    # whole query must re-run. Accepted here because every consumer is a
    # driver-side collect inside this builder (a re-run re-checkpoints);
    # preemptible-executor deployments should set a reliable
    # setCheckpointDir and swap checkpoint() in.
    li = fan_out(
        table(spark, sf_dir, "lineitem").select("l_extendedprice")
    ).localCheckpoint(eager=False)  # materialized by the first selection pass (r12)
    # r12 pass fusion (guide §1.2): the GK instrument sketch (accuracy
    # 10^4) and the row count ride the exact-selection pass 1 as
    # extra_aggs, and the exact side uses the unmelted cols front-end —
    # 4 scans / 3 driver jobs collapse to 3 scans / 2 driver jobs, and
    # the approx values come back as Python floats so the rank pass
    # compares against plain literals instead of a broadcast crossJoin.
    extra: dict = {}
    ep = exact_percentiles_cols(
        li,
        {"l_extendedprice": [(0.5, "p50"), (0.99, "p99")]},
        extra_aggs=[
            F.expr(
                "percentile_approx(l_extendedprice, array(0.5, 0.99), 10000)"
            ).alias("__approx"),
            F.count(F.lit(1)).alias("__n"),
        ],
        extra_out=extra,
    ).first()
    a = extra["row"]["__approx"]  # [a50, a99]; None on an empty column
    n = int(extra["row"]["__n"])

    def _lit(v):
        return F.lit(float(v)) if v is not None else F.lit(None).cast("double")

    a50 = _lit(a[0] if a is not None else None)
    a99 = _lit(a[1] if a is not None else None)
    x = F.col("l_extendedprice")
    ranked = li.agg(
        # lower/upper rank of each approx value (ties straddle the two)
        F.sum((x < a50).cast("long")).alias("lt50"),
        F.sum((x <= a50).cast("long")).alias("le50"),
        F.sum((x < a99).cast("long")).alias("lt99"),
        F.sum((x <= a99).cast("long")).alias("le99"),
    )

    def _rank_ok(q: float, lt: str, le: str):
        # GK bound: some rank in [lt, le] lies within eps*N of q*N
        # (eps = 1/accuracy); +1 absorbs floor/ceil edge rounding.
        # n is a driver-side int now — same IEEE double arithmetic as
        # the previous in-plan long/double expressions.
        tol = n / 10000 + 1
        target = q * n
        return (F.col(le) >= F.lit(target - tol)) & (
            F.col(lt) <= F.lit(target + tol)
        )

    return ranked.select(
        F.round(_lit(ep["p50"]), 6).alias("p50_exact"),
        F.round(_lit(ep["p99"]), 6).alias("p99_exact"),
        _rank_ok(0.5, "lt50", "le50").alias("p50_rank_ok"),
        _rank_ok(0.99, "lt99", "le99").alias("p99_rank_ok"),
    )


@register(
    "hll_users_by_type_union",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS hll_within_2pct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__ALL__', CAST(count(DISTINCT user_id) AS BIGINT), TRUE
        FROM events
    """,
    description="datasketches HLL per event_type + lossless sketch-union "
    "total: the mergeable-sketch pattern for multi-level rollups at scale "
    "(oracle-checked: exact distincts + a ±2% bound boolean on every "
    "estimate, so an out-of-bound sketch turns the hash red)",
)
def hll_users_by_type_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users via HLL sketches, then a grand total computed
    by UNIONING THE SKETCHES (not re-scanning): the pattern that lets a
    100 TB pipeline maintain distinct-count rollups incrementally.

    lgConfigK=14 (16k buckets, ~0.8% standard error; cardinalities below
    ~16k sit in the near-exact sparse regime) keeps the ±2% contract
    comfortably deterministic at every test SF for a 64 KB-per-sketch
    cost. The exact countDistinct columns are the correctness instrument;
    a 100 TB deployment would drop them and keep only the sketches."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    within = (
        F.abs(F.hll_sketch_estimate(F.col("sk")) - F.col("n_exact"))
        <= F.greatest(F.lit(2.0), 0.02 * F.col("n_exact"))
    ).alias("hll_within_2pct")
    per_type_out = per_type.select("event_type", "n_exact", within)
    # 1-row x 1-row cross: the union-of-sketches estimate meets the
    # one-pass overall exact for its bound check
    total = (
        per_type.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(
            ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
        )
        .select(F.lit("__ALL__").alias("event_type"), "n_exact", within)
    )
    return per_type_out.unionByName(total)


@register(
    "cms_heavy_hitters_partkey",
    oracle="""
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_exact,
               TRUE AS cms_ge_exact, TRUE AS cms_within_eps
        FROM lineitem GROUP BY l_partkey
        ORDER BY n_exact DESC, l_partkey LIMIT 10
    """,
    description="count_min_sketch heavy hitters: exact top-10 part keys + "
    "oracle-checked bound booleans (est >= exact always; est <= exact + "
    "2*eps*N w.h.p.) — a bound violation turns the driver's hash red",
)
def cms_heavy_hitters_partkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over l_partkey, probed at the exact top-10 keys.

    The CMS aggregate is one pass and mergeable (the 100 TB path for
    frequency rollups); probing uses the driver-side sketch (a few KB).
    CMS guarantees est >= exact deterministically and est <= exact +
    eps*N with confidence 1-delta; the oracle bool uses 2*eps*N so the
    per-probe failure odds are ~(2e)^-depth, negligible even across
    regenerated test data (the tighter 1x magnitude is asserted in
    tests/test_sketches.py). Raw estimates are engine-specific and so
    stay out of the hash-compared output.
    """
    # no fan_out: both consumers are light-weight aggregates (count, CMS
    # update) that partial-aggregate map-side; see approx_distinct_partkeys
    li = table(spark, sf_dir, "lineitem")
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("l_partkey"))
        .limit(10)
    )
    sk_row = li.agg(
        F.expr("count_min_sketch(l_partkey, 0.001d, 0.99d, 42)").alias("sk"),
        F.count(F.lit(1)).alias("n_total"),
    ).first()
    sketch = spark.sparkContext._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_row["sk"])
    )
    bound = 2 * 0.001 * sk_row["n_total"]
    rows = []
    for r in top.collect():
        est = int(sketch.estimateCount(r["l_partkey"]))
        rows.append(
            (
                r["l_partkey"],
                r["n_exact"],
                est >= r["n_exact"],
                est <= r["n_exact"] + bound,
            )
        )
    return local_frame(
        spark, rows, "l_partkey long, n_exact long, cms_ge_exact boolean, cms_within_eps boolean"
    )


@register(
    "bloom_semijoin_orders",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_matched,
               round(sum(o_totalprice), 6) AS total
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
    """,
    description="selective semi-join eligible for Spark's runtime Bloom "
    "prefilter (spark.sql.optimizer.runtime.bloomFilter.enabled, on by "
    "default): the build side's keys become a broadcast bloom filter probed "
    "in the fact scan before the join shuffle; result stays exact",
)
def bloom_semijoin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB pre-filter pattern, the Spark-idiomatic way: a selective
    dim filter + semi-join lets Catalyst's InjectRuntimeFilter turn the dim
    keys into a Bloom filter (a few MB for millions of keys) that the fact
    scan probes BEFORE shuffling — ~all non-matching rows are dropped at
    the scan. False positives only cost shuffle bytes; the join keeps the
    result exact. Hand-rolling the same thing via a Python-UDF mightContain
    would move the probe off the JVM hot path, so we deliberately express
    the plan declaratively and let the optimizer place the filter.
    """
    cust = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders")
    return (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_semi",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.round(F.sum("o_totalprice"), 6).alias("total"),
        )
    )


@register(
    "hll_trailing_7d_users",
    oracle="""
        WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        days AS (SELECT DISTINCT day AS d FROM ev)
        SELECT strftime(d, '%Y-%m-%d') AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d_exact,
               CAST(count(DISTINCT e.day) AS BIGINT) AS n_days_merged,
               TRUE AS hll_within_2pct
        FROM days JOIN ev e ON e.day BETWEEN d - 6 AND d
        GROUP BY d
    """,
    description="trailing-window distinct via sketch merge: per-day HLL "
    "sketches unioned over each trailing 7-day window — the incremental "
    "rollup pattern that answers ANY trailing window without rescanning "
    "events (oracle-checked: exact trailing distincts + a ±2% bound "
    "boolean on every merged estimate)",
)
def hll_trailing_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily HLL sketches are built once (one shuffle on the day grain);
    each trailing window is then a SELF-JOIN of the days-sized sketch
    table (each day joins <= 7 rows) + hll_union_agg — events are never
    rescanned. At 100 TB the daily sketch table is a few KB per day and
    the trailing-window family (7d, 28d, 90d...) all derive from the
    same precomputed sketches; recomputing exact distincts per window
    would rescan the fact table once PER WINDOW SIZE — which is exactly
    what the n_users_7d_exact correctness column does here (days x events
    range join, fan-out <= 7), and why a 100 TB deployment would drop it.
    lgConfigK=14: see hll_users_by_type_union."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    a = daily.select(F.col("day").alias("d"))
    b = daily.select(F.col("day").alias("d2"), "sk")
    merged = (
        a.join(b, (F.col("d2") >= F.date_sub(F.col("d"), 6)) & (F.col("d2") <= F.col("d")))
        .groupBy("d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("n_approx"),
            F.count(F.lit(1)).cast("long").alias("n_days_merged"),
        )
    )
    exact = (
        a.join(
            ev,
            (F.col("day") >= F.date_sub(F.col("d"), 6)) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users_7d_exact"))
    )
    return merged.join(exact, "d").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_users_7d_exact",
        "n_days_merged",
        (
            F.abs(F.col("n_approx") - F.col("n_users_7d_exact"))
            <= F.greatest(F.lit(2.0), 0.02 * F.col("n_users_7d_exact"))
        ).alias("hll_within_2pct"),
    )
