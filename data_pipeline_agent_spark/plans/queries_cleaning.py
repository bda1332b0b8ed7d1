"""Oracle-checked queries for the cleaning/profiling/stats operator
inventory (SURVEY.md §2.2-§2.4, reference main.py:66-189).

Each query exercises ONE operator on the driver's TPC-H-ish tables and has
an exact DuckDB SQL twin. See registry.py for the alias/round conventions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.cleaning import iqr_bounds
from data_pipeline_agent_spark.operators.ranking import exact_percentiles_cols
from data_pipeline_agent_spark.plans.registry import register, table

# --- P1/P2: null-count profile (main.py:72,76) -------------------------------

_CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


@register(
    "profile_nullcounts",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(count({c}) AS BIGINT) AS non_null, "
        f"CAST(count(*) - count({c}) AS BIGINT) AS nulls FROM customer"
        for c in _CUSTOMER_COLS
    ),
    description="P1/P2 per-column null-count profile (single fused agg)",
)
def profile_nullcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "customer")
    total = F.count(F.lit(1))
    aggs = []
    for c in _CUSTOMER_COLS:
        aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
    row_df = df.agg(total.alias("__total"), *aggs)
    # melt the single row to (col_name, non_null, nulls)
    stack = ", ".join(f"'{c}', nn__{c}" for c in _CUSTOMER_COLS)
    return row_df.selectExpr(
        f"stack({len(_CUSTOMER_COLS)}, {stack}) as (col_name, non_null)", "__total"
    ).select(
        "col_name",
        F.col("non_null").cast("long").alias("non_null"),
        (F.col("__total") - F.col("non_null")).cast("long").alias("nulls"),
    )


# --- E1/O1: exact median & quartiles (main.py:78,122-123) --------------------


@register(
    "median_quantiles",
    oracle="""
        SELECT round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
               round(quantile_cont(l_quantity, 0.5), 6)  AS qty_p50,
               round(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50,
               round(quantile_cont(l_discount, 0.5), 6) AS disc_p50
        FROM lineitem
    """,
    description="E1/O1 exact percentiles with pandas-style linear interpolation",
)
def median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT F.percentile: exact Percentile's aggregation state is the value
    # list itself, merged on one reducer — the column must fit in a single
    # JVM, which dies at the 100 TB target (and was 24% of the sf1 ramp).
    # exact_percentiles_cols selects the two bracketing order statistics
    # per requested percentile by distributed selection (GK banding +
    # probe scans), then interpolates with the same
    # lower + (higher-lower)*frac formula — identical values, distributed.
    # The multi-column front-end runs pass 1 as one scalar aggregate over
    # the raw 3 columns (no stack melt, no hash aggregation); only the
    # probe passes see the melted frame. No fan_out: each pass is a
    # scan-side partial-combined aggregate already.
    out = exact_percentiles_cols(
        table(spark, sf_dir, "lineitem"),
        {
            "l_quantity": [(0.25, "qty_p25"), (0.5, "qty_p50"), (0.75, "qty_p75")],
            "l_extendedprice": [(0.5, "price_p50")],
            "l_discount": [(0.5, "disc_p50")],
        },
    )
    return out.select(*[F.round(F.col(c), 6).alias(c) for c in out.columns])


# --- E2: deterministic mode (main.py:81-84, smallest value on ties) ----------


@register(
    "mode_mktsegment",
    oracle="""
        SELECT c_mktsegment AS mode_value, CAST(count(*) AS BIGINT) AS freq
        FROM customer GROUP BY c_mktsegment
        ORDER BY count(*) DESC, c_mktsegment ASC LIMIT 1
    """,
    description="E2 mode with pandas mode()[0] tie-break (smallest value)",
)
def mode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "customer")
    return (
        df.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("c_mktsegment"))
        .limit(1)
        .select(F.col("c_mktsegment").alias("mode_value"), F.col("freq").cast("long").alias("freq"))
    )


# --- E4: frequency encoding (main.py:97-101) ---------------------------------


@register(
    "freq_encode_customer_name",
    oracle="""
        SELECT c_custkey,
               CAST(count(*) OVER (PARTITION BY c_name) AS BIGINT) AS c_name_freq
        FROM customer
    """,
    description="E4 frequency encoding of a high-cardinality string column",
)
def freq_encode_customer_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "customer")
    freq = df.groupBy("c_name").agg(F.count(F.lit(1)).alias("c_name_freq"))
    # groupBy+join (broadcastable, AQE-skew-safe) instead of a raw window
    return (
        df.join(freq, "c_name", "left")
        .select("c_custkey", F.col("c_name_freq").cast("long").alias("c_name_freq"))
    )


# --- E5: label encoding, alphabetical codes (main.py:102-105) ----------------


@register(
    "label_encode_orderstatus",
    oracle="""
        WITH codes AS (
          SELECT o_orderstatus AS v,
                 CAST(dense_rank() OVER (ORDER BY o_orderstatus) - 1 AS BIGINT) AS code
          FROM (SELECT DISTINCT o_orderstatus FROM orders)
        )
        SELECT o.o_orderkey, c.code AS o_orderstatus_code
        FROM orders o JOIN codes c ON o.o_orderstatus = c.v
    """,
    description="E5 sklearn LabelEncoder semantics: codes by sorted class name",
)
def label_encode_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    vals = df.select(F.col("o_orderstatus").alias("__v")).distinct()
    w = Window.orderBy(F.asc("__v"))
    codes = vals.withColumn("code", (F.row_number().over(w) - F.lit(1)).cast("long"))
    return (
        df.join(F.broadcast(codes), df.o_orderstatus == codes.__v, "inner")
        .select("o_orderkey", F.col("code").alias("o_orderstatus_code"))
    )


# --- E3: all-or-nothing datetime parse probe (main.py:88-94) -----------------


@register(
    "datetime_probe",
    oracle="""
        SELECT 'lang' AS col_name,
               CAST(count(lang) AS BIGINT) AS non_null,
               CAST(count(TRY_CAST(lang AS TIMESTAMP)) AS BIGINT) AS parse_ok,
               count(TRY_CAST(lang AS TIMESTAMP)) = count(lang) AS convertible
        FROM documents
    """,
    description="E3 probe: column converts to timestamp iff every value parses",
)
def datetime_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "documents")
    return df.agg(
        F.lit("lang").alias("col_name"),
        F.count("lang").cast("long").alias("non_null"),
        F.count(F.try_to_timestamp(F.col("lang"))).cast("long").alias("parse_ok"),
        (
            F.count(F.try_to_timestamp(F.col("lang"))) == F.count("lang")
        ).alias("convertible"),
    )


# --- E7: datetime expansion (main.py:107-118) --------------------------------


@register(
    "datetime_expand_orders",
    oracle="""
        SELECT o_orderkey,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)  AS o_orderdate_year,
               CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_orderdate_month,
               CAST(EXTRACT(day FROM o_orderdate) AS BIGINT)   AS o_orderdate_day,
               CAST(EXTRACT(hour FROM o_orderdate) AS BIGINT)  AS o_orderdate_hour,
               CAST(EXTRACT(isodow FROM o_orderdate) - 1 AS BIGINT) AS o_orderdate_dayofweek,
               CAST(EXTRACT(week FROM o_orderdate) AS BIGINT)  AS o_orderdate_weekofyear
        FROM orders
    """,
    description="E7 expansion with pandas conventions (Mon=0 dayofweek, ISO week)",
)
def datetime_expand_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    c = F.col("o_orderdate")
    return df.select(
        "o_orderkey",
        F.year(c).cast("long").alias("o_orderdate_year"),
        F.month(c).cast("long").alias("o_orderdate_month"),
        F.dayofmonth(c).cast("long").alias("o_orderdate_day"),
        F.hour(c).cast("long").alias("o_orderdate_hour"),
        ((F.dayofweek(c) + F.lit(5)) % 7).cast("long").alias("o_orderdate_dayofweek"),
        F.weekofyear(c).cast("long").alias("o_orderdate_weekofyear"),
    )


# --- O1/O2: IQR clipping (main.py:120-127) -----------------------------------


@register(
    "iqr_clip_quantity",
    oracle="""
        WITH b AS (
          SELECT quantile_cont(l_quantity, 0.25) AS q1,
                 quantile_cont(l_quantity, 0.75) AS q3
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               round(LEAST(GREATEST(l_quantity, q1 - 1.5*(q3-q1)), q3 + 1.5*(q3-q1)), 6)
                 AS l_quantity_clipped
        FROM lineitem, b
    """,
    description="O2 np.clip to [Q1-1.5IQR, Q3+1.5IQR] via one quantile agg",
)
def iqr_clip_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "lineitem")
    bounds = iqr_bounds(df, ["l_quantity"])
    lo, hi = bounds["l_quantity"]
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.least(F.greatest(F.col("l_quantity"), F.lit(lo)), F.lit(hi)), 6
        ).alias("l_quantity_clipped"),
    )


# --- A2: exact distinct counts (main.py:99,152,225) --------------------------


@register(
    "distinct_counts",
    oracle="""
        SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_returnflag,
               CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd_linestatus,
               CAST(count(DISTINCT l_partkey) AS BIGINT)    AS nd_partkey,
               CAST(count(DISTINCT l_quantity) AS BIGINT)   AS nd_quantity
        FROM lineitem
    """,
    description="A2 exact nunique (drives hard branch thresholds; never approx)",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT one agg with four count_distincts: Catalyst rewrites multiple
    # distinct aggregates into an Expand x4 of the scan (every lineitem
    # row duplicated once per column into a single hash aggregate) — the
    # last >5x-per-10x non-model plan in SCALE.md's r5 audit. Per-column
    # two-stage distinct aggregates (partial distinct map-side, then a
    # scalar count) keep each scan linear; the four 1-row results meet in
    # scalar cross joins (the registry-sanctioned 1-row broadcast shape).
    # Four linear scans beat one 4x-expanded scan at any scale, and the
    # honest 100 TB fallback for exact nunique stays the HLL sketches.
    df = table(spark, sf_dir, "lineitem")
    out = None
    for c in ("l_returnflag", "l_linestatus", "l_partkey", "l_quantity"):
        nd = (
            df.select(c)
            .distinct()
            .agg(F.count(c).cast("long").alias(f"nd_{c[2:]}"))
        )
        out = nd if out is None else out.crossJoin(nd)
    return out


# --- A3: group counts / value_counts (main.py:100,153) -----------------------


@register(
    "group_counts_brand",
    oracle="SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_brand",
    description="A3 value_counts as groupBy().count()",
)
def group_counts_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "part")
    return df.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


# --- A6: Pearson correlation matrix (main.py:164-170) ------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "corr_matrix",
    oracle=" UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 6) AS pearson "
        f"FROM lineitem"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ),
    description="A6 pairwise Pearson correlation (first-N numeric columns)",
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "lineitem")
    aggs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"{a}__{b}"))
    row_df = df.agg(*aggs)  # single pass for all pairs
    pairs = [(a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]]
    stack = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return row_df.selectExpr(f"stack({len(pairs)}, {stack}) as (col_a, col_b, pearson)")


# --- A7: histogram binning (main.py:156,179-187) -----------------------------


@register(
    "histogram_extendedprice",
    oracle="""
        WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
                   FROM lineitem)
        SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) / (mx - mn) * 20), 19) AS BIGINT)
                 AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem, s
        GROUP BY 1
    """,
    description="A7 20-bin histogram via explicit bucket arithmetic",
)
def histogram_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "lineitem")
    s = df.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    return (
        df.crossJoin(F.broadcast(s))
        .select(
            # try_divide: a constant column (mx==mn) yields NULL bins, the
            # same as the oracle's NULL-on-zero-divide, not an ANSI error
            F.least(
                F.floor(
                    F.try_divide(
                        F.col("l_extendedprice") - F.col("mn"), F.col("mx") - F.col("mn")
                    )
                    * 20
                ),
                F.lit(19),
            )
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# --- M7: balanced class weights (main.py:250-252) ----------------------------


@register(
    "class_weights_orderstatus",
    oracle="""
        WITH k AS (SELECT count(DISTINCT o_orderstatus) AS n_classes,
                          count(*) AS n FROM orders)
        SELECT o_orderstatus AS label,
               round(n / (n_classes * count(*)), 6) AS weight
        FROM orders, k
        GROUP BY o_orderstatus, n, n_classes
    """,
    description="M7 sklearn 'balanced' class weights n/(k*count_c)",
)
def class_weights_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    counts = df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))
    totals = df.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("o_orderstatus").alias("k")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        F.col("o_orderstatus").alias("label"),
        F.round(F.col("n") / (F.col("k") * F.col("cnt")), 6).alias("weight"),
    )


# --- M20: top-k by importance score (main.py:373-383) ------------------------


@register(
    "topk_parts_by_price",
    oracle="""
        SELECT p_partkey, p_name, p_retailprice
        FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
    """,
    description="M20 top-k sort pattern with deterministic tie-break",
)
def topk_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "part")
    return df.orderBy(F.desc("p_retailprice"), F.asc("p_partkey")).limit(10).select(
        "p_partkey", "p_name", "p_retailprice"
    )
