"""Oracle-checked queries for the join-operator extensions: as-of join,
range join, skew-safe distinct, plus cube/pivot/grouping-set surface and
two more TPC-H-style scan/join shapes (Q4, Q6).

The reference implements no joins (SURVEY.md §2.6); this is north-star
extension surface. Every query here is a pure Catalyst plan — the as-of
join is one shuffle + one window, the range join broadcasts the band
dimension, and the pivots/cubes are single-shuffle hash aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.joins import (
    asof_join,
    fuzzy_pairs_by_deletion,
    range_join,
    skew_safe_distinct_count,
)
from data_pipeline_agent_spark.operators.ranking import ordered_prefix
from data_pipeline_agent_spark.plans.registry import register, table
from data_pipeline_agent_spark.session import fan_out, local_frame

# --- as-of join ---------------------------------------------------------------


@register(
    "asof_last_order_before_event",
    oracle="""
        WITH rd AS (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                    ORDER BY o_orderkey DESC) AS rn
          FROM orders
        )
        SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
               o.o_orderkey AS last_orderkey,
               round(o.o_totalprice, 6) AS last_totalprice
        FROM events e
        ASOF LEFT JOIN (SELECT * FROM rd WHERE rn = 1) o
          ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
    """,
    description="as-of join: latest order at-or-before each event (union+window)",
)
def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders")
    joined = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 6).alias("last_totalprice"),
    )


# --- range join ---------------------------------------------------------------

PRICE_BANDS = [
    ("band_0_20k", 0.0, 20_000.0),
    ("band_20_40k", 20_000.0, 40_000.0),
    ("band_40_60k", 40_000.0, 60_000.0),
    ("band_60_80k", 60_000.0, 80_000.0),
    ("band_80_100k", 80_000.0, 100_000.0),
    ("band_100k_up", 100_000.0, 1e18),
]


@register(
    "range_join_price_bands",
    oracle="""
        SELECT b.band,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l.l_extendedprice), 2) AS total_price
        FROM lineitem l
        JOIN (VALUES
            ('band_0_20k', 0.0, 20000.0),
            ('band_20_40k', 20000.0, 40000.0),
            ('band_40_60k', 40000.0, 60000.0),
            ('band_60_80k', 60000.0, 80000.0),
            ('band_80_100k', 80000.0, 100000.0),
            ('band_100k_up', 100000.0, 1e18)
        ) AS b(band, lo, hi)
          ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
        GROUP BY b.band
    """,
    description="range join: broadcast band dimension, BETWEEN predicate",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = local_frame(spark, PRICE_BANDS, "band string, lo double, hi double")
    return (
        range_join(li, bands, F.col("l_extendedprice"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


# --- skew-safe distinct -------------------------------------------------------


@register(
    "events_distinct_users_by_type",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events GROUP BY event_type
    """,
    description="two-stage distinct count (skew-safe rewrite of countDistinct)",
)
def events_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skew_safe_distinct_count(
        table(spark, sf_dir, "events"), "event_type", "user_id"
    )


# --- cube / grouping-id -------------------------------------------------------


@register(
    "cube_order_totals",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               round(sum(o_totalprice), 6) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="cube over (status, priority) with grouping_id",
)
def cube_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    return df.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.round(F.sum("o_totalprice"), 6).alias("total"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# --- pivot --------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRIORITY_ALIASES = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


@register(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
               CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
               CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
               CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_not_specified,
               CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
        FROM orders GROUP BY o_orderstatus
    """,
    description="pivot: priority counts per status (explicit value list)",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = table(spark, sf_dir, "orders")
    # explicit value list: deterministic schema, no extra distinct-scan job
    pivoted = (
        df.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.count(F.lit(1)).cast("long"))
    )
    renamed = pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(a)
          for v, a in zip(PRIORITIES, PRIORITY_ALIASES)],
    )
    return renamed


# --- TPC-H Q4-style: EXISTS + grouped count ----------------------------------


@register(
    "q4_order_priority",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
    """,
    description="TPC-H Q4-style: EXISTS semi-join with correlated date predicate",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


# --- TPC-H Q6-style: pure pushdown scan --------------------------------------


@register(
    "q6_revenue_forecast",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    description="TPC-H Q6-style: all predicates pushed to the parquet scan",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6).alias("revenue"))
    )


# --- anti join ----------------------------------------------------------------


@register(
    "antijoin_customers_no_orders",
    oracle="""
        SELECT c.c_custkey, c.c_name, c.c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    description="left-anti join (NOT EXISTS), full rows preserved",
)
def antijoin_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --- grouping sets (SQL frontend) --------------------------------------------


@register(
    "grouping_sets_order_totals",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 6) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    description="explicit grouping sets via the SQL frontend (one agg, two sets)",
)
def grouping_sets_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 6) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


# --- salted aggregation (skew pattern) ----------------------------------------


@register(
    "salted_sum_value_by_type",
    oracle="""
        SELECT event_type, round(sum(value), 6) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    description="two-stage salted aggregation (skewed-key pattern), same result as plain sum",
)
def salted_sum_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_agent_spark.operators.joins import salted_agg_sum

    out = salted_agg_sum(table(spark, sf_dir, "events"), "event_type", "value")
    return out.select("event_type", F.round("total", 6).alias("total"), "n")


# --- fuzzy record-linkage join (blocked edit-distance) ------------------------


@register(
    "fuzzy_match_customer_names",
    oracle="""
        SELECT CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS distance,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
        GROUP BY 1
    """,
    description="fuzzy record linkage: within-nation blocked self-join, "
    "Levenshtein distance <= 2, pair counts per distance",
)
def fuzzy_match_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage WITHOUT the block-quadratic self-join. The
    nation block keeps the oracle's semantics, but a nation holds n/25
    customers — sum(block²) is still quadratic in the corpus, a
    measured 30x-super-linear blow-up on the 10x scale tier. Instead:

    1. dedupe to distinct (nation, name) with multiplicities — candidate
       generation must scale with distinct names, and equal-name pairs
       (distance 0) fall out of the multiplicity algebra for free;
    2. complete candidate generation via the 2-deletion neighborhood
       (``operators.joins.fuzzy_pairs_by_deletion``): ed(a,b) <= 2
       guarantees a shared <=2-deletion variant, so grouping exploded
       variants on (nation, variant) and pairing within each tiny group
       finds every qualifying pair while the cost tracks TRUE
       near-matches, not block² — and nothing corpus-x-neighborhood is
       ever materialized (one explode pass, one spillable shuffle-agg);
    3. verify candidates with the real JVM ``levenshtein`` (variant
       sharing is necessary, not sufficient) and weight each distinct
       pair by cnt_a*cnt_b.
    """
    cust = table(spark, sf_dir, "customer")
    # dedupe-first: one row per (nation, name) + multiplicity; fan_out
    # widens the single-row-group scan for the variant explode
    names = (
        fan_out(cust)
        .groupBy(F.col("c_nationkey").alias("nk"), F.col("c_name").alias("nm"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = fuzzy_pairs_by_deletion(names, ["nk"], "nm", max_distance=2)
    cross = pairs.groupBy("distance").agg(
        F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("n_pairs")
    )
    # distance-0 pairs = C(cnt, 2) within each duplicated name
    zero = (
        names.where(F.col("cnt") >= 2)
        .agg(
            F.lit(0).cast("long").alias("distance"),
            F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("n_pairs"),
        )
        .where(F.col("n_pairs") > 0)
    )
    return cross.unionByName(zero)


# --- key-skew profiler --------------------------------------------------------


@register(
    "skew_profile_order_custkey",
    materializes_on_build=True,
    oracle="""
        WITH c AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY o_custkey
        )
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               round(avg(cnt), 6) AS avg_cnt,
               round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
               round(max(cnt) / avg(cnt), 6) AS skew_ratio
        FROM c
    """,
    description="join/agg key skew profiler for orders.o_custkey: key count, "
    "max/avg/p99 per-key row counts, max-over-avg skew ratio",
)
def skew_profile_order_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnostic that decides between a plain shuffle, AQE skew-join,
    and manual salting: per-key counts (one shuffle on the key), then a
    scalar aggregate over the keys-sized frame. Run it on any prospective
    join/agg key before committing to a partitioning strategy at scale.
    The key domain scales with the data (billions of custkeys at 100 TB),
    so the exact p99 comes from ``operators.ranking.exact_percentiles``
    (scan-only distributed selection) over the eagerly-materialized
    counts frame — one reducer never buffers the key domain; the narrow
    (cnt) checkpoint is 8 bytes/key and feeds both the percentile passes
    and the scalar aggregate without recomputing the count shuffle."""
    from data_pipeline_agent_spark.operators.ranking import exact_percentiles

    c = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("cnt")
        .localCheckpoint(eager=True)
    )
    p99v = exact_percentiles(
        c.select(F.lit(1).alias("__g"), "cnt"), "__g", "cnt", [(1, 0.99, "p")]
    ).first()["p"]
    # empty input yields NULL here (as the old aggregate did), not a crash
    p99 = F.lit(float(p99v)) if p99v is not None else F.lit(None).cast("double")
    return c.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("avg_cnt"),
        F.round(p99, 6).alias("p99_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"),
    )


@register(
    "unpivot_priority_counts",
    oracle="""
        WITH p AS (
            SELECT o_orderstatus,
                   count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
                   count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
                   count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
                   count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
                   count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
            FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, priority, CAST(cnt AS BIGINT) AS cnt
        FROM p
        UNPIVOT (cnt FOR priority IN (p1_urgent, p2_high, p3_medium,
                                      p4_not_specified, p5_low))
    """,
    description="unpivot/melt: the wide pivoted priority counts back to "
    "long form via stack() — the inverse surface of pivot_status_by_priority",
)
def unpivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt with ``stack()``: each wide row expands to 5 narrow rows
    map-side (a generator projection, no shuffle beyond the pivot
    aggregate that feeds it). DuckDB's UNPIVOT keeps non-null rows only —
    stack output matches because the explicit-value pivot coalesces
    counts to 0 (never null)."""
    wide = pivot_status_by_priority(spark, sf_dir)
    pairs = ", ".join(f"'{a}', {a}" for a in PRIORITY_ALIASES)
    return wide.select(
        "o_orderstatus",
        F.expr(
            f"stack({len(PRIORITY_ALIASES)}, {pairs}) AS (priority, cnt)"
        ),
    ).select("o_orderstatus", "priority", F.col("cnt").cast("long").alias("cnt"))


@register(
    "status_priority_profile",
    oracle="""
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus,
               array_to_string(
                   list(o_orderpriority || ':' || CAST(n AS VARCHAR)
                        ORDER BY o_orderpriority), ',') AS profile,
               CAST(count(*) AS BIGINT) AS n_priorities
        FROM c GROUP BY o_orderstatus
    """,
    description="collect_list/array_agg surface: per-status sorted "
    "'priority:count' profile string (deterministic via array_sort — "
    "collected lists are otherwise partition-order-dependent)",
)
def status_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation done deterministically: collect_list order is
    partition-dependent, so the collected pairs are array_sort'ed before
    serialization (the only way an array-valued result can be
    hash-compared across engines — and the only way a production job's
    output is stable across reruns). The collect runs on the grouped
    aggregate (25 rows), never on raw orders."""
    df = table(spark, sf_dir, "orders")
    c = df.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        c.select(
            "o_orderstatus",
            F.concat_ws(":", "o_orderpriority", F.col("n").cast("string")).alias(
                "pair"
            ),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("pair"))).alias("profile"),
            F.count(F.lit(1)).cast("long").alias("n_priorities"),
        )
    )


@register(
    "basket_brand_pairs",
    oracle="""
        WITH b AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        )
        SELECT a.p_brand AS brand_a, c.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS support
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
        GROUP BY a.p_brand, c.p_brand
    """,
    description="market-basket co-occurrence: support count for every "
    "brand pair appearing in the same order (the candidate-generation "
    "step of association-rule mining)",
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair generation fans out only WITHIN a basket (bounded by the
    ~7-line TPC-H order, never corpus^2), emitted MAP-SIDE from each
    order's sorted distinct brand set (r13, guide §2.4): one exchange on
    the orderkey builds the per-order ``collect_set`` (which also does
    the multi-line same-brand dedup the old separate ``distinct`` step
    paid its own exchange for), then every i<j pair streams out of the
    sorted array with no join at all. The previous persisted self-join
    shape cost FOUR wide exchanges of the basket table — distinct on
    (orderkey, brand) plus one per self-join side (the cached plan's
    AdaptiveSparkPlan hides its partitioning from EnsureRequirements, so
    both sides re-shuffled) plus the final aggregate — against two here
    (plan-verified, plans/r13/basket_brand_pairs_{before,after}.txt).
    Pair emission is the fuzzy_pairs_by_deletion two-stage explode, so
    peak per-row memory stays O(basket), and the collect_set state is
    bounded by the basket's distinct-brand width. Identical pair
    algebra: i<j over the sorted distinct set == brand_a < brand_b over
    the distinct (order, brand) self-join. At 100 TB the one exchange is
    the minimum any per-order grouping needs (or zero with lineitem
    bucketed by orderkey)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    g = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("__bs"))
        .where(F.size("__bs") >= 2)
    )
    ei = g.select(
        "__bs",
        F.explode(F.sequence(F.lit(1), F.size("__bs") - 1)).alias("__i"),
    )
    cand = ei.select(
        F.element_at(F.col("__bs"), F.col("__i")).alias("brand_a"),
        F.explode(
            F.slice(F.col("__bs"), F.col("__i") + 1, F.size("__bs"))
        ).alias("brand_b"),
    )
    return cand.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


@register(
    "supplier_pareto_revenue",
    oracle="""
        WITH r AS (
            SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS rev
            FROM lineitem GROUP BY l_suppkey
        ),
        ranked AS (
            SELECT l_suppkey, rev,
                   sum(rev) OVER (ORDER BY rev DESC, l_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(rev) OVER () AS total,
                   row_number() OVER (ORDER BY rev DESC, l_suppkey) AS rk,
                   count(*) OVER () AS n
            FROM r
        )
        SELECT CAST(min(rk) AS BIGINT) AS suppliers_to_80pct,
               CAST(max(n) AS BIGINT) AS n_suppliers,
               round(min(rk) * 1.0 / max(n), 6) AS pareto_share
        FROM ranked WHERE cum >= 0.8 * total
    """,
    description="Pareto concentration: how many top suppliers cover 80% "
    "of revenue (cumulative-share window over the supplier-grain "
    "aggregate, never the fact table)",
)
def supplier_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 analysis with NO unpartitioned window anywhere: the fact
    table reduces to one row per supplier first, then the global rank and
    cumulative revenue come from ``ordered_prefix`` — range-repartition
    on (rev desc, suppkey), per-partition offsets prefix-summed on the
    driver, partition-local windows only. Suppliers scale with SF (10k×SF
    — ~10⁹ rows at 100 TB), so unlike the calendar-bounded day/month
    grains elsewhere this grain must never hit a single-reducer sort.
    The corpus total and supplier count fall out of the offset collect
    for free, replacing both ``sum() OVER ()`` scans."""
    li = table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    ranked, n_suppliers, total = ordered_prefix(
        r, [F.desc("rev"), F.asc("l_suppkey")], "rev"
    )
    return (
        ranked.where(F.col("cum") >= F.lit(0.8 * total))
        .agg(F.min("rk").cast("long").alias("suppliers_to_80pct"))
        .select(
            "suppliers_to_80pct",
            F.lit(n_suppliers).cast("long").alias("n_suppliers"),
            F.round(
                F.col("suppliers_to_80pct") * 1.0 / F.lit(n_suppliers), 6
            ).alias("pareto_share"),
        )
    )
