"""Join operators Spark's API lacks as single calls — as-of join and
range join — plus the skew-safe aggregation pattern, each expressed as a
composition of built-in DataFrame ops (no UDFs, no driver loops).

The reference has no joins at all (SURVEY.md §2.6); these are north-star
extension operators for the event/fact tables.

Scale notes
-----------
- ``asof_join``: ONE shuffle on the join key + one window sort per
  partition — the canonical distributed as-of. Never a per-row range
  probe, never a cross product. Skewed keys hit the same limits as any
  window (salt the key upstream if one entity dominates).
- ``range_join``: broadcast nested-loop against a SMALL band dimension
  (bands are broadcast; the fact side streams). For non-overlapping
  sorted bands prefer ``width_bucket``-style O(1) bucketing; this
  operator exists for the general (possibly overlapping) case.
- ``skew_safe_distinct_count``: two-stage distinct (shuffle on the
  composite key, then tiny per-group count) — the standard rewrite when
  ``countDistinct`` on a skewed group key would funnel one group's whole
  universe through one reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions import bind


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Backward (inclusive) as-of join: for each left row, attach the
    ``value_cols`` of the right row with the greatest ``right_ts`` <=
    ``left_ts`` for the same key. Left rows with no prior right row get
    nulls (LEFT ASOF semantics).

    Implementation: tag both sides, union, and take ``last(value,
    ignorenulls=True)`` over a (key, ts, side) window — right rows sort
    before left rows at equal timestamps so "at-or-before" is inclusive.
    If several right rows share (key, ts), ``tiebreak`` picks the one
    with the greatest tiebreak value (required for determinism); the
    tiebreak is fused into the SAME window's sort order (right rows at
    equal ts sort tiebreak-ascending, so ``last`` lands on the greatest)
    — no extra shuffle or pre-dedup pass over the right side.
    """
    rtypes = dict((f.name, f.dataType) for f in right.schema.fields)
    lcols = left.columns
    tb_type = rtypes[tiebreak] if tiebreak is not None else "int"
    l_tagged = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tb_type).alias("__tb"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(rtypes[v]).alias(f"__v_{v}") for v in value_cols],
    )
    r_tagged = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        (F.col(tiebreak) if tiebreak is not None else F.lit(0)).cast(tb_type).alias("__tb"),
        *[F.lit(None).cast(dict((f.name, f.dataType) for f in left.schema.fields)[c]).alias(c) for c in lcols],
        *[F.col(v).alias(f"__v_{v}") for v in value_cols],
    )
    u = l_tagged.unionByName(r_tagged)
    # Sort (ts, side, tiebreak): right rows (side 0) precede left rows at
    # equal ts (inclusive at-or-before); among right rows tied on ts the
    # greatest tiebreak sorts last, so last(ignorenulls) selects it.
    # Plain asc = NULLS FIRST, so a NULL tiebreak loses to any non-null
    # value (the row_number-over-desc dedup semantics this fused form
    # replaced).  The left side's NULL __tb never participates in a
    # comparison that matters (side already differs).
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc("__t"), F.asc("__side"), F.asc("__tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Pack all value columns into ONE struct that is NULL for left-side
    # rows, and take last(struct, ignorenulls) — so every value column
    # always comes from the SAME matched right row.  (Per-column last()
    # would, when a right row carries a NULL in one value column, fall back
    # to an older row for that column only, stitching a record that never
    # existed.)
    vs = F.when(
        F.col("__side") == 0,
        F.struct(*[F.col(f"__v_{v}").alias(v) for v in value_cols]),
    )
    matched = u.select(
        "__side",
        *lcols,
        F.last(vs, ignorenulls=True).over(w).alias("__vs"),
    )
    return matched.where(F.col("__side") == 1).select(
        *lcols, *[F.col("__vs").getField(v).alias(v) for v in value_cols]
    )


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value: Column,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Join each fact row to every band with lo <= value < hi. The band
    table is broadcast (it is a dimension by construction); the fact side
    streams through a broadcast nested-loop join — no shuffle of the
    fact table at any scale."""
    return fact.join(
        F.broadcast(bands),
        (value >= F.col(lo_col)) & (value < F.col(hi_col)),
        "inner",
    )


def skew_safe_distinct_count(
    df: DataFrame, group_col: str, distinct_col: str
) -> DataFrame:
    """count(DISTINCT distinct_col) per group as two exchanges: distinct
    on the composite key first (spreads a hot group across reducers),
    then a cheap count per group."""
    return (
        df.select(group_col, distinct_col)
        .distinct()
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )


def salted_agg_sum(
    df: DataFrame, group_col: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-stage salted sum for skewed group keys: stage 1 aggregates on
    (key, salt) — a hot key's rows spread over ``n_salts`` reducers —
    stage 2 merges the ``n_salts`` partials per key (tiny shuffle).

    Note Spark's hash aggregate already does map-side partial combine, so
    plain ``groupBy(key).sum`` rarely skews for algebraic aggregates; the
    salt matters when stage 1 is itself expensive per group (collect-like
    or high-cardinality intermediate state). The operator exists to make
    the pattern available and testable as a drop-in."""
    salted = df.withColumn("__salt", (F.rand(0) * n_salts).cast("int"))
    partial = salted.groupBy(group_col, "__salt").agg(
        F.sum(value_col).alias("__partial_sum"),
        F.count(F.lit(1)).alias("__partial_n"),
    )
    return partial.groupBy(group_col).agg(
        F.sum("__partial_sum").alias("total"),
        F.sum("__partial_n").cast("long").alias("n"),
    )


def deletion_variants(s: Column, k: int = 2) -> Column:
    """Every string obtainable from ``s`` by deleting at most ``k``
    characters (``k`` in {1, 2}), including ``s`` itself, deduplicated.

    The candidate-generation primitive for complete edit-distance
    blocking: every optimal edit script aligns A and B around a common
    subsequence reachable by at most ``ed(A, B)`` deletions FROM EACH
    SIDE (a substitution deletes one char from each, an insert/delete
    from one), so ``ed(A, B) <= k`` implies the two k-deletion
    neighborhoods intersect. Pure column expressions — ``transform`` over
    position sequences with ``substr`` splicing, no UDFs.

    Neighborhood size is 1 + L + C(L, 2) (~172 for L=18): the classic
    space-for-selectivity trade that replaces block-quadratic candidate
    generation with an equi-join on shared variants."""
    if k not in (1, 2):
        raise ValueError("deletion_variants supports k=1 or k=2")
    n = F.length(s)
    one = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = F.concat(F.array(s), one)
    if k == 2:
        two = F.when(
            n >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    # the prefix before i is bound once per i, not per j
                    lambda i: bind(
                        F.substr(s, F.lit(1), i - 1),
                        lambda pre: F.transform(
                            F.sequence(i + 1, n),
                            lambda j: F.concat(
                                pre,
                                F.substr(s, i + 1, j - i - 1),
                                F.substr(s, j + 1, n),
                            ),
                        ),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        out = F.concat(out, two)
    return F.array_distinct(out)


def fuzzy_pairs_by_deletion(
    names: DataFrame,
    block_cols: list[str],
    name_col: str,
    max_distance: int = 2,
    widen: bool = True,
) -> DataFrame:
    """COMPLETE candidate pairs at ``levenshtein <= max_distance`` (<= 2)
    within each block — never the block-quadratic self-join.

    ``names`` must be pre-aggregated to one row per (block, name) with a
    ``cnt`` multiplicity column (dedupe-first: real corpora repeat
    values, and candidate generation must scale with DISTINCT names).
    Returns one row per unordered distinct-name pair: block cols,
    ``name_a < name_b``, ``cnt_a``, ``cnt_b``, ``distance`` — verified
    with the real ``levenshtein`` so the deletion-neighborhood
    candidates' false positives are filtered (sharing a variant is
    necessary, not sufficient).

    Shape (r6): explode the ~1+L+C(L,2) deletion variants ONCE, shuffle
    the slim (block, variant-hash, name, cnt) rows into a per-(block,
    variant) collect_list aggregate, and emit intra-group pairs from the
    sorted group array. One explode pass and one spillable shuffle-agg —
    nothing corpus-x-neighborhood is ever MATERIALIZED. The r5 shape
    (eagerly localCheckpoint the exploded frame, equi-join it against
    itself) stored corpus x ~326 deserialized rows in executor memory;
    the round-6 100x scale tier killed it on a 48 GiB heap at 1.5M names
    (~490M checkpointed rows) — caching a frame that is a constant
    factor LARGER than the corpus is the anti-pattern, not an
    optimization. Per-(block, variant) groups are bounded by the true
    near-match cluster size, so the collect_list state is small and the
    object-hash aggregate spills long before any group hurts.

    Scale: cost is sum of squared variant-group sizes, which tracks the
    number of TRUE near-matches, not block²; candidates dedupe on
    (block, name_a, name_b) before the verify."""
    # Round-5 fix for the 10.8 s profile constant: AQE coalesces the tiny
    # dedupe aggregate's output to ONE post-shuffle partition (it sizes
    # partitions by shuffle bytes, not downstream CPU), which serialized
    # the entire ~172-variants-per-name substr-splice explosion onto a
    # single core. Re-spread the (block, name, cnt) rows across the full
    # parallelism before exploding — a free shuffle of the deduped grain
    # that buys n_cores-way variant-generation CPU. ``widen=False`` (r6)
    # lets callers whose frame is already well-spread (not a freshly
    # AQE-coalesced aggregate) skip the shuffle of the deduped grain.
    spark = names.sparkSession
    if widen:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        names = names.repartition(n_parts)
    # join on the variant's 64-bit hash, not the string: half the shuffle
    # bytes and cheap key compares; a hash collision only ever ADDS a
    # candidate, which the levenshtein verify below rejects
    v = names.select(
        *block_cols,
        F.col(name_col),
        F.col("cnt"),
        F.explode(
            F.transform(
                deletion_variants(F.col(name_col), max_distance),
                lambda s: F.xxhash64(s),
            )
        ).alias("__var"),
    )
    # one row per (block, variant): the sorted group of distinct names
    # sharing that variant (each name contributes a variant at most once
    # — deletion_variants dedupes — so group members are distinct and
    # array_sort gives strict name_a < name_b below). Groups of size 1
    # (the overwhelming majority) are dropped before any pair math.
    g = (
        v.groupBy(*block_cols, "__var")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(name_col).alias("n"), F.col("cnt").alias("c"))
                )
            ).alias("__g")
        )
        .where(F.size("__g") >= 2)
    )
    # Two-stage pair emission (r7, ADVICE r6): explode the OUTER index
    # first — one row per (group, i) — then generate and explode only the
    # inner j-suffix per row. The r6 shape flattened all C(n,2) pair
    # structs of a group into ONE array value in a single row before
    # exploding; a hot variant group (many short names sharing a 1-char
    # deletion variant, or a large true near-dup cluster) built a
    # quadratic-size array in one row — executor OOM / the 2 GB
    # array-element ceiling — where this streams pairs at O(group) peak
    # per-row memory, the same order as the collect_list state itself.
    sz = F.size(F.col("__g"))
    ei = g.select(
        *block_cols,
        F.col("__g"),
        F.explode(F.sequence(F.lit(1), sz - 1)).alias("__i"),
    )
    cand = (
        ei.select(
            *block_cols,
            F.element_at(F.col("__g"), F.col("__i")).alias("__pa"),
            F.explode(
                F.slice(F.col("__g"), F.col("__i") + 1, F.size("__g"))
            ).alias("__pb"),
        )
        .select(
            *block_cols,
            F.col("__pa.n").alias("__na"),
            F.col("__pb.n").alias("__nb"),
            F.col("__pa.c").alias("cnt_a"),
            F.col("__pb.c").alias("cnt_b"),
        )
        .distinct()
    )
    # bounded verify: the 3-arg levenshtein abandons a row's DP as soon as
    # the band exceeds the threshold (returns -1), so false candidates —
    # the bulk of the join output — cost O(max_distance * L) instead of
    # O(L^2); the exact distance is still returned for true matches
    return cand.select(
        *block_cols,
        F.col("__na").alias("name_a"),
        F.col("__nb").alias("name_b"),
        "cnt_a",
        "cnt_b",
        F.levenshtein("__na", "__nb", max_distance).cast("long").alias("distance"),
    ).where(F.col("distance") >= 0)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, skewed) fact side, replicate
    the (smaller) dim side across all salts, join on (key, salt).

    A hot key concentrates its rows on one reducer in a plain shuffle
    join; salting spreads them over ``n_salts`` reducers at the cost of
    replicating the dim side ``n_salts``-fold. Prefer AQE's skew-join
    splitting (on in this engine's sessions) first — it handles skew
    without replication when the join is a plain sort-merge; this
    operator covers the cases AQE cannot re-plan (skewed keys feeding a
    downstream co-partitioned op, deterministic pre-salting for bucketed
    writes) and makes the pattern testable as a drop-in.

    ``how`` supports inner/left. The salt is a deterministic hash of the
    WHOLE fact row, not of the join key alone (hashing only the key would
    re-concentrate the hot key on one salt) and not a random draw (a
    ``rand`` salt re-draws under task retry/reorder, routing a fact row
    to two different reducers — duplicated or dropped output, the same
    hazard class ``stratified_split`` checkpoints against). Rows
    identical in every column share a salt; a fact side dominated by
    fully-identical duplicate rows should dedupe-first (multiplicity
    algebra, as ``fuzzy_pairs_by_deletion`` does). Result equals the
    unsalted join row-for-row; only the physical distribution differs.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    if n_salts < 1:
        raise ValueError("salted_join needs n_salts >= 1")
    fact_s = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts)).cast(
            "int"
        ),
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = fact_s.join(dim_s, [on, "__salt"], how)
    return out.drop("__salt")
