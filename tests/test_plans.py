"""Plan-shape regression tests.

Correctness is gated by the DuckDB oracles; these tests pin the *physical
properties* that make the same plans survive 100 TB: no forced broadcast
of SF-scaling tables, pruning semi-joins placed below windows, scan-level
filter pushdown and column pruning, equi-joins (not cartesians) for the
shingle-overlap queries, and whole-stage codegen over the text features.
They read Catalyst's analyzed/optimized/formatted plan text — cheap (no
job runs) and stable under the pinned Spark 4.1.x.
"""

from __future__ import annotations

import pytest

from data_pipeline_agent_spark.plans import REGISTRY
from tests.conftest import SF_DIR


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# Queries that join SF-scaling tables (customer/supplier/part unfiltered)
# and therefore must carry NO broadcast hint at all — AQE decides.
_NO_HINT_QUERIES = [
    "q13_order_distribution",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q19_bracket_revenue",
    "q12_priority_by_status",
    "q16_supplier_counts",
]


@pytest.mark.parametrize("name", _NO_HINT_QUERIES)
def test_no_broadcast_hint_on_scaling_joins(spark, name):
    plan = _analyzed(REGISTRY[name].spark(spark, SF_DIR))
    assert "ResolvedHint" not in plan, f"{name} carries a forced broadcast hint"


# Round-5 tightening (VERDICT r4 finding 1): broadcast hints are allowed
# ONLY on bounded relations — nation/region (fixed cardinality forever)
# and 1-row scalar aggregates. A *filtered slice* of an SF-scaling table
# (one p_type, a LIKE match, even a key-only projection of it) is a fixed
# FRACTION that scales linearly with SF: at ~SF 10^5 it exceeds Spark's
# 8 GB broadcast hard limit, and a hard hint bypasses AQE's size check —
# the query dies instead of degrading to a shuffle join. The sweep is
# registry-wide: the analyzed plan prints each ResolvedHint node followed
# by its subtree, so ANY hint whose subtree reaches customer/supplier/
# part parquet (however filtered) fails.
_SCALING_SCANS = ("customer.parquet", "supplier.parquet", "part.parquet")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_hints_only_on_bounded_dims(spark, name):
    # walk the analyzed tree (hints are consumed by the optimizer, so the
    # analyzed plan is where ResolvedHint nodes live) and inspect each
    # hint's OWN subtree — not the printed text, whose flat chunks mix in
    # sibling subtrees of ancestor joins.
    plan = REGISTRY[name].spark(spark, SF_DIR)._jdf.queryExecution().analyzed()

    def _bounded(n) -> bool:
        # a scalar aggregate (no grouping keys) or an explicit row limit
        # bounds its output regardless of what it scans — broadcasting
        # such a subtree is safe at any SF
        if n.nodeName() == "Aggregate" and n.groupingExpressions().isEmpty():
            return True
        return n.nodeName() in ("GlobalLimit", "Limit")

    def _scan_check(n, hint):
        if _bounded(n):
            return
        if "Relation" in n.nodeName():
            txt = str(n)
            for scan in _SCALING_SCANS:
                assert scan not in txt, (
                    f"{name}: SF-scaling table under a broadcast hint "
                    f"(a fixed fraction of an SF-scaling relation dies "
                    f"at the 8 GB broadcast limit at ~SF 10^5):\n"
                    f"{str(hint)[:600]}"
                )
        for i in range(n.children().size()):
            _scan_check(n.children().apply(i), hint)

    for node in _walk_jvm_plan(plan):
        if node.nodeName() == "ResolvedHint":
            _scan_check(node, node)


def test_q17_semi_join_prunes_below_window(spark):
    plan = _optimized(REGISTRY["q17_small_qty_revenue"].spark(spark, SF_DIR))
    assert "Window" in plan and "LeftSemi" in plan
    # parent-first tree print: the pruning semi-join must sit BELOW the window
    assert plan.index("Window") < plan.index("LeftSemi"), (
        "q17 window input is not pruned by the Brand#13 semi-join"
    )


def test_q6_filters_pushed_to_scan(spark):
    txt = _formatted(REGISTRY["q6_revenue_forecast"].spark(spark, SF_DIR))
    pushed = [l for l in txt.splitlines() if "PushedFilters" in l]
    assert pushed, "no scan reports pushed filters"
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined, joined


def test_source_token_stats_prunes_columns(spark):
    # round 4: the tokenized frame is localCheckpointed (so the
    # exact_percentiles passes re-scan 16 bytes/doc instead of
    # re-tokenizing), and the passes run inside the builder: the returned
    # plan is the driver-built result frame (session.local_frame, a
    # LocalTableScan leaf). doc_id/lang/n_chars/text must not appear
    # anywhere in it.
    txt = _formatted(REGISTRY["source_token_stats"].spark(spark, SF_DIR))
    assert "LocalTableScan" in txt, "expected the driver-built result frame"
    for leaked in ("n_chars", "doc_id", "lang"):
        assert leaked not in txt, f"unpruned column {leaked} in plan:\n{txt[:800]}"


def test_contamination_is_equi_join(spark):
    txt = _formatted(REGISTRY["contamination_ngram_overlap"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_text_quality_whole_stage_codegen(spark):
    # fan_out adds an Exchange, so the plan is adaptive and codegen markers
    # only appear on the FINAL plan — materialize before explaining
    df = REGISTRY["text_quality_score"].spark(spark, SF_DIR)
    df.collect()  # finalize THIS df's adaptive plan (count() plans separately)
    txt = _formatted(df)
    # formatted mode marks codegen'd operators with a "* " prefix
    assert "* Project" in txt, f"quality projection fell out of codegen:\n{txt}"


def test_pack_sequences_single_window_shuffle(spark):
    # window partitioned by source: one hash Exchange below the window plus
    # the final aggregate exchange; fan_out may add one round-robin widen.
    txt = _formatted(REGISTRY["pack_sequences_by_source"].spark(spark, SF_DIR))
    import re

    hash_ex = len(re.findall(r"Arguments: hashpartitioning", txt))
    assert hash_ex <= 2, txt
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", txt))
    assert n_exchanges <= 3, txt
    assert "SinglePartition" not in txt, "packing degenerated to a global window"


def test_fuzzy_match_is_blocked_equijoin(spark):
    # blocking must make this a hash equi-join on the block key — an
    # unblocked edit-distance self-join would appear as a cartesian/BNLJ
    txt = _formatted(REGISTRY["fuzzy_match_customer_names"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    # r6 OOM-class regression gate: the r5 shape eagerly localCheckpointed
    # the corpus-x-~326 deletion-variant explosion (a checkpoint scan shows
    # up as an ExistingRDD leaf) and died on a 48 GiB heap at the 100x
    # tier's 1.5M names. Candidates must come from the explode-once
    # group-pairing aggregate — no build-time materialization of anything
    # corpus-x-neighborhood sized.
    assert "ExistingRDD" not in txt, (
        "fuzzy plan scans a checkpointed frame again — the variant "
        "explosion must never be materialized"
    )
    # r7 OOM-class gate (ADVICE r6): pair emission must be the two-stage
    # explode (outer index row, then the O(group)-sized j-suffix via
    # slice(__g, i+1, ...)) — the r6 shape flattened all C(n,2) pair
    # structs of a variant group into ONE array value in a single row,
    # quadratic per-row memory on a hot variant group (2 GB array-element
    # ceiling / executor OOM).
    opt = _optimized(REGISTRY["fuzzy_match_customer_names"].spark(spark, SF_DIR))
    assert "slice(__g" in opt, "pair emission lost the O(group) j-suffix shape"
    for line in opt.splitlines():
        if "__g" in line:
            assert "flatten" not in line, (
                "a flatten over the variant group rebuilds the quadratic "
                f"one-row all-pairs array:\n{line}"
            )


def test_knn_graph_is_bucketed_equijoin_with_topk_pushdown(spark):
    # all-points kNN must never be the corpus-squared cross join: the
    # self-join is an equi-join on the sign bucket (AQE may pick a
    # broadcast build at test SF — that's size-based, not a hint; at
    # scale it degrades to sort-merge on __bkt), and the per-query top-k
    # must carry the WindowGroupLimit pushdown so only k rows per query
    # survive each partition before the final window sort.
    txt = _formatted(REGISTRY["sim_knn_graph"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "WindowGroupLimit" in txt, "top-k lost the rank-limit pushdown"


def test_decile_has_no_global_sort_window(spark):
    # the whole point vs ntile: no Window node anywhere (the only
    # SinglePartition exchange allowed is the 1-row cutoffs aggregate)
    txt = _formatted(REGISTRY["decile_customer_acctbal"].spark(spark, SF_DIR))
    assert "Window" not in txt, "decile fell back to a window"


def test_supplier_pareto_windows_partitioned(spark):
    # suppliers scale with SF (10k×SF), so the cumulative/rank windows must
    # be partition-local (__pid from ordered_prefix's range repartition) —
    # an unpartitioned Window over this grain is a single-reducer sort at
    # 100 TB (the round-3 `weak`)
    opt = _optimized(REGISTRY["supplier_pareto_revenue"].spark(spark, SF_DIR))
    win_lines = [l for l in opt.splitlines() if "Window" in l]
    assert win_lines, "expected the partition-local ranking windows"
    for l in win_lines:
        assert "__pid" in l, f"unpartitioned window over supplier grain:\n{l}"


def test_funnel_shuffles_only_on_user_id(spark):
    import re

    txt = _formatted(REGISTRY["events_funnel_conversion"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in txt
    # every hash exchange must be keyed on user_id (stage frames are
    # users-sized; nothing may shuffle on a wider key)
    for args in re.findall(r"Arguments: hashpartitioning\(([^,]+),", txt):
        assert "user_id" in args, txt


def test_gapfill_window_sits_above_daily_aggregate(spark):
    # the unpartitioned forward-fill window is legal ONLY because its
    # input is the days-sized aggregate: the plan must show an Aggregate
    # below the Window, and the window input must not be the raw scan
    opt = _optimized(REGISTRY["resample_daily_revenue_gapfill"].spark(spark, SF_DIR))
    assert opt.index("Window") < opt.index("Aggregate"), opt


def test_shuffle_shards_window_is_shard_partitioned(spark):
    # round 4: _N_SHARDS is a constant, so even a shard-partitioned window
    # is n/shards rows on one reducer. The grouped-prefix rewrite must
    # show partition-local windows (__pid from grouped_ordered_prefix) and
    # still no SinglePartition global sort.
    txt = _formatted(REGISTRY["corpus_shuffle_shards"].spark(spark, SF_DIR))
    assert "SinglePartition" not in txt, "shuffle degenerated to a global sort"
    assert "__pid" in txt, f"expected grouped_ordered_prefix plan shape:\n{txt[:800]}"
    assert "hashpartitioning(shard" not in txt, "per-shard reducer window came back"


def test_quality_gate_window_partitioned_by_source(spark):
    txt = _formatted(REGISTRY["source_quality_gate"].spark(spark, SF_DIR))
    assert "SinglePartition" not in txt, "per-source gate became a global window"


def test_unigram_surprisal_no_forced_broadcast(spark):
    # vocabulary size is corpus-dependent (Heaps' law; URL/typo-heavy
    # corpora explode it) — the vocab join must be left to AQE, not hinted
    plan = _analyzed(REGISTRY["text_unigram_surprisal"].spark(spark, SF_DIR))
    chunks = plan.split("ResolvedHint")[1:]
    for chunk in chunks:
        head = "\n".join(chunk.splitlines()[:4])
        assert "Aggregate" not in head or "total" in head, (
            f"vocab table under a forced broadcast hint:\n{head}"
        )


def test_quantized_topk_integer_quantization(spark):
    # the quantized corpus representation must be integral (the 4x
    # bandwidth claim) — schema of the quantized column is array<long>
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.similarity import int8_quantize

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.select(int8_quantize(F.col("embedding")).alias("q"))
    assert q.schema["q"].dataType.simpleString() == "array<bigint>"
    row = q.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m")).first()
    assert row[0] <= 127, "quantized magnitude exceeds int8 range"


def test_islands_single_shuffle_key(spark):
    import re

    txt = _formatted(REGISTRY["events_activity_islands"].spark(spark, SF_DIR))
    # distinct, window, and both aggregates all shuffle on user_id-rooted
    # keys; nothing may shuffle on a non-user key
    for args in re.findall(r"Arguments: hashpartitioning\(([^)]+)\)", txt):
        assert "user_id" in args, txt


# Queries where a nested-loop/cartesian is the DELIBERATE plan: the range
# join probes 6 broadcast bands, and the scalar-aggregate cross joins
# broadcast a 1-row frame (bounds, totals, cutoffs, thresholds).
_NESTED_LOOP_OK = {
    "range_join_price_bands",  # 6-band broadcast interval probe
    "q6_revenue_forecast",  # 1-row scalar forecast frame
    "q11_important_parts",  # 1-row threshold frame
    "q15_top_supplier",  # 1-row max-revenue frame
    "q22_idle_customers",  # 1-row avg-balance frame
    "median_quantiles",
    "iqr_clip_quantity",
    "corr_matrix",
    "distinct_counts",  # four 1-row per-column distinct counts (r6 de-Expand)
    "resample_daily_revenue_gapfill",  # 1-row date-bounds frame
    "decile_customer_acctbal",  # 1-row cutoffs frame
    "sample_stratified_deterministic",
    "text_unigram_surprisal",  # 1-row total-tokens frame
    "text_heaps_ngram_growth",  # 1-row id-bounds frame (r11)
    "mixture_temperature_weights",  # 1-row normalizer frame
    "sim_bruteforce_topk",  # anchors joined on != (broadcast NL by design)
    "sim_quantized_topk",  # same anchor-broadcast shape
    "sim_ivf_topk",  # per-anchor centroid cross + 1-row recall frame
    "sim_ivf_exact_topk",
    "sim_pq_topk",  # exact-twin anchor broadcast + 1-row recall frame (r5)
    "sim_knn_graph_recall",  # exact-twin anchor broadcast + 1-row recall frame (r8)
    "sim_knn_graph_multiprobe_recall",  # same shape, multiprobe graph (r9)
    "sim_pagerank_centrality",  # 1-row mass-accounting frame crossed (r10)
    "sim_knn_graph_multiprobe_linear_recall",  # anchor bcast + 1-row recall (r10)
    "sim_ivfpq_topk",  # anchor broadcast + 1-row recall frame (r10)
    "dedup_semantic_clusters",  # 1-row contract-boolean frames crossed
    "corpus_split_budget_dual",  # 1-row contract-boolean frames crossed (r11)
    "ml_class_balance_report",  # 1-row total frame
    "class_weights_orderstatus",  # 1-row (n, k) totals frame
    "histogram_extendedprice",  # 1-row min/max bounds frame
    "ml_als_recommend_parts",  # MLlib subset scoring: 5 probe users x item blocks
    "skew_profile_order_custkey",  # 1-row profile frame
    "approx_percentiles_extendedprice",  # 1-row sketch-output frame for the rank check
    "hll_trailing_7d_users",  # days-sized sketch self-join, fanout <= 7
    "hll_users_by_type_union",  # 1-row sketch-union x 1-row exact-total cross
    "validate_orders_expectations",  # 1-row rule frame
    "q1_pricing_summary",
    "q6_revenue_forecast",
}


# Queries where an UNPARTITIONED window is legal because its input is a
# bounded grain — calendar days/months or a distinct-value aggregate whose
# cardinality does not scale with data size. Anything else ordering a
# full-frame window with no partition is a single-reducer sort at 100 TB
# (the round-3 supplier_pareto `weak`).
_UNPARTITIONED_WINDOW_OK = {
    "cumulative_monthly_revenue",  # months grain (calendar-bounded)
    "forecast_ses_monthly_revenue",  # months grain
    "moving_avg_daily_revenue",  # days grain
    "resample_daily_revenue_gapfill",  # days grain (+ dedicated shape test above)
    "label_encode_orderstatus",  # distinct o_orderstatus values (3); the
    # high-cardinality path routes through _rank_distincts_distributed
    "ml_class_balance_report",  # class-label grain (bounded by construction)
    "sample_weighted_priority",  # rank window runs ABOVE the top-100
    # TakeOrdered limit — 100-row input by construction (r9)
    "sample_density_penalized",  # same shape: rank window above the
    # top-100 TakeOrdered limit (r11)
    "text_heaps_ngram_growth",  # running sum over the 10-row decile
    # frame (bounded by construction: bucket = floor(id-range * 10))
}


def _walk_jvm_plan(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_jvm_plan(node.children().apply(i))


# Columns whose domain is BOUNDED (does not scale with data size). A window
# partitioned ONLY by these keys puts n/k rows on one reducer — the round-4
# generalization of the unpartitioned-window hazard — unless the executed
# plan shows a WindowGroupLimit (map-side top-k) or the window's input is
# itself a bounded grain (allowlist).
_BOUNDED_DOMAIN_COLS = {
    "source",
    "shard",
    "event_type",
    "o_orderstatus",
    "o_orderpriority",
    "lang",
    "__c",
    "__col",
}

# Bounded-key windows whose INPUT frame is pre-aggregated to a bounded
# grain, so the per-key partition cannot scale with the corpus.
_BOUNDED_KEY_WINDOW_OK = {
    "events_daily_anomaly_zscore",  # input = (event_type, day) aggregate
    "events_weekly_retention",  # input = (cohort week, week) grain
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_accidental_cartesian(spark, name):
    """Registry-wide sweep for the two worst 100 TB failure modes, checked
    on each query's one plan build:

    1. any CartesianProduct / BroadcastNestedLoopJoin outside the
       whitelist is an accidental O(n*m) plan (whitelisted occurrences
       are 1-row scalar broadcasts or deliberate bounded-band probes);
    2. any Window with an EMPTY partition spec outside the bounded-grain
       allowlist is a single-reducer global sort waiting to happen.
    """
    df = REGISTRY[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan()
    if name not in _UNPARTITIONED_WINDOW_OK:
        for n in _walk_jvm_plan(plan):
            if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
                raise AssertionError(
                    f"{name}: unpartitioned Window over a potentially "
                    f"unbounded grain:\n{str(n)[:500]}"
                )
    if name not in _BOUNDED_KEY_WINDOW_OK:
        # bounded-key windows: every partition expression resolves to a
        # bounded-domain column -> n/k rows per reducer at scale, unless
        # the executed plan bounds the sort with a WindowGroupLimit
        import re as _re

        exec_txt = None
        for n in _walk_jvm_plan(plan):
            if n.nodeName() != "Window" or n.partitionSpec().isEmpty():
                continue
            spec = n.partitionSpec()
            cols = []
            for i in range(spec.size()):
                cols += _re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", str(spec.apply(i)))
            if cols and all(c in _BOUNDED_DOMAIN_COLS for c in cols):
                if exec_txt is None:
                    # raw executedPlan string: WindowGroupLimit lines carry
                    # their partition keys inline (formatted mode splits
                    # them into a detail section)
                    exec_txt = df._jdf.queryExecution().executedPlan().toString()
                # the limit must be attached to THIS window's key SET —
                # token-exact (name#id) equality of the WindowGroupLimit's
                # own partition bracket, so neither an unrelated top-k
                # window nor a superset/substring key line can mask a
                # hazardous window
                want = set(cols)
                matched = False
                for l in exec_txt.splitlines():
                    m = _re.search(r"WindowGroupLimit \[([^\]]*)\]", l)
                    if not m:
                        continue
                    got = set(
                        _re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", m.group(1))
                    )
                    if got == want:
                        matched = True
                        break
                assert matched, (
                    f"{name}: Window partitioned only by bounded-domain "
                    f"keys {cols} with no matching WindowGroupLimit — n/k "
                    f"rows on one reducer at scale:\n{str(n)[:500]}"
                )
    if name in _NESTED_LOOP_OK:
        return  # deliberate; nothing to assert either way (AQE may elide)
    txt = _formatted(df)
    has_nl = "CartesianProduct" in txt or "BroadcastNestedLoopJoin" in txt
    assert not has_nl, f"{name}: unexpected nested-loop/cartesian:\n{txt[:3000]}"


def test_table_num_rows_matches_scan_and_ignores_markers():
    """Footer-metadata row counts (r9): must equal the actual row count
    and skip underscore-prefixed non-parquet files (_SUCCESS,
    _TILE_SCHEME) in tiled directories."""
    import duckdb

    from data_pipeline_agent_spark.plans.registry import table_num_rows

    for sf_dir, tbl in (
        ("/root/testdata/sf0.001", "embeddings"),
        ("/root/testdata/sf0.01", "documents"),
        ("/root/testdata/sf0.1", "lineitem"),
    ):
        want = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/{tbl}.parquet'"
        ).fetchone()[0]
        assert table_num_rows(sf_dir, tbl) == want
        # memoized: second call hits the cache (same value)
        assert table_num_rows(sf_dir, tbl) == want


def test_oracle_full_artifact_green():
    """Gate on the committed full-registry oracle artifact
    (scripts/oracle_full.py): every recorded entry must be status 'ok' —
    zero failures, zero oracle-less 'unverified' entries (ADVICE r8: the
    artifact must not fold unverified into green) — and the artifact
    must substantially cover the registry."""
    import glob
    import json
    import os

    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(repo, "ORACLE_FULL_r*.json")))
    if not arts:
        pytest.skip("no ORACLE_FULL artifact yet (run scripts/oracle_full.py)")
    with open(arts[-1]) as f:
        art = json.load(f)
    assert len(art) >= 140, f"artifact covers only {len(art)} queries"
    bad = {
        n: r.get("status", "missing")
        for n, r in art.items()
        if r.get("status", "ok" if r.get("hash_match") else "fail") != "ok"
    }
    assert not bad, bad
