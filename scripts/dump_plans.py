"""Generate PLANS.md: formatted physical plans for flagship queries.

Dev/judging artifact — shows the actual Catalyst output (pushed filters,
read schemas, exchange keys, codegen spans) behind the plan-shape claims
in docstrings and tests/test_plans.py. Not part of the driver contract.

    python scripts/dump_plans.py [--sf-dir DIR]
    python scripts/dump_plans.py --fingerprint [--sf-dir DIR] [name ...]

``--fingerprint`` writes no file: it prints one line per registry query
(all of them when no name is given) with two hashes. The first is of the
query's optimized logical plan with the ids that differ between sessions
masked; the second is of its DuckDB oracle SQL with all whitespace
removed (``-`` for a query without one). Equal hashes on two checkouts
mean a change left that plan, and that oracle, as they were.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_agent_spark.plans import REGISTRY  # noqa: E402
from data_pipeline_agent_spark.session import get_spark  # noqa: E402

# query -> the property worth reading off its plan
SHOWCASE = {
    "q6_revenue_forecast": "filters pushed into the parquet scan "
    "(PushedFilters on l_shipdate/l_discount/l_quantity), 2-column "
    "ReadSchema from a 16-column table",
    "q17_small_qty_revenue": "Brand#13 semi-join placed BELOW the "
    "per-part window (prunes ~24/25 of the window input)",
    "q18_large_volume_customers": "no broadcast hint on the SF-scaling "
    "customer side — AQE picks the strategy at runtime",
    "contamination_ngram_overlap": "shingle overlap as an equi-join on "
    "the gram (never a cartesian); both slices filtered below their "
    "explodes",
    "dedup_minhash_lsh": "banded LSH self-join over the persisted band "
    "table; exact-Jaccard verification only on candidates",
    "corpus_shuffle_shards": "grouped_ordered_prefix shape: checkpointed "
    "range-partitioned scan, broadcast offset join, window partitioned by "
    "(__pid, shard) — balanced reducers, no SinglePartition exchange "
    "anywhere (a per-shard window would put n/shards rows on one reducer)",
    "asof_last_order_before_event": "as-of join as union + one "
    "(key-partitioned) window; tiebreak fused into the same sort order",
    "sim_quantized_topk": "anchor broadcast joins the int8-quantized "
    "corpus; the per-pair zip_with/aggregate fold is interpreted "
    "(CodegenFallback), not code-generated",
    "incremental_daily_rollup": "partial-aggregate merge: two filtered "
    "scans re-aggregated, no history rescan in the maintained path",
    "doc_chunks_fixed_stride": "chunking entirely map-side: no Exchange "
    "in the plan at all",
    "distinct_counts": "four per-column two-stage distinct aggregates "
    "meeting in 1-row scalar joins — NO Expand of the lineitem scan "
    "(Catalyst rewrites a single multi-count_distinct agg into an "
    "Expand x4 that duplicates every row per column)",
    "fuzzy_match_customer_names": "r7 two-stage pair emission: explode "
    "the deletion variants once, per-(block, variant) collect_list "
    "aggregate, then Generate(explode(sequence)) for the outer index and "
    "Generate(explode(slice(__g, i+1, ...))) for the O(group)-sized "
    "j-suffix — no flatten of all C(n,2) pairs into one row, nothing "
    "corpus-x-neighborhood materialized (no ExistingRDD leaf)",
    "mm_frame_sample": "multimodal plumbing: one ArrowEvalPython/"
    "mapInPandas stage over the binary-blob projection (blobs never "
    "shuffle; output is the narrow per-frame feature rows), JVM-side "
    "contract booleans above it",
    "dedup_span_partners": "r9 span attribution: ONE parquet scan, zero "
    "Join nodes — per-gram exemplars ride a bounded collect_list window "
    "+ explode instead of a gram self-join (which would re-shingle the "
    "corpus per side)",
    "dedup_span_trim": "r9 cleaned-corpus emitter: anchor rows UNIONED "
    "into the token stream and resolved by one per-doc running-max "
    "window — zero Join nodes, no (doc,pos) equi-join, no range join",
    "dedup_span_trim_keep_one": "r10 keep-one-copy trim: keeper "
    "election (per-gram min doc_id) rides the SAME gram-keyed window "
    "exchange as the occurrence count — still zero Join nodes, same "
    "shuffle count as the trim-all plan",
    "sim_knn_graph_multiprobe_linear": "r10 margin-bounded multiprobe: "
    "query side explodes home + T=2 lowest-|margin| flip keys (a "
    "deterministic struct sort inside the projection — no extra "
    "shuffle), candidate side home-only; same bucketed sort-merge "
    "self-join shape as the adaptive graph at (T+1)x the probe keys, "
    "candidate volume linear in N by construction",
    "sim_knn_graph_adaptive": "scale-default kNN graph: bucketed "
    "sort-merge SELF-join on (rotation, bucket), one shuffle per side, "
    "WindowGroupLimit top-k pushdown, ONE dot product per candidate "
    "(norms carried in the projections); adaptive bits+rotations from "
    "parquet footer metadata — building the plan runs zero jobs",
    "dedup_blocks_global": "r9 unit dedup: first-occurrence as a "
    "map-side-combinable groupBy(unit).min(struct) aggregate + one "
    "unit-key equi-join (NOT a window over the unit key — a hot "
    "boilerplate unit would flood one reducer), then one per-doc "
    "reassembly aggregate",
    # corpus_dsir_logratio is absent for the same reason as the BPE
    # queries below: its build ends in an eager localCheckpoint (the
    # persist-cleanup pattern shared with text_unigram_surprisal), so the
    # dumped plan is a truncated ExistingRDD scan — the one-token-pass /
    # conditional-sum shape is documented in queries_curation.py and
    # covered by its plan gate.
    "sim_pagerank_centrality": "r9 fixed-point PageRank: per iteration "
    "one edge-to-rank equi-join + one dst-keyed partial-aggregated sum "
    "over checkpointed node-sized rank tables (Scan ExistingRDD leaves); "
    "all arithmetic integer (div/floor), so no float shuffle-order "
    "dependence anywhere in the plan",
    # text_bpe_merges/text_bpe_fertility are deliberately absent: training
    # runs at CONSTRUCTION time (materializes_on_build), so the returned
    # frame's plan is a driver-local literal / checkpointed lookup — the
    # interesting shapes are the per-iteration jobs, documented in
    # operators/bpe.py and exercised by the 100x tier row.
    # (text_bpe_pack shares that fate: its tokenizer side localCheckpoints.)
    "corpus_source_quota": "r11 domain cap: the source-partitioned rank "
    "compiles to a WindowGroupLimit (map-side top-k per partition BEFORE "
    "the shuffle — the property the bounded-domain plan gate asserts); "
    "per-source totals enter via a broadcast join of a 20-row aggregate, "
    "never a count window",
    "dedup_neardup_arrivals": "r11 streaming near-dup batch twin: ONE "
    "corpus scan builds sig + band keys (single Generate over the "
    "band-struct array — a per-band union would re-evaluate the md5 "
    "signature per leg), exemplar election + signature agreement ride "
    "one struct-min window over the (band, key) bucket exchange — zero "
    "Join nodes",
    "text_heaps_ngram_growth": "r11 vocab growth: first-occurrence as a "
    "map-side-combinable min over h32-HASHED grams (exploding the gram "
    "strings measured ~20x slower), id bounds as a 1-row broadcast, "
    "windows only over the 10-row decile frame",
}


# Session-specific parts of a plan's text: expression ids (``#12``), RDD
# ids (``MapPartitionsRDD[12]``), the physical plan ids a cached
# relation prints (``plan_id=12``), the sequence number of the view
# ``session.reroot`` routes a frame through, and the session-wide
# counter in lambda variable names (``lambda x_182``), which depends on
# how many lambdas earlier queries built.
_VOLATILE = (
    (re.compile(r"#\d+"), ""),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"__graft_reroot_\d+"), "__graft_reroot_N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
)


def normalized_plan(df) -> str:
    """The optimized logical plan's text with ``_VOLATILE`` masked."""
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, rep in _VOLATILE:
        txt = pat.sub(rep, txt)
    return txt


def _hash16(txt: str) -> str:
    return hashlib.sha256(txt.encode()).hexdigest()[:16]


def fingerprints(spark, sf_dir: str, names: list[str]) -> None:
    for name in names or sorted(REGISTRY):
        spec = REGISTRY[name]
        plan = _hash16(normalized_plan(spec.spark(spark, sf_dir)))
        oracle = _hash16(re.sub(r"\s", "", spec.oracle)) if spec.oracle else "-"
        print(plan, oracle, name, flush=True)
        spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--fingerprint", action="store_true")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    spark = get_spark("plans")
    if args.fingerprint:
        spark.sparkContext.setLogLevel("ERROR")
        fingerprints(spark, sf_dir, args.names)
        spark.stop()
        return
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — formatted physical plans for flagship queries",
        "",
        f"Generated by scripts/dump_plans.py at sf_dir={sf_dir} "
        "(regenerate after plan changes). Each section states the scale "
        "property the plan is expected to exhibit; the formatted output "
        "below it is Catalyst's, unedited.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = REGISTRY[name].spark(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Expected property:** {why}")
        out.append("")
        out.append("```")
        out.append(txt.rstrip())
        out.append("```")
        out.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md", len(out))
    spark.stop()


if __name__ == "__main__":
    main()
