"""Deduplication operators over a (id, text) corpus — the core of an LLM
training-data pipeline. Four families, all engine-deterministic:

- exact:   hash-group on the raw text (one shuffle on the text key)
- n-gram Jaccard: all-pairs via shingle equi-join — the small-data oracle
           baseline; quadratic in colliding shingles, use LSH at scale
- MinHash+LSH: salted-md5 signatures -> banded bucketing -> candidate
           pairs -> exact Jaccard verification of candidates only. The
           100 TB path: cost is O(corpus) + O(candidates), no all-pairs.
- SimHash: 32-bit fingerprints, 4x8-bit block index. Pigeonhole: any pair
           with hamming <= 3 shares at least one exact block, so the block
           join has FULL recall at that radius — no scan of all pairs.

The reference has no dedup surface (SURVEY.md §2.6); this is north-star
extension work (BASELINE.json). Embedding-based near-dup lives in
similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions.text_hash import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    NGRAM_N,
    h32_array,
    minhash_from_hashes,
    simhash32_from_hashes,
    tokens,
    word_ngrams,
)
from data_pipeline_agent_spark.session import fan_out


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group id (min id per identical text), group size, and
    keep-flag. One shuffle keyed on the text."""
    w = Window.partitionBy(text_col)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("group_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_kept"),
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, grams array, n_grams) — distinct word 3-gram shingles.

    The token array is staged as its own projection attribute so the
    size filter below can read it.

    The non-empty filter is expressed as ``size(toks) >= n`` (equivalent:
    >= n tokens <=> >= 1 shingle) BEFORE the n-gram projection — a
    ``size(grams) > 0`` filter after it would be pushed below the
    projection with the whole n-gram tree inlined into the predicate and
    re-evaluated per row (measured 50x slower than the filter on toks)."""
    staged = (
        fan_out(df)  # single-row-group scans otherwise shingle on one core
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .where(F.size("toks") >= NGRAM_N)
    )
    return staged.select(
        "id",
        word_ngrams(F.col("toks")).alias("grams"),
    ).withColumn("sz", F.size("grams"))


def _pair_jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for given (id_a, id_b) pairs via shingle-explode join.
    Cost O(candidate shingle overlap), never all-pairs.

    Carries BOTH the raw ratio (``__jacc_raw``, for thresholding — the
    DuckDB twins filter the unrounded ratio, so thresholding the rounded
    display value would admit pairs in [t - 5e-5, t) the oracle rejects;
    ADVICE r9) and the 4-dp display value (``jaccard``)."""
    ex = sh.select("id", F.explode("grams").alias("g"))
    sizes = sh.select("id", "sz")
    ea = ex.select(F.col("id").alias("id_a"), F.col("g"))
    eb = ex.select(F.col("id").alias("id_b"), F.col("g"))
    inter = (
        pairs.join(ea, "id_a").join(eb, ["id_b", "g"]).groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("__jacc_raw"),
        )
        .withColumn("jaccard", F.round(F.col("__jacc_raw"), 4))
    )


def ngram_jaccard_topk(df: DataFrame, k: int = 20) -> DataFrame:
    """All-pairs n-gram Jaccard, top-k most similar pairs. Small-data
    baseline / oracle twin for the LSH path; quadratic in shingle
    collisions, so keep it off the 100 TB path."""
    sh = shingles(df).persist()
    ex = sh.select("id", F.explode("grams").alias("g"))
    ea = ex.select(F.col("id").alias("id_a"), "g")
    eb = ex.select(F.col("id").alias("id_b"), "g")
    pairs = (
        ea.join(eb, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )
    return jac.orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b")).limit(k)


def minhash_signatures(df: DataFrame, sh: DataFrame | None = None) -> DataFrame:
    """(id, mh_0..mh_{K-1}) deterministic MinHash signatures. Shingles are
    md5-hashed ONCE into an array; the K minhash functions are cheap
    affine maps over it. Pass a (possibly persisted) ``shingles(df)``
    result as ``sh`` to share the tokenization with other consumers."""
    if sh is None:
        sh = shingles(df)
    hashed = sh.select("id", h32_array(F.col("grams")).alias("hashes"))
    cols = [
        minhash_from_hashes(F.col("hashes"), j).alias(f"mh_{j}") for j in range(MINHASH_K)
    ]
    return hashed.select("id", *cols)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature. One explode +
    one equi-join on the band key; shuffle volume = corpus * bands.

    The band table is built by ONE posexplode over an array of the
    per-band keys (r12, guide §1.2): the previous per-band
    unionAll re-ran the whole shingle + signature lineage once per band
    when the cache below first materialized (union branches share no
    work — column pruning trims each branch to its own 4 minhashes but
    every branch recomputes tokenization, shingling and the h32 array;
    measured 1.32 s -> ~0.8 s for the sf0.1 candidate stage). Band id ==
    explode position, same keys, identical pair set."""
    keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"mh_{b * LSH_ROWS + r}").cast("string")
                    for r in range(LSH_ROWS)
                ],
            )
            for b in range(LSH_BANDS)
        ]
    )
    bt = sig.select("id", F.posexplode(keys).alias("band", "key"))
    # persist: the self-join below would otherwise recompute the signature
    # lineage once per side. (id, band, key) is tiny relative to the
    # corpus — safe to cache even at scale.
    bt = bt.persist()
    a = bt.select(F.col("id").alias("id_a"), "band", "key")
    b2 = bt.select(F.col("id").alias("id_b"), "band", "key")
    return (
        a.join(b2, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dup_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The scale path: LSH candidates -> exact Jaccard verify -> threshold.
    Shingles are computed once, persisted, and shared by the signature
    build and the Jaccard verification (which references them on both
    sides of the candidate join)."""
    sh = shingles(df).persist()
    cands = lsh_candidate_pairs(minhash_signatures(df, sh=sh))
    # threshold on the UNROUNDED ratio (ADVICE r9): every DuckDB twin's
    # WHERE clause filters the raw ratio, so filtering the 4-dp display
    # value would keep pairs with raw jaccard in [threshold - 5e-5,
    # threshold) that the oracle drops — a hash-red boundary at scale.
    return (
        _pair_jaccard(sh, cands)
        .where(F.col("__jacc_raw") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) 32-bit fingerprints over distinct shingles (md5 once,
    32 bit-votes over the precomputed hash array)."""
    sh = shingles(df, text_col, id_col).withColumn("hashes", h32_array(F.col("grams")))
    return sh.select("id", simhash32_from_hashes(F.col("hashes")).alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Full-recall hamming<=3 pairs via 4x8-bit block index (pigeonhole:
    <=3 differing bits leave at least one of 4 blocks identical)."""
    # persist: (id, simhash) is 12 bytes/doc; the 4-block union self-join
    # would otherwise recompute the fingerprint lineage 8 times.
    st = simhash_table(df).persist()
    blocks = []
    for b in range(4):
        blocks.append(
            st.select(
                "id",
                "simhash",
                F.lit(b).alias("block"),
                F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255)).alias("key"),
            )
        )
    bt = blocks[0]
    for x in blocks[1:]:
        bt = bt.unionAll(x)
    a = bt.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "block", "key")
    b2 = bt.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "block", "key")
    return (
        a.join(b2, ["block", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def normalized_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on NORMALIZED text: lowercase, punctuation stripped,
    whitespace collapsed. Catches trivially-reformatted copies that byte
    dedup misses, at the same one-shuffle cost — the standard middle rung
    between exact and MinHash dedup in a training-data pipeline."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    staged = df.select(F.col(id_col), norm.alias("__norm"))
    w = Window.partitionBy("__norm")
    return staged.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("group_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_kept"),
    )


SPAN_GRAM_N = 8  # span granularity: duplicated runs >= 8 tokens are detected


def _gram_occurrences(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Positional word n-gram occurrences: one row per (doc, pos, gram),
    pos 1-based — the shared first stage of the span family
    (duplicated_spans, span_partners). Token array staged as its own
    attribute: subexpression elimination does not reach inside
    higher-order-function lambdas (see shingles)."""
    toks = tokens(F.col(text_col))
    staged = fan_out(df).select(F.col(id_col), toks.alias("__tk"))
    grams = F.when(
        F.size("__tk") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__tk") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("__tk", i + off) for off in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select(
        F.col(id_col), F.posexplode(grams).alias("__p0", "__gram")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "__gram")


def duplicated_spans(
    df: DataFrame,
    n: int = SPAN_GRAM_N,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level (span) dedup — the document-level families (exact /
    normalized / MinHash / SimHash / semantic) miss boilerplate repeated
    INSIDE otherwise-distinct documents. Method per Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" (public),
    re-expressed Spark-first: positional word n-gram anchors; a gram
    occurring >= ``min_count`` times anywhere in the corpus (cross-doc or
    within-doc) marks all its positions; a per-doc gaps-and-islands pass
    (break when the next anchor starts more than n tokens later) merges
    overlapping/adjacent anchors into maximal duplicated regions. Any
    duplicated run of >= n tokens contains a duplicated n-gram at every
    start offset, so detection is exact at n-token granularity — and
    never a suffix-array single reducer.

    Returns one row per maximal span: (doc_id, span_start, span_end,
    span_tokens, n_grams), token positions 1-based inclusive.

    Plan shape / scale: ONE corpus scan. Dup detection + marking is a
    count window over the gram key (one shuffle, corpus-token-sized;
    equivalent bytes to the groupBy+semi-join form but without a second
    scan of the shingling stage) — per-gram work is a counter, O(group),
    so a hot boilerplate gram costs its occurrence count, never
    occurrences^2 (no pair emission anywhere). The island merge shuffles
    once per doc; the final (doc, island) aggregate reuses the window's
    doc clustering (subset partitioning — no third shuffle). At 100 TB
    the gram join key would be a 64/128-bit fingerprint (xxhash64) to cut
    shuffle bytes, accepting a vanishing false-positive-span probability;
    the registered oracle twin keys on the gram TEXT so both engines stay
    exact. Tokenization is the package-wide convention (split \\s+ on
    trimmed text, functions/text_hash.py) so the DuckDB twin matches
    byte-for-byte."""
    occ = _gram_occurrences(df, n, text_col, id_col)
    wg = Window.partitionBy("__gram")
    marked = (
        occ.withColumn("__cnt", F.count(F.lit(1)).over(wg))
        .where(F.col("__cnt") >= min_count)
        .select(id_col, "pos")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(wd)
    isl = marked.withColumn(
        "__brk",
        F.when(prev.isNull() | (F.col("pos") - prev > n), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "__grp",
        F.sum("__brk").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        isl.groupBy(F.col(id_col), F.col("__grp"))
        .agg(
            F.min("pos").alias("__s"),
            F.max("pos").alias("__e"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select(
            F.col(id_col),
            F.col("__s").cast("long").alias("span_start"),
            (F.col("__e") + (n - 1)).cast("long").alias("span_end"),
            (F.col("__e") + (n - 1) - F.col("__s") + 1)
            .cast("long")
            .alias("span_tokens"),
            "n_grams",
        )
    )


SPAN_PARTNER_EXEMPLARS = 3  # partner exemplars kept per duplicated gram
SPAN_PARTNER_TOPK = 3  # partners reported per document


def span_partners(
    df: DataFrame,
    n: int = SPAN_GRAM_N,
    min_count: int = 2,
    exemplars: int = SPAN_PARTNER_EXEMPLARS,
    topk: int = SPAN_PARTNER_TOPK,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span->partner attribution (r9, VERDICT r8 task 2): duplicated_spans
    finds each doc's duplicated regions but not WHO shares them — the
    Lee et al. 2022 removal decision (keep one copy, trim the rest) needs
    the span->docs mapping. For each document, the partner documents it
    shares duplicated n-gram anchors with, ranked by shared-gram count.

    Partner sets are BOUNDED by construction: each duplicated gram keeps
    only its ``exemplars`` lowest-doc_id participants as join partners
    (the keep-first canon — min-id docs are the survivors every dedup
    family in this package elects, so a trimmed doc's partner list points
    at the copies that would be KEPT). A boilerplate gram occurring in d
    documents therefore emits <= d * exemplars attribution rows, never
    the d^2 pair explosion of a full gram self-join — the same
    group-bounded discipline as the boilerplate miner. Attribution is
    deliberately asymmetric past the cap: doc 9 lists exemplar doc 1, but
    doc 1 only lists its own exemplar peers.

    Plan shape: one corpus scan -> (gram, doc) partial-agg groupBy (one
    shuffle, shrinks within-doc repeats) -> per-gram windows on the SAME
    exchange (occurrence total, doc rank, and a bounded
    collect_list(when(rank <= exemplars)) carrying each gram's exemplar
    set as a <= exemplars-wide array) -> bounded explode -> (doc,
    partner) groupBy -> per-doc top-k window. NO JOIN anywhere — a
    gram-keyed exemplar self-join would recompute the whole shingling
    lineage for both sides (two corpus scans; measured as a second
    Generate in the plan) — and every stage's grain is corpus-tokens or
    smaller.

    Returns (doc_id, partner_id, shared_grams, rk), rk <= topk, ties
    broken by partner_id ascending."""
    occ = _gram_occurrences(df, n, text_col, id_col)
    gd = occ.groupBy("__gram", id_col).agg(
        F.count(F.lit(1)).alias("__occ_in_doc")
    )
    wrk = Window.partitionBy("__gram").orderBy(id_col)
    w_unb = Window.partitionBy("__gram").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = gd.withColumn("__total", F.sum("__occ_in_doc").over(w_unb)).withColumn(
        "__drk", F.row_number().over(wrk)
    )
    # collect_list skips the when()'s NULLs, so the buffered array is at
    # most ``exemplars`` wide per gram no matter how hot the gram is
    marked = ranked.where(F.col("__total") >= min_count).withColumn(
        "__ex",
        F.collect_list(
            F.when(F.col("__drk") <= exemplars, F.col(id_col))
        ).over(w_unb),
    )
    pairs = (
        marked.select(F.col(id_col), F.explode("__ex").alias("partner_id"))
        .where(F.col("partner_id") != F.col(id_col))
        # marked's grain is (gram, doc), so count(*) counts DISTINCT
        # shared grams without a distinct shuffle
        .groupBy(F.col(id_col), F.col("partner_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    wd = Window.partitionBy(id_col).orderBy(
        F.desc("shared_grams"), F.asc("partner_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") <= topk)
        .select(
            F.col(id_col),
            F.col("partner_id"),
            "shared_grams",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def span_trimmed_text(
    df: DataFrame,
    n: int = SPAN_GRAM_N,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_one: bool = False,
) -> DataFrame:
    """The span-dedup DECISION applied (r9): each document's text with
    every duplicated region removed — the cleaned-corpus emitter that
    completes the Lee et al. 2022 span family (duplicated_spans finds
    the regions, span_partners attributes them, this trims them).

    Coverage comes straight from the anchor grain: token p is covered
    iff some duplicated anchor starts in [p-n+1, p], computed as a
    per-doc running max over anchor positions. Anchor rows are UNIONED
    into the token stream (sorted before their position's token row)
    rather than joined on (doc, pos): the union rides the per-doc
    window's one shuffle, where an equi-join would add two more — and
    the plan gate can assert zero Join nodes. The islands of
    duplicated_spans are exactly the maximal contiguous covered runs
    (anchors <= n apart leave no hole), so per doc: kept_tokens ==
    n_tokens - sum(span_tokens) — a cross-operator identity the tests
    pin.

    Reconstruction buffers one document's kept tokens per group row
    (array_sort of (pos, token) structs — collect_list order is not
    deterministic); a document is the natural memory grain everywhere
    else in this package (the text column itself). With the default
    ``keep_one=False`` every occurrence trims (the conservative variant
    of the paper's removal — duplicated content disappears from the
    corpus entirely).

    ``keep_one=True`` (r10, r9 verdict task 2) is the actual Lee et al.
    2022 removal semantics: each duplicated gram's KEEPER — its min-id
    participant, the same keep-first canon span_partners' exemplar map
    elects (rank-1 exemplar == min doc_id) — retains its text; only the
    trailing copies trim. The keeper is computed as a min over the SAME
    gram-keyed window exchange that counts occurrences, so the plan
    still has zero Join nodes. Scope note: keeper election is per GRAM
    at doc grain — a keeper doc retains all its occurrences of that
    gram, including within-doc repeats (a within-doc-only duplicate
    therefore keeps both copies; the keep_one=False mode is the tool
    for intra-doc boilerplate).

    Returns (doc_id, n_tokens, kept_tokens, trimmed_text)."""
    occ = _gram_occurrences(df, n, text_col, id_col)
    wg = Window.partitionBy("__gram")
    marked = occ.withColumn("__cnt", F.count(F.lit(1)).over(wg))
    trims = F.col("__cnt") >= min_count
    if keep_one:
        # rides the same gram-keyed window exchange as the count —
        # window expressions can't live in a WHERE, so materialize first
        marked = marked.withColumn("__keeper", F.min(id_col).over(wg))
        trims = trims & (F.col(id_col) != F.col("__keeper"))
    anchors = (
        marked
        .where(trims)
        .select(
            F.col(id_col),
            F.col("pos"),
            F.lit(None).cast("string").alias("__tok"),
            F.lit(1).alias("__isa"),
        )
    )
    toks = (
        fan_out(df)
        .select(F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("__p0", "__tok"))
        .select(
            F.col(id_col),
            (F.col("__p0") + 1).alias("pos"),
            "__tok",
            F.lit(0).alias("__isa"),
        )
    )
    # anchors sort BEFORE their position's token row (__isa desc), so the
    # running max at token p already includes an anchor starting at p
    wd = Window.partitionBy(id_col).orderBy(
        F.asc("pos"), F.desc("__isa")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u = toks.unionByName(anchors)
    last_anchor = F.max(F.when(F.col("__isa") == 1, F.col("pos"))).over(wd)
    covered = last_anchor.isNotNull() & (last_anchor >= F.col("pos") - (n - 1))
    kept = u.withColumn("__cov", covered).where(F.col("__isa") == 0)
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__cov"), 0).otherwise(1)).cast("long").alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("__cov"), F.struct(F.col("pos"), F.col("__tok")))
                    )
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("trimmed_text"),
    )


LINE_MIN_TOKENS = 5  # units shorter than this never enter corpus-level dedup
BLOCK_WIDTH = 8  # aligned token-block width for dedup_blocks


def _dedup_first_occurrence(
    marked: DataFrame, id_col: str, joiner: str
) -> DataFrame:
    """Global first-occurrence dedup over a (id, pos, line, part) unit
    frame + per-document reassembly — the shared engine of the C4/CCNet
    unit-dedup family (``dedup_lines``, ``dedup_blocks``).

    A participating unit is kept only at its corpus-wide first
    occurrence (min (doc_id, pos)); non-participating (short) units
    always survive. Shape: first-occurrence via groupBy(line).min(struct)
    — a map-side-combinable aggregate, so a boilerplate unit present in
    10% of all documents is pre-reduced per task instead of flooding one
    reducer (a window-min has no partial aggregation; the span family
    tolerates that for GRAM keys, but unit keys carry heavier payloads)
    — then an equi-join back on the unit key (AQE splits any residual
    skew) and one per-doc reassembly aggregate. The join keys on raw
    unit text for oracle exactness; a production 100 TB run would key on
    xxhash64(unit) and carry the text only on the probe side.
    """
    firsts = (
        marked.where("part")
        .groupBy("line")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("first")
        )
    )
    kept = marked.join(firsts, "line", "left").select(
        F.col(id_col),
        "pos",
        "line",
        (
            ~F.col("part")
            | (
                (F.col("first.d") == F.col(id_col))
                & (F.col("first.p") == F.col("pos"))
            )
        ).alias("kept"),
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).cast("long").alias("n_removed"),
        F.concat_ws(
            joiner,
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "kept", "line"))
                    ),
                    lambda s: s["kept"],
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )


def dedup_lines(
    df: DataFrame,
    min_tokens: int = LINE_MIN_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level LINE dedup with document reassembly — the C4/CCNet
    recipe (Raffel et al. 2020 §2.2; public): a >=``min_tokens``-token
    line occurring more than once ANYWHERE in the corpus is kept only at
    its first occurrence, and every document is re-emitted with its
    surviving lines rejoined. Complements the span family: spans find
    duplicated n-gram RUNS, this removes whole repeated lines (navigation
    bars, footers, license blocks) at line granularity.

    The ``min_tokens`` gate is both C4's semantics (short lines are
    structure, not content) and the scale guard: the first-occurrence
    aggregate groups by RAW LINE TEXT, and empty/one-word lines would
    otherwise concentrate billions of rows on one key at 100 TB.

    NOTE: the synthetic test corpus has no newlines, so the registered
    sibling is ``dedup_blocks`` (aligned token blocks — same engine,
    genuinely exercised there); this line variant is unit-tested on
    newline-structured fixtures.
    """
    lines = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("__p0", "line"),
        )
        .select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "line")
    )
    part = (
        F.size(F.filter(tokens(F.col("line")), lambda x: F.length(x) > 0))
        >= min_tokens
    )
    return _dedup_first_occurrence(
        lines.withColumn("part", part), id_col, "\n"
    )


def dedup_blocks(
    df: DataFrame,
    width: int = BLOCK_WIDTH,
    min_tokens: int = LINE_MIN_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level dedup of ALIGNED fixed-width token blocks — the
    paragraph/line-hash dedup shape for corpora without line structure:
    each document's token stream is segmented into consecutive
    ``width``-token blocks, and a block with >= ``min_tokens`` tokens
    (tail blocks can be shorter) survives only at its corpus-wide first
    (doc_id, block_pos) occurrence. Coarser and cheaper than the span
    family (one unit per ``width`` tokens instead of one gram per token,
    no island merge) at the cost of alignment sensitivity — the classic
    recall/cost trade documented in Lee et al. 2022 §3 between exact
    substring and hash-bucket granularities.
    """
    toks = F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    staged = fan_out(df).select(F.col(id_col), toks.alias("__w"))
    # guard the empty-token-stream doc: Spark's sequence(1, 0) REVERSES
    # to [1, 0] instead of returning [] (DuckDB's generate_series is
    # empty there), so an unguarded transform would emit phantom blocks
    blocks = F.when(F.size("__w") < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(
                F.lit(1), F.ceil(F.size("__w") / F.lit(float(width))).cast("int")
            ),
            lambda i: F.array_join(
                F.slice("__w", (i - F.lit(1)) * width + 1, width), " "
            ),
        )
    )
    units = staged.select(
        F.col(id_col), F.posexplode(blocks).alias("__p0", "line")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "line")
    part = (
        F.size(F.filter(tokens(F.col("line")), lambda x: F.length(x) > 0))
        >= min_tokens
    )
    return _dedup_first_occurrence(
        units.withColumn("part", part), id_col, " "
    )
