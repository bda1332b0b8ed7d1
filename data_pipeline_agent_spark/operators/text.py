"""Text-analysis operators over a (id, text) corpus: language ID, quality
scoring, token counting, document fingerprinting.

All pure column expressions (JVM-side, codegen'd — no Python UDFs in the
hot path), each with a DuckDB-expressible twin for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions.text_hash import h32, tokens
from data_pipeline_agent_spark.session import fan_out

# rule-based language ID: ordered (lang, marker-words) table; CJK charset
# first, then stopword hits, default 'en'-vs-'unk' by latin-letter share
LANG_MARKERS = [
    ("de", ["der", "die", "das", "und", "ist", "nicht"]),
    ("fr", ["le", "les", "une", "est", "et", "dans"]),
    ("es", ["el", "los", "una", "es", "y", "que"]),
    ("en", ["the", "a", "is", "and", "of", "to"]),
]

EN_STOPWORDS = [
    "the", "a", "an", "is", "are", "and", "or", "of", "to", "in", "on", "it",
    "this", "that", "for", "with", "as", "at", "by",
]

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _marker_hits(dtoks: Column, markers: list[str]) -> Column:
    """Marker hits over an already-distinct token array."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(dtoks, arr))


def language_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic rule-based language ID: CJK charset -> zh, else the
    marker-word table in order, else 'unk'. (On natural text the marker
    lists dominate; on this synthetic corpus it demonstrates the plumbing.)

    The distinct-token array is staged as its own projection attribute:
    the marker predicate references it once per language, and each
    reference would otherwise embed its own copy of the tokenize+distinct
    subtree (no subexpression elimination across those copies).

    ``keep`` passes source columns through (e.g. a ground-truth label) so
    downstream consumers don't need a join back to the corpus."""
    staged = fan_out(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.col(text_col).alias("__t"),
        F.array_distinct(tokens(F.lower(F.col(text_col)))).alias("__dtoks"),
    )
    pred = F.when(F.col("__t").rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
    for lang, markers in LANG_MARKERS:
        pred = pred.when(_marker_hits(F.col("__dtoks"), markers) >= 2, F.lit(lang))
    pred = pred.otherwise(F.lit("unk"))
    return staged.select(F.col(id_col), *[F.col(c) for c in keep], pred.alias("pred_lang"))


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality features + composite score:
    n_chars, n_tokens, mean token length, punctuation ratio, stopword
    ratio; score = stopword_ratio-centered minus punctuation penalty,
    scaled by a length prior. All ratios rounded to 6.

    ``keep`` passes source columns through (language_id's convention) so
    compositions like corpus_source_quota don't join back to the corpus."""
    staged = fan_out(df).select("*", tokens(F.col(text_col)).alias("__toks"))
    t = F.col(text_col)
    toks = F.col("__toks")  # staged: tokenization runs once per row
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(t, "[^.!?,;:]", ""))
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, F.lower(x))))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    mean_tok_len = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    length_prior = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = length_prior * (F.lit(1.0) - F.abs(stop_ratio - F.lit(0.4)) - punct_ratio)
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count (letter runs,
    digit runs, punctuation marks)."""
    t = F.col(text_col)
    ws = F.size(tokens(t))
    # F.lit keeps the regex out of SQL-literal escaping (where \s would
    # collapse to s and the class would match whitespace)
    bpe = F.size(F.regexp_extract_all(t, F.lit(BPE_REGEX), F.lit(0)))
    return fan_out(df).select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token bag (hex string + 32-bit int form). Robust to token reordering —
    catches shuffled near-copies that exact dedup misses."""
    staged = fan_out(df).select(
        F.col(id_col),
        F.array_join(F.array_sort(F.array_distinct(tokens(F.col(text_col)))), " ").alias("__bag"),
    )  # staged: the sort+distinct+join runs once, not once per hash below
    bag = F.col("__bag")
    return staged.select(
        F.col(id_col),
        F.md5(bag).alias("bag_md5"),
        h32(bag).alias("bag_h32"),
    )


def tfidf_top_terms(
    df: DataFrame,
    n_docs: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (tf * (ln((1+N)/(1+df)) + 1), sklearn's smooth_idf form).

    Pure DataFrame plan: explode -> tf agg (one shuffle on doc+term) ->
    document-frequency agg (one shuffle on term) -> join back on term ->
    per-doc window top-k. ``n_docs`` is a driver scalar (count once,
    reuse). MLlib's HashingTF/IDF is the stock alternative; exact terms
    keep the result oracle-checkable and human-readable."""
    from pyspark.sql import Window

    t = fan_out(df).select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    tf = t.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(
            F.col("tf") * (F.log((1.0 + n_docs) / (1.0 + F.col("dfc"))) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", "rk")
    )


# --- Gopher-style quality gates (Rae et al. 2021, public heuristics) --------

GOPHER_BULLET_RE = "^[-*•]"
GOPHER_ELLIPSIS_RE = "(\\.\\.\\.|…)$"


def gopher_words(t: Column) -> Column:
    """Non-empty whitespace words — stage this before gopher_parts."""
    return F.filter(tokens(t), lambda x: F.length(x) > 0)


def gopher_lines(t: Column) -> Column:
    """Non-empty trimmed lines — stage this before gopher_parts."""
    return F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def gopher_parts(t: Column, w: Column, lines: Column) -> dict[str, Column]:
    """The Gopher rule signals as raw column expressions over a text column
    and its STAGED words/lines arrays (stage them as projection attributes
    first — each is referenced several times below, and copies of the
    tokenize subtree are not eliminated inside lambda bodies).  Returns
    the signal dict plus the composite ``gate``; callers pick what they
    need, so the gate can be inlined into a single-pass funnel without a
    join against a flags table."""
    wc = F.size(w)
    wc1 = F.greatest(wc, F.lit(1))
    word_chars = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_dots = F.floor(
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    n_ell = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    symbol_ratio = (n_hash + n_dots + n_ell) / wc1
    alpha_frac = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / wc1
    nl = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_BULLET_RE))) / nl
    ellipsis_frac = F.size(F.filter(lines, lambda l: l.rlike(GOPHER_ELLIPSIS_RE))) / nl
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(F.transform(w, F.lower)), stop_arr)
    )
    mean_wl = word_chars / wc1
    gate = (
        wc.between(50, 100_000)
        & mean_wl.between(3.0, 10.0)
        & (symbol_ratio < 0.1)
        & (alpha_frac > 0.8)
        & (bullet_frac < 0.9)
        & (ellipsis_frac < 0.3)
        & (stop_hits >= 2)
    )
    return {
        "word_count": wc,
        "mean_word_len": mean_wl,
        "symbol_word_ratio": symbol_ratio,
        "alpha_word_frac": alpha_frac,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "stopword_hits": stop_hits,
        "gate": gate,
    }


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher rule signals + the composite keep/drop gate, per document:

    word count in [50, 100k], mean word length in [3, 10], symbol-to-word
    ratio (#/ellipsis) < 0.1, >80% words with an alphabetic char, <90%
    bullet-started lines, <30% ellipsis-ended lines, >=2 English stopword
    hits. All pure column expressions (one projection, codegen'd); the
    whole gate runs in the scan stage with no shuffle at any scale.
    """
    t = F.col(text_col)
    staged = fan_out(df).select(
        F.col(id_col),
        t.alias("__t"),
        gopher_words(t).alias("__w"),
        gopher_lines(t).alias("__l"),
    )
    p = gopher_parts(F.col("__t"), F.col("__w"), F.col("__l"))
    return staged.select(
        F.col(id_col),
        p["word_count"].cast("long").alias("word_count"),
        F.round(p["mean_word_len"], 6).alias("mean_word_len"),
        F.round(p["symbol_word_ratio"], 6).alias("symbol_word_ratio"),
        F.round(p["alpha_word_frac"], 6).alias("alpha_word_frac"),
        F.round(p["bullet_line_frac"], 6).alias("bullet_line_frac"),
        F.round(p["ellipsis_line_frac"], 6).alias("ellipsis_line_frac"),
        p["stopword_hits"].cast("long").alias("stopword_hits"),
        p["gate"].alias("gopher_pass"),
    )


def word_bigrams(w: Column) -> Column:
    """Adjacent word 2-grams of the word array ``w`` in order, repeats
    kept; empty for fewer than 2 words. Safe on its own: Spark's
    ``sequence(1, 0)`` counts DOWN to [1, 0], and ``element_at(w, 0)``
    raises, so the gram transform is reached only for >= 2 words."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition signals: duplicate-line fraction (by count and by
    characters) and the character coverage of the most frequent word
    2-gram.

    Every output is DOC-LOCAL (line duplication within one document, the
    modal 2-gram of one document), so nothing here needs a shuffle: the
    whole computation is row-local array math — one corpus scan, zero
    Exchange nodes (r13; previously explode -> two grouped aggregations
    at token grain -> window -> doc-grain join, i.e. two full exchanges
    of O(corpus tokens) rows to compute per-row facts).

    dup_line_frac      = (lines - distinct lines) / lines
    dup_line_char_frac = chars in repeat occurrences / line chars
                       = (line chars - distinct-line chars) / line chars
    top_2gram_char_frac = count(top 2-gram) * len(top 2-gram) / doc chars
    (tie-break: higher count, then lexicographically smallest gram —
    realized by a run-length scan over the SORTED gram array keeping
    strictly-longer runs, so ties keep the first = smallest gram)

    Docs with zero non-empty lines emit no row (the old per-line
    aggregate's grain); docs with < 2 words emit NULL gram columns (the
    old left join's NULLs).
    """
    t = F.col(text_col)
    zero = F.lit(0).cast("long")

    def char_sum(arr):
        return F.aggregate(arr, zero, lambda acc, x: acc + F.length(x))

    grams2 = word_bigrams(F.col("__w"))
    # run-length scan over the sorted gram array: (prev, run) is the
    # current run, (bg, bc) the best closed run; strict > keeps the
    # lexicographically-first gram on count ties
    top = F.aggregate(
        F.array_sort(grams2),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            F.lit(None).cast("string").alias("bg"),
            zero.alias("bc"),
        ),
        lambda acc, x: F.when(
            acc["prev"].eqNullSafe(x),
            F.struct(
                x.alias("prev"),
                (acc["run"] + F.lit(1).cast("long")).alias("run"),
                acc["bg"].alias("bg"),
                acc["bc"].alias("bc"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                F.when(acc["run"] > acc["bc"], acc["prev"]).otherwise(acc["bg"]).alias("bg"),
                F.when(acc["run"] > acc["bc"], acc["run"]).otherwise(acc["bc"]).alias("bc"),
            )
        ),
        lambda acc: F.struct(
            F.when(acc["run"] > acc["bc"], acc["prev"]).otherwise(acc["bg"]).alias("g"),
            F.when(acc["run"] > acc["bc"], acc["run"]).otherwise(acc["bc"]).alias("c"),
        ),
    )

    base = (
        fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.length(t).alias("n_chars"),
            F.filter(
                F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            ).alias("__l"),
            F.filter(tokens(t), lambda x: F.length(x) > 0).alias("__w"),
        )
        .where(F.size("__l") > 0)
        .select(
            "id",
            "n_chars",
            F.size("__l").cast("long").alias("n_lines"),
            F.size(F.array_distinct("__l")).cast("long").alias("n_distinct_lines"),
            char_sum(F.col("__l")).alias("line_chars"),
            char_sum(F.array_distinct("__l")).alias("distinct_line_chars"),
            F.when(F.size("__w") >= 2, top).alias("__top"),
        )
    )
    # rep_chars = sum((cnt-1)*len) over distinct lines
    #           = sum(cnt*len) - sum(len over distinct) = line - distinct chars
    return base.select(
        F.col("id").alias(id_col),
        F.col("n_lines"),
        F.round(
            (F.col("n_lines") - F.col("n_distinct_lines")) / F.col("n_lines"), 6
        ).alias("dup_line_frac"),
        F.round(
            (F.col("line_chars") - F.col("distinct_line_chars"))
            / F.greatest("line_chars", F.lit(1)),
            6,
        ).alias("dup_line_char_frac"),
        F.col("__top")["g"].alias("top_2gram"),
        F.col("__top")["c"].cast("long").alias("top_2gram_count"),
        F.round(
            F.col("__top")["c"] * F.length(F.col("__top")["g"])
            / F.greatest("n_chars", F.lit(1)),
            6,
        ).alias("top_2gram_char_frac"),
    )


# --- PII redaction -----------------------------------------------------------

# RE2-safe patterns (no lookaround) so the DuckDB oracle runs the SAME
# regexes; applied in order, counts taken on the progressively-redacted
# text in both engines (a URL-embedded email is a URL, not an email).
PII_PATTERNS = [
    ("url", "https?://[^\\s]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\b\\+?[0-9]{7,15}\\b", "<PHONE>"),
]


def pii_chain(t: Column) -> tuple[Column, dict[str, Column]]:
    """The staged redact chain as raw column expressions: returns
    (fully-redacted text, {type: match-count}) with counts taken on the
    progressively-redacted text (a URL-embedded email is a URL)."""
    cur = t
    counts: dict[str, Column] = {}
    for name, pat, token in PII_PATTERNS:
        counts[name] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, F.lit(pat), F.lit(token))
    return cur, counts


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Redact URLs, emails, IPv4s, and long digit runs (phone-like) with
    typed placeholders; emit per-type match counts. Single projection,
    fully codegen'd — the standard pre-training scrub pass, no shuffle.
    ``keep`` passes source columns through (avoids a join back)."""
    red, counts = pii_chain(F.col(text_col))
    return fan_out(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        red.alias("redacted"),
        *[c.cast("long").alias(f"n_{name}") for name, c in counts.items()],
    )


def ngram_vocab_growth(
    df: DataFrame,
    n: int = 3,
    buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law n-gram vocabulary growth (r11): split the corpus into
    ``buckets`` equal id-range slices and report, per slice, how many
    documents and per-doc-distinct n-grams it holds, how many n-grams
    appear there for the FIRST time, and the cumulative n-gram
    vocabulary — the growth curve that sizes n-gram LM tables,
    contamination indexes, and shingle-dedup state before committing a
    100 TB pass (sub-linear growth = Heaps' law; linear growth = the
    corpus keeps minting novelty and the index won't fit).

    Scale shape: one corpus scan stages per-doc distinct grams; slice
    totals are a map-side-combinable groupBy; first-occurrence slices
    are min(bucket) per gram (combinable, gram-domain-sized shuffle);
    the only windows run over the ``buckets``-row frame. The id bounds
    ship as a 1-row broadcast (the decile_customer_acctbal pattern).
    Slice = floor((doc_id - lo) * buckets / (hi - lo + 1)) — integer
    arithmetic, exact, never equal to ``buckets``.

    First occurrence is tracked over the h32-HASHED gram space (the
    dedup stack's "hash every shingle once" convention): exploding the
    transform-built gram STRINGS into rows measured ~20x slower than
    exploding their h32 longs at sf0.1 (the per-row string explode is
    the pathology, not the hashing — the hash path builds the same
    strings inside md5), and both engines hash identically so the
    oracle stays exact. The documented price is birthday collisions
    undercounting the vocab by ~m^2/2^33 (~850 grams = 0.03% at the
    sf10 tile's 2.7M distinct trigrams) — the standard trade for
    fingerprinted vocabulary estimation.
    """
    from pyspark.sql import Window

    from data_pipeline_agent_spark.functions.text_hash import (
        h32_array,
        word_ngrams,
    )

    staged = fan_out(df).select(
        F.col(id_col).alias("__id"),
        word_ngrams(tokens(F.lower(F.col(text_col))), n).alias("__grams"),
    )
    bounds = staged.agg(
        F.min("__id").alias("__lo"), F.max("__id").alias("__hi")
    )
    sliced = staged.crossJoin(F.broadcast(bounds)).select(
        F.floor(
            ((F.col("__id") - F.col("__lo")) * buckets)
            / (F.col("__hi") - F.col("__lo") + 1)
        )
        .cast("long")
        .alias("bucket"),
        "__grams",
    )
    totals = sliced.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("__grams")).cast("long").alias("n_doc_grams"),
    )
    news = (
        sliced.select(
            F.col("bucket"),
            F.explode(h32_array(F.col("__grams"))).alias("__gh"),
        )
        .groupBy("__gh")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_grams"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        totals.join(F.broadcast(news), "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_doc_grams",
            F.coalesce("new_grams", F.lit(0)).cast("long").alias("new_grams"),
        )
        # buckets-row frame by construction: the unpartitioned running
        # sum is legal here (allowlisted in tests/test_plans.py)
        .withColumn(
            "vocab_size", F.sum("new_grams").over(w).cast("long")
        )
    )
