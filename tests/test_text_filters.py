"""Gopher quality / repetition / PII operators on crafted fixtures —
content the synthetic corpus may not exercise (bullets, ellipses, emails,
URLs, duplicate lines)."""

from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.text import (
    gopher_quality_flags,
    pii_redact,
    repetition_stats,
)


def test_gopher_flags_fixture(spark):
    good = "the quick brown fox jumps over a lazy dog and " * 10  # 100 words, stopwords
    bullets = "\n".join("- item " + str(i) for i in range(10))
    symbols = "# " * 60
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, symbols)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert rows[1]["gopher_pass"] is True
    assert rows[1]["word_count"] == 100
    assert rows[1]["stopword_hits"] >= 2
    assert rows[2]["bullet_line_frac"] == 1.0 and rows[2]["gopher_pass"] is False
    assert rows[3]["symbol_word_ratio"] >= 0.5 and rows[3]["gopher_pass"] is False


def test_repetition_stats_fixture(spark):
    text = "copy me\ncopy me\ncopy me\nunique line"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r["n_lines"] == 4
    # 4 lines, 2 distinct -> 2/4 duplicated
    assert r["dup_line_frac"] == 0.5
    # repeats beyond first: 2 x len("copy me")=7 -> 14 / (3*7 + 11) = 14/32
    assert r["dup_line_char_frac"] == round(14 / 32, 6)
    assert r["top_2gram"] == "copy me"
    assert r["top_2gram_count"] == 3


def test_repetition_stats_rowlocal_edges(spark):
    """Pins the r13 row-local rewrite (sorted-run scan, no shuffle)
    against the old explode+groupBy+window semantics on the cases the
    corpus may not exercise: count ties (lexicographically smallest gram
    wins), a doc with < 2 words (NULL gram columns, row kept), and a doc
    with no non-empty lines (no row at all — the old per-line aggregate's
    grain)."""
    rows = [
        # grams: "b a"x1, "a b"x1, "b b"x1 ... construct a tie:
        # "z q z q z" -> grams z q, q z, z q, q z -> tie 2-2; "q z" < "z q"
        (1, "z q z q z"),
        (2, "oneword"),          # < 2 words: NULL gram cols
        (3, " \n  \n"),          # no non-empty lines: dropped
        (4, "a b\na b\nc"),      # baseline: dup lines + clear top gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["top_2gram"] == "q z" and out[1]["top_2gram_count"] == 2
    assert out[2]["top_2gram"] is None
    assert out[2]["top_2gram_count"] is None
    assert out[2]["top_2gram_char_frac"] is None
    assert out[2]["n_lines"] == 1 and out[2]["dup_line_frac"] == 0.0
    assert out[4]["n_lines"] == 3
    assert out[4]["dup_line_frac"] == round(1 / 3, 6)
    # rep chars: one repeat of "a b" (3 chars) / line chars (3+3+1)
    assert out[4]["dup_line_char_frac"] == round(3 / 7, 6)
    assert out[4]["top_2gram"] == "a b" and out[4]["top_2gram_count"] == 2


def test_word_bigrams_safe_without_guard(spark):
    """word_bigrams evaluated on its own (no size guard around it) is
    empty for 0- and 1-word arrays instead of probing index 0, and keeps
    repeats in order otherwise."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.text import word_bigrams

    df = spark.createDataFrame(
        [(0, []), (1, ["one"]), (2, ["a", "b", "a", "b"])], "id int, w array<string>"
    )
    got = {r["id"]: r["g"] for r in df.select("id", word_bigrams(F.col("w")).alias("g")).collect()}
    assert got == {0: [], 1: [], 2: ["a b", "b a", "a b"]}


def test_repetition_stats_matches_naive_reference(spark):
    """Randomized (seeded) equivalence of the r13 row-local rewrite
    against a naive Counter-based reference of the ORIGINAL definition
    (per-line counts, per-gram counts, desc-count/asc-gram top pick).
    A 3-word vocabulary over 200 docs manufactures dense gram-count
    ties and duplicate lines far beyond what the synthetic corpus
    exercises."""
    import random
    from collections import Counter

    rng = random.Random(20260818)
    vocab = ["aa", "b", "ccc"]
    rows = []
    for i in range(200):
        n_lines = rng.randint(0, 5)
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
            for _ in range(n_lines)
        ]
        rows.append((i, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}

    expected_ids = set()
    for i, text in rows:
        lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
        if not lines:
            assert i not in got
            continue
        expected_ids.add(i)
        lc = Counter(lines)
        n = len(lines)
        rep_chars = sum((c - 1) * len(ln) for ln, c in lc.items())
        line_chars = sum(c * len(ln) for ln, c in lc.items())
        r = got[i]
        assert r["n_lines"] == n
        assert r["dup_line_frac"] == round((n - len(lc)) / n, 6)
        assert r["dup_line_char_frac"] == round(rep_chars / max(line_chars, 1), 6)
        words = [w for w in text.split() if w]
        if len(words) < 2:
            assert r["top_2gram"] is None and r["top_2gram_count"] is None
            continue
        gc = Counter(" ".join(p) for p in zip(words, words[1:]))
        top = min(gc.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r["top_2gram"], r["top_2gram_count"]) == top, (i, text)
        assert r["top_2gram_char_frac"] == round(
            top[1] * len(top[0]) / max(len(text), 1), 6
        )
    assert set(got) == expected_ids


def test_pii_redact_fixture(spark):
    text = (
        "mail a@b.com or visit https://x.io/a?b=1 from 10.0.0.1 "
        "call +14155550123 end"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = pii_redact(df).collect()[0]
    assert r["n_url"] == 1 and r["n_email"] == 1 and r["n_ipv4"] == 1 and r["n_phone"] == 1
    assert "<URL>" in r["redacted"] and "<EMAIL>" in r["redacted"]
    assert "a@b.com" not in r["redacted"] and "10.0.0.1" not in r["redacted"]
    assert "+14155550123" not in r["redacted"]
    # an email inside a URL is a URL, not an email
    df2 = spark.createDataFrame(
        [(2, "see https://x.io/u@v.com only")], "doc_id long, text string"
    )
    r2 = pii_redact(df2).collect()[0]
    assert r2["n_url"] == 1 and r2["n_email"] == 0


def test_heaps_ngram_growth_fixture(spark):
    """Known first-occurrence structure: doc ids 0..9 with buckets=10
    put each doc in its own slice; trigram novelty and the cumulative
    vocab must match hand counts, including a doc too short for any
    trigram and a doc repeating earlier grams only."""
    from data_pipeline_agent_spark.operators.text import ngram_vocab_growth

    rows = [
        (0, "a b c d"),    # grams: "a b c", "b c d"      -> 2 new
        (1, "a b c"),      # repeat only                  -> 0 new
        (2, "x y"),        # too short                    -> 0 new
        (3, "b c d e"),    # "b c d" old, "c d e" new     -> 1 new
        (4, "a b c d"),    # all old                      -> 0 new
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["bucket"]: r
        for r in ngram_vocab_growth(docs, buckets=5).collect()
    }
    # ids 0..4, lo=0 hi=4 -> bucket = floor(id * 5 / 5) = id
    assert set(out) == {0, 1, 2, 3, 4}
    assert [out[b]["new_grams"] for b in range(5)] == [2, 0, 0, 1, 0]
    assert [out[b]["vocab_size"] for b in range(5)] == [2, 2, 2, 3, 3]
    assert [out[b]["n_docs"] for b in range(5)] == [1] * 5
    assert [out[b]["n_doc_grams"] for b in range(5)] == [2, 1, 0, 2, 2]


def test_heaps_growth_sparse_ids_and_bucket_bounds(spark):
    """Non-dense ids: bucket math must use the id RANGE (lo..hi), keep
    every bucket in [0, buckets), and tolerate empty slices (absent
    rows, not zero rows)."""
    from data_pipeline_agent_spark.operators.text import ngram_vocab_growth

    docs = spark.createDataFrame(
        [(100, "a b c"), (105, "c b a"), (119, "a b c")],
        "doc_id long, text string",
    )
    out = {r["bucket"]: r for r in ngram_vocab_growth(docs, buckets=4).collect()}
    # range 100..119 width 20: 100 -> 0, 105 -> 1, 119 -> 3
    assert set(out) == {0, 1, 3}
    assert out[0]["new_grams"] == 1 and out[1]["new_grams"] == 1
    assert out[3]["new_grams"] == 0
    assert out[3]["vocab_size"] == 2


def test_source_quota_keeps_topk_and_totals(spark):
    """Quota semantics on a hand corpus: top-K per source by (rounded
    score desc, doc_id asc), with per-source doc/token totals carried on
    every kept row."""
    from data_pipeline_agent_spark.plans.queries_corpus import _QUOTA_K

    # build a corpus where quality is driven by stopword ratio: more
    # 'the' hits nearer the 0.4-centered optimum score higher
    rows = []
    for i in range(_QUOTA_K + 5):
        # source s0: doc i has i leading stopwords out of 20 tokens
        text = " ".join(["the"] * i + ["tok"] * (20 - i))
        rows.append((i, text, "s0"))
    rows.append((100, "the tok tok", "s1"))  # small source: kept whole
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    from data_pipeline_agent_spark.operators.text import quality_score

    q = {
        r["doc_id"]: r["quality_score"]
        for r in quality_score(docs, keep=("source",)).collect()
    }
    want_s0 = sorted(
        (i for i in range(_QUOTA_K + 5)), key=lambda i: (-q[i], i)
    )[:_QUOTA_K]

    # call through the registry to exercise the registered plan
    from data_pipeline_agent_spark.plans import REGISTRY

    spark_fn = REGISTRY["corpus_source_quota"].spark

    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        got = spark_fn(spark, d).collect()
    s0 = sorted(
        (r for r in got if r["source"] == "s0"), key=lambda r: r["rk"]
    )
    assert [r["doc_id"] for r in s0] == want_s0
    assert all(r["src_docs"] == _QUOTA_K + 5 for r in s0)
    s1 = [r for r in got if r["source"] == "s1"]
    assert len(s1) == 1 and s1[0]["rk"] == 1 and s1[0]["src_docs"] == 1
    assert s1[0]["src_tokens"] == 3
