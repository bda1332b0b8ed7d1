"""BPE merge training: greedy scan semantics + determinism.

The oracle artifact hash-checks the full pipeline against DuckDB; these
tests pin the merge-application edge cases the hash could only catch
indirectly (overlapping runs, multi-char cascades, tie-breaks).
"""

from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.bpe import (
    _apply_merges,
    bpe_train,
    word_freq,
)


def _merge_one(spark, syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Greedy left-to-right merge of adjacent (lhs, rhs) in a symbol list:
    the single-rule case of _apply_merges."""
    df = spark.createDataFrame([(syms,)], "syms array<string>")
    return df.select(_apply_merges(F.col("syms"), [(lhs, rhs)]).alias("m")).first()["m"]


def test_merge_overlapping_run_every_other(spark):
    # subword-nmt greedy scan: "aaaa" under (a,a) -> [aa, aa]; "aaa" -> [aa, a]
    assert _merge_one(spark, list("aaaa"), "a", "a") == ["aa", "aa"]
    assert _merge_one(spark, list("aaa"), "a", "a") == ["aa", "a"]
    assert _merge_one(spark, list("aaaaa"), "a", "a") == ["aa", "aa", "a"]


def test_merge_no_immediate_remerge(spark):
    # after merging (a,b) the new symbol "ab" must not re-match as lhs=a
    assert _merge_one(spark, list("abab"), "a", "b") == ["ab", "ab"]
    # multi-char lhs from an earlier merge participates like any symbol
    assert _merge_one(spark, ["ab", "b", "b"], "ab", "b") == ["abb", "b"]


def test_merge_noop_and_single(spark):
    assert _merge_one(spark, list("xyz"), "a", "b") == ["x", "y", "z"]
    assert _merge_one(spark, ["q"], "a", "b") == ["q"]


def test_word_freq_ascii_gate(spark):
    docs = spark.createDataFrame(
        [(1, "Foo foo BAR7 éé foo-bar"), (2, "bar7 foo")],
        "doc_id long, text string",
    )
    rows = {r["word"]: r["freq"] for r in word_freq(docs).collect()}
    # lowercased; "éé" and "foo-bar" fail the ASCII-alnum gate
    assert rows == {"foo": 3, "bar7": 2}


def test_bpe_train_deterministic_ranks_and_tiebreak(spark):
    # freq-weighted: "abab" x3 -> (a,b)=6, (b,a)=3; "cd" x5 -> (c,d)=5.
    # rank1 = (a,b) cnt 6; after merging, (ab,ab)=3 ties (c,d)=5? no: 5>3,
    # rank2 = (c,d) 5; rank3 = (ab,ab) 3 vs (b,a)? (b,a) pairs vanished
    # inside "abab" after merge. Tie-break check: "xy" x3 vs "xz"? use
    # equal counts -> lexicographic (l, r) wins.
    docs = spark.createDataFrame(
        [(1, "abab abab abab cd cd cd cd cd xy xy xw xw")],
        "doc_id long, text string",
    )
    out = bpe_train(docs, n_merges=4).collect()
    got = [(r["merge_rank"], r["lhs"], r["rhs"], r["cnt"]) for r in out]
    assert got[0] == (1, "a", "b", 6)
    assert got[1] == (2, "c", "d", 5)
    assert got[2] == (3, "ab", "ab", 3)
    # (x,w)=2 and (x,y)=2 tie -> lexicographic: (x,w) before (x,y)
    assert got[3] == (4, "x", "w", 2)


def test_bpe_train_stops_when_no_pairs(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = bpe_train(docs, n_merges=5).collect()
    assert out == []


def test_bpe_fertility_counts(spark):
    from data_pipeline_agent_spark.operators.bpe import bpe_fertility

    # corpus: "abab" x3, "cd" x2 -> merges (a,b) then (c,d) then (ab,ab)
    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab cd X!")],  # X! fails the gate
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bpe_fertility(docs, n_merges=3).collect()}
    # after 3 merges: "abab" -> [abab] (1 subtoken), "cd" -> [cd] (1)
    assert out[1]["n_words"] == 3 and out[1]["n_subtokens"] == 3
    assert out[2]["n_words"] == 2 and out[2]["n_subtokens"] == 2
    assert out[1]["fertility"] == 1.0


def test_bpe_fertility_partial_merges(spark):
    from data_pipeline_agent_spark.operators.bpe import bpe_fertility

    docs = spark.createDataFrame(
        [(1, "abab abab abab xyz")], "doc_id long, text string"
    )
    out = bpe_fertility(docs, n_merges=1).first()
    # one merge (a,b): "abab" -> [ab, ab] = 2 subtokens; "xyz" -> 3 chars
    assert out["n_words"] == 4 and out["n_subtokens"] == 3 * 2 + 3
    assert out["fertility"] == round(9 / 4, 6)


# --- batched merge rounds (r10, r9 verdict task 1) ---------------------------


def _ref_bpe(words: dict[str, int], n_merges: int):
    """Pure-Python sequential BPE reference (subword-nmt semantics over
    the word-frequency table): the ground truth both batch=1 and
    batch=M Spark runs must reproduce rule-for-rule."""
    from collections import Counter

    vocab = {w: (list(w), f) for w, f in words.items()}
    merges = []
    for k in range(1, n_merges + 1):
        pc: Counter = Counter()
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((k, l, r, l + r, c))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, f)
    return merges


def _train_rules(spark, text: str, n: int, batch: int):
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = bpe_train(docs, n_merges=n, batch=batch).collect()
    return [(r["merge_rank"], r["lhs"], r["rhs"], r["token"], r["cnt"]) for r in out]


def _word_counts(text: str) -> dict[str, int]:
    from collections import Counter

    return dict(Counter(text.split()))


def _assert_modes_match_reference(spark, text: str, n: int, batches=(3, 16)):
    want = _ref_bpe(_word_counts(text), n)
    got_seq = _train_rules(spark, text, n, batch=1)
    assert got_seq == want, f"sequential != reference:\n{got_seq}\n{want}"
    for b in batches:
        got_b = _train_rules(spark, text, n, batch=b)
        assert got_b == want, f"batch={b} != sequential:\n{got_b}\n{want}"


def test_bpe_batched_self_pair_rule_closes_batch(spark):
    # THE divergence case _select_batch condition 3 exists for: (a,a)
    # over "aaaa" leaves (aa,aa) pairs behind whose count (10) outranks
    # the disjoint (x,y)=4 — a naive disjoint batch would pick (x,y)
    # second, sequential picks (aa,aa). Batched must match sequential.
    text = " ".join(["aaaa"] * 10 + ["xy"] * 4)
    _assert_modes_match_reference(spark, text, n=4)


def test_bpe_batched_interacting_top_pairs(spark):
    # (a,b) wins; (b,a) interacts and ranks second: the prefix must stop
    # there (pairs created by (a,b) — e.g. (ab,ab) — derive from (b,a))
    text = " ".join(["abab"] * 6 + ["cd"] * 3)
    _assert_modes_match_reference(spark, text, n=4)


def test_bpe_batched_tie_at_the_boundary(spark):
    # counts engineered so the first excluded pair TIES the last
    # accepted one: condition 4's strict gap must drop the tied rule
    # from the batch (sequential breaks the tie lexicographically
    # against pairs the batch may have minted)
    text = " ".join(["ab"] * 5 + ["cd"] * 5 + ["ce"] * 5 + ["fg"] * 4)
    _assert_modes_match_reference(spark, text, n=5)


def test_bpe_batched_cascades_randomized(spark):
    # tiny-alphabet randomized corpora: dense with overlapping runs,
    # ties, lhs==rhs rules, and multi-char cascades — every seed must
    # agree with the pure-Python sequential reference in BOTH modes
    import random

    for seed in (7, 23):
        rnd = random.Random(seed)
        words = [
            "".join(rnd.choice("ab") for _ in range(rnd.randint(1, 6)))
            for _ in range(25)
        ]
        text = " ".join(w for w in words for _ in range(rnd.randint(1, 4)))
        _assert_modes_match_reference(spark, text, n=10, batches=(4,))


def test_bpe_batched_exhaustion_and_minted_pairs(spark):
    # supply exhausts below n_merges: batched must keep training on the
    # pairs its own merges mint ((a,a) -> (aa,aa) -> ...) and stop
    # exactly where sequential stops
    text = " ".join(["aaaaaaaa"] * 3)
    _assert_modes_match_reference(spark, text, n=8)


def test_select_batch_unit_conditions():
    from data_pipeline_agent_spark.operators.bpe import _select_batch

    # condition 1+2: prefix stops at the first interacting pair, even if
    # later pairs are disjoint
    ranked = [("a", "b", 10), ("b", "c", 8), ("x", "y", 7)]
    assert _select_batch(ranked, 4, exhaustive=True) == [("a", "b", 10)]
    # condition 3: lhs==rhs closes the batch after itself
    ranked = [("a", "a", 10), ("x", "y", 7)]
    assert _select_batch(ranked, 4, exhaustive=True) == [("a", "a", 10)]
    # condition 4: tie across the boundary drops the tied tail
    ranked = [("a", "b", 10), ("c", "d", 7), ("c", "e", 7)]
    assert _select_batch(ranked, 2, exhaustive=True) == [("a", "b", 10)]
    # clean disjoint prefix: all accepted
    ranked = [("a", "b", 10), ("c", "d", 7), ("e", "f", 3)]
    assert _select_batch(ranked, 4, exhaustive=True) == ranked
    # truncated window: last row is only a sentinel bound, never selected
    ranked = [("a", "b", 10), ("c", "d", 7)]
    assert _select_batch(ranked, 4, exhaustive=False) == [("a", "b", 10)]
    # fallback is always the sequential argmax
    ranked = [("a", "b", 7), ("c", "d", 7)]
    assert _select_batch(ranked, 2, exhaustive=False) == [("a", "b", 7)]


def test_bpe_oracle_exhaustion_parity(spark):
    """When the pair supply exhausts before n_merges, Spark breaks and
    KEEPS the final vocab; the DuckDB chain must pass the vocab through
    empty-m iterations instead of zeroing it (r9 self-review finding:
    a cross join against the empty m{k} made v{k} empty and the
    fertility twin returned 0 rows)."""
    import duckdb
    import pandas as pd

    from data_pipeline_agent_spark.operators.bpe import bpe_fertility
    from data_pipeline_agent_spark.plans.queries_text import (
        _bpe_fertility_oracle,
        _bpe_oracle,
    )

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["ab ab cd", "ab cd"]})
    docs = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)

    sdf = (
        bpe_fertility(docs, n_merges=8)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    odf = con.execute(_bpe_fertility_oracle(8)).df()
    odf = odf.sort_values("doc_id").reset_index(drop=True).astype(sdf.dtypes.to_dict())
    assert len(sdf) == 2, "exhausted vocab must still score every doc"
    assert sdf.equals(odf)

    # the merges twin must also agree on the truncated rule list
    from data_pipeline_agent_spark.operators.bpe import bpe_train

    m_s = bpe_train(docs, n_merges=8).toPandas().sort_values("merge_rank")
    m_o = con.execute(_bpe_oracle(8)).df().sort_values("merge_rank")
    assert list(m_s["token"]) == list(m_o["token"]) == ["ab", "cd"]


# --- encode for unseen text (r11, r10 verdict task 2) -------------------------


def _ref_encode(word: str, rules: list[tuple[int, str, str]]) -> list[str]:
    """Pure-Python subword-nmt ENCODE reference: repeatedly apply the
    lowest-rank rule present (all occurrences, greedy left-to-right)
    until no rule applies — the min-rank loop bpe_encode_unseen's
    rank-bounded fold must reproduce."""
    syms = list(word)
    ranks = {(l, r): k for k, l, r in rules}
    while True:
        cand = [
            ranks[(syms[i], syms[i + 1])]
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not cand:
            return syms
        mr = min(cand)
        l, r = next((l, r) for k, l, r in rules if k == mr)
        out: list[str] = []
        for s in syms:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        syms = out


def _encode_case(spark, corpus: str, new_text: str, n: int):
    """Train on ``corpus``, encode ``new_text``'s unseen words, and
    return (spark rows, reference segs keyed by word)."""
    from data_pipeline_agent_spark.operators.bpe import bpe_encode_unseen

    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    new = spark.createDataFrame([(1, new_text)], "doc_id long, text string")
    rules = [
        (r["merge_rank"], r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=n).collect()
    ]
    got = {r["word"]: r for r in bpe_encode_unseen(docs, new, n_merges=n).collect()}
    seen = set(corpus.lower().split())
    want = {
        w: _ref_encode(w, rules)
        for w in set(new_text.lower().split())
        if w not in seen and w.isascii() and w.isalnum()
    }
    return got, want


def _assert_encode_matches(spark, corpus: str, new_text: str, n: int):
    got, want = _encode_case(spark, corpus, new_text, n)
    assert set(got) == set(want), f"word sets differ: {set(got)} vs {set(want)}"
    for w, segs in want.items():
        assert got[w]["seg"] == " ".join(segs), (
            f"{w!r}: spark {got[w]['seg']!r} != reference {' '.join(segs)!r}"
        )
        assert got[w]["n_subtokens"] == len(segs)


def test_bpe_encode_heldout_spellings(spark):
    # rules learned from "abab"/"cd" corpora applied to NEW spellings
    # that chain and interleave those pairs
    corpus = " ".join(["abab"] * 6 + ["cd"] * 4)
    _assert_encode_matches(spark, corpus, "abcd dcba ababab cdcd xyz a", n=4)


def test_bpe_encode_self_pair_runs(spark):
    # l==r rules on unseen overlapping runs: "aaa"/"aaaa"/"baaab" must
    # collapse every-other-pair exactly like the greedy scan, across
    # cascaded (a,a) -> (aa,aa) ranks
    corpus = " ".join(["aaaaaaaa"] * 5 + ["xy"] * 2)
    _assert_encode_matches(spark, corpus, "aaa baaaab aaaaaa yx", n=6)


def test_bpe_encode_rank_order_beats_position(spark):
    # a word where a HIGHER-rank pair appears first positionally: the
    # min-rank loop must apply the lower rank first even though it sits
    # later in the word ("zq" precedes "ab" in "zqab" but (a,b) ranks 1)
    corpus = " ".join(["ab"] * 9 + ["zq"] * 3)
    _assert_encode_matches(spark, corpus, "zqab abzq zqzqab", n=2)


def test_bpe_encode_seen_words_excluded_and_gate(spark):
    from data_pipeline_agent_spark.operators.bpe import bpe_encode_unseen

    corpus = " ".join(["abab"] * 3 + ["cd"] * 2)
    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "abab cd NEW7 foo-bar éé")], "doc_id long, text string"
    )
    got = {r["word"] for r in bpe_encode_unseen(docs, new, n_merges=3).collect()}
    # seen words anti-joined away; non-ASCII-alnum gated; NEW7 lowercases
    assert got == {"new7"}


def test_bpe_encode_randomized_vs_reference(spark):
    import random

    for seed in (11, 29):
        rnd = random.Random(seed)
        words = [
            "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 6)))
            for _ in range(20)
        ]
        corpus = " ".join(w for w in words for _ in range(rnd.randint(1, 3)))
        unseen = " ".join(
            "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 9)))
            for _ in range(12)
        )
        _assert_encode_matches(spark, corpus, unseen, n=8)


def test_bpe_encode_registry_nonvacuous(spark):
    """The registered cross-domain query must actually exercise the
    encoder: every part-name word except 'small' is out-of-vocabulary,
    and the learned rules must genuinely compress several of them."""
    from data_pipeline_agent_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    rows = REGISTRY["text_bpe_encode_unseen"].spark(spark, SF_DIR).collect()
    assert len(rows) == 15
    assert all(r["word"] != "small" for r in rows)
    compressed = [r for r in rows if r["n_subtokens"] < len(r["word"])]
    assert len(compressed) >= 5, (
        f"only {len(compressed)} part words got a merge applied — "
        "the encode would be vacuous"
    )


# --- approximate batched mode (r11, r10 verdict task 3) -----------------------


def test_select_batch_approx_skips_instead_of_stopping():
    from data_pipeline_agent_spark.operators.bpe import _select_batch

    # interacting pair (b,c) is SKIPPED, scan continues to (x,y);
    # exact mode stops at it
    ranked = [("a", "b", 10), ("b", "c", 8), ("x", "y", 7)]
    assert _select_batch(ranked, 4, exhaustive=True, exact=False) == [
        ("a", "b", 10),
        ("x", "y", 7),
    ]
    assert _select_batch(ranked, 4, exhaustive=True, exact=True) == [
        ("a", "b", 10)
    ]
    # no count-gap filter: a tie across the boundary stays accepted
    ranked = [("a", "b", 10), ("c", "d", 7), ("c", "e", 7)]
    assert _select_batch(ranked, 2, exhaustive=True, exact=False) == [
        ("a", "b", 10),
        ("c", "d", 7),
    ]
    # no self-pair closing: (a,a) does not end the batch
    ranked = [("a", "a", 10), ("x", "y", 7)]
    assert _select_batch(ranked, 4, exhaustive=True, exact=False) == ranked
    # every accepted set is still pairwise symbol-disjoint incl. tokens:
    # (a,b) mints "ab", so ("ab","c") must be skipped
    ranked = [("a", "b", 10), ("ab", "c", 9), ("d", "e", 8)]
    assert _select_batch(ranked, 4, exhaustive=True, exact=False) == [
        ("a", "b", 10),
        ("d", "e", 8),
    ]


def test_bpe_approx_learns_full_rule_count(spark):
    # the approximate mode must still learn n_merges rules (in fewer
    # rounds) and every round's batch must leave a consistent vocab —
    # checked indirectly: the rule count, distinct tokens, and that each
    # rule's lhs/rhs were available symbols when applied (token of an
    # earlier rule or a single char)
    text = " ".join(["abcd"] * 6 + ["efgh"] * 5 + ["ijkl"] * 4 + ["mnop"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    stats: dict = {}
    out = bpe_train(docs, n_merges=8, batch=8, exact=False, stats=stats).collect()
    assert len(out) == 8
    assert stats["rounds"] < 8, "approx batching must beat one-rule rounds"
    tokens_so_far: set[str] = set()
    for r in sorted(out, key=lambda r: r["merge_rank"]):
        for side in (r["lhs"], r["rhs"]):
            assert len(side) == 1 or side in tokens_so_far, (
                f"rule {r['merge_rank']} uses symbol {side!r} that no "
                "earlier rule minted"
            )
        tokens_so_far.add(r["token"])


def test_bpe_approx_contract_registry(spark):
    """The registered tolerance contract: hash-comparable rows are the
    SEQUENTIAL rules; both booleans genuinely TRUE on the test corpus."""
    from data_pipeline_agent_spark.plans import REGISTRY
    from tests.conftest import SF_DIR

    out = REGISTRY["text_bpe_merges_approx"].spark(spark, SF_DIR).collect()
    assert len(out) == 16
    assert all(r["vocab_overlap_ok"] for r in out)
    assert all(r["fertility_delta_ok"] for r in out)
    seq = bpe_train(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), n_merges=16
    ).collect()
    assert [(r["merge_rank"], r["token"]) for r in sorted(out, key=lambda r: r["merge_rank"])] == [
        (r["merge_rank"], r["token"]) for r in seq
    ]


# --- r11: tokenizer-grain record counting + packing --------------------------


def test_bpe_tokenize_records_mixed_seen_unseen(spark):
    """Seen words resolve by vocab lookup, unseen by the frozen-rule
    fold — both must equal the pure-Python encode reference (for SEEN
    words the trained segmentation equals rank-order greedy encode, the
    classic BPE train/apply equivalence), summed per record over word
    OCCURRENCES; records with no in-scope words are absent."""
    import re

    from data_pipeline_agent_spark.operators.bpe import bpe_tokenize_records

    corpus = "abab abab abab cd cd xy"
    docs = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    recs = spark.createDataFrame(
        [
            (10, "abab xaba cd"),     # seen + unseen + seen
            (11, "qq abab abab"),     # unseen + repeated seen
            (12, "!! ??"),            # nothing in scope -> absent
            (13, "ababab"),           # unseen, rules cascade
        ],
        "rid long, text string",
    )
    n = 4
    rules = [
        (r["merge_rank"], r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=n).collect()
    ]
    got = {
        r["rid"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_tokenize_records(
            docs, recs, n_merges=n, rec_id_cols=("rid",)
        ).collect()
    }
    want = {}
    for rid, text in [(10, "abab xaba cd"), (11, "qq abab abab"), (13, "ababab")]:
        words = [
            w for w in text.lower().split() if re.fullmatch("[a-z0-9]+", w)
        ]
        want[rid] = (
            len(words),
            sum(len(_ref_encode(w, rules)) for w in words),
        )
    assert got == want, f"{got} != {want}"


def test_bpe_pack_registry_nonvacuous(spark):
    """The registered pack query must genuinely pack (some brand spans
    >1 bin), exercise subword splitting (bpe tokens strictly exceed
    words — part vocabulary is mostly out-of-vocabulary for a
    documents-trained tokenizer), and keep bins contiguous in partkey
    (first_part of bin b+1 > last_part of bin b)."""
    from data_pipeline_agent_spark.plans import REGISTRY

    rows = REGISTRY["text_bpe_pack"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "empty pack output"
    by_brand: dict = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append(r)
    assert any(len(v) > 1 for v in by_brand.values()), "nothing packed"
    assert all(r["total_bpe_tokens"] > r["total_words"] for r in rows)
    for v in by_brand.values():
        v.sort(key=lambda r: r["bin"])
        for a, b in zip(v, v[1:]):
            assert b["first_part"] > a["last_part"]


def test_frozen_tokenizer_cache_identical_to_retrain(spark):
    """r12: the apply-path operators reuse a memoized frozen tokenizer
    (``session.fit_memo``). A memo hit must hand back the SAME rules/vocab
    a live retrain produces, and the applied output (fertility rows) must
    be identical either way."""
    from data_pipeline_agent_spark.operators.bpe import bpe_fertility
    from data_pipeline_agent_spark.session import _FIT_MEMO

    docs = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "abc abc xy"), (3, "ab xy xy")],
        "doc_id long, text string",
    )
    _FIT_MEMO.clear()
    cold = sorted(map(tuple, bpe_fertility(docs, n_merges=3).collect()))
    assert len(_FIT_MEMO) == 1
    warm = sorted(map(tuple, bpe_fertility(docs, n_merges=3).collect()))
    assert len(_FIT_MEMO) == 1  # second call hit the memo
    assert warm == cold
    _FIT_MEMO.clear()
    refit = sorted(map(tuple, bpe_fertility(docs, n_merges=3).collect()))
    assert refit == cold  # memoization changes nothing
    _FIT_MEMO.clear()
