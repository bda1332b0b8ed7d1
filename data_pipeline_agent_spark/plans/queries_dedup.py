"""Oracle-checked dedup queries over the documents table.

Each query pairs a Spark operator from operators/dedup.py with a DuckDB
twin generated from the SAME constants/hash arithmetic (plans/sql_text.py),
so MinHash banding and SimHash fingerprints match bit for bit.

The curation chain (MinHash-LSH pairs -> connected components -> quality
survivor -> leak-free split) is written once per stage and shared:

- oracle SQL: ``_lsh_cte`` (shingles -> signatures -> bands -> candidate
  pairs -> shared-gram counts), ``_verified_pairs`` (the Jaccard >= 0.8
  check, with or without the rounded score), ``_closure_cte`` (the
  verified pairs closed by a recursive CTE into ``cc``), ``_quality_sql``,
  ``_split_case``, ``_survivor_oracle`` (with or without the split
  column) and ``_span_trim_oracle`` (trim every copy, or keep one);
- Spark builders: ``_near_dup_pairs``, ``_near_dup_clusters`` (pairs plus
  connected components), ``_split_col`` (the Column twin of
  ``_split_case``), ``_best_quality`` (the survivor window),
  ``_anchored_survivors`` (anchor join plus survivor window) and
  ``_cluster_survivors``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions.text_hash import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    tokens,
)
from data_pipeline_agent_spark.operators import dedup as D
from data_pipeline_agent_spark.operators.graph import (
    connected_components,
    duplicate_groups,
)
from data_pipeline_agent_spark.operators.similarity import semantic_dup_pairs
from data_pipeline_agent_spark.operators.text import EN_STOPWORDS, quality_score
from data_pipeline_agent_spark.plans.registry import register, table, table_num_rows
from data_pipeline_agent_spark.plans.sql_text import (
    sql_h32,
    sql_minhash,
    sql_ngrams,
    sql_simhash32,
    sql_tokens,
)
from data_pipeline_agent_spark.session import fan_out
from data_pipeline_agent_spark.streaming.neardup import (
    MIN_SIG_AGREE,
    minhash_neardup_batch,
)

# verified near-duplicate: exact word-3gram Jaccard at or above this
_NEAR_DUP_JACCARD = 0.8

_SHINGLES_CTE = f"""
toks AS (SELECT doc_id AS id, {sql_tokens('text')} AS t FROM documents),
sh AS (
  SELECT id, {sql_ngrams('t')} AS grams, len({sql_ngrams('t')}) AS sz
  FROM toks WHERE len({sql_ngrams('t')}) > 0
),
ex AS (SELECT id, unnest(grams) AS g FROM sh)
"""


def _minhash_cte() -> str:
    cols = ", ".join(f"{sql_minhash('grams', j)} AS mh_{j}" for j in range(MINHASH_K))
    return f"sig AS (SELECT id, {cols} FROM sh)"


def _bands_sql() -> str:
    selects = []
    for b in range(LSH_BANDS):
        key = " || '_' || ".join(
            f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        selects.append(f"SELECT id, {b} AS band, {key} AS key FROM sig")
    return " UNION ALL ".join(selects)


def _lsh_cte(recursive: bool = False) -> str:
    """The MinHash-LSH candidate stage as a ``WITH`` chain, mirroring
    operators/dedup.py::minhash_near_dup_pairs: shingles (``sh``,
    ``ex``), signatures, band keys, the candidate pairs that share a band
    key, and their shared-shingle counts (``inter``). ``recursive`` opens
    the chain for the oracles that close the pairs transitively."""
    return f"""
        WITH {'RECURSIVE ' if recursive else ''}{_SHINGLES_CTE},
        {_minhash_cte()},
        bands AS ({_bands_sql()}),
        cands AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.id < b.id
        ),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cands c JOIN ex ea ON ea.id = c.id_a
                       JOIN ex eb ON eb.id = c.id_b AND eb.g = ea.g
          GROUP BY 1, 2
        )"""


def _verified_pairs(jaccard: bool) -> str:
    """The ``_lsh_cte`` candidates whose unrounded Jaccard reaches
    ``_NEAR_DUP_JACCARD`` (the ratio the Spark filter thresholds), with
    the 4-dp ``jaccard`` when asked for."""
    score = ", round(i.inter / (sa.sz + sb.sz - i.inter), 4) AS jaccard"
    return f"""
          SELECT i.id_a, i.id_b{score if jaccard else ''}
          FROM inter i JOIN sh sa ON i.id_a = sa.id
                       JOIN sh sb ON i.id_b = sb.id
          WHERE i.inter / (sa.sz + sb.sz - i.inter) >= {_NEAR_DUP_JACCARD}"""


def _closure_cte() -> str:
    """``_lsh_cte`` plus the verified pairs closed transitively by a
    recursive CTE: ``cc(node, comp)``, comp the min id reachable from
    node — the labels operators/graph.py::connected_components returns."""
    return f"""{_lsh_cte(recursive=True)},
        dups AS ({_verified_pairs(jaccard=False)}),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM dups
          UNION
          SELECT id_b, id_a FROM dups
        ),
        reach(node, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
        ),
        cc AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)"""


def _quality_sql() -> str:
    """The text_quality_score composite formula (same expression as its
    oracle-checked query) as a per-doc CTE body."""
    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    t = sql_tokens("text")
    return f"""
        SELECT doc_id AS qid,
               round(least(len({t}) / 100.0, 1.0)
                     * (1.0 - abs(len(list_filter({t},
                                x -> lower(x) IN ({stop_list})))
                            / greatest(len({t}), 1) - 0.4)
                          - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                            / greatest(length(text), 1)), 6) AS qs
        FROM documents
    """


def _split_case(col: str) -> str:
    """The deterministic md5 train/val/test split of ``col`` (~7.8% /
    7.8% / 84.4%); ``_split_col`` is its Spark twin."""
    bucket = f"substr(md5(CAST({col} AS VARCHAR)), 1, 2)"
    return f"""CASE
  WHEN {bucket} < '14' THEN 'test'
  WHEN {bucket} < '28' THEN 'val'
  ELSE 'train' END"""


def _split_col(col: str) -> Column:
    """Spark twin of ``_split_case``: the same md5 bucket thresholds."""
    bucket = F.substring(F.md5(F.col(col).cast("string")), 1, 2)
    return F.when(bucket < "14", "test").when(bucket < "28", "val").otherwise("train")


def _near_dup_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard): the verified MinHash-LSH pairs every
    curation query starts from."""
    return D.minhash_near_dup_pairs(docs, threshold=_NEAR_DUP_JACCARD)


def _near_dup_clusters(docs: DataFrame) -> DataFrame:
    """(node, comp): the verified pairs closed into clusters, comp the
    cluster's min doc id (``_closure_cte``'s twin)."""
    return connected_components(_near_dup_pairs(docs))


def _best_quality(frame: DataFrame, key: str) -> DataFrame:
    """``frame`` plus ``rk``, which is 1 for each ``key`` group's survivor:
    the highest quality_score, ties to the smallest doc_id. The window
    is keyed on clusters, so its groups are cluster-sized (no hot key)."""
    w = Window.partitionBy(key).orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return frame.withColumn("rk", F.row_number().over(w))


def _anchored_survivors(docs: DataFrame, cc: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, anchor_id, quality_score, rk) for every
    document: anchor_id is the min doc id of its cluster in ``cc``
    (node, comp), or its own id outside every cluster, and rk=1 marks
    the anchor group's quality survivor. quality_score already emits
    n_tokens, so one corpus scan yields both; the left join is against
    the post-closure label table, small at any corpus scale."""
    q = quality_score(docs).select("doc_id", "n_tokens", "quality_score")
    assign = q.join(
        cc.select(F.col("node").alias("doc_id"), "comp"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce("comp", F.col("doc_id")).cast("long").alias("anchor_id"),
        "quality_score",
    )
    return _best_quality(assign, "anchor_id")


@register(
    "dedup_exact",
    oracle="""
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY text) AS group_id,
               CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS group_size,
               doc_id = min(doc_id) OVER (PARTITION BY text) AS is_kept
        FROM documents
    """,
    description="exact dedup: hash-group on text, keep-first semantics",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(table(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard_topk",
    oracle=f"""
        WITH {_SHINGLES_CTE},
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
        FROM pairs JOIN sh sa ON id_a = sa.id JOIN sh sb ON id_b = sb.id
        ORDER BY jaccard DESC, id_a ASC, id_b ASC LIMIT 20
    """,
    description="all-pairs word-3gram Jaccard top-20 (oracle baseline for LSH)",
)
def dedup_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_topk(table(spark, sf_dir, "documents"), k=20)


@register(
    "dedup_minhash_lsh",
    oracle=f"{_lsh_cte()}{_verified_pairs(jaccard=True)}",
    description="MinHash(12)+LSH(3x4) candidates, exact-Jaccard verified >= 0.8",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_pairs(table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash",
    oracle=f"""
        WITH {_SHINGLES_CTE},
        hashes AS (SELECT id, {sql_h32('g')} AS h FROM ex),
        st AS (SELECT id, {sql_simhash32('h')} AS simhash FROM hashes GROUP BY id),
        blocks AS (
          SELECT id, simhash, b AS block, (simhash >> (8 * b)) & 255 AS key
          FROM st, unnest(generate_series(0, 3)) AS u(b)
        )
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM blocks a JOIN blocks b
          ON a.block = b.block AND a.key = b.key AND a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    description="SimHash32 near-pairs, full recall at hamming<=3 via 4x8-bit blocks",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(table(spark, sf_dir, "documents"), max_hamming=3)


@register(
    "dedup_normalized_exact",
    oracle="""
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                      '\\s+', ' ', 'g')) AS norm
          FROM documents
        )
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY norm) AS group_id,
               CAST(count(*) OVER (PARTITION BY norm) AS BIGINT) AS group_size,
               doc_id = min(doc_id) OVER (PARTITION BY norm) AS is_kept
        FROM n
    """,
    description="normalized exact dedup (casefold + punct strip + ws collapse)",
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.normalized_exact_duplicates(table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_groups",
    oracle=f"""{_closure_cte()}
        SELECT node AS doc_id, comp AS group_id,
               CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS group_size,
               node = comp AS is_kept
        FROM cc
    """,
    description="transitive duplicate clusters: MinHash-LSH verified pairs -> "
    "min-label-propagation connected components (keep-first survivor); oracle "
    "is the same pair SQL closed transitively by a recursive CTE",
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_groups(_near_dup_pairs(table(spark, sf_dir, "documents")))


def _survivor_oracle(split: bool) -> str:
    """Per near-dup cluster, the quality survivor and the member count;
    with ``split``, also the cluster's anchor-keyed split."""
    split_col = f"{_split_case('comp')} AS split," if split else ""
    return f"""{_closure_cte()},
        q AS ({_quality_sql()}),
        ranked AS (
          SELECT cc.comp, cc.node, q.qs,
                 row_number() OVER (PARTITION BY cc.comp
                                    ORDER BY q.qs DESC, cc.node ASC) AS rk,
                 count(*) OVER (PARTITION BY cc.comp) AS gsz
          FROM cc JOIN q ON q.qid = cc.node
        )
        SELECT comp AS group_id,
               {split_col}
               node AS survivor_doc_id,
               qs AS survivor_quality,
               CAST(gsz AS BIGINT) AS group_size
        FROM ranked WHERE rk = 1
    """


def _cluster_survivors(spark: SparkSession, sf_dir: str, split: bool) -> DataFrame:
    """Spark twin of ``_survivor_oracle``: three oracle-checked stages
    (LSH pairs -> connected components -> quality scores) plus one
    window over one row per cluster member, tiny relative to the corpus
    and partitioned by cluster — no global sort. The split is a function
    of the cluster id (its min-id anchor), never of the surviving doc,
    so the kept document lands in the split of every member it replaced."""
    docs = table(spark, sf_dir, "documents")
    groups = duplicate_groups(_near_dup_pairs(docs))
    q = quality_score(docs).select("doc_id", "quality_score")
    split_col = [_split_col("group_id").alias("split")] if split else []
    return (
        _best_quality(groups.join(q, "doc_id"), "group_id")
        .where(F.col("rk") == 1)
        .select(
            "group_id",
            *split_col,
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("quality_score").alias("survivor_quality"),
            "group_size",
        )
    )


@register(
    "dedup_survivor_best_quality",
    oracle=_survivor_oracle(split=False),
    description="quality-aware dedup survivorship: per duplicate cluster, "
    "keep the member with the highest quality score (tie: smallest id) — "
    "the policy real training pipelines use instead of keep-first",
)
def dedup_survivor_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_survivors(spark, sf_dir, split=False)


def _occ_cte(n: int) -> str:
    """Positional n-gram occurrences (doc_id, pos, gram) — the shared
    first stage of every span-family oracle, mirroring
    operators/dedup.py::_gram_occurrences on the package tokenization
    convention."""
    return f"""
toks AS (SELECT doc_id, {sql_tokens('text')} AS tk FROM documents),
pos_t AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - {n - 1}, 0))) AS pos
  FROM toks
),
occ AS (
  SELECT doc_id, pos, array_to_string(tk[pos:pos+{n - 1}], ' ') AS gram
  FROM pos_t
)"""


def _dup_anchors(keep_one: bool) -> str:
    """(doc_id, pos) of every ``occ`` n-gram occurring at least twice in
    the corpus (within- or cross-doc); with ``keep_one``, minus the
    occurrences in the gram's min-doc_id keeper."""
    keeper = ", min(doc_id) OVER (PARTITION BY gram) AS keeper" if keep_one else ""
    return f"""
          SELECT doc_id, pos
          FROM (SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY gram) AS cnt{keeper}
                FROM occ)
          WHERE cnt >= 2{' AND doc_id <> keeper' if keep_one else ''}"""


def _span_cte(n: int) -> str:
    """The span-dedup pipeline as a CTE chain (shared by both span
    queries): positional n-gram anchors -> corpus-duplicated anchors
    (total occurrences >= 2, within- or cross-doc) -> per-doc
    gaps-and-islands merge into maximal spans. Mirrors
    operators/dedup.py::duplicated_spans step for step on the package
    tokenization convention."""
    return f"""{_occ_cte(n)},
marked AS ({_dup_anchors(keep_one=False)}
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > {n}
              THEN 1 ELSE 0 END AS brk
  FROM marked
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM isl
),
spans AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + {n - 1} AS BIGINT) AS span_end,
         CAST(max(pos) + {n - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
         CAST(count(*) AS BIGINT) AS n_grams
  FROM isl2 GROUP BY doc_id, grp
)
"""


@register(
    "dedup_duplicated_spans",
    oracle=f"""
        WITH {_span_cte(D.SPAN_GRAM_N)}
        SELECT doc_id, span_start, span_end, span_tokens, n_grams
        FROM spans
    """,
    description="substring-level (span) dedup, Lee et al. 2022 method: "
    "maximal duplicated regions >= 8 tokens per document via positional "
    "8-gram anchors (corpus occurrence >= 2) + per-doc gaps-and-islands "
    "merge — one corpus scan, one gram-keyed count window (O(group) per "
    "anchor, no pair emission), one per-doc window; the dedup modality "
    "that catches boilerplate repeated INSIDE otherwise-unique documents",
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.duplicated_spans(table(spark, sf_dir, "documents"))


@register(
    "dedup_span_share",
    oracle=f"""
        WITH {_span_cte(D.SPAN_GRAM_N)},
        doc_tok AS (
          SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
          FROM documents
        ),
        per_doc AS (
          SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
          FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id, d.n_tokens,
               CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               round(coalesce(p.dup_tokens, 0) / d.n_tokens, 6) AS dup_share,
               coalesce(p.dup_tokens, 0) >= 0.5 * d.n_tokens AS mostly_dup
        FROM doc_tok d LEFT JOIN per_doc p USING (doc_id)
    """,
    description="per-document duplicated-token share from the span-dedup "
    "pass (spans are maximal and non-overlapping, so the sum is a true "
    "coverage count): the doc-level removal/trimming signal Lee et al. "
    "derive from span dedup — docs with zero spans kept via left join",
)
def dedup_span_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    spans = D.duplicated_spans(docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("long").alias("dup_tokens")
    )
    doc_tok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return doc_tok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_share"),
        (
            F.coalesce("dup_tokens", F.lit(0)) >= F.lit(0.5) * F.col("n_tokens")
        ).alias("mostly_dup"),
    )


@register(
    "dedup_span_partners",
    oracle=f"""
        WITH {_occ_cte(D.SPAN_GRAM_N)},
        gd AS (
          SELECT gram, doc_id, count(*) AS occ_in_doc
          FROM occ GROUP BY gram, doc_id
        ),
        gstat AS (
          SELECT gram, doc_id,
                 sum(occ_in_doc) OVER (PARTITION BY gram) AS total_occ,
                 row_number() OVER (PARTITION BY gram
                      ORDER BY doc_id) AS drk
          FROM gd
        ),
        dup AS (SELECT gram, doc_id, drk FROM gstat WHERE total_occ >= 2),
        ex AS (
          SELECT gram, doc_id AS partner_id FROM dup
          WHERE drk <= {D.SPAN_PARTNER_EXEMPLARS}
        ),
        pairs AS (
          SELECT d.doc_id, e.partner_id, count(*) AS shared_grams
          FROM dup d JOIN ex e USING (gram)
          WHERE e.partner_id != d.doc_id
          GROUP BY d.doc_id, e.partner_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(partner_id AS BIGINT) AS partner_id,
               CAST(shared_grams AS BIGINT) AS shared_grams,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY shared_grams DESC, partner_id ASC) AS BIGINT) AS rk
        FROM pairs
        QUALIFY rk <= {D.SPAN_PARTNER_TOPK}
    """,
    description="span->partner attribution (r9, VERDICT r8 task 2): for "
    "each document, the top-3 partner documents sharing its duplicated "
    "8-gram anchors with shared-gram counts — the WHO behind "
    "dedup_duplicated_spans' WHERE, i.e. the Lee et al. keep-one-copy "
    "decision's attribution map. Group-bounded: each duplicated gram "
    "joins only its 3 lowest-doc_id exemplars (the keep-first canon), so "
    "a hot boilerplate gram in d docs emits <= 3d rows, never d^2",
)
def dedup_span_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_partners(table(spark, sf_dir, "documents"))


def _span_trim_oracle(keep_one: bool) -> str:
    """Each document's text with its ``_dup_anchors`` coverage removed:
    token coverage comes from a per-doc running max over the anchor
    positions, the twin of operators/dedup.py::span_trimmed_text."""
    return f"""
        WITH {_occ_cte(D.SPAN_GRAM_N)},
        anchors AS ({_dup_anchors(keep_one)}
        ),
        tok AS (
          SELECT doc_id, pos, tk[pos] AS tok
          FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk))) AS pos
                FROM toks)
        ),
        fl AS (
          SELECT t.doc_id, t.pos, t.tok, a.pos AS apos
          FROM tok t LEFT JOIN anchors a
            ON a.doc_id = t.doc_id AND a.pos = t.pos
        ),
        cov AS (
          SELECT doc_id, pos, tok,
                 max(apos) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS last_a
          FROM fl
        ),
        k AS (SELECT doc_id, pos, tok,
                     (last_a IS NOT NULL
                      AND last_a >= pos - {D.SPAN_GRAM_N - 1}) AS covd
              FROM cov)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN covd THEN 0 ELSE 1 END) AS BIGINT)
                 AS kept_tokens,
               coalesce(string_agg(CASE WHEN covd THEN NULL ELSE tok END,
                        ' ' ORDER BY pos), '') AS trimmed_text
        FROM k GROUP BY doc_id
    """


@register(
    "dedup_span_trim",
    oracle=_span_trim_oracle(keep_one=False),
    description="the span-dedup decision APPLIED (r9): each document's "
    "text with every duplicated region removed (token coverage from a "
    "per-doc running max over unioned anchor rows — no range join, no "
    "equi-join), plus token counts; the cleaned-corpus emitter completing "
    "the Lee et al. span family (find -> attribute -> trim); per doc "
    "kept_tokens == n_tokens - dedup_span_share.dup_tokens by "
    "construction, and the trimmed text is hash-compared byte-for-byte",
)
def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_trimmed_text(table(spark, sf_dir, "documents"))


@register(
    "dedup_span_trim_keep_one",
    oracle=_span_trim_oracle(keep_one=True),
    description="KEEP-ONE-COPY span dedup (r10, r9 verdict task 2) — the "
    "actual Lee et al. 2022 removal semantics: each duplicated 8-gram's "
    "min-id keeper (the rank-1 exemplar span_partners elects) RETAINS its "
    "text and only the trailing copies trim; keeper election is a min "
    "over the SAME gram-keyed window exchange as the occurrence count, so "
    "the plan still has zero Join nodes; trimmed text hash-compared "
    "byte-for-byte",
)
def dedup_span_trim_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_trimmed_text(table(spark, sf_dir, "documents"), keep_one=True)


@register(
    "dedup_blocks_global",
    oracle=f"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter({sql_tokens('text')}, x -> len(x) > 0) AS w
          FROM documents
        ),
        ln AS (
          SELECT doc_id, u.i AS pos,
                 array_to_string(
                   w[(u.i - 1) * {D.BLOCK_WIDTH} + 1 : u.i * {D.BLOCK_WIDTH}],
                   ' ') AS line,
                 len(w[(u.i - 1) * {D.BLOCK_WIDTH} + 1 : u.i * {D.BLOCK_WIDTH}])
                   >= {D.LINE_MIN_TOKENS} AS part
          FROM tk, unnest(generate_series(1,
                 CAST(ceil(len(w) / {D.BLOCK_WIDTH}.0) AS INT))) AS u(i)
        ),
        fst AS (
          SELECT line, min(struct_pack(d := doc_id, p := pos)) AS first
          FROM ln WHERE part GROUP BY line
        ),
        mk AS (
          SELECT n.doc_id, n.pos, n.line,
                 (NOT n.part)
                 OR (f.first.d = n.doc_id AND f.first.p = n.pos) AS kept
          FROM ln n LEFT JOIN fst f ON n.line = f.line
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_removed,
               coalesce(array_to_string(list(line ORDER BY pos)
                        FILTER (kept), ' '), '') AS clean_text
        FROM mk GROUP BY doc_id
    """,
    description="C4/CCNet-style corpus-level unit dedup over aligned 8-token "
    "blocks: a >=5-token block keeps only its first (doc_id, pos) occurrence "
    "anywhere in the corpus; docs re-emitted with surviving blocks rejoined "
    "(map-side-combinable first-occurrence agg + unit-key equi-join, never "
    "a window over a hot boilerplate key). Line-unit sibling dedup_lines "
    "shares the engine (unit-tested; this corpus has no newlines)",
)
def dedup_blocks_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_blocks(table(spark, sf_dir, "documents"))


@register(
    "corpus_split_leakage",
    oracle=f"""{_lsh_cte()},
        prs AS ({_verified_pairs(jaccard=True)}),
        spl AS (SELECT doc_id AS id, {_split_case('doc_id')} AS split FROM documents)
        SELECT least(sa.split, sb.split) AS split_lo,
               greatest(sa.split, sb.split) AS split_hi,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(sum(jaccard), 6) AS sum_jaccard,
               least(sa.split, sb.split) <> greatest(sa.split, sb.split)
                 AS leaked
        FROM prs JOIN spl sa ON prs.id_a = sa.id
                 JOIN spl sb ON prs.id_b = sb.id
        GROUP BY 1, 2
    """,
    description="train/val/test leakage guard: MinHash near-dup pairs "
    "(>= 0.8 verified Jaccard) whose members land in DIFFERENT splits of "
    "a deterministic md5 hash split (~7.8%/7.8%/84.4%) — the cross-split "
    "contamination a benchmark-only check misses; grouped per split pair "
    "with the leaked flag",
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split assignment is the same hash-threshold pattern as
    sample_stratified_deterministic (repartition-stable, engine-stable —
    a seeded RNG split would leak differently on every layout). The
    near-dup pair table is the already-verified LSH operator's output;
    leakage adds two node-scale label joins and a 6-row aggregate, so
    the guard costs nothing beyond the dedup pass a pipeline already
    runs. The split CASE stays a scan-stage expression: no shuffle is
    keyed on the split (bounded domain — the salted-agg hazard)."""
    docs = table(spark, sf_dir, "documents")
    pairs = _near_dup_pairs(docs)
    spl = docs.select(F.col("doc_id").alias("id"), _split_col("doc_id").alias("split"))
    j = (
        pairs.join(
            spl.select(F.col("id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            spl.select(F.col("id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
    )
    lo, hi = F.least("sa", "sb"), F.greatest("sa", "sb")
    return (
        j.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.sum("jaccard"), 6).alias("sum_jaccard"),
        )
        .withColumn("leaked", F.col("split_lo") != F.col("split_hi"))
    )


@register(
    "corpus_split_assign_leakfree",
    oracle=f"""{_closure_cte()},
        assign AS (
          SELECT d.doc_id,
                 coalesce(c.comp, d.doc_id) AS anchor_id
          FROM documents d LEFT JOIN cc c ON c.node = d.doc_id
        )
        SELECT doc_id, CAST(anchor_id AS BIGINT) AS anchor_id,
               {_split_case('anchor_id')} AS split,
               anchor_id <> doc_id AS moved_with_cluster
        FROM assign
    """,
    description="leakage-FREE split assignment: every near-dup cluster "
    "(transitive closure of >=0.8 MinHash pairs) is split by its ANCHOR "
    "(min doc id), so no verified near-duplicates can ever straddle "
    "train/val/test — the repair for what corpus_split_leakage detects",
)
def corpus_split_assign_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect -> repair: cluster membership comes from the same
    oracle-checked CC operator as dedup_minhash_groups; the split hash
    is then taken on the cluster ANCHOR instead of the doc itself, so
    cluster members inherit one split deterministically. Singleton docs
    (no near-dup) anchor themselves — the assignment is identical to
    corpus_split_leakage's split for them. One left join of the corpus
    against the (tiny) clustered-node table; the split CASE stays a
    scan-stage expression."""
    docs = table(spark, sf_dir, "documents")
    cc = _near_dup_clusters(docs)
    assign = docs.join(
        cc.select(F.col("node").alias("doc_id"), "comp"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).cast("long").alias("anchor_id"),
    )
    return assign.select(
        "doc_id",
        "anchor_id",
        _split_col("anchor_id").alias("split"),
        (F.col("anchor_id") != F.col("doc_id")).alias("moved_with_cluster"),
    )


@register(
    "corpus_split_budget",
    oracle=f"""{_closure_cte()},
        q AS ({_quality_sql()}),
        assign AS (
          SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS anchor_id,
                 CAST(len({sql_tokens('d.text')}) AS BIGINT) AS n_tokens
          FROM documents d LEFT JOIN cc c ON c.node = d.doc_id
        ),
        ranked AS (
          SELECT a.doc_id, a.anchor_id, a.n_tokens, q.qs,
                 row_number() OVER (PARTITION BY a.anchor_id
                                    ORDER BY q.qs DESC, a.doc_id ASC) AS rk
          FROM assign a JOIN q ON q.qid = a.doc_id
        )
        SELECT {_split_case('anchor_id')} AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(sum(CASE WHEN rk = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               round(sum(CASE WHEN rk = 1 THEN qs ELSE 0 END), 6)
                 AS kept_quality_sum
        FROM ranked
        GROUP BY 1
    """,
    description="per-split corpus BUDGET after the full curation chain "
    "(r10): near-dup clusters -> quality survivor per cluster "
    "(singletons survive themselves) -> leak-free anchor-keyed split -> "
    "per-split doc counts, kept-doc counts, kept token totals and kept "
    "quality mass — the three numbers (train/val/test size in docs and "
    "tokens) a pipeline needs before training starts, computed in one "
    "pass over the already-verified stages",
)
def corpus_split_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grain composition: one left join of the corpus against the
    (tiny) clustered-node table, one quality projection, one window
    keyed on the anchor (cluster-sized groups — no hot key), one 3-row
    aggregate keyed on the bounded split domain. The survivor rule and
    split rule are the verified corpus_split_survivor semantics; this
    rolls them up to the budget numbers."""
    docs = table(spark, sf_dir, "documents")
    ranked = _anchored_survivors(docs, _near_dup_clusters(docs))
    kept = F.col("rk") == 1
    return (
        ranked.groupBy(_split_col("anchor_id").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.round(
                F.sum(F.when(kept, F.col("quality_score")).otherwise(0.0)), 6
            ).alias("kept_quality_sum"),
        )
    )


def dual_grain_split_assign(
    docs: DataFrame, emb: DataFrame, n_clusters: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The dual-grain assignment itself (shared by the registry query
    and tests/test_split_leakage.py's constructed-instance invariant):
    lexical MinHash pairs ∪ SemDeDup semantic pairs -> one transitive
    clustering -> (doc_id, n_tokens, anchor_id, quality_score, rk,
    split) with rk=1 the per-cluster quality survivor and split the
    anchor-keyed md5 split. Returns (ranked, lex_pairs, sem_pairs);
    the pair frames are checkpointed (post-threshold grains) because
    they feed both the closure and the cohesion contracts."""
    # LAZY checkpoints (r12, guide §1.2): connected_components' own
    # width-sizing count() over the union is the materializing action —
    # it computes straight through both lazy checkpoints, caching them
    # for the cohesion contracts, so the two dedicated eager-checkpoint
    # jobs the old code ran are pure savings (truncation semantics
    # identical; nothing unpersists the pair frames before the contracts
    # consume them).
    lex = _near_dup_pairs(docs).select("id_a", "id_b").localCheckpoint(eager=False)
    sem = (
        semantic_dup_pairs(emb, n_clusters=n_clusters, threshold=0.4)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cc = connected_components(lex.unionByName(sem), src="id_a", dst="id_b")
    ranked = (
        _anchored_survivors(docs, cc)
        .withColumn("split", _split_col("anchor_id"))
        # corpus-grain checkpoint: the frame feeds five contract
        # consumers (same convention as source_token_stats)
        .localCheckpoint(eager=True)
    )
    return ranked, lex, sem


@register(
    "corpus_split_budget_dual",
    materializes_on_build=True,
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               TRUE AS assignment_unique_ok,
               TRUE AS lexical_cohesion_ok,
               TRUE AS semantic_cohesion_ok,
               TRUE AS one_survivor_per_cluster_ok,
               TRUE AS survivor_split_matches_members_ok,
               TRUE AS budget_conserved_ok
        FROM documents
    """,
    description="DUAL-GRAIN curation composition (r11, r10 verdict task "
    "4): real curation dedups at BOTH grains — MinHash >=0.8 lexical "
    "pairs AND SemDeDup embedding-cluster pairs (threshold 0.4, cells "
    "~n/750) union into ONE transitive clustering, then the verified "
    "chain runs once over it: quality survivor per joint cluster, "
    "anchor-keyed md5 split, per-split docs/kept/token budget. Cluster "
    "composition is KMeans-cell-dependent, so the oracle is the "
    "dedup_semantic_clusters-style CONTRACT: corpus count plus in-row "
    "booleans — unique assignment, BOTH edge grains never straddle a "
    "split, exactly one survivor per cluster, the survivor shares its "
    "members' split, and the per-split budget conserves doc/token "
    "totals; any violation turns the driver hash red",
)
def corpus_split_budget_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The invariant a single-grain pipeline breaks: a doc lexically
    tied to one near-dup set and semantically tied to another must land
    in EXACTLY one split with both sets (the union closure merges the
    two clusters; tests/test_split_leakage.py pins a constructed
    instance). The embeddings table's vec_id shares the documents
    table's id domain (vec_id ⊆ doc_id, TESTDATA convention), so
    semantic pairs map to doc pairs by identity; docs without a vector
    simply contribute no semantic edges.

    Scale shape: both pair generators are the already-verified bucketed
    operators (LSH bands / KMeans cells — never all-pairs); the union
    adds one node-scale CC pass; survivor election is one window keyed
    on cluster anchors; every contract boolean is an aggregate or one
    anti-join on post-closure (tiny) grains. The budget frame itself is
    3 rows."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    n_clusters = max(16, table_num_rows(sf_dir, "embeddings") // 750)
    ranked, lex, sem = dual_grain_split_assign(docs, emb, n_clusters)
    ok_unique = ranked.agg(
        (F.count(F.lit(1)) == F.count_distinct("doc_id")).alias(
            "assignment_unique_ok"
        )
    )

    def cohesion(pairs: DataFrame, name: str) -> DataFrame:
        # LEFT joins (r11 advice): an edge endpoint with no documents
        # row violates the vec_id ⊆ doc_id convention and must fail the
        # contract loudly, not silently drop out of an inner join.
        spl = ranked.select("doc_id", "split")
        j = (
            pairs.join(
                spl.select(
                    F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
                ),
                "id_a",
                "left",
            )
            .join(
                spl.select(
                    F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
                ),
                "id_b",
                "left",
            )
        )
        covered = F.col("sa").isNotNull() & F.col("sb").isNotNull()
        return j.agg(
            F.coalesce(
                F.every(covered & (F.col("sa") == F.col("sb"))), F.lit(True)
            ).alias(name)
        )

    ok_lex = cohesion(lex, "lexical_cohesion_ok")
    ok_sem = cohesion(sem, "semantic_cohesion_ok")
    per_cluster = ranked.groupBy("anchor_id").agg(
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).alias("__k"),
        F.count_distinct("split").alias("__ns"),
    )
    ok_surv = per_cluster.agg(
        F.coalesce(F.every(F.col("__k") == 1), F.lit(True)).alias(
            "one_survivor_per_cluster_ok"
        ),
        F.coalesce(F.every(F.col("__ns") == 1), F.lit(True)).alias(
            "survivor_split_matches_members_ok"
        ),
    )
    budget = ranked.groupBy("split").agg(
        F.count(F.lit(1)).alias("__docs"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).alias("__kept"),
        F.sum("n_tokens").alias("__tok"),
        F.sum(F.when(F.col("rk") == 1, F.col("n_tokens")).otherwise(0)).alias(
            "__ktok"
        ),
    )
    # ONE corpus scan serves both the output n_docs and the conservation
    # totals (r13, guide §1.2): the old shape ran a count-only docs scan
    # for n_docs AND a count+sum-of-tokens scan for the budget check —
    # the same source aggregate, split across two jobs, one of them
    # re-tokenizing the corpus. The totals stay genuinely computed from
    # the SOURCE table (never from ranked — deriving them from the frame
    # being checked would make conservation tautological); n_docs rides
    # the same 1-row frame through the budget check's cross join.
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("__t"),
    )
    ok_budget = (
        budget.agg(
            F.sum("__docs").alias("__sd"),
            F.sum("__tok").alias("__st"),
            F.coalesce(
                F.every(
                    (F.col("__kept") >= 1)
                    & (F.col("__kept") <= F.col("__docs"))
                    & (F.col("__ktok") <= F.col("__tok"))
                ),
                F.lit(True),
            ).alias("__rows_ok"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "n_docs",
            (
                (F.col("__sd") == F.col("n_docs"))
                & (F.col("__st") == F.col("__t"))
                & F.col("__rows_ok")
            ).alias("budget_conserved_ok"),
        )
    )
    return (
        ok_budget.crossJoin(F.broadcast(ok_unique))
        .crossJoin(F.broadcast(ok_lex))
        .crossJoin(F.broadcast(ok_sem))
        .crossJoin(F.broadcast(ok_surv))
        .select(
            "n_docs",
            "assignment_unique_ok",
            "lexical_cohesion_ok",
            "semantic_cohesion_ok",
            "one_survivor_per_cluster_ok",
            "survivor_split_matches_members_ok",
            "budget_conserved_ok",
        )
    )


@register(
    "corpus_split_survivor",
    oracle=_survivor_oracle(split=True),
    description="leak-free split x quality survivorship COMPOSED (r10, r9 "
    "verdict task 5): per duplicate cluster, the anchor-keyed split "
    "assignment (corpus_split_assign_leakfree's rule — the cluster's min "
    "id hashes, so members can never straddle splits) together with the "
    "quality-elected survivor (dedup_survivor_best_quality's rule) and "
    "member count — the one-pass answer a real pipeline needs: which doc "
    "to keep AND which split its whole cluster lands in; the anchor-split "
    "rule cannot fight the survivor rule because the split is a function "
    "of the cluster id, never of the surviving doc",
)
def corpus_split_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survivor row carries the split of its CLUSTER (md5 of
    group_id == the cluster's min-id anchor) — the invariant
    tests/test_split_leakage.py pins against corpus_split_assign_leakfree."""
    return _cluster_survivors(spark, sf_dir, split=True)


def _neardup_arrivals_oracle(min_agree: int) -> str:
    agree = " + ".join(
        f"(CASE WHEN a.mh_{j} = c.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(MINHASH_K)
    )
    return f"""
        WITH {_SHINGLES_CTE},
        {_minhash_cte()},
        bands AS ({_bands_sql()}),
        bex AS (
          SELECT band, key, min(id) AS exemplar_id
          FROM bands GROUP BY 1, 2
        ),
        pr AS (
          SELECT b.id AS doc_id, e.exemplar_id, b.band
          FROM bands b
          JOIN bex e ON b.band = e.band AND b.key = e.key
                    AND b.id != e.exemplar_id
        ),
        ag AS (
          SELECT p.doc_id, p.exemplar_id, p.band, ({agree}) AS agree
          FROM pr p
          JOIN sig a ON a.id = p.doc_id
          JOIN sig c ON c.id = p.exemplar_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(exemplar_id AS BIGINT) AS exemplar_id,
               CAST(band AS BIGINT) AS band,
               CAST(agree AS BIGINT) AS n_sig_agree,
               round(agree / {MINHASH_K}.0, 6) AS est_jaccard
        FROM ag WHERE agree >= {min_agree}
    """


@register(
    "dedup_neardup_arrivals",
    oracle=_neardup_arrivals_oracle(MIN_SIG_AGREE),
    description="streaming near-dup, batch twin (r11): per LSH (band, "
    "key) bucket the first ARRIVAL (= min doc_id under the synthesized "
    "arrival order) is the exemplar every later arrival is verified "
    f"against — signature agreement >= {MIN_SIG_AGREE}/12 components "
    "(the shared band implies 4) emits the pair with the standard "
    "agree/k Jaccard estimate; the streaming operator "
    "(streaming/neardup.py, applyInPandasWithState with one exemplar "
    "per occupied bucket and event-time eviction) is pinned "
    "row-for-row against this frame in tests",
)
def dedup_neardup_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the r11 STREAMING MinHash near-dup: arrival order =
    doc_id (ts column synthesized from the id), so the per-bucket
    first-arrival exemplar the stream keeps in state is exactly
    min(doc_id) here; tests/test_streaming.py pins the streaming
    operator row-for-row against this frame on a two-micro-batch
    replay."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.timestamp_seconds(F.col("doc_id")).alias("ts")
    )
    return minhash_neardup_batch(fan_out(docs))
