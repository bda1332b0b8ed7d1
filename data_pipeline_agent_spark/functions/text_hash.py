"""Deterministic text hashing / shingling column helpers.

Used by the dedup operators. Everything here is chosen to be computable
IDENTICALLY in Spark (column expressions, JVM-side) and in
DuckDB SQL (see plans/sql_text.py), so the MinHash/SimHash pipelines are
oracle-checkable end to end: h32 = first 8 hex chars of md5 parsed as an
integer, then salted affine maps modulo a Mersenne prime.

MLlib's MinHashLSH would be the stock choice but draws random coefficients
at fit time; fixed salts keep the whole pipeline reproducible across
engines and runs, which is what a production dedup pipeline wants anyway
(re-runs must bucket identically).

The array helpers are higher-order functions (``transform``,
``aggregate``), which Spark does NOT code-generate: ``ArrayTransform``,
``ZipWith`` and ``ArrayAggregate`` implement ``CodegenFallback`` (checked
with ``javap`` on ``spark-catalyst_2.13-4.1.2.jar``), so each element is
evaluated through the interpreted lambda body. Anything fixed per row
must therefore be bound outside the lambda, never written inside it —
see ``word_ngrams``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions import bind

# Mersenne prime 2^31-1; affine salt tables (deterministic, engine-agnostic)
MINHASH_PRIME = 2147483647
MINHASH_K = 12  # signature length
LSH_BANDS = 3  # 3 bands x 4 rows: P(candidate) ~ 1-(1-j^4)^3
LSH_ROWS = 4
MINHASH_A = [1000003 * (j + 1) + 12345 for j in range(MINHASH_K)]
MINHASH_B = [7919 * (j + 1) + 104729 for j in range(MINHASH_K)]

NGRAM_N = 3  # word-shingle width
SIMHASH_BITS = 32


def tokens(c: Column) -> Column:
    """Whitespace tokenization (matches DuckDB string_split_regex '\\s+')."""
    return F.split(F.trim(c), r"\s+")


def word_ngrams(toks: Column, n: int = NGRAM_N) -> Column:
    """Distinct word n-gram shingles; empty array when fewer than n tokens.

    ``toks`` is bound ONCE per row (``bind``), so the gram lambda reads a
    lambda variable instead of a copy of the caller's expression. Without
    the binding, a caller passing ``tokens(...)`` inline embeds a copy of
    the regex split per ``element_at`` inside the gram lambda, which Spark
    re-runs for every gram (O(tokens^2) per document): lambda bodies are
    interpreted element by element and subexpression elimination does not
    reach inside them."""

    def body(t: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + off) for off in range(n)]
            ),
        )
        return F.array_distinct(
            F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))
        )

    return bind(toks, body)


def h32(c: Column) -> Column:
    """32-bit hash: int(md5(x)[0:8], 16). Same definition in the oracle."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def h32_array(grams: Column) -> Column:
    """Hash every shingle ONCE: the md5 is by far the dominant cost, so
    minhash/simhash work over this precomputed array instead of re-hashing
    per minhash function (12x) or per simhash bit (32x)."""
    return F.transform(grams, h32)


def minhash_from_hashes(hashes: Column, j: int) -> Column:
    """j-th minhash: min over precomputed shingle hashes of (a_j*h+b_j) mod P."""
    return F.array_min(
        F.transform(
            hashes,
            lambda h: (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_PRIME),
        )
    )


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash over precomputed shingle hashes: bit k is 1 iff more
    hashes have bit k set than unset."""
    votes = [
        F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        for k in range(SIMHASH_BITS)
    ]
    out = F.lit(0).cast("long")
    for k, v in enumerate(votes):
        out = out + F.when(v > 0, F.lit(1 << k)).otherwise(F.lit(0)).cast("long")
    return out
