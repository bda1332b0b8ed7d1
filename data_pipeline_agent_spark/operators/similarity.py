"""Vector similarity search over an embedding column (array<float>).

- Exact: ``brute_force_topk`` (anchor broadcast join, per-anchor top-k
  window), the ground truth every approximate path is gated against.
- Sign-LSH buckets: ``lsh_bucketed_topk`` for anchors,
  ``embedding_near_dup_pairs`` for within-bucket pairs, and
  ``knn_graph``, the all-points graph scored per bucket in a numpy
  kernel (rotations, multi-probe, tiles).
- IVF: ``ivf_assign`` (KMeans cells), ``ivf_topk``, and
  ``semantic_dup_pairs`` (SemDeDup within cells).
- Quantized: ``quantized_topk`` (int8), ``pq_fit``/``pq_topk`` (product
  codes, ADC tables) and ``ivfpq_topk`` (residual codes in IVF cells,
  optional exact re-rank).

Per-pair math is a ``zip_with``/``aggregate`` fold over double arrays,
interpreted, not code-generated (``ZipWith`` and ``ArrayAggregate``
implement ``CodegenFallback``), so vectors are cast and row norms
computed once per row and carried into the pair stage. Fits (KMeans
cells, PQ codebooks) are memoized per input plan (``session.fit_memo``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.functions import bind
from data_pipeline_agent_spark.session import fan_out, fit_memo, local_frame

SIGN_BITS = 8  # bucket key = sign pattern of the first 8 dims -> 256 buckets


def _render_doubles(value) -> str:
    """SQL text for a (nested) array-of-double literal — see lit_doubles."""
    if isinstance(value, (list, tuple)):
        return "array(" + ",".join(_render_doubles(x) for x in value) + ")"
    x = float(value)
    if x != x or x in (float("inf"), float("-inf")):
        return f"CAST('{x}' AS DOUBLE)"
    return repr(x) + "D"


def lit_doubles(value) -> Column:
    """Nested array-of-double literal built as ONE parsed SQL expression.

    ``F.lit`` on a Python (nested) list crosses py4j once PER ELEMENT:
    the 80 ADC tables of ``ivfpq_topk`` at the registry dials (16x16
    doubles each, ~20k elements) measured **11.6 s of pure driver-side
    plan construction** — 3/4 of the whole query's wall clock (guide §5:
    the driver should do almost no data work). Rendering the same values
    as a SQL ``array(...)`` string and parsing it JVM-side is one py4j
    round-trip (measured 0.04 s for the same 80 tables). ``repr`` is
    Python's shortest-roundtrip rendering and ``Double.parseDouble``
    reconstructs the identical IEEE-754 value, so the resulting literal
    is bit-for-bit the one ``F.lit`` would have built (verified incl.
    subnormals and scientific notation)."""
    return F.expr(_render_doubles(value))


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double-accumulated dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL similarity instead of
    # failing the whole job under Spark 4's default ANSI mode
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def row_norm(v: Column) -> Column:
    """``sqrt(dot(v, v))`` as a per-ROW column (r8). ``cosine()`` spends
    2 of its 3 dot products recomputing the two operands' norms for EVERY
    candidate pair — at the kNN graph's sum-of-squared-bucket-sizes pair
    count that tripled the dominant stage's FLOPs (measured 38+ min on
    the 200k-vector sf10 tile before the factoring). Computing each row's
    norm once in the projection and carrying it through the join is
    BIT-IDENTICAL to the fused form (same expression over the same input;
    the pair stage then multiplies the two carried doubles exactly as
    ``cosine`` would), so every oracle hash is unchanged."""
    return F.sqrt(dot(v, v))


def cosine_pre(dot_ab: Column, na: Column, nb: Column) -> Column:
    """cosine from a pair dot product and the two carried row norms —
    the factored twin of ``cosine()`` (identical arithmetic/order)."""
    return F.try_divide(dot_ab, na * nb)


def _pair_cos(dot_ab: Column, na: Column | str, nb: Column | str) -> Column:
    """The score a ranked pair carries: ``cosine_pre`` rounded to 6
    places. Norms are columns or column names."""
    na, nb = (F.col(c) if isinstance(c, str) else c for c in (na, nb))
    return F.round(cosine_pre(dot_ab, na, nb), 6)


def _rank_topk(scored: DataFrame, score: str, k: int, descending: bool = True) -> DataFrame:
    """The first ``k`` (query_id, neighbor_id, score, rk) rows per query,
    ranked on ``score`` (highest first, or lowest when not
    ``descending``), ties to the lower neighbor_id."""
    order = F.desc(score) if descending else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", score, F.col("rk").cast("long").alias("rk"))
    )


def sign_bucket(v: Column, bits: int = SIGN_BITS, offset: int = 0) -> Column:
    """Deterministic LSH bucket: bit i set iff v[offset+i+1] > 0.

    ``offset`` selects a disjoint block of dimensions as the hyperplane
    set — rotation r of a multi-probe scheme uses offset r*bits, so
    callers must keep offset+bits <= dim. try_element_at past the array
    end is NULL (silently zeroing the high bits — and DuckDB's list
    indexing mirrors the NULL, keeping a twin hash green while recall
    and cost degrade); plain element_at under Spark 4's ANSI mode throws
    an uninformative index error instead. knn_graph therefore embeds an
    in-plan assert_true on the dim so an out-of-range block fails loud
    WITH the actionable message (ADVICE r8)."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            F.try_element_at(v, F.lit(offset + i + 1)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return out


def brute_force_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each anchor row. anchors must be small
    (broadcast); corpus stays distributed."""
    # vectors pre-cast to array<double> once per row (r12 v2): the
    # scoring fold's per-element float->double casts were paid per PAIR;
    # the widening cast is exact, so every cosine is bit-identical
    vd = F.col(vec_col).cast("array<double>")
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        vd.alias("__qv"),
        row_norm(vd).alias("__qn"),
    )
    corpus = fan_out(emb).select(
        F.col(id_col), vd.alias(vec_col), row_norm(vd).alias("__en")
    )
    pairs = corpus.join(F.broadcast(a), F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(dot("__qv", vec_col), "__qn", "__en").alias("cos_sim"),
    )
    return _rank_topk(scored, "cos_sim", k)


def lsh_bucketed_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the anchor's sign bucket.
    Same output shape as brute_force_topk; recall depends on bucket
    granularity (documented scale path)."""
    # per-row pre-cast — see brute_force_topk (bit-identical, r12 v2)
    vd = F.col(vec_col).cast("array<double>")
    bucketed = fan_out(emb).select(
        F.col(id_col),
        vd.alias(vec_col),
        row_norm(vd).alias("__en"),
        sign_bucket(vd).alias("__bkt"),
    )
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        vd.alias("__qv"),
        row_norm(vd).alias("__qn"),
        sign_bucket(vd).alias("__bkt"),
    )
    pairs = bucketed.join(F.broadcast(a), "__bkt").where(F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(dot("__qv", vec_col), "__qn", "__en").alias("cos_sim"),
    )
    return _rank_topk(scored, "cos_sim", k)


def adaptive_bits(n: int, target_bucket: int = 500) -> int:
    """Corpus-adaptive bucket width: ceil(log2(n/target+1)) clamped to
    [4, 16] — holds the expected bucket size (and per-query candidate
    count) ~constant as N grows. Factored out so registry callers and
    oracle twins share ONE formula."""
    import math

    return max(4, min(16, math.ceil(math.log2(max(n, 1) / target_bucket + 1))))


def adaptive_rotations(bits: int, dim: int) -> int:
    """Scale-default rotation count: as many disjoint sign-plane blocks
    as the vector affords, capped at 8. At the 4-bit adaptive floor a
    64-dim vector affords 16 blocks, so the cap binds (R=8, using 32
    dims); at the 16-bit ceiling dim/bits = 4 binds instead. Union
    recall over R independent blocks is 1-(1-p)^R for per-block recall
    p, so doubling R from the r8 fixed 4 lifts measured recall from
    ~0.45 to ~0.7 at the floor — at exactly 2x candidate volume (cost
    stays linear in N)."""
    return max(1, min(8, dim // bits))


# Row bound of one kNN kernel group (queries plus candidates): knn_graph
# sizes its tiles so the EXPECTED group holds half of it.
KNN_TILE_ROWS = 8192
# Query rows scored per numpy block inside a group: the pair accumulator
# never exceeds _KNN_QUERY_BLOCK x (candidates in the group) doubles.
_KNN_QUERY_BLOCK = 256
# The kernel's group key: rotation, probed bucket, query tile, candidate tile.
_KNN_GROUP = ("__rot", "__bkt", "__qt", "__ct")
_KNN_ROW = ("__id", "__v", "__nrm", *_KNN_GROUP, "__q", "__c")


def _knn_tile_rows(b: DataFrame, probe_keys: Column, tiles: int) -> DataFrame:
    """Kernel input rows keyed on ``_KNN_GROUP``.

    ``b`` holds one row per (vector, rotation) with its home ``__bkt``.
    Each row is a query under every key of ``probe_keys`` (home first)
    and a candidate under its home key only; ``__q``/``__c`` flag the two
    roles. With ``tiles`` > 1 a vector's tile t = xxhash64(id) mod tiles
    cuts each bucket into tiles x tiles groups: as a query the row goes to
    (key, t, every ct), as a candidate to (home, every qt, t). The
    (home, t, t) row carries both roles, so every in-bucket pair meets in
    exactly one group, and with one tile a row is keyed once per probe."""
    keyed = b.select(
        "__id", "__v", "__nrm", "__rot",
        F.pmod(F.xxhash64("__id"), F.lit(tiles)).cast("int").alias("__t"),
        F.posexplode(probe_keys).alias("__p", "__bkt"),
    )
    every = F.explode(F.sequence(F.lit(0), F.lit(tiles - 1)))
    queries = keyed.select(
        "*", F.col("__t").alias("__qt"), every.alias("__ct"), F.lit(True).alias("__q")
    ).withColumn("__c", (F.col("__p") == 0) & (F.col("__ct") == F.col("__qt")))
    if tiles == 1:
        return queries.select(*_KNN_ROW)
    cands = (
        keyed.where(F.col("__p") == 0)
        .select("*", every.alias("__qt"), F.col("__t").alias("__ct"))
        .where(F.col("__qt") != F.col("__ct"))
        .select("*", F.lit(False).alias("__q"), F.lit(True).alias("__c"))
    )
    return queries.select(*_KNN_ROW).unionByName(cands.select(*_KNN_ROW))


def _knn_block_kernel(k: int):
    """The per-group scoring function for ``applyInArrow``.

    Scores every (query, candidate) pair of a group, then emits only a
    superset of each query's top-k: the pairs whose unrounded cosine is
    within 1e-6 of the query's k-th best in the group, plus every pair
    whose cosine is not finite (NULL in Spark: zero or NULL norm, NULL or
    mismatched vectors). Spark ranks on round(cosine, 6), and rounding to
    6 places moves a value by at most 5e-7, so a pair more than 1e-6
    below k others cannot enter the rounded top-k.

    The dot product accumulates ``acc += outer(Q[:, d], C[:, d])`` for
    d = 0..dim-1: the same IEEE multiply-then-add sequence, in the same
    order from the same 0.0 start, as ``dot``'s left fold, so every dot is
    bit-identical to the fold. (A BLAS matrix product reorders the sum.)
    Pairs whose vectors differ in length or hold a NULL get a NULL dot, as
    ``zip_with`` makes them. The dot and the two carried norms are
    emitted raw; Spark computes the rounded cosine from them.

    A nested closure with worker-side imports: cloudpickle ships it by
    value, so the package need not be importable on the executors."""
    block = _KNN_QUERY_BLOCK

    def kernel(table):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = table.num_rows
        ids = table.column("__id").combine_chunks()
        nrm = table.column("__nrm").combine_chunks()
        vecs = table.column("__v").combine_chunks()
        # ids compared by dictionary code: any id type, NULL ids never pair
        codes = pc.dictionary_encode(ids).indices
        id_ok = codes.is_valid().to_numpy(zero_copy_only=False)
        code = codes.fill_null(-1).to_numpy()
        norm = nrm.fill_null(float("nan")).to_numpy()
        # dense (rows x max len) matrix; ``lens`` is -1 for a NULL vector,
        # ``ok`` false for a NULL vector or one holding a NULL element
        off = vecs.offsets.to_numpy()
        lens = np.where(vecs.is_null().to_numpy(zero_copy_only=False), -1, np.diff(off))
        m = np.maximum(lens, 0)
        rows = np.repeat(np.arange(n), m)
        pos = np.arange(len(rows)) - np.repeat(np.cumsum(m) - m, m)
        src = off[:-1][rows] + pos
        mat = np.zeros((n, int(m.max(initial=0))))
        mat[rows, pos] = vecs.values.fill_null(0.0).to_numpy()[src]
        ok = lens >= 0
        ok[rows[vecs.values.is_null().to_numpy(zero_copy_only=False)[src]]] = False
        qi = np.flatnonzero(table.column("__q").to_numpy() & id_ok)
        ci = np.flatnonzero(table.column("__c").to_numpy() & id_ok)
        ct = np.ascontiguousarray(mat[ci].T)
        out_q, out_c = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
        out_dot, out_null = [np.zeros(0)], [np.zeros(0, bool)]
        for lo in range(0, len(qi) if len(ci) else 0, block):
            q = qi[lo : lo + block]
            qt = np.ascontiguousarray(mat[q].T)
            acc = np.zeros((len(q), len(ci)))
            term = np.empty_like(acc)
            for d in range(mat.shape[1]):
                np.multiply.outer(qt[d], ct[d], out=term)
                acc += term
            valid = (
                ok[q][:, None] & ok[ci][None, :] & (lens[q][:, None] == lens[ci][None, :])
            )
            other = code[q][:, None] != code[ci][None, :]
            with np.errstate(all="ignore"):
                cos = acc / (norm[q][:, None] * norm[ci][None, :])
            finite = valid & np.isfinite(cos)
            score = np.where(finite & other, cos, -np.inf)
            if score.shape[1] > k:
                kth = np.partition(score, -k, axis=1)[:, -k]
            else:
                kth = np.full(len(q), -np.inf)
            keep = other & (~finite | (score >= (kth - 1e-6)[:, None]))
            r, c = np.nonzero(keep)
            out_q.append(q[r])
            out_c.append(ci[c])
            out_dot.append(acc[r, c])
            out_null.append(~valid[r, c])
        rq, rc = np.concatenate(out_q), np.concatenate(out_c)
        return pa.table(
            {
                "query_id": ids.take(rq),
                "neighbor_id": ids.take(rc),
                "__dot": pa.array(np.concatenate(out_dot), mask=np.concatenate(out_null)),
                "__qn": nrm.take(rq),
                "__en": nrm.take(rc),
            }
        )

    return kernel


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    target_bucket: int = 500,
    rotations: int | None = 1,
    n_hint: int | None = None,
    dim_hint: int | None = None,
    multiprobe: bool = False,
    probe_t: int | None = None,
) -> DataFrame:
    """k-NN GRAPH: top-k cosine neighbors for EVERY vector (not a small
    anchor set) — the building block for graph-based curation (SemDeDup
    variants, density/novelty scoring, label propagation over near-dup
    clusters).

    Anchor-broadcast plans don't apply here (the anchor set IS the
    corpus), so the scale shape is sign-LSH bucketing: every vector row
    shuffles once on its (rotation, bucket) keys, and each bucket is
    scored as ONE blocked kernel (``applyInArrow`` over the group, the
    grouped-map pattern): the group's query and candidate vectors become
    two matrices, the dot products accumulate one dimension at a time in
    the ``dot`` fold's order (bit-identical), and only a per-query top-k
    superset leaves the kernel (``_knn_block_kernel``). No candidate pair
    ever becomes a row carrying two vectors, and no pair is scored by the
    interpreted per-element fold. Cost is sum of squared bucket sizes per
    rotation — the same regime every LSH stage in this package runs —
    versus the N^2/p all-pairs a cross join would cost. The rounded
    cosine, the ranking, its ties and the cross-rotation dedup stay in
    Spark, over the kernel's (query, neighbor, dot, norms) rows.

    Group memory is bounded by tiles. A group holds the rows of one
    (rotation, bucket) key, about (probes + 1) x (n >> bits) rows for
    queries arriving from ``probes`` keys plus the candidates. When that
    estimate exceeds half of ``KNN_TILE_ROWS`` (8192 rows, about 4 MB of
    64-dim vectors), each bucket is cut into T hash tiles per side and
    becomes T x T groups (``_knn_tile_rows``), so the expected group
    holds at most half the bound and a pinned-bits bucket at 100 TB
    scale never loads whole into one Python worker. The price is T-fold
    row replication in the shuffle. Without a size estimate
    (explicit ``bits`` and no ``n_hint``) a bucket is one tile. The
    tiling is by estimate, not by measured bucket size, so a bucket many
    times the mean can exceed the bound; inside a group the pair
    accumulator stays at ``_KNN_QUERY_BLOCK`` query rows x the group's
    candidates either way.

    Recall is bucket-granularity bound: a single sign projection
    recovers only ~2x the random-collision base rate of the true top-k
    on unstructured vectors (measured 0.12-0.15 at test SFs vs a 1/16
    base; the registered ``sim_knn_graph_recall`` contract gates the
    number). ``rotations=R`` unions R disjoint sign-plane blocks
    (rotation r buckets on dims [r*bits, (r+1)*bits)) before the top-k
    window — candidate volume and recall both grow ~R-fold, cost stays
    linear in N. ``rotations=None`` (the scale default, r9) takes every
    block the vector affords capped at 8 (``adaptive_rotations``):
    measured recall 0.69-0.79 at the 4-bit adaptive floor vs 0.41-0.49
    at the r8 fixed R=4. ``multiprobe=True`` additionally probes each
    query's 1-Hamming bucket neighborhood (bits+1 keys per rotation,
    candidate side home-only): measured 0.947-0.960 at R=4 — the
    high-recall dial, at (bits+1)x candidate volume per rotation, gated
    by ``sim_knn_graph_multiprobe_recall``. rotations*bits <= dim is
    asserted IN-PLAN
    (fail loud; try_element_at past the array end is NULL and would
    silently zero the high bucket bits — and the mirrored NULL in a
    DuckDB twin would keep the hash green while recall and cost
    silently degrade).

    ``bits=None`` (the scale default) sizes the bucket key from the
    corpus: cost is sum(bucket_size^2) ~= N * (N / 2^bits), so a FIXED
    bit width turns quadratic as N grows — exactly the regime SemDeDup's
    n/750 cell sizing avoids. Growing bits with log2(N / target_bucket)
    holds the expected bucket size (and therefore per-query candidate
    count) ~constant, keeping total cost ~linear in N. The 16-bit
    adaptive ceiling bounds that linear regime at ~2^16 * target_bucket
    (~33M vectors at the default target); past it, pass explicit
    ``bits`` up to dim/rotations (the 64-dim testdata supports 16 bits x
    4 rotations exactly) — expected bucket size then grows with
    N / 2^bits again. ``n_hint`` supplies the corpus size (e.g. from
    parquet footer metadata, ``plans.registry.table_num_rows``) so the
    adaptive mode does not pay a full count() scan per invocation (r9,
    judge task 4); ``count()`` remains the fallback. ``dim_hint``
    likewise short-circuits the one-row dim probe for
    ``rotations=None``. The registered oracle twin pins
    ``bits=SIGN_BITS`` instead: the DuckDB oracle is a static SQL
    string and must compute the identical bucket key."""
    # probe_t only has meaning inside the multiprobe branch; silently
    # ignoring it would hand the caller the plain home-bucket graph (and
    # skip the probe_t > bits validation) with no warning (ADVICE r10)
    if probe_t is not None and not multiprobe:
        raise ValueError(
            "knn_graph: probe_t is a multiprobe dial — pass "
            "multiprobe=True (got probe_t set with multiprobe=False)"
        )
    n_known = n_hint
    if bits is None:
        if n_known is None:
            n_known = emb.count()
        bits = adaptive_bits(n_known, target_bucket)
    if rotations is None:
        dim = (
            dim_hint
            if dim_hint is not None
            else int(emb.select(F.size(vec_col).alias("d")).first()["d"])
        )
        rotations = adaptive_rotations(bits, dim)
    # fail-loud guard (ADVICE r8): a rotation block past the vector end
    # silently zeroes high bucket bits (element_at -> NULL). Embedded as
    # an arithmetically-required term of the norm (x + coalesce(
    # assert_true(..), 0.0) == x bit-for-bit when the guard holds) so
    # SimplifyConditionals cannot fold it and pruning cannot drop it.
    guard = F.coalesce(
        F.assert_true(
            F.size(F.col(vec_col)) >= F.lit(rotations * bits),
            F.lit(
                f"knn_graph: rotations*bits = {rotations}*{bits} exceeds "
                "the embedding dim — high bucket bits would silently zero"
            ),
        ).cast("double"),
        F.lit(0.0),
    )
    # The kernel multiplies doubles, as ``dot`` does after its
    # per-element cast; float->double is exact (widening), so casting
    # once per row keeps every dot bit-identical to the fold's.
    vd = F.col(vec_col).cast("array<double>")
    b = fan_out(emb).select(
        F.col(id_col).alias("__id"),
        vd.alias("__v"),
        (row_norm(vd) + guard).alias("__nrm"),
        F.posexplode(
            F.array(
                *[
                    sign_bucket(vd, bits, r * bits)
                    for r in range(rotations)
                ]
            )
        ).alias("__rot", "__bkt"),
    )
    # Query-side probe keys, home bucket first; the candidate side only
    # ever sits in its home bucket.
    probe_keys = F.array(F.col("__bkt"))
    if multiprobe:
        # flip-one-bit multi-probe (the other recall dial, r9): the QUERY
        # side additionally probes 1-Hamming neighbors of its home
        # bucket; the candidate side stays home-only, so no new dedup
        # grain is introduced (within a rotation a pair can match at
        # most one probe key — the candidate has ONE bucket).
        #
        # probe_t=None (the recall CEILING): flip EVERY bit — bits+1
        # probe keys per rotation, covering every single-hyperplane
        # miss. Measured at R=4 on the 4-bit floor: 0.947-0.960 vs
        # 0.41-0.49 plain. Candidate volume is (bits+1)x per rotation —
        # and since the adaptive bit width grows with log N, the
        # FULL-flip build is super-linear by a log factor across
        # decades (expected ratio 10 * (bits10+1)/(bits1+1) per 10x
        # data): the right gate for a bounded probe set, the wrong
        # shape for an all-points build at 100 TB.
        #
        # probe_t=T (the SCALE mode, r10 — Lv et al. 2007 multi-probe
        # LSH, public): flip only the T hyperplanes with the smallest
        # |margin| (|v[dim]| is the query's distance to the sign
        # boundary — exactly the bits most likely to be wrong), T+1
        # probe keys per rotation REGARDLESS of the adaptive width, so
        # candidate volume is (T+1) * target_bucket * R per query —
        # strictly linear in N. Margin ranking is deterministic
        # (array_sort on (margin, bit) structs, ties by bit index), so
        # the DuckDB twin replays it exactly.
        if probe_t is None:
            probe_keys = F.array(
                F.col("__bkt"),
                *[F.col("__bkt").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
            )
        else:
            if probe_t > bits:
                raise ValueError(
                    f"knn_graph: probe_t = {probe_t} exceeds the bucket "
                    f"width ({bits} bits) — at most every bit can flip"
                )
            flip_idx = F.slice(
                F.array_sort(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(bits - 1)),
                        lambda i: F.struct(
                            F.abs(
                                F.try_element_at(
                                    F.col("__v"),
                                    (F.col("__rot") * bits + i + 1).cast(
                                        "integer"
                                    ),
                                ).cast("double")
                            ).alias("m"),
                            i.cast("integer").alias("i"),
                        ),
                    )
                ),
                1,
                probe_t,
            )
            probe_keys = F.concat(
                F.array(F.col("__bkt")),
                F.transform(
                    flip_idx,
                    # 2^i via pow: shiftleft needs a literal shift; the
                    # double is exact for i <= 15 (bits caps at 16)
                    lambda s: F.col("__bkt").bitwiseXOR(
                        F.pow(F.lit(2.0), s["i"]).cast("long")
                    ),
                ),
            )
    # Tiles and kernel width from the expected candidate volume. A
    # bucket holds ~n >> bits rows and a group ~(probes + 1) buckets'
    # worth of rows (its queries, which arrive from up to ``probes`` keys
    # each, plus its candidates); beyond half of KNN_TILE_ROWS the bucket
    # is cut into ``tiles`` hash tiles per side. Half leaves room for
    # bucket and hash skew under the bound.
    #
    # Pair-volume-sized kernel width (r12 v2, guide §2.5/§5): AQE sizes
    # the exchange from its INPUT bytes and cannot see that the kernel's
    # work is the sum of squared bucket sizes, so the operator, which
    # knows the expected pair count (the bucket-probe histogram confirms
    # the uniform estimate within ~1%), fixes the width at that count /
    # 2M and never below the session's parallelism. Partitioning never
    # changes results (deterministic ordering with the neighbor_id
    # tie-break; the dedup is exact).
    default_par = emb.sparkSession.sparkContext.defaultParallelism
    width, tiles = default_par, 1
    if n_known is not None:
        probes = 1
        if multiprobe:
            probes = (probe_t + 1) if probe_t is not None else (bits + 1)
        bucket = max(1, n_known >> bits)
        est_pairs = n_known * rotations * probes * bucket
        width = max(width, int(min(est_pairs // 2_000_000, 16384)))
        tiles = -(-(probes + 1) * bucket // (KNN_TILE_ROWS // 2))
    rows = _knn_tile_rows(b, probe_keys, tiles)
    id_type = emb.schema[id_col].dataType.simpleString()
    scored = (
        rows.repartition(width, *_KNN_GROUP)
        .groupBy(*_KNN_GROUP)
        .applyInArrow(
            _knn_block_kernel(k),
            f"query_id {id_type}, neighbor_id {id_type}, "
            "__dot double, __qn double, __en double",
        )
        .select(
            "query_id",
            "neighbor_id",
            _pair_cos(F.col("__dot"), "__qn", "__en").alias("cos_sim"),
        )
    )
    if rotations > 1:
        # a pair can collide in several rotations; dedupe on the narrow
        # (ids, score) grain — the vectors never enter this shuffle, and
        # cos_sim is deterministic per pair so distinct cannot split one.
        #
        # Prune BEFORE the exchange with a dense_rank group-limit (r12 v2,
        # guide §2.3 "aggregate before you shuffle"): a pair's dense_rank
        # over (cos_sim DESC, neighbor_id ASC) counts the DISTINCT pairs
        # strictly ahead of it — duplicates share an order tuple, so
        # dense_rank(p) is exactly p's rank among distinct pairs and
        # ``dense_rank <= k`` keeps precisely the distinct top-k (every
        # copy of them); distinct + row_number over the survivors is
        # therefore bit-identical to the old distinct-then-rank. What it
        # buys: Spark's InsertWindowGroupLimit puts a PARTIAL
        # WindowGroupLimit below the window's exchange, so each kernel
        # task emits only its local distinct-top-k per query instead of
        # every per-group top-k superset it scored (~rotations x k per
        # query). The r12-v1 single-exchange form
        # (repartition(query_id) + distinct) still shipped the FULL pair
        # set through its one exchange and hash-aggregated ~pairs/width
        # rows per reduce task, which is what turned the second decade
        # super-linear (tier re-measure: sf10 flat at ~350 s while sf1
        # dropped — flagged at 19.43x/decade vs a 10.94x candidate-volume
        # ratio from bucket_probe.json). Measured at the sf1 tile
        # (interleaved, same window): pruned tail ~1.6x faster than the
        # single-exchange tail; exchange rows collapse from O(pairs) to
        # O(k x rotations x queries). Downstream consumers (dedup/window,
        # kNN density, the density sampler) still see hash(query_id)
        # partitioning: the distinct and the row_number window both ride
        # the dense_rank window's exchange, so the plan keeps exactly ONE
        # wide exchange.
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        scored = (
            scored.withColumn("__dr", F.dense_rank().over(w))
            .where(F.col("__dr") <= k)
            .drop("__dr")
            .distinct()
        )
    return _rank_topk(scored, "cos_sim", k)


def int8_quantize(v: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round_half_up(x_i * s)
    with s = 127 / max|x|.

    Written as ``floor(x*s + 0.5)`` rather than ``round()`` so the tie
    semantics are identical in every engine (Spark ROUND is HALF_UP via
    BigDecimal, C libraries round half away from zero; the floor form is
    unambiguous everywhere, which the DuckDB oracle twin relies on)."""
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # the scale is bound once per vector, not re-derived per element
    return bind(
        F.lit(127.0) / amax,
        lambda scale: F.transform(
            v, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long")
        ),
    )


def quantized_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k under int8-quantized cosine — the bandwidth-bound scale path.

    Same anchor-broadcast plan as brute_force_topk, but both sides are
    quantized first: at 100 TB the int8 corpus is 4x smaller than float32
    (scan, shuffle, and cache all shrink 4x) and the inner product is
    integer math; the standard production layout stores the quantized
    corpus and re-ranks the top candidates against the full-precision
    vectors (re-rank step omitted here — the quantized scores ARE the
    output so the quantization error is observable and oracle-checked)."""
    # codes pre-cast to array<double> once per row (r12 v2): the fold's
    # per-element long->double casts were paid per pair; |code| <= 127 is
    # exact in double, so every score is bit-identical
    cd = F.col("__q").cast("array<double>")
    ad = F.col("__qa").cast("array<double>")
    q = fan_out(emb).select(
        F.col(id_col), int8_quantize(F.col(vec_col)).alias("__q")
    ).select(F.col(id_col), cd.alias("__q"), row_norm(cd).alias("__en"))
    a = anchors.select(
        F.col(id_col).alias("query_id"), int8_quantize(F.col(vec_col)).alias("__qa")
    ).select("query_id", ad.alias("__qa"), row_norm(ad).alias("__qn"))
    pairs = q.join(F.broadcast(a), F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(dot("__qa", "__q"), "__qn", "__en").alias("qcos_sim"),
    )
    return _rank_topk(scored, "qcos_sim", k)


def embedding_near_dup_pairs(emb: DataFrame, topk: int = 10) -> DataFrame:
    """Embedding-cosine near-dup candidates: within-sign-bucket pairs,
    ranked by cosine. The dedup-by-embedding member of the dedup family."""
    # per-row pre-cast — see brute_force_topk (bit-identical, r12 v2)
    vd = F.col("embedding").cast("array<double>")
    b = fan_out(emb).select(
        "vec_id",
        vd.alias("embedding"),
        row_norm(vd).alias("__nrm"),
        sign_bucket(vd).alias("__bkt"),
    )
    l = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__nrm").alias("__na"),
        "__bkt",
    )
    r = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__nrm").alias("__nb"),
        "__bkt",
    )
    pairs = l.join(r, "__bkt").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            _pair_cos(dot("va", "vb"), "__na", "__nb").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(topk)
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: MLlib KMeans centroids + nearest-centroid
    assignment. Returns (assigned_df with __cell, centroids_df).

    At 100 TB the assignment is the write-time step: store the corpus
    ``partitionBy(__cell)`` so a probe scans only nprobe partitions —
    the same pruning story as the sign-LSH path but data-adaptive."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = fan_out(emb).select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("__fv")
    )
    # KMeans fits on a seeded sample: centroid quality saturates far below
    # full data and the fit is the only non-single-pass step. A production
    # IVF index trains its coarse quantizer once and reuses it for every
    # probe and for the semantic-dedup pass, hence the memo.
    #
    # maxIter=8 (default 20): a coarse quantizer only needs cells that
    # roughly tessellate the space — assignment quality saturates within
    # a few Lloyd rounds and the recall-floor test gates the outcome;
    # the extra rounds are the single most expensive non-query cost in
    # the ANN stack at any scale.
    #
    # Deterministic fit sample: ORDER BY id, the pq_fit convention (r11).
    # A bare limit hands KMeans whichever rows' tasks finish first, so the
    # fitted centroids — and every recall number measured against them —
    # silently varied ACROSS SESSIONS. TakeOrdered on a bounded k: a few
    # MB on the driver at any scale.
    model = fit_memo(
        emb,
        ("kmeans", n_centroids, seed, id_col, vec_col),
        lambda: KMeans(
            k=n_centroids, seed=seed, maxIter=8, featuresCol="__fv", predictionCol="__cell"
        ).fit(vecs.orderBy(id_col).limit(100_000)),
    )
    assigned = model.transform(vecs).select(id_col, vec_col, "__cell")
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cdf = local_frame(emb.sparkSession, centroids, "cell int, centroid array<double>")
    return assigned, cdf


def ivf_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score each anchor only against vectors in
    its nprobe nearest cells. Cost O(|anchors| x corpus x nprobe/cells);
    recall grows with nprobe (exact when nprobe == n_centroids)."""
    assigned, cdf = ivf_assign(emb, n_centroids, seed, id_col, vec_col)
    a = anchors.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    # rank centroids per anchor, keep nprobe nearest (tiny cross: |a| x cells)
    ac = a.crossJoin(F.broadcast(cdf)).withColumn(
        "__csim", cosine(F.col("__qv"), F.col("centroid"))
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("__csim"), F.asc("cell"))
    probes = (
        ac.withColumn("__pr", F.row_number().over(wprobe))
        .where(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", F.col("cell").alias("__cell"))
    )
    # per-pair work = one dot: corpus norms carried from the assignment
    # projection, anchor norms carried on the (tiny) probe frame;
    # vectors pre-cast per row — see brute_force_topk (bit-identical)
    qd = F.col("__qv").cast("array<double>")
    vd = F.col(vec_col).cast("array<double>")
    a_norm = probes.select(
        "query_id", qd.alias("__qv"), "__cell", row_norm(qd).alias("__qn")
    )
    e_norm = assigned.select(
        id_col, vd.alias(vec_col), "__cell", row_norm(vd).alias("__en")
    )
    pairs = e_norm.join(F.broadcast(a_norm), "__cell").where(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _pair_cos(dot("__qv", vec_col), "__qn", "__en").alias("cos_sim"),
    )
    return _rank_topk(scored, "cos_sim", k)


def semantic_dup_pairs(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.97,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    public method): cluster the embedding space with the IVF coarse
    quantizer, then compare pairs only WITHIN each cluster and keep those
    with cosine >= threshold.

    Cost is sum(cluster_size^2), never corpus^2 — with k sized so clusters
    are bounded (k ~ n/1000 in the paper), the pair stage is linear-ish
    and embarrassingly parallel per cluster. Pairs can miss near-dups that
    straddle a cluster boundary (the documented SemDeDup trade-off); raise
    n_clusters for speed or lower it for recall."""
    assigned, _ = ivf_assign(emb, n_clusters, seed, id_col, vec_col)
    # per-row pre-cast — see brute_force_topk (bit-identical, r12 v2)
    vd = F.col(vec_col).cast("array<double>")
    withn = assigned.select(
        id_col, vd.alias(vec_col), "__cell", row_norm(vd).alias("__nrm")
    )
    a = withn.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
        "__cell",
    )
    b = withn.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__nrm").alias("__nb"),
        "__cell",
    )
    return (
        a.join(b, "__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _pair_cos(dot("__va", "__vb"), "__na", "__nb").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# --- product quantization (PQ) ------------------------------------------------

PQ_SUBVECTORS = 8  # 64-dim testdata vectors -> 8 subspaces x 8 dims
PQ_CODEBOOK = 16  # centroids per subspace -> 4-bit codes, 8x compression vs f32


def _np_kmeans(X, k: int, seed: int, iters: int = 12):
    """Seeded Lloyd's on a driver-side sample (numpy). Deterministic:
    seeded distinct-row init, empty clusters keep their previous
    centroid. Codebook training is sample-bounded by design, so the
    driver-side fit is the right tool — 8 MLlib fits on tiny subvector
    frames cost ~25 s of pure scheduling for the same centroids."""
    import numpy as np

    if len(X) < k:
        # fail loud with the actionable message (ADVICE r10) instead of
        # numpy's uninformative "Cannot take a larger sample than
        # population" from the replace=False init
        raise ValueError(
            f"_np_kmeans: sample has {len(X)} rows but k = {k} — "
            "codebook training needs at least k distinct sample rows"
        )
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def pq_fit(
    emb: DataFrame,
    m: int = PQ_SUBVECTORS,
    k: int = PQ_CODEBOOK,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks (the PQ training step) on a bounded,
    deterministic sample: the first ``sample_rows`` ORDERED BY ``id_col``
    — a plain ``limit`` without a sort is not stable across file layouts,
    so codebooks (and every downstream code) would silently change when
    the corpus is rewritten. TakeOrdered on a bounded k: a few MB on the
    driver at any corpus scale; production PQ always trains codebooks on
    a sample. Returns codebooks[s][c] = centroid (dim/m floats).

    Memoized per (session, input plan, dials): a production PQ index
    trains its codebooks once and every probe reuses them."""
    import numpy as np

    def fit():
        rows = emb.select(id_col, vec_col).orderBy(id_col).limit(sample_rows).collect()
        return _fit_books(np.array([list(r[1]) for r in rows], dtype=np.float64), m, k, seed)

    return fit_memo(emb, ("pq", m, k, seed, sample_rows, id_col, vec_col), fit)


def _fit_books(X, m: int, kc: int, seed: int) -> list[list[list[float]]]:
    """Codebooks for the sample ``X`` (rows x dim): ``X`` cut into ``m``
    equal subspaces, ``kc`` centroids each from a seeded ``_np_kmeans``.
    books[s][c] is centroid c of subspace s."""
    sub = X.shape[1] // m
    return [
        [[float(x) for x in c] for c in _np_kmeans(X[:, s * sub : (s + 1) * sub], kc, seed + s)]
        for s in range(m)
    ]


def _pq_code_expr(vec_col: str, books: list[list[list[float]]], s: int) -> Column:
    """argmin over the subspace's codebook as a pure column expression:
    the codebook ships as ONE array<array<double>> literal and distances
    come from a transform over it — each centroid's squared distance is a
    zip_with/aggregate fold, so the expression tree is O(1) nodes per
    centroid instead of the O(subdim) unrolled polynomial the first
    version code-generated (the unrolled form compiled ~m*kc*subdim
    element_at chains and dominated the query at 16 s of pure plan-compile
    time). The folds are interpreted, not code-generated: ``ArrayTransform``,
    ``ZipWith`` and ``ArrayAggregate`` implement ``CodegenFallback`` (checked
    with ``javap`` on ``spark-catalyst_2.13-4.1.2.jar``). So the subspace
    slice is bound once per row (``sv``), not re-sliced per centroid, and
    the distance array once (``d``), not once for the min and again for
    its position. The argmin is array_position of the array_min (first
    occurrence -> deterministic lowest-index tie-break); the fold adds
    terms in index order, matching the old left-fold bit-for-bit. No UDF,
    no shuffle — and still LINEAR in kc: a when/otherwise argmin fold
    would embed the running best under every comparison (~2^k nodes —
    measured as a driver OOM at k=16 before this form).

    r12: the whole expression is rendered as ONE SQL string and parsed
    JVM-side — the python-Column form crossed py4j per lambda/node
    (~35 ms x m calls of pure driver latency per query, guide §5); the
    parsed tree is the same expression (SQL lambdas are the same
    LambdaFunction nodes), so results are unchanged."""
    sub = len(books[s][0])
    sl = f"slice(`{vec_col}`, {s * sub + 1}, {sub})"
    cents = _render_doubles([[float(x) for x in c] for c in books[s]])
    darr = (
        f"transform({cents}, c -> aggregate(zip_with(sv, c, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v))"
    )
    argmin = "CAST(array_position(d, array_min(d)) - 1 AS INT)"
    return F.expr(
        f"element_at(transform(array({sl}), sv -> element_at("
        f"transform(array({darr}), d -> {argmin}), 1)), 1)"
    )


def pq_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    m: int = PQ_SUBVECTORS,
    kc: int = PQ_CODEBOOK,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC).

    Corpus rows are encoded to m 4-bit codes (8x smaller than f32; at
    100 TB the encoded corpus is the only thing scanned per query). Each
    anchor precomputes its distance table to every codebook centroid
    driver-side (m*kc floats), and a corpus row's approximate squared
    distance is the SUM OF TABLE LOOKUPS on its codes — an interpreted
    zip_with/aggregate fold of element_at lookups, no vector math in the
    scan. Encode + score are
    shuffle-free; only the per-anchor top-k window shuffles (rows
    already pre-filtered to k per partition by the window's rank).

    Ids must be integral: each anchor's id enters the scoring expression
    as a BIGINT literal."""
    from pyspark.sql.types import IntegralType

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"pq_topk: id column {id_col!r} is {id_type.simpleString()}; "
            "anchor ids enter the scoring expression as BIGINT literals, "
            "so pq_topk needs an integral id type"
        )
    books = pq_fit(emb, m, kc, seed, vec_col, id_col=id_col)
    coded = fan_out(emb).select(
        F.col(id_col),
        *[_pq_code_expr(vec_col, books, s).alias(f"__c{s}") for s in range(m)],
    )
    a_rows = anchors.select(id_col, vec_col).collect()
    # ONE plan for all anchors: each corpus row emits (query_id, dist)
    # structs via an exploded literal-table lookup — the ADC tables are
    # per-anchor constants, so the whole scoring pass is a single scan of
    # the coded corpus followed by one per-anchor top-k window. (A
    # DataFrame-per-anchor loop costs a full plan+scan per anchor.)
    # The whole struct array is rendered as ONE parsed SQL expression
    # (r12): the per-anchor python-Column structs crossed py4j per node
    # — pure driver latency (guide §5); the parsed tree, the lookup
    # indices and the addition order are unchanged, so pq_dist2 is
    # bit-identical.
    codes_sql = "array(" + ",".join(f"`__c{s}`" for s in range(m)) + ")"
    structs = []
    for ar in a_rows:
        qv = [float(x) for x in ar[vec_col]]
        table2d = _adc_table(qv, books)
        structs.append(
            f"named_struct('query_id', CAST({int(ar[id_col])} AS BIGINT), "
            "'pq_dist2', round(aggregate(zip_with("
            f"{_render_doubles(table2d)}, {codes_sql}, "
            "(t, c) -> element_at(t, c + 1)), 0.0D, (acc, v) -> acc + v), 6))"
        )
    scored = (
        coded.select(
            F.col(id_col).alias("neighbor_id"),
            F.explode(F.expr("array(" + ",".join(structs) + ")")).alias("s"),
        )
        .select(F.col("s.query_id").alias("query_id"), "neighbor_id", F.col("s.pq_dist2").alias("pq_dist2"))
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    return _rank_topk(scored, "pq_dist2", k, descending=False)


def _adc_table(q: list[float], books: list[list[list[float]]]) -> list[list[float]]:
    """Per-anchor ADC distance table (m x kc), vectorized over centroids.

    Bit-identical to the scalar ``sum((q[j] - c[j])**2 for j ...)``: the
    accumulator adds the squared terms in the same left-to-right subspace
    order (numpy scalar-minus-column and elementwise add are the same
    IEEE ops), only the loop over centroids is vectorized — the python
    triple loop was ~0.6 s of driver time per query at the registry
    dials (guide §5)."""
    import numpy as np

    m = len(books)
    sub = len(books[0][0])
    out: list[list[float]] = []
    for s in range(m):
        B = np.asarray(books[s], dtype=np.float64)  # kc x sub
        qs = np.asarray(q[s * sub : (s + 1) * sub], dtype=np.float64)
        acc = np.zeros(len(B), dtype=np.float64)
        for j in range(sub):
            d = qs[j] - B[:, j]
            acc = acc + d * d
        out.append([float(x) for x in acc])
    return out


def _driver_cosine(qv: list[float], cv: list[float]) -> float:
    """Driver-side cosine over two bounded vectors (ivfpq cell ranking).

    A zero-norm query OR centroid yields similarity 0.0, mirroring the
    Spark-side try_divide NULL convention — an all-zero KMeans centroid
    must not raise ZeroDivisionError here while every distributed cosine
    path degrades gracefully (ADVICE r10)."""
    import math

    nq = math.sqrt(sum(q * q for q in qv))
    nc = math.sqrt(sum(c * c for c in cv))
    if not nq or not nc:
        return 0.0
    return sum(q * c for q, c in zip(qv, cv)) / (nq * nc)


def ivfpq_topk(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = PQ_SUBVECTORS,
    kc: int = PQ_CODEBOOK,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ composition — the production FAISS ``IndexIVFPQ`` shape
    (Jegou et al. 2011 "Product Quantization for Nearest Neighbor
    Search", public): coarse cells PRUNE (each query scans only its
    ``nprobe`` nearest cells) and RESIDUAL product codes SCORE (each
    corpus row stores m 4-bit codes of ``vec - centroid[cell]``;
    residuals concentrate near zero, so the shared codebooks spend
    their 16 centroids on a much tighter distribution than raw
    vectors — the reason FAISS encodes residuals).

    ``rerank=R`` adds the production REFINE stage (FAISS's
    IndexRefineFlat): the ADC scan keeps a per-query shortlist of R
    candidates, their TRUE vectors are fetched back by an id equi-join
    (R x |anchors| rows — tiny), and the final top-k is exact cosine
    over the shortlist — the quantization error stops deciding the
    final ranking and only shapes the shortlist, which is exactly how
    production serving stacks run PQ. At the r11 registry dials
    (nprobe=8, m=16, R=50; scripts/ivfpq_sweep.py) measured composed
    recall is 0.66-0.76 across SFs — session-stable since ivf_assign's
    deterministic fit sample (r11); the old nprobe=4/m=8/R=25 regime
    measured 0.26-0.58.

    Scale shape: the coarse quantizer is the memoized ivf_assign model;
    codebooks fit driver-side on a bounded deterministic residual
    sample (pq_fit's convention); the encoded corpus is (id, cell, m
    codes) — ~9 bytes/vector, the only thing scanned per query at
    100 TB, ideally stored partitionBy(cell) so a probe is a
    partition-pruned scan. Query side: cell ranking and the per-(query,
    probed-cell) ADC tables are pure driver arithmetic over the
    n_centroids-row centroid table (bounded, no Spark job); scoring is
    ONE scan of the coded corpus — each row unpacks the exploded
    (query, cell, table) literals, keeps the ones probing ITS cell, and
    sums m table lookups per match; only the per-query top-k window
    shuffles. No vector math anywhere in the scan.
    """
    # bounded anchor collect, shared by the ADC-table loop and the
    # re-rank literal map; empty anchors would otherwise surface as an
    # uninformative F.array()/create_map() analysis error (ADVICE r10)
    a_rows = anchors.select(id_col, vec_col).collect()
    if not a_rows:
        raise ValueError(
            "ivfpq_topk: anchors is empty — at least one query row is "
            "required (the ADC tables and re-rank map are per-anchor)"
        )
    assigned, cdf = ivf_assign(emb, n_centroids, seed, id_col, vec_col)
    cents = {int(r["cell"]): [float(x) for x in r["centroid"]] for r in cdf.collect()}
    # residual codebooks on a bounded deterministic sample (pq_fit's
    # ORDER BY id convention — a bare limit is layout-dependent), memoized
    # like the coarse quantizer: the residual distribution is a pure
    # function of the input plan and the quantizer dials, all in the key.
    import numpy as np

    def fit_residual_books():
        sample = assigned.orderBy(id_col).limit(10_000).collect()
        V = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
        C = np.array([cents[int(r["__cell"])] for r in sample], dtype=np.float64)
        return _fit_books(V - C, m, kc, seed)

    books = fit_memo(
        emb, ("pq_residual", n_centroids, m, kc, seed, id_col, vec_col), fit_residual_books
    )
    # centroids attach via a broadcast join of the 16-row centroid frame
    # instead of an element_at over a 16x64-double literal (r12): every
    # DataFrame op downstream re-analyzes the accumulated plan, and each
    # ~1k-node literal tree taxes every one of those analysis passes
    # (guide §5 — driver work); the joined centroid column carries the
    # exact same doubles, so __res is bit-identical
    coded = (
        fan_out(assigned)
        .join(
            F.broadcast(
                cdf.select(
                    F.col("cell").alias("__cell"),
                    F.col("centroid").alias("__cent"),
                )
            ),
            "__cell",
        )
        .withColumn(
            "__res",
            F.zip_with(
                F.col(vec_col),
                F.col("__cent"),
                lambda x, y: x.cast("double") - y,
            ),
        )
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__cell"),
            *[_pq_code_expr("__res", books, s).alias(f"__c{s}") for s in range(m)],
        )
    )
    codes = F.array(*[F.col(f"__c{s}") for s in range(m)])
    # Probe tables keyed BY CELL and attached via a broadcast equi-join
    # (r12, guide §1/§2/§5).  The r11 plan exploded one struct per
    # (anchor, probe) with the ADC distance precomputed INSIDE a literal
    # struct, which was doubly wrong: every corpus row evaluated all
    # |anchors| * nprobe ADC sums and the cell equality then discarded
    # (1 - nprobe/n_centroids) of that work (16x at the registry dials),
    # and the ~20k-double literal tree taxed the driver twice — once
    # built element-wise over py4j (~11.6 s measured) and again on EVERY
    # downstream DataFrame op's analysis pass.  As an 80-row broadcast
    # frame the tables never enter the expression tree at all: a row
    # joins exactly the probes that target its cell, and the ADC sum is
    # ONE shared expression.  Table values, lookup indices and addition
    # order are unchanged, so pq_dist2 is bit-identical.
    probe_rows: list[tuple[int, int, list[list[float]]]] = []
    for ar in a_rows:
        qv = [float(x) for x in ar[vec_col]]
        ranked = sorted(
            (-_driver_cosine(qv, cv), cell) for cell, cv in cents.items()
        )
        for _neg, cell in ranked[:nprobe]:
            qres = [q - c for q, c in zip(qv, cents[cell])]
            probe_rows.append((cell, ar[id_col], _adc_table(qres, books)))
    id_type = emb.schema[id_col].dataType.simpleString()
    probe_df = local_frame(
        emb.sparkSession,
        probe_rows,
        f"__cell int, query_id {id_type}, __table array<array<double>>",
    )
    scored = (
        coded.join(F.broadcast(probe_df), "__cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__table"),
                        codes,
                        lambda t, c: F.element_at(t, c + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("pq_dist2"),
        )
    )
    if rerank is None:
        return _rank_topk(scored, "pq_dist2", k, descending=False)
    shortlist = _rank_topk(scored, "pq_dist2", rerank, descending=False).select(
        "query_id", "neighbor_id"
    )
    # refine: exact cosine over the shortlist only — true vectors come
    # back via one id equi-join (shortlist is R x |anchors| rows; AQE
    # broadcasts it), anchor vectors via a broadcast join on the (tiny)
    # anchors frame (r12 — was a per-anchor literal map, the same
    # driver-side plan-construction tax as the ADC tables; the joined
    # column carries the identical doubles)
    qvecs = anchors.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    vecs = fan_out(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__ev"),
        row_norm(F.col(vec_col)).alias("__en"),
    )
    refined = shortlist.join(vecs, "neighbor_id").join(
        F.broadcast(qvecs), "query_id"
    )
    rescored = refined.select(
        "query_id",
        "neighbor_id",
        _pair_cos(dot("__qv", "__ev"), row_norm(F.col("__qv")), "__en").alias("cos_sim"),
    )
    return _rank_topk(rescored, "cos_sim", k)
