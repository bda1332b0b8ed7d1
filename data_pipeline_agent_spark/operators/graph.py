"""Connected components over a duplicate-pair table.

LSH/SimHash dedup emits *pairs* (A~B, B~C); a training pipeline needs the
transitive closure — {A,B,C} is ONE duplicate cluster with one survivor.
(The reference has no dedup surface at all, SURVEY.md §2.6; this is
north-star extension work on top of operators/dedup.py.)

Algorithm: iterative min-label propagation with pointer jumping over the
symmetrized edge list. Each round every node takes the min of its own
label and its neighbors' labels (one equi-join + one groupBy-min), then
shortcuts its label to its label's label (one more join keyed on the
label) — the classic hash-min + path-halving combination, so a component
of diameter D converges in O(log D) rounds instead of O(D). Everything
is joins and aggregates keyed on node/label ids, fully distributed,
never materializing anything per-component. ``max_iter=25`` therefore
bounds the reachable diameter at ~2^25 — far past any duplicate graph —
and the bound is asserted, not silently wrong (see ``strict``).

Each round ends with an eager ``localCheckpoint``: it truncates the plan
lineage (otherwise the DAG doubles every round and Catalyst analysis cost
explodes) and stores only the (node, comp) table, which is one row per
distinct node in the pair table — tiny relative to the corpus.

Fault-tolerance trade-off (applies to every eager localCheckpoint in this
package): truncated lineage means a lost executor's blocks cannot be
recomputed — the job fails and must be rerun, where a persist would
recover transparently. Accepted because every checkpointed frame here is
a small derived table (labels, code tables, variant explosions) whose
whole-job rerun costs far less than the corpus scan; deployments on
preemptible nodes should configure ``setCheckpointDir`` and use reliable
``checkpoint()`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_agent_spark.session import local_frame, release


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strict: bool = True,
    rows_per_partition: int = 50_000,
    driver_edges: int = 50_000,
) -> DataFrame:
    """Return (node, comp) where comp is the MIN node id reachable from
    ``node`` over the undirected edge set — a deterministic component
    label. Only nodes that appear in ``edges`` are returned (isolated
    rows of the corpus are not duplicate-cluster members by definition).

    ``strict=True`` raises if the label table has not converged after
    ``max_iter`` rounds instead of returning partial components.

    ``driver_edges`` (r12, guide §5 — the driver does BOUNDED work):
    a post-threshold duplicate graph that fits one partition's work
    target runs union-find on the driver instead of the O(log D)
    distributed join rounds. Measured at sf0.1 (256 edges): the closure
    loop costs ~1.6 s — two propagate/halve rounds plus the label-sum
    convergence scalars, each round ~9 AQE stage-jobs of pure scheduling
    on a label table of a few hundred rows — while collecting the
    (already-materialized) edge list and labeling it in Python is
    O(E α(E)) with ~10 ms of driver CPU. The gate is the edge count the
    width sizing already computed; at 50k edges the collect is ~10 MB
    (the same bounded-collect regime as the anchor/codebook fits) and
    past it the distributed loop runs unchanged — a 100 TB near-dup
    graph never collects. Labels are identical by construction: min
    reachable id, the exact fixpoint the iterative closure converges to
    (pinned by tests/test_graph.py::test_cc_driver_path_matches_loop).
    """
    # Materialize the projected pair plan ONCE before symmetrizing: the
    # union's two branches would otherwise each re-run the (often
    # expensive) upstream candidate-pair computation — measured 2x the
    # whole LSH/semantic pair stage per CC call at sf0.1.
    # lazy checkpoint — the width-sizing count below is the materializing
    # action (one job instead of two, r12; same truncation semantics)
    e_in = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=False
    )
    # Closure shuffle-width sizing (r7, de-globalized r8): each round
    # materializes via eager localCheckpoint, and RDD materialization
    # compiles its plan WITHOUT AQE's post-shuffle coalescing — so every
    # one of the O(log D) rounds would run its joins/aggregates at the
    # session's full static shuffle width no matter how small the label
    # table is. Post-threshold duplicate graphs are orders of magnitude
    # smaller than the corpus (sf0.1 semantic pairs: 292 edges from 2000
    # vectors; measured ~0.5 s/round at width 32 vs ~0.1 s at width 1 on
    # local[32]), so size the closure's shuffles from the ACTUAL edge
    # count — about ``rows_per_partition`` symmetrized edges per
    # partition, never wider than the session's static setting (a
    # billion-edge graph on a real cluster keeps full width; only the
    # small-graph case narrows). The target is CPU-work-sized, not
    # memory-sized: closure rounds are join/agg CPU over the label table,
    # so partitions far above ~50k rows idle the other cores (measured on
    # the 25k-edge sf10 minhash graph: 2.5 s at a 500k-row target/width 1
    # vs 1.6 s at 50k/width 2; the 292-edge sf0.1 graph stays width 1
    # either way). r8 (verdict task 3): the width is applied as explicit
    # ``repartition(width, key)`` on each closure frame — scoped to THIS
    # plan — instead of mutating the session-global shuffle-partitions
    # conf, which silently narrowed any plan compiled concurrently in the
    # same session (parallel job thread, streaming micro-batch) for the
    # duration of the closure. Each repartition IS the stage's shuffle:
    # the downstream join/aggregate sees its clustering requirement
    # already satisfied at ``width`` and adds no second exchange.
    try:
        n_edges = e_in.count()
        if n_edges <= driver_edges:
            return _cc_driver(e_in)
        width = max(1, (2 * n_edges + rows_per_partition - 1) // rows_per_partition)
        try:
            static_width = int(
                edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            static_width = None  # non-integer conf (e.g. 'auto') -> no cap
        if static_width is not None:
            width = min(width, static_width)
        return _cc_rounds(e_in, max_iter, strict, width)
    finally:
        # both paths have materialized what they built from e_in: the
        # driver path holds its rows, the loop path its final labels
        release(e_in)


def _cc_driver(e_in: DataFrame) -> DataFrame:
    """Union-find (path compression) over a driver-collected edge list —
    only reached through the ``driver_edges`` gate, so the collect is
    bounded (~16 B/edge). Labels each node with the MIN id of its
    component: exactly the fixpoint ``_cc_rounds`` converges to, but in
    one O(E α(E)) driver pass instead of O(log D) join rounds whose
    per-round scheduling dwarfs the compute at this size."""
    from pyspark.sql.types import StructField, StructType

    # the width-sizing count already materialized the lazy checkpoint,
    # so this collect reads cached blocks — no recompute of the pair gen
    rows = e_in.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ru, rv = find(row[0]), find(row[1])
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    out = [(n, comp_min[find(n)]) for n in parent]
    ut = e_in.schema["u"].dataType
    schema = StructType(
        [StructField("node", ut, True), StructField("comp", ut, True)]
    )
    return local_frame(e_in.sparkSession, out, schema)


def _cc_rounds(e_in: DataFrame, max_iter: int, strict: bool, width: int) -> DataFrame:
    # NOT routed through session.plain_loop_session (r12, measured): the
    # BPE trainer's AQE-off child session was tried here and LOST
    # 0.2-0.5 s per query at sf0.1 (corpus_split_assign_leakfree
    # 2.69 -> 2.97, dedup_minhash_groups 2.21 -> 2.76, min-of-3 in one
    # quiet canary-bracketed window): unlike the trainer's pure
    # aggregate rounds, each closure round runs two JOINS against the
    # label table, and AQE's runtime size check converts them to
    # broadcast joins at test scale (and correctly keeps them shuffled
    # when the label table is node-scale) — a decision a static plan
    # cannot make. AQE stays on for this loop.
    e = (
        e_in.union(e_in.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(width, "u", "v")  # distinct's clustering, at width
        .distinct()
        .repartition(width, "u")  # the propagate join's key layout
        .persist()
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .repartition(width, "node")  # distinct's clustering, at width
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=False)  # materialized by prev_sum below
    )

    # Convergence test: labels only ever DECREASE, so the exact sum of all
    # labels is strictly monotone until the fixpoint — comparing one
    # decimal(38,0) scalar per round replaces a join of consecutive label
    # tables + count (a shuffle join per round at scale). Decimal keeps the
    # sum exact for any realistic id space (double would lose ulps past
    # 2^53 and could falsely report convergence).
    def _label_sum(lbl: DataFrame):
        return lbl.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first()["s"]

    prev_sum = _label_sum(labels)
    converged = False
    try:
        for _ in range(max_iter):
            # labels is a checkpointed RDD each round: re-cluster it on the
            # join key at the closure width so the propagate join compiles
            # co-partitioned with e (no session-width exchange on either side)
            lbl = labels.repartition(width, "node")
            prop = e.join(lbl, e.u == lbl.node).select(
                F.col("v").alias("node"), F.col("comp")
            )
            new = (
                labels.unionByName(prop)
                .repartition(width, "node")  # the min-agg's shuffle, at width
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            # pointer jumping (path halving): comp <- label(comp). Every comp
            # value is itself a node id present in the label table (labels
            # start as identity and only ever take mins over node ids), so
            # the lookup join always hits; taking it each round doubles the
            # shortcut depth and turns O(diameter) convergence into O(log).
            l2 = new.select(F.col("node").alias("c_node"), F.col("comp").alias("c_comp"))
            jl = new.repartition(width, "comp")  # lookup-join layout, at width
            # lazy checkpoint (r12): the round's convergence-test aggregate is
            # the materializing action, so each round runs ONE job instead of
            # an eager-checkpoint job followed by the label-sum job — same
            # lineage truncation, half the driver round-trips
            new = (
                jl.join(l2, jl.comp == l2.c_node, "left")
                .select(
                    "node",
                    F.least(F.col("comp"), F.coalesce("c_comp", "comp")).alias("comp"),
                )
                .localCheckpoint(eager=False)
            )
            new_sum = _label_sum(new)
            release(labels)  # new has materialized: its input can go
            labels = new
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    finally:
        release(e)
    if strict and not converged:
        release(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds ~2^max_iter, or labels are still "
            "moving; raise max_iter)"
        )
    return labels


def duplicate_groups(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(doc_id, group_id, group_size, is_kept) for every document that is
    a member of a duplicate cluster: group_id = min doc id in the cluster
    (the survivor), keep-first semantics matching exact_duplicates."""
    from pyspark.sql import Window

    cc = connected_components(pairs, src=src, dst=dst)
    w = Window.partitionBy("comp")
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("group_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("node") == F.col("comp")).alias("is_kept"),
    )


PR_UNIT = 10**12  # fixed-point scale: 1.0 of PageRank mass = 10^12 units
PR_DAMP_PCT = 85  # damping factor as an integer percentage (d = 0.85)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    iters: int = 3,
    damping_pct: int = PR_DAMP_PCT,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """FIXED-POINT integer PageRank: ``iters`` synchronous power
    iterations over an edge list, every quantity a BIGINT count of
    10^-12 rank units and every operation integer (floor division by
    out-degree, integer percentage damping). Page et al. 1999 semantics
    with two standard simplifications, chosen for cross-engine
    exactness: dangling mass is dropped (not redistributed) and the
    (1-d)/N teleport term uses the same floored base every iteration.

    Why fixed-point: float PageRank sums contributions in shuffle order,
    so two engines (or two runs) disagree in ulps and a 6-dp rounding of
    an iterated value can land on opposite sides of a midpoint — the
    knn-density trap, but compounding per iteration. Integer arithmetic
    is associative: the DuckDB oracle twin replays the identical
    iterations and must match the 12-digit unit counts EXACTLY, making
    this the registry's only iterative-algorithm query with a bit-exact
    (not contract) oracle.

    Scale shape: per iteration, one equi-join of the edge list to the
    node-sized rank table on ``src`` and one sum-aggregate keyed on
    ``dst`` — the textbook distributed PageRank step, linear in |E| per
    iteration with map-side partial sums; the rank table is
    localCheckpoint-ed per round (same lineage-truncation rationale as
    connected_components above). ``n_nodes`` comes from the caller
    (parquet footer metadata via registry.table_num_rows — no counting
    scan).
    """
    # fail-loud (ADVICE r9): n_nodes = 0 would raise a bare
    # ZeroDivisionError below, and an understated n_nodes silently
    # inflates every node's base mass (the oracle twin, fed the true
    # count, would diverge) — reject both with an actionable message.
    if n_nodes < 1:
        raise ValueError(
            f"pagerank: n_nodes must be >= 1, got {n_nodes} — pass the "
            "node-table row count (e.g. plans.registry.table_num_rows)"
        )
    base = PR_UNIT // n_nodes
    teleport = ((100 - damping_pct) * base) // 100
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    e = (
        edges.join(out_deg, src)
        .select(F.col(src).alias("__s"), F.col(dst).alias("__d"), "__deg")
        .persist()
    )
    ranks = nodes.select(
        F.col(node_col).alias("__n"), F.lit(base).cast("long").alias("__r")
    ).localCheckpoint(eager=False)
    # The loop needs NO driver scalar between rounds (fixed iteration
    # count, no convergence test), so the per-round checkpoints are LAZY
    # and only the final frame materializes eagerly: ONE Spark job
    # computes all ``iters`` rounds — each lazy checkpoint still caches
    # and truncates lineage as the job passes through it — instead of
    # one eager-checkpoint job per round (r12, guide §1.2; measured on
    # sim_pagerank_centrality: driver jobs down by iters-1). The replaced
    # frames are released only after that final job, like the BPE
    # trainer's ``stale`` list. The final EAGER checkpoint matters beyond
    # truncation: the caller consumes the rank table from multiple
    # subtrees (degree joins + the mass-contract aggregate), and an
    # unmaterialized plan would recompute every round per consumer.
    stale = [ranks]
    try:
        for _ in range(iters):
            contrib = (
                e.join(ranks, e["__s"] == ranks["__n"])
                .select("__d", F.expr("__r div __deg").alias("__c"))
                .groupBy("__d")
                .agg(F.sum("__c").alias("__sum"))
            )
            nxt = (
                ranks.select("__n")
                .join(contrib, ranks["__n"] == contrib["__d"], "left")
                .select(
                    "__n",
                    (
                        F.lit(teleport)
                        + F.expr(
                            f"({damping_pct} * coalesce(__sum, 0L)) div 100"
                        )
                    ).cast("long").alias("__r"),
                )
                .localCheckpoint(eager=False)
            )
            stale.append(nxt)
            ranks = nxt
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        release(e, *stale)  # materialized above — parents can go
    return ranks.select(
        F.col("__n").alias(node_col), F.col("__r").alias("pr_u")
    )
