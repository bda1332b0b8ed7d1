"""SparkSession factory.

Local test shape is ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (default
32), but every config here is chosen to also hold on a real multi-executor
cluster: AQE on (runtime coalesce + skew-join splitting), Arrow on (fast
pandas interchange for the few driver-side renders), UTC session timezone
(determinism of datetime expansion vs the DuckDB oracle).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "data_pipeline_agent_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    on a real cluster this would be ~2-3x total cores; AQE coalesces
    post-shuffle partitions at runtime either way, so the static value is
    only an upper bound.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def plain_loop_session(spark: SparkSession) -> SparkSession:
    """Child session (same SparkContext, cached data and global temp
    views; its OWN SQLConf) with AQE disabled — for iterative
    bounded-frame driver loops (BPE merge rounds, CC closure rounds).

    AQE's query-stage re-optimization materializes every shuffle stage
    as its own job wave plus a driver re-planning round-trip; an
    iterative loop pays that per shuffle PER ROUND. The loops routed
    here run O(rounds) shuffles over label/vocab tables whose width
    they already size explicitly from row counts (exactly the
    coalescing AQE would have picked), so re-optimization buys nothing
    and its latency is the dominant per-round cost at test scale
    (measured at sf0.1: 16-merge BPE train 3.2 s -> 2.6 s, driver job
    count 110 -> 54) and a driver-round-trip tax per round on a real
    cluster. A CHILD session scopes the flag to plans explicitly routed
    through it — the caller's session, and any plan compiled
    concurrently from another thread (the r8 hazard that forbids
    mutating session-global conf mid-loop), keeps AQE for real
    scans/joins/aggregations.
    """
    s2 = getattr(spark, "_graft_plain_session", None)
    if s2 is None:
        s2 = spark.newSession()
        s2.conf.set("spark.sql.adaptive.enabled", "false")
        spark._graft_plain_session = s2
    return s2


_REROOT_SEQ = itertools.count()


def reroot(df, session: SparkSession):
    """Re-analyze ``df``'s logical plan in ``session`` (a sibling of its
    own — same SparkContext required). Bridge is a uniquely-named global
    temp view, dropped immediately after forcing analysis so nothing
    accumulates in the global catalog; the returned frame's analyzed
    plan survives the drop. Used to route a checkpointed loop frame into
    ``plain_loop_session`` and the loop's result back out."""
    name = f"__graft_reroot_{next(_REROOT_SEQ)}"
    df.createOrReplaceGlobalTempView(name)
    out = session.table(f"global_temp.{name}")
    out.schema  # force analysis before the view entry disappears
    df.sparkSession.catalog.dropGlobalTempView(name)
    return out


def release(*frames) -> None:
    """Free the blocks each frame holds.

    ``DataFrame.unpersist()`` only drops a cache-manager entry, so on a
    ``localCheckpoint`` frame it frees nothing: the rows live in the RDD
    under the plan's ``LogicalRDD`` leaf. For such a frame (also behind
    the ``SubqueryAlias``/``View`` wrappers ``reroot`` adds) that RDD is
    unpersisted; any other frame gets ``unpersist()``. Release a frame
    only once whatever was built from it has materialized."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        while plan.nodeName() in ("SubqueryAlias", "View"):
            plan = plan.children().apply(0)
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()


def fan_out(df, min_partitions: int | None = None):
    """Widen a narrow scan before CPU-heavy per-row work (shingling,
    hashing, vector math).

    Parquet splits on row-group boundaries, so a small single-row-group
    file scans as ONE task and pins the whole downstream expression
    pipeline to one core (measured 5x on the sf0.1 contamination check).
    On a real cluster reading 100 TB the scan already has >= cores splits
    and this is a no-op — the condition keeps the extra round-robin
    exchange off the scale path.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Fitted models (coarse quantizers, PQ codebooks, frozen tokenizers),
# one entry per fit; see fit_memo.
_FIT_MEMO: dict = {}


def fit_memo(df, dials: tuple, fit):
    """``fit()``, run once per (application, ``df``'s plan, ``dials``).

    Every fit memoized here is deterministic in its input plan and dials
    (samples are ORDER BY id, seeds are dials), so a hit returns exactly
    what a refit would: a production index trains once and every probe
    reuses the model. ``dials`` starts with a name for the kind of fit, so
    two fits over one frame never share a key. Entries are small (a few
    centroid vectors, codebooks, a vocab-sized checkpointed frame) and
    are never evicted."""
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash(), *dials)
    if key not in _FIT_MEMO:
        _FIT_MEMO[key] = fit()
    return _FIT_MEMO[key]


def local_frame(spark: SparkSession, rows, schema):
    """``spark.createDataFrame(rows, schema)`` for a small driver-side row
    list, built without Python worker tasks.

    A list goes through ``parallelize`` plus a ``map(lambda x: x)`` that
    ``RDD._reserialize`` adds, so every call starts Python workers (2-3 s
    of CPU per call on a 4-core host). The same rows as a ``pyarrow``
    table are decoded by the JVM itself. Values are converted with the
    schema's own ``toInternal`` (dates to days, timestamps to epoch
    microseconds), which is exactly Arrow's storage for those types, so
    the frame holds the values the list path would."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    cols = list(zip(*(struct.toInternal(r) for r in rows))) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=to_arrow_type(f.dataType)) for f, c in zip(struct, cols)],
        names=struct.names,
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Load every test table as a DataFrame dict and register temp views.

    events.parquet needs nanosecond-timestamp handling — delegated to
    plans.registry.events_table so there is exactly one implementation.
    """
    from data_pipeline_agent_spark.plans.registry import events_table

    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = events_table(spark, sf_dir) if name == "events" else spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
