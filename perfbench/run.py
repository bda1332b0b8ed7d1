"""End-to-end benchmark of the engine, split by layer on request.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

One process, one client in a closed loop, ``local[<cores>]`` with every
other setting at the engine default. The queries read the sf0.1 tables in
``data/sf0.1``; the seed permutes query order and seeds the uploaded CSV,
which is written under ``.bench_build/perfbench``. Every query is
materialized with the ``(count, bit_xor(xxhash64(all columns)))``
aggregate of ``bench.py`` and checked against ``ledger.json``. ``--trace 1`` tags every call with a job
group and reads its jobs and stages from the status store (``spans.py``).

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics of ``BENCHMARK.json`` untraced,
its per-layer metrics traced. The line before it is a ``# detail`` record
(pass samples, per-query and per-module medians). ``--write-ledger``
records the digests of the current tree instead.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = os.path.join(HERE, "data", "sf0.1")
LEDGER = os.path.join(HERE, "ledger.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
sys.path.insert(0, HERE)

from spans import Evicted, Tracer  # noqa: E402

CORPUS = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard_topk",
    "corpus_split_budget",
    "sim_knn_density",
    "sim_ivfpq_topk",
    "sim_pagerank_centrality",
    "text_bpe_merges",
    "text_tfidf_top_terms",
    "text_repetition_stats",
    "boilerplate_grams_topk",
    "source_token_stats",
]
# Seconds of one pass on a 4-core host. A run does
# ``max(1, --seconds // PASS_S)`` timed passes, so the work done depends on
# the flag only, never on how fast a run happens to be.
PASS_S = {"headline": 40.0, "corpus": 60.0}
# Every ``plans/queries_*.py`` module the two workloads use.
MODULES = (
    "queries_cleaning",
    "queries_corpus",
    "queries_curation",
    "queries_dedup",
    "queries_joins",
    "queries_relational",
    "queries_similarity",
    "queries_text",
    "queries_tpch_extra",
)
UPLOAD_TARGET = "churn"


def summarize(values: list[float]) -> dict:
    """Sample count, median, and the highest nearest-rank percentile with
    at least ten samples above it."""
    out = {"n": len(values), "median": median(values)}
    ordered = sorted(values)
    for p in (99, 95, 90, 75):
        rank = -(-p * len(values) // 100)  # ceil
        if len(values) - rank >= 10:
            out[f"p{p}"] = ordered[rank - 1]
            break
    return out


CSV_ROWS = 300


def write_csv(path: str, seed: int) -> str:
    """The reference's upload shape (the ``mixed.csv`` fixture of
    ``tests/test_pipeline.py``): numeric columns with NaNs, a categorical
    with NaNs, a datetime column, an all-null column and a binary string
    target (``churn``)."""
    rng = random.Random(seed)
    seg = ["gold", "silver", "bronze"]
    lines = ["id,age,income,segment,signup_date,ghost,churn"]
    for i in range(CSV_ROWS):
        age = "" if i % 12 == 0 else f"{rng.gauss(45, 15):.1f}"
        lines.append(
            f"{i},{age},{rng.lognormvariate(10, 1):.2f},{'' if i % 25 == 0 else seg[i % 3]},"
            f"2023-{1 + i % 12:02d}-{1 + i % 28:02d} 10:30:00,,"
            f"{'yes' if rng.random() < 0.3 else 'no'}"
        )
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def digest(df) -> list:
    """``bench._materialize``'s aggregate, returned instead of dropped."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("sig"),
    ).collect()[0]
    return [int(row["n"]), int(row["sig"] or 0)]


class Bench:
    """One session, the workload's operations, and what they recorded."""

    def __init__(self, spark, tables_dir: str, csv: str, tracer: Tracer | None):
        self.spark, self.tables_dir, self.csv, self.tracer = spark, tables_dir, csv, tracer
        self.attempted = self.failed = 0
        self.results: dict = {}  # name -> last output, for --write-ledger

    @contextmanager
    def span(self, group: str, rec: dict, key: str):
        out: dict = {}
        if self.tracer is None:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                out["s"] = time.perf_counter() - t0
                rec[key] = out
        else:
            with self.tracer.span(group, out):
                yield
            rec[key] = out

    def check(self, name: str, got, expect) -> bool:
        self.attempted += 1
        self.results[name] = got
        if expect is not None and got != expect:
            self.failed += 1
            print(f"MISMATCH {name}: got {got}, ledger {expect}", file=sys.stderr)
            return False
        return True

    def traced_s(self) -> float:
        """Seconds the tracer has spent on its own bookkeeping so far."""
        return self.tracer.spent_s if self.tracer else 0.0

    def query(self, name: str, expect) -> dict:
        from data_pipeline_agent_spark.plans import REGISTRY

        rec: dict = {"name": name, "module": REGISTRY[name].spark.__module__.rsplit(".", 1)[-1]}
        traced0, t0 = self.traced_s(), time.perf_counter()
        try:
            with self.span(f"{name}.build", rec, "build"):
                df = REGISTRY[name].spark(self.spark, self.tables_dir)
            with self.span(f"{name}.exec", rec, "exec"):
                got = digest(df)
        except Evicted:
            raise
        except Exception as e:  # counted as failed; the run goes on
            self.attempted += 1
            self.failed += 1
            print(f"FAILED {name}: {type(e).__name__}: {e}", file=sys.stderr)
            got = None
        finally:
            self.spark.catalog.clearCache()
        rec["s"] = time.perf_counter() - t0 - (self.traced_s() - traced0)
        if got is not None:
            self.check(name, got, expect)
        return rec

    def upload(self, expect) -> dict:
        """The product path up to training: read the uploaded CSV, clean
        it, render the visualizations (``run_pipeline`` before
        ``train_model``)."""
        from data_pipeline_agent_spark.operators.cleaning import clean_data
        from data_pipeline_agent_spark.pipeline.viz import generate_visualizations
        from data_pipeline_agent_spark.sources.readers import read_any

        rec: dict = {"name": "upload"}
        with self.span("upload.read_any", rec, "read_any"):
            df = read_any(self.spark, self.csv)
        with self.span("upload.clean_data", rec, "clean_data"):
            cleaned, msg = clean_data(df)
            cleaned = cleaned.cache()
            n_rows = cleaned.count()
        with self.span("upload.viz", rec, "viz"):
            figs = generate_visualizations(cleaned, UPLOAD_TARGET, n_rows=n_rows)
        cleaned.unpersist()
        got = {
            "rows": n_rows,
            "columns": sorted(cleaned.columns),
            "figures": [title for title, _ in figs],
            "message": bool(msg),
        }
        self.check("upload", got, expect)
        return rec


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM ``root_pid`` and
    every process the JVM started (Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, used = {}, {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        used[int(pid)] = sum(int(f) for f in fields[11:15]) / tick

    def under_jvm(pid: int) -> bool:
        while pid > 1:
            if pid == root_pid:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(v for pid, v in used.items() if under_jvm(pid)) + sum(os.times()[:2])


def steal_s() -> float:
    """Seconds the host withheld from this machine's CPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def per_pass(passes: list[list[dict]], key: str, field: str, scale: float = 1.0) -> float:
    """Median over passes of one span field summed over a pass's calls."""
    return median([sum(r[key][field] for r in p) * scale for p in passes])


def module_s(passes: list[list[dict]], module: str) -> float:
    """Median over passes of the time of the pass's queries from ``module``."""
    return median([sum((r["s"] for r in p if r["module"] == module), 0.0) for p in passes])


def end_to_end(setup: dict, host: dict) -> dict:
    return {"pass_cpu_s": median(host["cpu_s"]), "setup_s": setup["setup_s"]}


def layer_metrics(passes, walls, upload, setup: dict, host: dict, cores: int) -> dict:
    mb = 1 / (1024 * 1024)
    exec_s = per_pass(passes, "exec", "s")
    run_s = per_pass(passes, "exec", "run_ms", 1e-3)
    return {
        "pass_s": median(walls),
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "plans.build_s": per_pass(passes, "build", "s"),
        "plans.build_jobs": per_pass(passes, "build", "jobs"),
        **{f"plans.{m}.s": module_s(passes, m) for m in MODULES},
        "operators.exec_s": exec_s,
        "operators.jobs": per_pass(passes, "exec", "jobs"),
        "operators.stages": per_pass(passes, "exec", "stages"),
        "operators.tasks": per_pass(passes, "exec", "tasks"),
        "operators.overhead_s": exec_s - run_s / cores,
        "operators.executor_run_s": run_s,
        "operators.executor_cpu_s": per_pass(passes, "exec", "cpu_ns", 1e-9),
        "operators.gc_s": per_pass(passes, "exec", "gc_ms", 1e-3),
        "operators.input_mb": per_pass(passes, "exec", "input_b", mb),
        "operators.shuffle_read_mb": per_pass(passes, "exec", "shuffle_read_b", mb),
        "operators.shuffle_write_mb": per_pass(passes, "exec", "shuffle_write_b", mb),
        "operators.spill_mb": per_pass(passes, "exec", "spill_disk_b", mb),
        "sources.readers.read_any_s": upload["read_any"]["s"],
        "operators.cleaning.clean_data_s": upload["clean_data"]["s"],
        "pipeline.viz.generate_visualizations_s": upload["viz"]["s"],
        "driver.peak_rss_mb": host["peak_rss_mb"],
        "host.canary_s": median(host["canary_s"]),
        "host.steal_s": median(host["steal_s"]),
        "trace.overhead_s": median(host["trace_s"]),
    }


def detail(passes, walls, host: dict) -> dict:
    names = [r["name"] for r in passes[0]]
    return {
        "pass_s": {**summarize(walls), "samples": walls},
        "query_s": summarize([r["s"] for p in passes for r in p]),
        **host,
        "modules": {f"plans.{m}.s": module_s(passes, m) for m in MODULES},
        "queries": {n: median([r["s"] for p in passes for r in p if r["name"] == n]) for n in names},
    }


def units() -> dict:
    with open(SPEC) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def measure(b: Bench, names: list[str], ledger: dict, args) -> dict:
    """Set-up (a first canary), then the timed passes: the first call of
    each query in the session. A traced run then times the upload."""
    from bench import run_canary

    rng = random.Random(args.seed)
    t = time.perf_counter()
    run_canary(b.spark)
    out = {"setup_end": time.perf_counter()}
    out["warmup_s"] = out["setup_end"] - t

    tracer = b.tracer = Tracer(b.spark) if args.trace else None
    jvm_pid = b.spark._jvm.java.lang.ProcessHandle.current().pid()
    passes, walls = [], []
    host: dict = {"canary_s": [], "cpu_s": [], "steal_s": [], "trace_s": []}
    for _ in range(max(1, int(args.seconds // PASS_S[args.workload]))):
        host["canary_s"].append(run_canary(b.spark))
        before = (cpu_s(jvm_pid), steal_s(), tracer.spent_s if tracer else 0.0)
        t = time.perf_counter()
        passes.append([b.query(n, ledger[n]) for n in rng.sample(names, len(names))])
        wall = time.perf_counter() - t
        after = (cpu_s(jvm_pid), steal_s(), tracer.spent_s if tracer else 0.0)
        for key, a, z in zip(("cpu_s", "steal_s", "trace_s"), before, after):
            host[key].append(z - a)
        walls.append(wall - host["trace_s"][-1])
    host["canary_s"].append(run_canary(b.spark))
    out["upload"] = b.upload(ledger["upload"]) if tracer else None
    host["peak_rss_mb"] = peak_rss_mb(b.spark)
    return {**out, "passes": passes, "walls": walls, "host": host}


def write_ledger(b: Bench, names: list[str], ledger: dict) -> None:
    """Record the digests the current tree produces for ``names``."""
    b.upload(None)
    for n in names:
        b.query(n, None)
    ledger.update(b.results)
    with open(LEDGER, "w") as fh:
        json.dump(dict(sorted(ledger.items())), fh, indent=1)
        fh.write("\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(PASS_S), default="headline")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-ledger", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "data_pipeline_agent_spark", "session.py")):
        sys.exit(f"engine sources not found next to {HERE}")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(WORK, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ.pop("GROQ_API_KEY", None)
    sys.path.insert(0, ROOT)

    csv = write_csv(os.path.join(WORK, f"upload-{args.seed}.csv"), args.seed)

    import bench
    from data_pipeline_agent_spark.session import get_spark

    ledger = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    names = bench.HEADLINE if args.workload == "headline" else CORPUS
    missing = [n for n in [*names, "upload"] if n not in ledger]
    if missing and not args.write_ledger:
        sys.exit(f"no ledger entry for {missing}")

    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    b = Bench(spark, TABLES, csv, tracer=None)
    try:
        if args.write_ledger:
            write_ledger(b, names, ledger)
            return 0
        out = measure(b, names, ledger, args)
    finally:
        stop(spark)

    setup = {
        "setup_s": out["setup_end"] - T_START,
        "get_spark_s": get_spark_s,
        "warmup_s": out["warmup_s"],
    }
    if args.trace:
        metrics = layer_metrics(out["passes"], out["walls"], out["upload"], setup, out["host"], cores)
    else:
        metrics = end_to_end(setup, out["host"])
    unit = units()
    print("# detail " + json.dumps({
        "failed_frac": b.failed / max(b.attempted, 1),
        **detail(out["passes"], out["walls"], out["host"]),
    }))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
