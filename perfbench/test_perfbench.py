"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
from data_pipeline_agent_spark.plans import REGISTRY  # noqa: E402
from data_pipeline_agent_spark.plans.registry import QuerySpec  # noqa: E402


def test_summarize_median_and_highest_supported_percentile():
    assert run.summarize([3.0]) == {"n": 1, "median": 3.0}
    assert run.summarize([4.0, 1.0]) == {"n": 2, "median": 2.5}
    forty = [float(v) for v in range(40, 0, -1)]
    assert run.summarize(forty) == {"n": 40, "median": 20.5, "p75": 30.0}
    hundred = [float(v) for v in range(1, 101)]
    assert run.summarize(hundred) == {"n": 100, "median": 50.5, "p90": 90.0}
    assert run.summarize([1.0] * 1000)["p99"] == 1.0


class _Catalog:
    def __init__(self):
        self.cleared = 0

    def clearCache(self):
        self.cleared += 1


def _bench(monkeypatch, queries: dict):
    monkeypatch.setattr(run, "digest", lambda df: df)
    for name, fn in queries.items():
        monkeypatch.setitem(REGISTRY, name, QuerySpec(name, "", fn))
    spark = SimpleNamespace(catalog=_Catalog())
    return run.Bench(spark, "tables", "upload.csv", tracer=None)


def _raise(spark, sf_dir):
    raise ValueError("boom")


def test_failed_counts_raised_query_and_wrong_digest(monkeypatch):
    b = _bench(monkeypatch, {
        "t_ok": lambda spark, sf_dir: [3, 7],
        "t_wrong": lambda spark, sf_dir: [3, 8],
        "t_raises": _raise,
    })
    recs = [b.query("t_ok", [3, 7]), b.query("t_wrong", [3, 7]), b.query("t_raises", [1, 1])]
    assert (b.attempted, b.failed) == (3, 2)
    assert b.spark.catalog.cleared == 3  # cache released on every path
    assert all(r["s"] >= 0 for r in recs)
    assert {"build", "exec"} <= recs[0].keys()


def test_failed_counts_wrong_upload_result(monkeypatch):
    b = _bench(monkeypatch, {})
    good = {"rows": 300, "columns": ["age"], "figures": ["Dataset Overview"], "message": True}
    assert b.check("upload", good, dict(good))
    assert not b.check("upload", {**good, "figures": []}, good)
    assert (b.attempted, b.failed) == (2, 1)


def _rec(name, s, **counters):
    span = {"s": s, **dict.fromkeys(spans.COUNTERS, 1), **counters}
    return {"name": name, "module": "queries_text", "s": 2 * s, "build": span, "exec": span}


def test_emitted_metric_names_match_benchmark_json():
    with open(run.SPEC) as fh:
        spec = json.load(fh)
    passes = [[_rec("a", 1.0), _rec("b", 2.0)], [_rec("b", 4.0), _rec("a", 1.0)]]
    upload = {k: {"s": 0.5} for k in ("read_any", "clean_data", "viz")}
    setup = {"setup_s": 9.0, "get_spark_s": 6.0, "warmup_s": 3.0}
    host = {"canary_s": [0.2, 0.3], "cpu_s": [9.0, 7.0, 8.0], "steal_s": [0.0], "trace_s": [0.1],
            "peak_rss_mb": 1000.0}
    layer = run.layer_metrics(passes, [3.0, 5.0], upload, setup, host, 4)
    e2e = run.end_to_end(setup, host)
    assert list(layer) == [m["name"] for m in spec["per_layer"]]
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert e2e == {"pass_cpu_s": 8.0, "setup_s": 9.0}
    assert layer["pass_s"] == 4.0
    assert layer["plans.build_s"] == 4.0  # median of pass sums 3 and 5
    assert layer["plans.queries_text.s"] == 8.0  # median of pass sums 6 and 10
    assert layer["plans.queries_joins.s"] == 0.0
    assert layer["operators.overhead_s"] == 4.0 - 2 * 1e-3 / 4


class _SlowTracer:
    """Spends 50 ms of bookkeeping after each span's clock stops."""

    spent_s = 0.0

    @contextmanager
    def span(self, group, out):
        yield
        out["s"] = 0.0
        time.sleep(0.05)
        self.spent_s += 0.05


def test_query_time_excludes_tracer_bookkeeping(monkeypatch):
    b = _bench(monkeypatch, {"t_ok": lambda spark, sf_dir: [3, 7]})
    b.tracer = _SlowTracer()
    rec = b.query("t_ok", [3, 7])
    assert b.tracer.spent_s == pytest.approx(0.1)
    assert 0 <= rec["s"] < 0.05


class _Missing(Exception):
    def __str__(self):
        return "java.util.NoSuchElementException"


def _tracer(jobs: dict, stages: dict, next_ids):
    def fetch(table):
        def get(key):
            if key not in table:
                raise _Missing()
            return table[key]
        return get

    t = spans.Tracer.__new__(spans.Tracer)
    t._bus = SimpleNamespace(waitUntilEmpty=lambda: None)
    t._store = SimpleNamespace(job=fetch(jobs), lastStageAttempt=fetch(stages))
    t._sched = SimpleNamespace(nextJobId=lambda: next(next_ids))
    t._seq = SimpleNamespace(asJava=list)
    t._sc = SimpleNamespace(setJobGroup=lambda *a: None)
    t.spent_s = 0.0
    return t


def _job(group, stage_ids):
    tag = SimpleNamespace(isDefined=lambda: True, get=lambda: group)
    return SimpleNamespace(jobGroup=lambda: tag, stageIds=lambda: stage_ids)


def _stage(tasks):
    getters = {g: (lambda v=tasks: v) for g in spans._STAGE_FIELDS}
    return SimpleNamespace(**getters)


def test_span_sums_stage_counters_once_per_stage():
    jobs = {5: _job("q", [1, 2]), 6: _job("q", [2, 3])}
    t = _tracer(jobs, {1: _stage(4), 2: _stage(4), 3: _stage(4)}, iter([5, 7]))
    out: dict = {}
    with t.span("q", out):
        pass
    assert (out["jobs"], out["stages"], out["tasks"]) == (2, 3, 12)


def test_span_fails_loudly_on_evicted_job_or_stage():
    t = _tracer({6: _job("q", [1])}, {1: _stage(1)}, iter([5, 7]))
    with pytest.raises(spans.Evicted, match="job 5"):
        with t.span("q", {}):
            pass
    t = _tracer({5: _job("q", [9])}, {}, iter([5, 6]))
    with pytest.raises(spans.Evicted, match="stage 9"):
        with t.span("q", {}):
            pass
