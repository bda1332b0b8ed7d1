"""Pre-flight of the driver's correctness gate: run every registered query
in Spark AND its DuckDB oracle on the same parquet, compare row count,
column names, and order-insensitive values — the same contract the driver
records in CORRECTNESS_r{N}.json.

Runs at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
to rehearse the exact driver scale.
"""

from __future__ import annotations

import duckdb
import pytest

from data_pipeline_agent_spark.plans import REGISTRY
from data_pipeline_agent_spark.session import TABLES
from scripts.oracle_full import frame_sig
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, SF_DIR).toPandas()
    odf = duck.execute(spec.oracle).df()
    s_cols, s_rows = frame_sig(sdf)
    o_cols, o_rows = frame_sig(odf)
    assert s_cols == o_cols, f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"{name}: row count {len(s_rows)} vs {len(o_rows)}"
    if s_rows != o_rows:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


@pytest.fixture(scope="module")
def registry_frames(spark):
    """Every registered query built once, shared by the plan checks."""
    return {name: spec.spark(spark, SF_DIR) for name, spec in REGISTRY.items()}


def test_all_queries_have_unique_lowercase_aliases(registry_frames):
    for name, df in registry_frames.items():
        assert len(set(df.columns)) == len(df.columns), f"{name}: duplicate columns"


def test_no_query_reevaluates_row_invariants_per_element(registry_frames):
    """Lambda-invariance lint (tests/lambda_lint.py): no optimized plan may
    hold a subtree of 4+ nodes inside a lambda body that reads none of
    that lambda's variables. Spark interprets lambda bodies per element,
    so such a subtree (a copied regex split, a per-centroid slice, a
    per-vector scale, a rule lookup) re-runs for every element although
    its value is fixed per row. No allowlist."""
    from tests.lambda_lint import lambda_invariant_subtrees

    hits = {
        name: found
        for name, df in registry_frames.items()
        if (found := lambda_invariant_subtrees(df))
    }
    assert not hits, hits


def test_word_ngrams_binds_inline_tokens_once(spark):
    """word_ngrams over an inline ``tokens(lower(text))`` — the shape
    source_boilerplate_share uses behind its localCheckpoint, where the
    registry lint cannot see it — keeps the split out of the gram lambda."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.functions.text_hash import tokens, word_ngrams
    from tests.lambda_lint import lambda_invariant_subtrees

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.select(word_ngrams(tokens(F.lower(F.col("text"))), 5).alias("g"))
    assert lambda_invariant_subtrees(df) == []


def test_driver_contract_shape():
    """The adapter the driver consumes: every oracle key names a query,
    every oracle is non-empty SQL text, every query is callable."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(isinstance(s, str) and s.strip() for s in os_.values())
    assert all(callable(f) for f in qs.values())
    # r5: the last rows-only entries were converted to contract oracles —
    # every registered query now carries a DuckDB oracle twin
    assert len(qs) == len(os_), "a registered query lost its oracle"
