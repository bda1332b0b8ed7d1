"""The iterative loops (connected components, PageRank, BPE training)
release every frame they cache except the ones they return.

Counted with the SparkContext's persistent-RDD registry: a
``localCheckpoint`` frame stays registered there until the RDD under
its plan is unpersisted, which ``DataFrame.unpersist()`` does not do.
"""

import pytest

from data_pipeline_agent_spark.operators.bpe import bpe_train
from data_pipeline_agent_spark.operators.graph import connected_components, pagerank


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _chain(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )


def _cc_loop(spark):
    return connected_components(_chain(spark), driver_edges=0)


def _cc_driver(spark):
    return connected_components(_chain(spark))


def _pagerank(spark):
    e = spark.createDataFrame([(i, (i + 1) % 8) for i in range(8)], "src long, dst long")
    n = spark.createDataFrame([(i,) for i in range(8)], "node long")
    return pagerank(e, n, n_nodes=8, iters=3)


def _bpe(spark):
    docs = spark.createDataFrame(
        [(i, "lower lowest newer newest wider widest") for i in range(4)],
        "doc_id long, text string",
    )
    return bpe_train(docs, n_merges=6)


@pytest.mark.parametrize(
    "call, kept",
    [(_cc_loop, 1), (_cc_driver, 0), (_pagerank, 1), (_bpe, 0)],
    ids=["cc_loop", "cc_driver", "pagerank", "bpe_train"],
)
def test_loops_release_all_but_returned_frames(spark, call, kept):
    before = _persisted(spark)
    out = call(spark)
    rows = out.collect()
    assert rows
    # new ids only: the context cleaner may drop an earlier test's
    # unreferenced RDDs at any time
    assert len(_persisted(spark) - before) == kept
