"""Stage-split profile for sim_ivfpq_topk (r12, VERDICT r11 task 2).

Times each stage of the composed query in isolation with the noop sink
(guide §1.4) so the 20 s registry cost decomposes into: coarse-quantizer
fit, assignment sample collect, driver codebook fit, code scan, ADC scan
+ top-k window, refine join, exact twin, recall compare.  Writes
ivfpq_stage_profile.json next to the repo artifacts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_pipeline_agent_spark.operators import similarity as S  # noqa: E402
from data_pipeline_agent_spark.plans.registry import table  # noqa: E402
from data_pipeline_agent_spark.session import get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ivfpq_stage_profile")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}

    def t(label):
        class _T:
            def __enter__(self):
                spark.sparkContext.setJobDescription(label)
                self.t0 = time.perf_counter()

            def __exit__(self, *a):
                out[label] = round(time.perf_counter() - self.t0, 3)
                spark.sparkContext.setJobDescription(None)
                print(f"{label}: {out[label]}", flush=True)

        return _T()

    emb = table(spark, sf_dir, "embeddings")
    # warm the scan/JIT so stage 1 doesn't absorb session start-up
    noop(emb)

    anchors = emb.where(F.col("vec_id") < 10)
    with t("anchors_collect"):
        a_rows = anchors.select("vec_id", "embedding").collect()

    with t("ivf_assign_fit_cold"):
        assigned, cdf = S.ivf_assign(emb, 16, 42, "vec_id", "embedding")
        cents = {
            int(r["cell"]): [float(x) for x in r["centroid"]]
            for r in cdf.collect()
        }

    with t("assign_sample_collect"):
        sample = assigned.orderBy("vec_id").limit(10_000).collect()

    m, kc, seed = 16, 16, 42
    with t("np_codebook_fit"):
        X = np.array(
            [
                [
                    float(x) - cents[int(r["__cell"])][i]
                    for i, x in enumerate(r["embedding"])
                ]
                for r in sample
            ],
            dtype=np.float64,
        )
        books = S._fit_books(X, m, kc, seed)

    from data_pipeline_agent_spark.session import fan_out

    cent_lit = F.lit([cents[i] for i in range(16)])
    coded = (
        fan_out(assigned)
        .withColumn(
            "__res",
            F.zip_with(
                F.col("embedding"),
                F.element_at(cent_lit, F.col("__cell") + 1),
                lambda x, y: x.cast("double") - y,
            ),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("__cell"),
            *[
                S._pq_code_expr("__res", books, s).alias(f"__c{s}")
                for s in range(m)
            ],
        )
    )
    with t("code_scan_noop"):
        noop(coded)

    with t("approx_full"):
        approx = S.ivfpq_topk(
            emb, anchors, k=5, n_centroids=16, nprobe=8, m=16, rerank=50
        )
        noop(approx)

    # warm KMeans memo means a second approx-only run shows the marginal
    # (post-fit) cost the bench's best-of-2 actually measures
    with t("approx_full_warm"):
        approx = S.ivfpq_topk(
            emb, anchors, k=5, n_centroids=16, nprobe=8, m=16, rerank=50
        )
        noop(approx)

    with t("exact_twin"):
        exact = S.brute_force_topk(emb, anchors, k=5).localCheckpoint(
            eager=True
        )
        noop(exact)

    with t("registry_query_total"):
        from data_pipeline_agent_spark.plans.queries_similarity import (
            sim_ivfpq_topk,
        )

        df = sim_ivfpq_topk(spark, sf_dir)
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("sig"),
        ).collect()
        spark.catalog.clearCache()

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ivfpq_stage_profile.json",
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
