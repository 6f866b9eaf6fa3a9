#!/usr/bin/env python
"""Standalone probe for the d3_ivf_topk timing (round-5 BENCH regression:
0.503s r04 → 1.005s r05, spread 0.522s). Isolates, best-of-N each:

  build        — ivf_build + persist + materialize (the first-call cost)
  query_warm   — ivf_topk against the prebuilt/persisted index
  probe_cells  — just the centroid scoring + nprobe selection
  rerank       — just the probed-cell rerank scan
  bench_shape  — the exact bench loop (d3_ivf_topk 3×, noop sink), whose
                 run 1 pays build; emitted per-run so cold-vs-warm cost
                 attribution is direct

Usage: python tools/probe_ivf.py [sf_dir] [n_iter]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def best_of(n, fn):
    secs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        secs.append(time.perf_counter() - t0)
    return round(min(secs), 3), [round(s, 3) for s in secs]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_iter = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import functions as F

    from cdc2vec_spark.io import load_table
    from cdc2vec_spark.operators import similarity as S
    from cdc2vec_spark import session
    from cdc2vec_spark.session import get_spark

    spark = get_spark("probe_ivf")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {"sf_dir": sf_dir}

    e = load_table(spark, sf_dir, "embeddings")
    e.count()  # warm scan/file listing

    # --- build (the first-call cost the cache amortizes) ---
    def build_once():
        cents, assigned = S.ivf_build(e)
        cents, assigned = cents.persist(), assigned.persist()
        assigned.count()
        cents.count()
        cents.unpersist()
        assigned.unpersist()

    out["build"], out["build_runs"] = best_of(n_iter, build_once)

    # persistent index for the warm-path probes
    cents, assigned = S.ivf_build(e)
    cents, assigned = cents.persist(), assigned.persist()
    assigned.count()
    cents.count()
    qv = S._query_vector(e, 0, "vec_id", "embedding")

    out["query_warm"], out["query_warm_runs"] = best_of(
        n_iter,
        lambda: S.ivf_topk(e, query_vec_id=0, k=10, nprobe=4, index=(cents, assigned))
        .write.format("noop").mode("overwrite").save(),
    )

    def probe_cells():
        (
            S.cosine_scores(cents, qv)
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(4)
            .write.format("noop").mode("overwrite").save()
        )

    out["probe_cells"], out["probe_cells_runs"] = best_of(n_iter, probe_cells)

    probed = S._probe_cells_driver(cents, qv, 4, "vec_id", "embedding")

    def rerank():
        src = assigned.where(F.col("cell").isin(probed) & (F.col("vec_id") != 0))
        (
            S.cosine_scores(src, qv)
            .select("vec_id", F.round("sim", 6).alias("sim"))
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(10)
            .write.format("noop").mode("overwrite").save()
        )

    out["rerank"], out["rerank_runs"] = best_of(n_iter, rerank)

    # _query_vector is a filtered scan + collect of one row
    out["query_vector"], out["query_vector_runs"] = best_of(
        n_iter, lambda: S._query_vector(e, 0, "vec_id", "embedding")
    )

    cents.unpersist()
    assigned.unpersist()

    # --- the exact bench shape (fresh cache; run 1 pays build+persist) ---
    session.clear()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        S.d3_ivf_topk(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.perf_counter() - t0, 3))
    out["bench_shape_runs"] = runs
    out["bench_shape_min"] = min(runs)
    session.clear()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
