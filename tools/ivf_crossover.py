"""Measure the brute-force vs IVF ANN crossover (VERDICT r4 next #2).

Synthesizes a vector corpus at several sizes (deterministic perturbed
replicas of embeddings.parquet), then times, per size:

- brute-force cosine top-k (the exact baseline), and
- the IVF probe path with the index FULLY prebuilt (codebook via
  ``ivf_train`` + inverted lists via ``ivf_index``, both untimed — a
  production index is built once and amortized over every batch),

plus IVF recall@k against the brute-force truth on the same queries.
Runs each timing twice and keeps the minimum (shared-tenant box; the
min is the less-contended estimate).  Prints one JSON line per size.

Usage: python tools/ivf_crossover.py [sf_dir] [sizes_csv]
Defaults: /root/testdata/sf0.1, 50000,200000,800000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

K = 10
N_CELLS = 256
N_PROBE = 32  # 1/8 of cells scanned; 16 probes left recall at 0.57 on
              # this corpus (perturbed replica clusters straddle cells)
N_QUERIES = 100


def synthesize_corpus(spark, sf_dir: str, n_vectors: int):
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_base = base.count()
    replicate = max(1, (n_vectors + n_base - 1) // n_base)
    rep = base.withColumn(
        "copy", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
    ).select(
        (
            F.col("vec_id")
            + F.col("copy").cast("long") * F.lit(10_000_000).cast("long")
        ).alias("vec_id"),
        "embedding",
        "copy",
    )
    jitter_phase = (
        F.col("vec_id").cast("double") * 0.000137
    )
    perturbed = rep.select(
        "vec_id",
        F.transform(
            "embedding",
            # NB: two-param transform lambda receives (element, INDEX)
            lambda x, i: (
                x
                + F.lit(0.25)
                * F.sin(jitter_phase + i.cast("double") * 0.37)
            ).cast("float"),
        ).alias("embedding"),
    )
    # limit() collapses to ONE partition — rebalance before persist or
    # every downstream stage runs single-threaded
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    return perturbed.limit(n_vectors).repartition(cpus * 2)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sizes = [
        int(s)
        for s in (
            sys.argv[2] if len(sys.argv) > 2 else "50000,200000,800000"
        ).split(",")
    ]

    from web_content_extraction_benchmark_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
        ivf_train,
    )
    from web_content_extraction_benchmark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("ivf-crossover", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    for n in sizes:
        log(f"[ivf-crossover] size {n}: synthesizing")
        corpus = synthesize_corpus(spark, sf_dir, n).persist()
        n_corpus = corpus.count()
        queries = corpus.filter(
            (F.col("vec_id") < 10_000_000) & (F.col("vec_id") % 20 == 0)
        ).limit(N_QUERIES).persist()
        n_queries = queries.count()

        # index build — untimed (amortized over batches in production)
        log(f"[ivf-crossover] size {n}: building index")
        t0 = time.perf_counter()
        centroids = ivf_train(
            corpus, n_cells=N_CELLS,
            sample_fraction=min(1.0, 100_000 / n_corpus),
        )
        indexed = ivf_index(corpus, centroids).persist()
        indexed.count()
        build_sec = time.perf_counter() - t0

        def run_brute():
            return cosine_topk(corpus, queries, k=K)

        def run_ivf():
            return ivf_cosine_topk(
                corpus, queries, k=K, n_probe=N_PROBE,
                centroids=centroids, indexed_corpus=indexed,
            )

        timings = {}
        log(f"[ivf-crossover] size {n}: timing (build took {build_sec:.1f}s)")
        for name, fn in (("brute_sec", run_brute), ("ivf_sec", run_ivf)):
            best = None
            for _ in range(2):
                t = time.perf_counter()
                fn().count()
                dt = time.perf_counter() - t
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 2)

        truth = {
            (r.query_id, r.neighbor_id) for r in run_brute().collect()
        }
        approx = {
            (r.query_id, r.neighbor_id) for r in run_ivf().collect()
        }
        recall = len(truth & approx) / max(1, len(truth))

        print(
            json.dumps(
                {
                    "n_vectors": n_corpus,
                    "n_queries": n_queries,
                    "k": K,
                    "n_cells": N_CELLS,
                    "n_probe": N_PROBE,
                    **timings,
                    "index_build_sec": round(build_sec, 2),
                    "recall_at_k": round(recall, 4),
                    "loadavg": os.getloadavg()[0],
                }
            ),
            flush=True,
        )
        indexed.unpersist()
        queries.unpersist()
        corpus.unpersist()


if __name__ == "__main__":
    main()
