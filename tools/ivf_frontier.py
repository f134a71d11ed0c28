"""IVF n_probe recall/latency frontier (VERDICT r5 next #4): at a fixed
corpus size, sweep n_probe and record recall@10 vs probe wall — the
tuning curve behind the 0.68-recall cliff the r5 crossover run showed
at small n.  The index (codebook + inverted lists) is built ONCE and
shared across the sweep, so the lines isolate pure probe cost.

Usage: python tools/ivf_frontier.py [sf_dir] [n_vectors] [probes_csv]
Defaults: /root/testdata/sf0.1 200000 4,8,16,32,64
Prints one JSON line per n_probe (plus one brute-force reference line).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ivf_crossover import K, N_CELLS, N_QUERIES, synthesize_corpus  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_vectors = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    probes = [
        int(p)
        for p in (sys.argv[3] if len(sys.argv) > 3 else "4,8,16,32,64").split(",")
    ]

    from web_content_extraction_benchmark_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        ivf_index,
        ivf_train,
    )
    from web_content_extraction_benchmark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("ivf-frontier", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = synthesize_corpus(spark, sf_dir, n_vectors).persist()
    n_corpus = corpus.count()
    queries = corpus.filter(
        (F.col("vec_id") < 10_000_000) & (F.col("vec_id") % 20 == 0)
    ).limit(N_QUERIES).persist()
    n_queries = queries.count()

    centroids = ivf_train(
        corpus, n_cells=N_CELLS,
        sample_fraction=min(1.0, 100_000 / n_corpus),
    )
    indexed = ivf_index(corpus, centroids).persist()
    indexed.count()

    # brute-force truth + reference latency (min of 2, shared-tenant box)
    brute_best = None
    for _ in range(2):
        t = time.perf_counter()
        cosine_topk(corpus, queries, k=K).count()
        dt = time.perf_counter() - t
        brute_best = dt if brute_best is None else min(brute_best, dt)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(corpus, queries, k=K).collect()
    }
    print(
        json.dumps(
            {
                "mode": "brute",
                "n_vectors": n_corpus,
                "n_queries": n_queries,
                "k": K,
                "sec": round(brute_best, 2),
                "recall_at_k": 1.0,
                "loadavg": os.getloadavg()[0],
            }
        ),
        flush=True,
    )

    for n_probe in probes:
        def run():
            return ivf_cosine_topk(
                corpus, queries, k=K, n_probe=n_probe,
                centroids=centroids, indexed_corpus=indexed,
            )

        best = None
        for _ in range(2):
            t = time.perf_counter()
            run().count()
            dt = time.perf_counter() - t
            best = dt if best is None else min(best, dt)
        approx = {(r.query_id, r.neighbor_id) for r in run().collect()}
        recall = len(truth & approx) / max(1, len(truth))
        print(
            json.dumps(
                {
                    "mode": "ivf",
                    "n_vectors": n_corpus,
                    "n_queries": n_queries,
                    "k": K,
                    "n_cells": N_CELLS,
                    "n_probe": n_probe,
                    "sec": round(best, 2),
                    "recall_at_k": round(recall, 4),
                    "loadavg": os.getloadavg()[0],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
