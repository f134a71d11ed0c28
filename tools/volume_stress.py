"""Volume stress: fused synthesize+extract at 1M-10M pages in ONE
extraction pass (`extract_answers(..., with_lineage=True)` persists the
kernel's rows once), recording the zero-error / bounded-memory /
deterministic-bytes contract plus a TASK-SKEW profile (max / median /
p90 per-partition kernel wall-ms from the lineage rows — the straggler
evidence a 100 TB run lives or dies by).  ``partitions`` is the number
of lineage rows: partitions that saw a page (one model).

Usage:
    python tools/volume_stress.py [n_pages] [sf_dir] [partitions]

Prints one JSON line, e.g.:
    {"n_pages": 10000000, "chars": ..., "errors": 0, "sec": ...,
     "docs_per_sec": ..., "wall_ms_max": ..., "wall_ms_median": ...,
     "skew_max_over_median": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.plans.pipeline import (
    extract_answers,
)
from web_content_extraction_benchmark_spark.session import get_spark
from web_content_extraction_benchmark_spark.sources.pages import (
    synthesize_pages,
)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = get_spark("wceb-volume-stress", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import pyarrow.parquet as pq

    n_docs = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    replicate = max(1, n_pages // n_docs)
    partitions = (
        int(sys.argv[3]) if len(sys.argv) > 3
        else max(cpus * 4, (n_docs * replicate) // 50_000)
    )

    pages = synthesize_pages(spark, sf_dir, replicate=replicate,
                             partitions=partitions)
    # One extraction pass: the kernel's rows are persisted, so the
    # answer aggregate runs it and the lineage aggregate (one row per
    # partition and model) reads the same rows back; the skew profile
    # costs no second pass over the pages.
    answers, lineage = extract_answers(pages, ["main_content"],
                                       with_lineage=True)
    loadavg_at_start = float(open("/proc/loadavg").read().split()[0])
    started = time.perf_counter()
    answers = answers.agg(
        F.count("*").alias("rows"),
        F.sum(F.length("plaintext")).alias("chars"),
        F.count_if("error").alias("errors"),
    ).collect()[0]
    lineage = lineage.agg(
        F.count("*").alias("rows"),
        F.max("wall_ms").alias("wall_ms_max"),
        F.expr("median(wall_ms)").alias("wall_ms_median"),
        F.expr("percentile(wall_ms, 0.9)").alias("wall_ms_p90"),
        F.sum("docs_in").alias("docs_in"),
    ).collect()[0]
    wall = time.perf_counter() - started

    assert answers["rows"] == n_docs * replicate, (
        answers["rows"], n_docs * replicate
    )
    assert lineage["docs_in"] == answers["rows"]
    skew = (
        round(lineage["wall_ms_max"] / lineage["wall_ms_median"], 3)
        if lineage["wall_ms_median"] else None
    )
    print(json.dumps({
        "n_pages": answers["rows"],
        "chars": answers["chars"],
        "errors": answers["errors"],
        "sec": round(wall, 1),
        "docs_per_sec": round(answers["rows"] / wall, 1),
        "partitions": int(lineage["rows"]),
        "wall_ms_max": lineage["wall_ms_max"],
        "wall_ms_median": lineage["wall_ms_median"],
        "wall_ms_p90": lineage["wall_ms_p90"],
        "skew_max_over_median": skew,
        "loadavg_at_start": loadavg_at_start,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
