"""Single-node reference-architecture mimic: the same extraction work the
Spark pipeline does, run the way the reference runs it — a multiprocessing
spawn Pool over documents (extract.py:139-157 shape) — to produce the
match-or-beat baseline throughput for BENCH/BASELINE.md.

Usage: python tools/reference_harness.py [sf_dir] [replicate] [nproc]
Prints one JSON line {"docs_per_sec": ..., "n_pages": ..., "nproc": ...}.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _work(raw):
    from web_content_extraction_benchmark_spark.encoding import decode_html
    from web_content_extraction_benchmark_spark.extractors import safe_extract

    return len(safe_extract("main_content", decode_html(raw)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    nproc = int(sys.argv[3]) if len(sys.argv) > 3 else os.cpu_count()

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    # Pages are PRE-BUILT outside the timed window — the Spark bench
    # reads a pre-materialized parquet pages table, so charging the
    # pool for per-doc synthesis+encode would deflate the baseline and
    # inflate the comparison in Spark's favor (code-review r4 finding).
    # Shipping the raw bytes through the pool's IPC stays timed: it is
    # the pool's analog of Spark's scan + Arrow transfer.
    from web_content_extraction_benchmark_spark.sources.pages import (
        build_page_html,
        encode_page_html,
    )

    # Double-buffer instead of one giant driver-side list: pages are
    # pre-built per CHUNK with the clock PAUSED (so synthesis+encode
    # stays untimed, same as before), then the pool window over that
    # chunk is timed.  Memory is bounded at one chunk regardless of
    # sf/replicate (the old all-at-once list OOM-risked large runs).
    chunk_size = 100_000

    def _page_chunks():
        buf = []
        for k in range(replicate):
            offset = k * 10_000_000
            for d, s, t in zip(docs.doc_id, docs.source, docs.text):
                did = int(d) + offset
                buf.append(encode_page_html(did, build_page_html(did, s, t)))
                if len(buf) >= chunk_size:
                    yield buf
                    buf = []
        if buf:
            yield buf

    total = 0
    n_pages = 0
    elapsed = 0.0
    with mp.get_context("spawn").Pool(processes=nproc) as pool:
        for jobs in _page_chunks():
            started = time.perf_counter()
            total += sum(pool.imap_unordered(_work, jobs, chunksize=256))
            elapsed += time.perf_counter() - started
            n_pages += len(jobs)
    print(
        json.dumps(
            {
                "docs_per_sec": round(n_pages / elapsed, 1),
                "n_pages": n_pages,
                "nproc": nproc,
                "elapsed_sec": round(elapsed, 3),
                "total_chars": total,
            }
        )
    )


if __name__ == "__main__":
    main()
