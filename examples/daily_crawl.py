"""Daily-crawl operator story: a WARC drop directory, continuously
ingested, content-type routed, incrementally deduplicated, maintained,
and packed for training.

    spark-submit --master local[8] --py-files wceb_spark.zip \
        examples/daily_crawl.py [drop_dir] [index_dir]

This is the end-to-end shape the r7/r8 pieces exist for:

1. ``read_warc_stream``    — Structured Streaming over the drop dir;
   each micro-batch is whole ``.warc.gz`` files (paths only — the
   kernel streams each file through ``open()`` in chunks, so a ~1 GB
   crawl file never materializes in memory).
2. ``extract_mixed``       — one routing kernel: ``application/pdf``
   (or %PDF- magic within the first 1 KB) through the from-scratch PDF
   parser with line structure kept, everything else through the HTML
   extraction kernel.  Parse failures become error ROWS, counted and
   dropped here, never job failures.
3. ``NearDupIndex.add_batch`` — per micro-batch (``foreachBatch``:
   the index's docs -> bands -> labels commit is its own atomicity
   protocol, deliberately not Spark's sink commit): sign ONLY the
   batch, probe the bucketed store, resolve only touched components.
   The writer LEASE (token + TTL + heartbeat) makes a crashed driver's
   lock self-expire.
4. Maintenance every ``MAINT_EVERY`` batches — ``compact`` re-bounds
   files/bucket and auto-expires the superseded snapshots in the same
   lock hold (no transient disk doubling).
5. ``pack_sequences`` over the deduplicated corpus — the
   training-data handoff: greedy first-fit token packing into
   ``CAPACITY``-token chunks, hash-sharded for parallelism.

The pytest twin (tests/test_daily_crawl_example.py) drives two
micro-batches through `run_daily_crawl` and pins the resulting labels
byte-identical to one from-scratch run over the union — the index's
core equivalence guarantee, exercised through the whole pipeline.
"""

from __future__ import annotations

import os
import sys
import tempfile

# runnable as `python examples/daily_crawl.py` from the repo root
# (spark-submit --py-files wceb_spark.zip makes this a no-op)
sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

MAINT_EVERY = 4
CAPACITY = 2048
# per-bigram average micro-log10 floor: fixture text averages ~-1.48M,
# shuffled word salad ~-1.49M, uniform-unseen -1.51M — -1.6M keeps
# any plausible text and drops only degenerate out-of-vocab streams
LM_FLOOR_MICRO = -1_600_000


def run_daily_crawl(spark: SparkSession, drop_dir: str, index_dir: str,
                    checkpoint_dir: str, *, jaccard_threshold: float = 0.5,
                    bands: int = 8, n_buckets: int = 16,
                    maint_every: int = MAINT_EVERY) -> dict:
    """Ingest every WARC file currently in ``drop_dir`` through the
    streaming pipeline (one pass, ``availableNow``-style via
    processAllAvailable), then pack the deduplicated corpus.  Returns
    counters {batches, rows, errors, packed_chunks}."""
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )
    from web_content_extraction_benchmark_spark.operators.packing import (
        pack_sequences,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_mixed,
    )
    from web_content_extraction_benchmark_spark.sources.warc import (
        read_warc_stream,
    )

    index = NearDupIndex(index_dir, jaccard_threshold=jaccard_threshold,
                         bands=bands, n_buckets=n_buckets)
    stats = {"batches": 0, "rows": 0, "errors": 0}

    pages = read_warc_stream(spark, drop_dir)
    extracted = extract_mixed(pages)

    def feed_index(batch_df, batch_id: int) -> None:
        # doc id: the crawl's trailing numeric id when present, else a
        # stable 63-bit hash of the url — unique, deterministic, and
        # identical on a re-run of the same files.  shiftrightunsigned
        # (not abs: ANSI abs(Long.MIN_VALUE) throws) keeps it positive.
        src = F.regexp_extract("url", r"/(\d+)$", 1)
        rows = (
            batch_df.withColumn(
                "doc_id",
                F.when(src != "", src.cast("long"))
                .otherwise(F.shiftrightunsigned(F.xxhash64("url"), 1)))
            .withColumn("is_err", F.col("error").isNotNull())
        ).persist()
        n_err = rows.filter("is_err").count()
        # the dedup operators' contract is SINGLE-SPACED text
        # (grams.with_word_kgrams, which makes every shingle array,
        # splits on ' '): collapse the extraction's paragraph/line
        # structure for signing — the structured text stays in the
        # corpus, only the dedup key is normalized.
        # kind="binary" rows (images/media: plaintext null, error
        # null) are counted skips, not index input.
        docs = rows.filter(
            ~F.col("is_err") & F.col("plaintext").isNotNull()
        ).select(
            "doc_id",
            F.regexp_replace(F.col("plaintext"), r"\s+", " ")
            .alias("text"))
        n = docs.count()
        if n:
            index.add_batch(docs).unpersist()
        rows.unpersist()
        stats["batches"] += 1
        stats["rows"] += n
        stats["errors"] += n_err
        if stats["batches"] % maint_every == 0:
            # compact auto-expires superseded snapshots (keep_last=1)
            index.compact(spark, max_files_per_bucket=4)

    query = (
        extracted.writeStream.foreachBatch(feed_index)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    # training handoff: dedup view -> frozen-LM quality gate -> token
    # counts -> packed chunks.  The gate drops docs whose per-bigram
    # average micro-log10 score falls below LM_FLOOR_MICRO (out-of-
    # distribution gibberish; the floor is permissive — CCNet-style
    # pipelines tune it to keep the head/middle of the distribution).
    from web_content_extraction_benchmark_spark.operators.lm import (
        lm_score,
    )

    uniq = index.unique_docs(spark).select(
        F.col(index.id_col).alias("doc_id"),
        F.col(index.text_col).alias("text"),
    )
    lm = lm_score(uniq).select(
        F.col("id").alias("doc_id"),
        (F.col("lm_score_micro") / F.col("lm_bigrams")).alias("_avg"),
    )
    # no-evidence = keep (ADVICE r8): a doc with fewer than two tokens
    # has no bigram row, so _avg is NULL — the permissive floor must
    # not silently drop it (coalesce(False) contradicted the
    # "keeps any plausible text" contract above)
    gated = uniq.join(lm, "doc_id", "left").filter(
        F.coalesce(F.col("_avg") >= LM_FLOOR_MICRO, F.lit(True))
    )
    stats["lm_dropped"] = uniq.count() - gated.count()
    unique = gated.select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
    )
    packed = pack_sequences(unique, capacity=CAPACITY)
    stats["packed_chunks"] = (
        packed.select("shard", "chunk").distinct().count()
    )
    return stats


def main() -> None:
    drop_dir = sys.argv[1] if len(sys.argv) > 1 else None
    base = tempfile.mkdtemp(prefix="wceb_daily_")
    index_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        base, "index")

    spark = (
        SparkSession.builder.master(os.environ.get(
            "SPARK_MASTER", "local[8]"))
        .appName("daily-crawl")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    if drop_dir is None:  # self-contained demo: synthesize a mixed crawl
        from web_content_extraction_benchmark_spark.sources.warc import (
            synthesize_mixed_warc_tree,
        )

        drop_dir = os.path.join(base, "drop")
        n = synthesize_mixed_warc_tree("/root/testdata/sf0.001", drop_dir)
        print(f"synthesized {n} pages into {drop_dir}")

    stats = run_daily_crawl(
        spark, drop_dir, index_dir, os.path.join(base, "ckpt"))
    print(f"daily crawl done: {stats} (index at {index_dir})")
    spark.stop()


if __name__ == "__main__":
    main()
