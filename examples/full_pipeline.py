"""End-to-end pipeline walkthrough — every major engine surface in one
runnable job.

    spark-submit --master local[8] --py-files wceb_spark.zip \
        examples/full_pipeline.py [sf_dir] [out_dir]

Stages: raw CleanEval-style ingestion -> pages table -> salted
repartition -> multi-extractor pass (one decode, shared DOM parse) ->
score vs truth -> micro/macro aggregation -> CSV/markdown report ->
exact + MinHash near-dup dedup over the extracted text -> snapshot-log
commit with lineage, demonstrating crash-safe resume.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="wceb_pipeline_"
    )

    from web_content_extraction_benchmark_spark.operators.dedup import (
        drop_exact_duplicates,
        minhash_lsh_pairs,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        aggregate_scores,
        extract_answers,
        repartition_salted,
        score_answers,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        synthesize_pages,
        truth_table,
    )
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        convert_dataset,
        synthesize_cleaneval_tree,
    )
    from web_content_extraction_benchmark_spark.sources.reports import (
        export_report,
    )
    from web_content_extraction_benchmark_spark.sources.snapshots import (
        SnapshotTable,
        remaining_pages,
    )

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # 1. Raw ingestion: on-disk CleanEval-style tree -> (source, url,
    #    html, truth) via binaryFile scan + decode + unwrap + whitelist.
    raw_root = os.path.join(out_dir, "raw_cleaneval")
    n_raw = synthesize_cleaneval_tree(sf_dir, raw_root)
    converted = convert_dataset(spark, "cleaneval", raw_root)
    print(f"[1] raw ingestion: {converted.count()} / {n_raw} pages converted")

    # 2. Pages table (the Iceberg-shaped input contract) + skew-defusing
    #    salted repartition.
    pages = repartition_salted(synthesize_pages(spark, sf_dir), 16)

    # 3. One decode, many extractors; lineage sidecar rows per partition.
    answers, lineage = extract_answers(
        pages, ["main_content", "plain", "readability"],
        snapshot_id=1, with_lineage=True,
    )
    answers = answers.persist()
    print(f"[2] extracted: {answers.count()} (url, model) answers")

    # 4. Score vs truth, aggregate with micro/macro rollups, export.
    scores = score_answers(answers, truth_table(pages)).persist()
    agg = aggregate_scores(scores)
    paths = export_report(
        agg.select(
            "model", "dataset",
            F.round("mean_dist", 6).alias("mean_dist"),
            F.round("mean_f1", 6).alias("mean_f1"),
        ),
        out_dir, name="scores",
    )
    print(f"[3] report: {paths['csv']}")

    # 5. Near-dup dedup over the extracted main text: exact first (byte
    #    replicas would make every LSH bucket quadratic), then MinHash.
    docs = answers.filter(
        (F.col("model") == "main_content") & (F.length("plaintext") > 0)
    ).select(F.col("url").alias("doc_id"), F.col("plaintext").alias("text"))
    unique_docs = drop_exact_duplicates(docs, id_col="doc_id").persist()
    pairs = minhash_lsh_pairs(unique_docs, id_col="doc_id",
                              jaccard_threshold=0.8).persist()
    # Pair RESOLUTION: transitive closure -> one canonical doc per
    # cluster (the step that actually shrinks the corpus).
    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )

    clusters = connected_components(
        pairs.select(F.xxhash64("id_a").alias("id_a"),
                     F.xxhash64("id_b").alias("id_b"))
    )
    n_clusters = clusters.select("component").distinct().count()
    print(f"[4] dedup: {unique_docs.count()} unique docs, "
          f"{pairs.count()} near-dup pairs -> {n_clusters} clusters "
          f"({clusters.count() - n_clusters} docs droppable)")

    # 6. Snapshot-log commit (atomic manifest flip) + resume proof.
    table = SnapshotTable(os.path.join(out_dir, "answers_table"))
    table.append(answers.filter(F.col("model") == "main_content"))
    todo = remaining_pages(pages, table)
    print(f"[5] committed snapshot v{table.current_snapshot().snapshot_id}; "
          f"resume would re-process {todo.count()} pages (expect 0)")
    print(f"[6] lineage rows: {lineage.count()} partitions x models")

    # 7. Corpus prep for training: per-host quota (map-side
    #    WindowGroupLimit), deterministic hash sample (retry-stable
    #    membership), token-aware greedy packing into training
    #    sequences (sharded).
    from web_content_extraction_benchmark_spark.operators.packing import (
        pack_sequences,
    )
    from web_content_extraction_benchmark_spark.operators.sampling import (
        deterministic_sample,
        quota_per_key,
    )

    counted = unique_docs.select(
        F.xxhash64("doc_id").alias("doc_id"),
        F.regexp_extract("doc_id", r"https://([^/]+)/", 1).alias("host"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    prepped = deterministic_sample(
        quota_per_key(counted, 1000, key_col="host"), 0.9, key_col="doc_id"
    )
    packed = pack_sequences(prepped, capacity=2048, n_shards=8)
    stats = packed.agg(
        F.count("*").alias("docs"),
        F.countDistinct("shard", "chunk").alias("sequences"),
    ).collect()[0]
    print(f"[7] corpus prep: {stats.docs} docs packed into "
          f"{stats.sequences} 2048-token sequences")

    # 8. Incremental append (r6): commit today's corpus to a persisted
    #    NearDupIndex, then dedup a "tomorrow" batch against it — the
    #    new batch signs ONLY itself and candidate-joins the committed
    #    band store, so appends cost O(batch), not O(corpus).
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    idx = NearDupIndex(
        os.path.join(out_dir, "neardup_index"),
        jaccard_threshold=0.8, hash_fn="oph",
    )
    ids = unique_docs.select(
        F.xxhash64("doc_id").alias("doc_id"), "text"
    )
    idx.add_batch(ids).unpersist()
    tomorrow = ids.limit(50).select(
        (F.col("doc_id") + 1).alias("doc_id"), "text"  # near-exact dups
    )
    new_pairs = idx.add_batch(tomorrow)
    print(f"[8] incremental index v{idx.assert_consistent()}: "
          f"batch-2 found {new_pairs.count()} pairs vs the committed "
          f"corpus; {idx.unique_docs(spark).count()} unique docs total")
    new_pairs.unpersist()

    # 9. Maintenance (r7): re-bound files/bucket, then expire snapshot
    #    history — compact-then-expire(keep_last=1) reclaims the
    #    superseded files immediately (a daily-append deployment runs
    #    this pair on whatever retention horizon it wants).
    idx.compact(spark, max_files_per_bucket=1)
    expired = idx.expire(keep_last=1)
    n_reclaimed = sum(s["files_removed"] for s in expired.values())
    assert idx.unique_docs(spark).count() > 0  # view intact post-maint
    print(f"[9] maintenance: index at v{idx.assert_consistent()}, "
          f"{n_reclaimed} superseded files reclaimed")

    # 10. Container loop (r7): mirror the pages to Common-Crawl-style
    #     .warc.gz from the executors, re-ingest (gzip-member walk +
    #     HTTP/chunked parse), extract, and publish the text as
    #     WET-style conversion records — crawl-format in, WET out.
    from web_content_extraction_benchmark_spark.sources.warc import (
        read_warc, read_wet, write_warc, write_wet,
    )

    warc_dir = os.path.join(out_dir, "warc")
    wet_dir = os.path.join(out_dir, "wet")
    write_warc(pages.select("url", "warc_ts", "html"), warc_dir,
               cdxj=True)
    crawl_pages = read_warc(spark, warc_dir)
    wet_answers = extract_answers(
        crawl_pages, ["main_content"]
    ).select("url", "plaintext")
    manifest = write_wet(wet_answers, wet_dir)
    n_wet = read_wet(spark, wet_dir).count()
    assert n_wet == sum(m["n_records"] for m in manifest)
    print(f"[10] containers: {crawl_pages.count()} pages round-tripped "
          f"through WARC; {n_wet} WET conversion records in "
          f"{len(manifest)} files")

    # [11] wayback-style random access off the CDXJ sidecar: filter the
    # index (a SURT prefix scan at scale), seek ONE gzip member, and
    # verify the replayed payload re-digests to the indexed sha1.
    from web_content_extraction_benchmark_spark.sources.warc import (
        fetch_warc_record, payload_digest, read_cdxj,
    )

    idx_row = read_cdxj(spark, warc_dir).orderBy("surt").first()
    headers, status, body = fetch_warc_record(
        warc_dir, idx_row.filename, idx_row.offset, idx_row.length)
    assert status == 200 and payload_digest(body) == idx_row.digest
    print(f"[11] cdxj replay: {idx_row.surt} -> {len(body)} payload "
          f"bytes from {idx_row.filename}@{idx_row.offset}, digest ok")
    print("PIPELINE OK", out_dir)


if __name__ == "__main__":
    main()
