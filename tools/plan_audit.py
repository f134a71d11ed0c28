"""Physical-plan audit: dump the executed/formatted plans of the headline
queries and scale-critical operators to BENCH/PLANS.md, with the
properties each plan must exhibit spelled out next to it.

Usage: python tools/plan_audit.py [sf_dir]

The assertions here mirror tests/test_plans.py — this tool exists so the
plans themselves are reviewable artifacts, not just pass/fail bits.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def _warc_ingest_plan(spark, sf_dir):
    import tempfile

    from web_content_extraction_benchmark_spark.sources.warc import (
        read_warc, synthesize_warc_tree,
    )

    tree = tempfile.mkdtemp(prefix="plan_warc_")
    synthesize_warc_tree(sf_dir, tree)
    return read_warc(spark, tree)


def _pdf_extract_plan(spark, sf_dir):
    import tempfile

    from web_content_extraction_benchmark_spark.extractors.pdf_text import (
        extract_pdf,
    )
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        read_binary_dir, synthesize_pdf_tree,
    )

    tree = tempfile.mkdtemp(prefix="plan_pdf_")
    synthesize_pdf_tree(sf_dir, tree)
    return extract_pdf(read_binary_dir(spark, tree, glob="*.pdf"))


def _incremental_candidates_plan(spark, docs):
    """Build a tiny committed index so the audited plan shows the real
    stored-scan-vs-broadcast-keys join shape of add_batch."""
    import shutil
    import tempfile

    from web_content_extraction_benchmark_spark.operators.dedup import (
        lsh_band_keys,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    path = tempfile.mkdtemp(prefix="wceb_plan_idx_")
    idx = NearDupIndex(path)
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 0)).unpersist()
    new_bands = lsh_band_keys(docs.filter(F.col("doc_id") % 2 == 1))
    plan_df = NearDupIndex.candidate_pairs(
        new_bands, idx.bands_table.read(spark)
    )
    # the scratch dir must outlive plan printing only; sweep on exit
    import atexit

    atexit.register(shutil.rmtree, path, True)
    return plan_df


def _embedding_candidates_plan(spark, emb):
    """Same shape under the r7 embedding signature: the hyperplane
    banding's Arrow eval node must sit on the NEW-batch side only."""
    import atexit
    import shutil
    import tempfile

    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    path = tempfile.mkdtemp(prefix="wceb_plan_embidx_")
    idx = NearDupIndex(
        path, signature="embedding", emb_dim=64, num_hashes=48,
        bands=4, jaccard_threshold=0.999,
        id_col="vec_id", text_col="embedding",
    )
    idx.add_batch(emb.filter(F.col("vec_id") % 2 == 0)).unpersist()
    new_bands = idx._band_rows(emb.filter(F.col("vec_id") % 2 == 1))
    plan_df = NearDupIndex.candidate_pairs(
        new_bands, idx.bands_table.read(spark)
    )
    atexit.register(shutil.rmtree, path, True)
    return plan_df


def _anchor_corpus_plan(spark, pages):
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        anchor_corpus,
        anchors_from_page_links,
        page_links_raw,
    )

    return anchor_corpus(anchors_from_page_links(page_links_raw(pages)))


def _robots_plan(spark):
    from web_content_extraction_benchmark_spark.operators.robots import (
        robots_filter,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /p/\nAllow: /p/ok/")],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [("https://h.example/p/x",)], "url string")
    return robots_filter(frontier, robots_rules(robots), keep_denied=True)


def _redirects_plan(spark):
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        resolve_redirects,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "url string, redirect_to string")
    return resolve_redirects(edges, max_hops=8)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from web_content_extraction_benchmark_spark.operators.dedup import (
        _lsh_candidate_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash64_col,
    )
    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
        ivf_cosine_topk,
        ivf_index,
        ivf_train,
        lsh_cosine_topk,
    )
    from web_content_extraction_benchmark_spark.operators.textstats import (
        winnowing_fingerprints,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_extract,
        extract_answers,
        repartition_salted,
        score_answers,
    )
    from web_content_extraction_benchmark_spark.session import get_spark
    from web_content_extraction_benchmark_spark.sources.pages import (
        synthesize_pages,
        truth_table,
    )

    spark = get_spark("plan-audit", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    pages = synthesize_pages(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    ivf_centroids = ivf_train(emb, n_cells=8)
    ivf_lists = ivf_index(emb, ivf_centroids)

    sections: list[tuple[str, str, object]] = [
        (
            "extract + score (flagship tail)",
            "one ArrowEvalPython node evaluating BOTH score UDFs in a "
            "single transfer; truth side broadcast; no cartesian",
            score_answers(
                extract_answers(repartition_salted(pages, 8), ["plain"]),
                truth_table(pages),
            ),
        ),
        (
            "fused ensemble (extract+vote)",
            "single mapInPandas pass, ZERO Exchange below the scan",
            ensemble_extract(pages, ["main_content", "plain", "readability"]),
        ),
        (
            "minhash LSH candidate generation",
            "band self-join carries only (band, key, id) — no shingle "
            "arrays in any Exchange",
            _lsh_candidate_pairs(docs, "text", "doc_id", 8, 4),
        ),
        (
            "minhash LSH full (candidates + verify)",
            "shingles re-join by id on candidates; ReusedExchange for the "
            "second side; no cartesian",
            minhash_lsh_pairs(docs),
        ),
        (
            "minhash LSH candidates, OPH signatures (r5)",
            "one ArrowEvalPython node computes the whole 128-wide "
            "signature in O(shingles)/doc; band keys from array slices; "
            "band self-join still carries only (band, key, id)",
            _lsh_candidate_pairs(docs, "text", "doc_id", 128, 16,
                                 hash_fn="oph"),
        ),
        (
            "ngram jaccard pairs",
            "equi hash join on the log-size bucket — no "
            "CartesianProduct/BroadcastNestedLoopJoin",
            ngram_jaccard_pairs(docs, threshold=0.8),
        ),
        (
            "simhash signatures",
            "pure Catalyst projection: no Python eval node, no shuffle",
            docs.select("doc_id", simhash64_col(F.col("text")).alias("sig")),
        ),
        (
            "winnowing fingerprints",
            "per-row array-slice minima: no Exchange, no Window",
            winnowing_fingerprints(docs),
        ),
        (
            "ANN LSH top-k",
            "equi join on (table_id, bucket) keys, then windowed re-rank",
            lsh_cosine_topk(emb, queries, dim=64, k=5),
        ),
        (
            "ANN IVF top-k",
            "Catalyst cell assignment (centroid literals), equi join on "
            "cell id, exact re-rank",
            ivf_cosine_topk(emb, queries, k=5, n_cells=8, n_probe=2),
        ),
        (
            "ANN IVF top-k, broadcast codebook (96 cells)",
            "one broadcast codebook row (BroadcastNestedLoopJoin of 1 "
            "row) + higher-order argmin: plan size O(1) in n_cells — no "
            "literal explosion, no shuffle, no window in assignment",
            ivf_cosine_topk(emb, queries, k=5, n_cells=96, n_probe=24),
        ),
        (
            "ANN IVF probe over prebuilt inverted lists (r5)",
            "corpus side is the MATERIALIZED index (cell id + norm per "
            "vector, built once): the probe plan assigns cells to the "
            "QUERY batch only, equi-joins on cell, exact re-rank — no "
            "corpus-side assignment arithmetic in the batch window",
            ivf_cosine_topk(emb, queries, k=5, n_probe=2,
                            centroids=ivf_centroids,
                            indexed_corpus=ivf_lists),
        ),
        (
            "embedding near-duplicate pairs",
            "LSH candidates -> exact cosine -> constant-threshold "
            "filter: NO Window/rank node (near-dup needs no top-k sort)",
            embedding_near_duplicates(emb, threshold=0.9, dim=64),
        ),
        (
            "ensemble vote join (S11 preloaded-answers path)",
            "ONE groupBy(url) Exchange carrying rendered text only — "
            "raw html never enters an Exchange",
            __import__(
                "web_content_extraction_benchmark_spark.plans.pipeline",
                fromlist=["ensemble_answers"],
            ).ensemble_answers(
                extract_answers(pages, ["main_content", "plain"]),
                ["main_content", "plain"],
            ),
        ),
        (
            "exact-dedup winner selection (keys-only)",
            "loser ids derived from a (digest, id) projection "
            "(groupBy min + keys-only join), removed via left_anti — "
            "NO Window/sort over document payloads; AQE broadcasts the "
            "loser side at realistic dup rates",
            __import__(
                "web_content_extraction_benchmark_spark.operators.dedup",
                fromlist=["drop_exact_duplicates"],
            ).drop_exact_duplicates(
                docs.select("doc_id", "text"), id_col="doc_id"
            ),
        ),
        (
            "simhash blocking with skew valve (max_bucket)",
            "over-cap bucket keys via map-side groupBy count + broadcast "
            "left_anti (no single-task Window buffering a hot bucket)",
            __import__(
                "web_content_extraction_benchmark_spark.operators.dedup",
                fromlist=["simhash_near_duplicates"],
            ).simhash_near_duplicates(
                docs.select("doc_id", "text"), max_bucket=1000
            ),
        ),
        (
            "trained neural extraction (E15 kernel)",
            "ONE mapInPandas Python eval node over (url, html) — weights "
            "travel via broadcast variable (not literals in the plan), "
            "inference is batched matmul inside the worker",
            __import__(
                "web_content_extraction_benchmark_spark.extractors.neural",
                fromlist=["neural_extract_answers"],
            ).neural_extract_answers(pages),
        ),
        (
            "deterministic sample (md5 membership)",
            "pure Catalyst filter — no Exchange, no Python, no rand()",
            __import__(
                "web_content_extraction_benchmark_spark.operators.sampling",
                fromlist=["deterministic_sample"],
            ).deterministic_sample(docs.select("doc_id", "lang"), 0.3),
        ),
        (
            "per-key quota cap",
            "WindowGroupLimit with a map-side Partial pass: hot keys cut "
            "to the quota per input partition BEFORE the exchange",
            __import__(
                "web_content_extraction_benchmark_spark.operators.sampling",
                fromlist=["quota_per_key"],
            ).quota_per_key(docs.select("doc_id", "lang"), 10,
                            key_col="lang"),
        ),
        (
            "token-aware sequence packing (sharded)",
            "ONE hashpartitioning Exchange on the shard key feeding "
            "FlatMapGroupsInPandas — sequential greedy work bounded per "
            "shard, no global sort",
            __import__(
                "web_content_extraction_benchmark_spark.operators.packing",
                fromlist=["pack_sequences"],
            ).pack_sequences(
                docs.select(
                    "doc_id",
                    F.size(F.split("text", " ")).alias("n_tokens"),
                ),
                capacity=2048, n_shards=8,
            ),
        ),
        (
            "multimodal decode (real BMP/WAV/AVI kernels)",
            "ONE mapInPandas node, payload column isolated to the decode "
            "stage; no shuffle",
            __import__(
                "web_content_extraction_benchmark_spark.operators.multimodal",
                fromlist=["extract_media_features", "synthesize_media"],
            ).extract_media_features(
                __import__(
                    "web_content_extraction_benchmark_spark.operators"
                    ".multimodal",
                    fromlist=["synthesize_media"],
                ).synthesize_media(spark, n_rows=16)
            ),
        ),
        (
            "incremental near-dup candidates vs a committed store (r6)",
            "the STORED band scan feeds BroadcastHashJoins built from "
            "the NEW batch (its distinct-keys shuffle is the only band "
            "Exchange); no SortMergeJoin/ShuffledHashJoin anywhere — a "
            "store-side shuffle would be corpus-sized",
            _incremental_candidates_plan(spark, docs),
        ),
        (
            "incremental candidates, embedding signature (r7)",
            "identical store-never-shuffled shape with the hyperplane "
            "banding's ArrowEvalPython confined to the NEW-batch "
            "lineage; the committed store still streams through "
            "BroadcastHashJoins with no Exchange of its own",
            _embedding_candidates_plan(spark, emb),
        ),
        (
            "WARC container ingest (r7; path-streamed r8)",
            "binaryFile scan carrying PATHS ONLY (Output [1]: [path] — "
            "the binary content column is pruned; the kernel open()s "
            "each file in chunks) -> ONE mapInPandas (member walk + "
            "HTTP parse); no Exchange — the unit of parallelism is "
            "the file",
            _warc_ingest_plan(spark, sf_dir),
        ),
        (
            "PDF text + layout extraction (r7)",
            "binaryFile scan -> ONE mapInPandas (object layer + content "
            "interpreter + layout); no Exchange, pure per-row kernel",
            _pdf_extract_plan(spark, sf_dir),
        ),
        (
            "WAT link-metadata bundle off raw bytes (r8)",
            "exactly ONE ArrowEvalPython (the fused decode + hrefs + "
            "anchor pairs + title + head-meta kernel) — not one stage "
            "per field family; no Exchange",
            __import__(
                "web_content_extraction_benchmark_spark.operators.linkgraph",
                fromlist=["page_links_raw"],
            ).page_links_raw(pages),
        ),
        (
            "anchor-text corpus tail (r8)",
            "explode + resolution CASE chain stay Python-free; the "
            "(target, text) aggregation has a map-side partial_count "
            "before its exchange",
            _anchor_corpus_plan(spark, pages),
        ),
        (
            "robots longest-match verdict (r8)",
            "rules side BROADCAST (frontier never shuffles for the "
            "join) + ONE max(struct) aggregation with partial_max "
            "map-side; NO Window/sort in the per-URL verdict",
            _robots_plan(spark),
        ),
        (
            "redirect-chain resolution (r8)",
            "log2(max_hops) EDGE-SIZED self-joins (pointer doubling) — "
            "inputs localCheckpoint-ed, so the plan shows scans of "
            "materialized RDDs, never a re-derivation per round",
            _redirects_plan(spark),
        ),
    ]

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "PLANS.md",
    )
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(
            "# PLANS — formatted physical plans of the scale-critical "
            "operators\n\nGenerated by `python tools/plan_audit.py` "
            f"(sf_dir={sf_dir}).  Each section states the property the "
            "plan must exhibit; tests/test_plans.py enforces the same "
            "properties in CI.\n"
        )
        for title, expectation, df in sections:
            f.write(f"\n## {title}\n\n**Must hold**: {expectation}.\n\n")
            f.write("```\n")
            f.write(_fmt(df).strip()[:6000])
            f.write("\n```\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
