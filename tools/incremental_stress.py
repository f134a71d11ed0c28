"""Incremental near-dup dedup cost evidence (VERDICT r5 next #1): a
second batch against a committed NearDupIndex must cost O(batch), not
O(corpus) — the signature stage (the measured cost center, ~368 s/1M
docs OPH) runs only over the batch, the committed band store streams
through a broadcast join unshuffled, and label resolution scales with
the dup graph.

Protocol: build the chain corpus (same planted prefix-mutant structure
as tools/neardup_stress.py), split it ~(1-1/split_mod : 1/split_mod)
by id hash so chains STRADDLE the split (the batch-2 run must discover
new-vs-stored pairs, not just new-vs-new), then measure

  add1_sec : add_batch(big batch)     — the "existing corpus" commit
  add2_sec : add_batch(small batch)   — the incremental append
  scratch_sec : from-scratch minhash_lsh_pairs + connected_components
                over the union (what a non-incremental pipeline pays
                EVERY run)

and assert label equality between the incremental index and the
from-scratch run.  The claim is add2_sec << scratch_sec, tracking the
batch fraction rather than the corpus.

Usage:
    python tools/incremental_stress.py [sf_dir] [replicate] [split_mod]
                                       [hash_fn] [chain_mod]
Defaults: /root/testdata/sf0.1 40 10 oph 4.  ``chain_mod`` sets the
planted dup rate (every chain_mod-th doc gets mutants): 4 is the
dup-HEAVY shape shared with neardup_stress; 20 approximates a
realistic corpus (~13% of docs in chains).  Prints one JSON line.

Multi-batch mode (VERDICT r6 #1/#2 evidence):
    python tools/incremental_stress.py multi [sf_dir] [replicate]
                                       [n_batches] [hash_fn] [chain_mod]
splits the corpus into n_batches FIXED-SIZE batches and appends them
consecutively, so the store grows while the batch stays constant — the
regime the two-batch protocol cannot separate (there batch and store
scale together).  Dup chains are TEMPORALLY LOCAL (a chain's members
land in two adjacent batches — the daily-crawl model where today's
duplicates overwhelmingly pair with recent documents), so per-batch
touched components stay ~constant and the phases decompose cleanly:

  sign_sec               O(batch)       -> flat
  candidates_verify_sec  O(batch) + store bands/docs probe -> the slope
                         IS the store-scan cost the bucket layout bounds
  resolve_sec            O(touched subgraph)               -> flat
  commit_sec             O(batch + touched label buckets)  -> flat

Prints one JSON line per batch plus a final summary line with the
from-scratch label-equality check over the full union.

Maintenance mode (r7): append ``maint`` as the 7th multi-mode arg (or
set SPARK_GRAFT_MAINT=1) to run the two maintenance ops after every
append — ``compact(max_files_per_bucket=4)`` then ``expire(keep_last=2)``
— and record the on-disk parquet file/byte counts before and after.
The final label-equality check then also proves maintenance never
perturbs what the index computes, and the disk series shows retention
actually bounds growth (without expire, every superseded label rewrite
stays on disk forever).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from neardup_stress import build_chain_corpus  # noqa: E402


def _disk_stats(path: str) -> dict:
    """(parquet file count, parquet bytes) under an index directory."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return {"files": n, "mb": round(size / 1e6, 1)}


def multi_main() -> None:
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    n_batches = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    hash_fn = sys.argv[5] if len(sys.argv) > 5 else "oph"
    chain_mod = int(sys.argv[6]) if len(sys.argv) > 6 else 20
    maint = (len(sys.argv) > 7 and sys.argv[7] == "maint") or bool(
        int(os.environ.get("SPARK_GRAFT_MAINT", "0"))
    )

    from web_content_extraction_benchmark_spark.operators.dedup import (
        PROD_BANDS,
        PROD_NUM_HASHES,
        connected_components,
        minhash_lsh_pairs,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )
    from web_content_extraction_benchmark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("incremental-stress-multi", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    loadavg = os.getloadavg()[0]

    corpus = (
        build_chain_corpus(spark, sf_dir, replicate, chain_mod=chain_mod,
                           chain_len=4)
        .repartition(cpus * 2)
        .persist()
    )
    n_total = corpus.count()

    # temporally-local batch assignment: a chain (base doc + its
    # prefix mutants, mutant id = -(base*8+v)) is homed at a seeded
    # random batch; even chain positions stay home, odd positions land
    # one batch later — every chain needs cross-batch discovery, but
    # only against the ADJACENT batch, so per-batch touched components
    # stay ~constant as the store grows (the daily-crawl dup model).
    chain_key = F.when(
        F.col("doc_id") < 0, F.floor(-F.col("doc_id") / 8)
    ).otherwise(F.col("doc_id"))
    chain_pos = F.when(
        F.col("doc_id") < 0, (-F.col("doc_id")) % 8
    ).otherwise(F.lit(0))
    home = F.pmod(F.xxhash64(chain_key, F.lit(7)), F.lit(n_batches))
    assigned = corpus.withColumn(
        "_batch",
        F.least(home + (chain_pos % 2), F.lit(n_batches - 1)).cast("int"),
    ).persist()
    assigned.count()
    corpus.unpersist()

    index_path = tempfile.mkdtemp(prefix="wceb_incr_multi_")
    per_batch = []
    try:
        idx = NearDupIndex(
            index_path,
            num_hashes=PROD_NUM_HASHES,
            bands=PROD_BANDS,
            jaccard_threshold=0.85,
            hash_fn=hash_fn,
        )
        store_rows = 0
        for k in range(n_batches):
            batch = assigned.filter(F.col("_batch") == k).drop("_batch")
            n_b = batch.count()
            phases: dict = {}
            t0 = time.perf_counter()
            pk = idx.add_batch(batch, timings=phases)
            n_pairs = pk.count()
            add_sec = time.perf_counter() - t0
            pk.unpersist()
            line = {
                "batch": k + 1,
                "n_batch": n_b,
                "store_before": store_rows,
                "add_sec": round(add_sec, 2),
                "phases": phases,
                "n_pairs": n_pairs,
                "loadavg": os.getloadavg()[0],
            }
            if maint:
                disk_pre = _disk_stats(index_path)
                t_m = time.perf_counter()
                # r8: compact auto-expires (expire_keep_last=2), so the
                # post-compact reading must show NO transient doubling
                # (the r7 batch-5 spike); the explicit expire after it
                # only trims history appended since
                n_compacted = sum(
                    idx.compact(spark, max_files_per_bucket=4).values()
                )
                disk_post_compact = _disk_stats(index_path)
                expired = idx.expire(keep_last=2)
                maint_sec = time.perf_counter() - t_m
                line["maint"] = {
                    "disk_before": disk_pre,
                    "disk_after_compact": disk_post_compact,
                    "disk_after": _disk_stats(index_path),
                    "buckets_compacted": n_compacted,
                    "files_expired": sum(
                        s["files_removed"] for s in expired.values()
                    ),
                    "maint_sec": round(maint_sec, 2),
                }
            per_batch.append(line)
            print(json.dumps(line), flush=True)
            store_rows += n_b

        incr_labels = idx.labels(spark).persist()
        n_nodes_incr = incr_labels.count()
        t2 = time.perf_counter()
        scratch_pairs = minhash_lsh_pairs(
            assigned.drop("_batch"),
            num_hashes=PROD_NUM_HASHES,
            bands=PROD_BANDS,
            jaccard_threshold=0.85,
            hash_fn=hash_fn,
        ).persist()
        n_pairs_scratch = scratch_pairs.count()
        scratch_labels = connected_components(scratch_pairs).persist()
        n_nodes_scratch = scratch_labels.count()
        scratch_sec = time.perf_counter() - t2
        mismatches = (
            incr_labels.join(
                scratch_labels.withColumnRenamed("component", "c2"),
                "id",
                "full",
            )
            .filter(
                F.col("component").isNull()
                | F.col("c2").isNull()
                | (F.col("component") != F.col("c2"))
            )
            .count()
        )
        print(
            json.dumps(
                {
                    "summary": True,
                    "n_total": n_total,
                    "n_batches": n_batches,
                    "scratch_sec": round(scratch_sec, 2),
                    "n_pairs_scratch": n_pairs_scratch,
                    "n_nodes_incremental": n_nodes_incr,
                    "n_nodes_scratch": n_nodes_scratch,
                    "label_mismatches": mismatches,
                    "steady_candidates_verify_sec": [
                        b["phases"].get("candidates_verify_sec")
                        for b in per_batch
                    ],
                    "steady_resolve_sec": [
                        b["phases"].get("resolve_sec") for b in per_batch
                    ],
                    "steady_commit_sec": [
                        b["phases"].get("commit_sec") for b in per_batch
                    ],
                    "hash_fn": hash_fn,
                    "num_hashes": PROD_NUM_HASHES,
                    "bands": PROD_BANDS,
                    "replicate": replicate,
                    "chain_mod": chain_mod,
                    "maintenance": maint,
                    "cpus": cpus,
                    "loadavg_at_start": loadavg,
                }
            ),
            flush=True,
        )
        if mismatches:
            raise SystemExit(
                f"incremental != from-scratch: {mismatches} label "
                "mismatches — the evidence above records a BROKEN "
                "incremental path"
            )
    finally:
        shutil.rmtree(index_path, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    split_mod = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    hash_fn = sys.argv[4] if len(sys.argv) > 4 else "oph"
    chain_mod = int(sys.argv[5]) if len(sys.argv) > 5 else 4

    from web_content_extraction_benchmark_spark.operators.dedup import (
        PROD_BANDS,
        PROD_NUM_HASHES,
        connected_components,
        minhash_lsh_pairs,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )
    from web_content_extraction_benchmark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("incremental-stress", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    loadavg = os.getloadavg()[0]

    # the sf parquet reads as ~4 splits — rebalance or every signature
    # stage runs 4-wide on a 32-core box (the CLAUDE.md .limit/partition
    # gotcha family)
    corpus = (
        build_chain_corpus(spark, sf_dir, replicate, chain_mod=chain_mod,
                           chain_len=4)
        .repartition(cpus * 2)
        .persist()
    )
    n_total = corpus.count()
    # id-hash split so prefix-mutant chains straddle the boundary:
    # ~1/split_mod of docs (bases AND mutants alike) land in batch 2
    in_batch2 = F.abs(F.xxhash64("doc_id")) % split_mod == 0
    batch1 = corpus.filter(~in_batch2).persist()
    batch2 = corpus.filter(in_batch2).persist()
    n_b1, n_b2 = batch1.count(), batch2.count()

    index_path = tempfile.mkdtemp(prefix="wceb_incr_stress_")
    try:
        idx = NearDupIndex(
            index_path,
            num_hashes=PROD_NUM_HASHES,
            bands=PROD_BANDS,
            jaccard_threshold=0.85,
            hash_fn=hash_fn,
        )
        add1_phases: dict = {}
        t0 = time.perf_counter()
        p1 = idx.add_batch(batch1, timings=add1_phases)
        n_pairs_1 = p1.count()
        add1_sec = time.perf_counter() - t0
        p1.unpersist()

        add2_phases: dict = {}
        t1 = time.perf_counter()
        p2 = idx.add_batch(batch2, timings=add2_phases)
        n_pairs_2 = p2.count()
        add2_sec = time.perf_counter() - t1
        p2.unpersist()

        incr_labels = idx.labels(spark).persist()
        n_nodes_incr = incr_labels.count()

        t2 = time.perf_counter()
        scratch_pairs = minhash_lsh_pairs(
            corpus,
            num_hashes=PROD_NUM_HASHES,
            bands=PROD_BANDS,
            jaccard_threshold=0.85,
            hash_fn=hash_fn,
        ).persist()
        n_pairs_scratch = scratch_pairs.count()
        scratch_labels = connected_components(scratch_pairs).persist()
        n_nodes_scratch = scratch_labels.count()
        scratch_sec = time.perf_counter() - t2

        mismatches = (
            incr_labels.join(
                scratch_labels.withColumnRenamed("component", "c2"),
                "id",
                "full",
            )
            .filter(
                F.col("component").isNull()
                | F.col("c2").isNull()
                | (F.col("component") != F.col("c2"))
            )
            .count()
        )

        print(
            json.dumps(
                {
                    "n_total": n_total,
                    "n_batch1": n_b1,
                    "n_batch2": n_b2,
                    "batch2_frac": round(n_b2 / n_total, 4),
                    "add1_sec": round(add1_sec, 2),
                    "add2_sec": round(add2_sec, 2),
                    "add1_phases": add1_phases,
                    "add2_phases": add2_phases,
                    "scratch_sec": round(scratch_sec, 2),
                    "add2_vs_scratch": round(add2_sec / scratch_sec, 3),
                    "n_pairs_batch1": n_pairs_1,
                    "n_pairs_batch2": n_pairs_2,
                    "n_pairs_scratch": n_pairs_scratch,
                    "n_nodes_incremental": n_nodes_incr,
                    "n_nodes_scratch": n_nodes_scratch,
                    "label_mismatches": mismatches,
                    "hash_fn": hash_fn,
                    "num_hashes": PROD_NUM_HASHES,
                    "bands": PROD_BANDS,
                    "split_mod": split_mod,
                    "replicate": replicate,
                    "chain_mod": chain_mod,
                    "cpus": cpus,
                    "loadavg_at_start": loadavg,
                }
            )
        )
        if mismatches:
            raise SystemExit(
                f"incremental != from-scratch: {mismatches} label "
                "mismatches — the evidence line above records a BROKEN "
                "incremental path"
            )
    finally:
        shutil.rmtree(index_path, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "multi":
        multi_main()
    else:
        main()
