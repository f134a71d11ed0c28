"""Near-dup resolution at REAL pair volume: plant prefix-mutant chains
in a >=1M-doc corpus, run production-width MinHash LSH to get >=10^5
verified pairs, then measure connected_components — rounds, per-round
changed counts, per-round wall, and per-round shuffle read/write volume
sampled from the Spark status REST API.

This is the scale evidence for the 100 TB dedup story (VERDICT r4 next
#1): the multi-round (id, long)-only label exchange is what dominates
resolution at corpus scale, and 204-pair toy benches say nothing about
it.  Chains of length L converge only through pointer jumping, so the
round count also validates the O(log diameter) claim at volume.

Usage:
    python tools/neardup_stress.py [sf_dir] [replicate] [chain_mod]
                                   [chain_len] [hash_fn]

Defaults: /root/testdata/sf0.1, replicate 200, chain_mod 4, chain_len 4,
hash_fn xxhash64 (or "oph" for one-permutation hashing).  Prints one
JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _rest_shuffle_totals(spark) -> dict:
    """Total shuffle read/write bytes across completed stages (status
    REST API; local UI on 4040+)."""
    try:
        ui = spark.sparkContext.uiWebUrl
        with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=5) as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
        return {
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        }
    except Exception as exc:  # UI disabled / port taken: degrade loudly
        return {"error": str(exc)}


def build_chain_corpus(spark, sf_dir: str, replicate: int, chain_mod: int,
                       chain_len: int):
    """documents x replicate plus prefix-mutant chains: base doc A gets
    mutants at 0.9^v word prefixes (v = 1..chain_len-1), each adjacent
    pair's shingle Jaccard clearing 0.85 while non-adjacent pairs do
    not — clusters exist only through transitive closure.  Mutant ids
    live in a disjoint negative namespace."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    if replicate > 1:
        # every word gets a '#<copy>' suffix so replicas are
        # SHINGLE-DISJOINT: without it, all copies of a doc share
        # identical text and the corpus devolves into C(replicate, 2)
        # exact-dup pairs per doc (quadratic hot buckets) instead of the
        # planted chain structure this harness measures.
        base_words = F.split(F.col("text"), " ")
        docs = docs.withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).select(
            (
                F.col("doc_id")
                + F.col("copy").cast("long") * F.lit(10_000_000).cast("long")
            ).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    base_words,
                    lambda w: F.concat(
                        w, F.lit("#"), F.col("copy").cast("string")
                    ),
                ),
            ).alias("text"),
        )
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    parts = [docs]
    frac = 1.0
    for v in range(1, chain_len):
        frac *= 0.9
        take = F.floor(F.lit(frac) * n).cast("int")
        parts.append(
            docs.filter(F.col("doc_id") % chain_mod == 0).select(
                (-(F.col("doc_id") * 8 + v)).alias("doc_id"),
                F.concat_ws(" ", F.slice(words, 1, take)).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    chain_mod = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    chain_len = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    hash_fn = sys.argv[5] if len(sys.argv) > 5 else "xxhash64"

    from web_content_extraction_benchmark_spark.operators.dedup import (
        PROD_BANDS,
        PROD_NUM_HASHES,
        connected_components,
        minhash_lsh_pairs,
    )
    from web_content_extraction_benchmark_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("neardup-stress", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    loadavg = os.getloadavg()[0]

    corpus = build_chain_corpus(
        spark, sf_dir, replicate, chain_mod, chain_len
    ).persist()
    n_docs = corpus.count()

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(
        corpus,
        num_hashes=PROD_NUM_HASHES,
        bands=PROD_BANDS,
        jaccard_threshold=0.85,
        hash_fn=hash_fn,
    ).persist()
    n_pairs = pairs.count()
    lsh_sec = time.perf_counter() - t0
    corpus.unpersist()

    rounds: list[dict] = []
    base = _rest_shuffle_totals(spark)
    prev = dict(base)

    def on_round(stats: dict) -> None:
        nonlocal prev
        cur = _rest_shuffle_totals(spark)
        if "error" not in cur and "error" not in prev:
            stats["shuffle_write_bytes"] = (
                cur["shuffle_write_bytes"] - prev["shuffle_write_bytes"]
            )
            stats["shuffle_read_bytes"] = (
                cur["shuffle_read_bytes"] - prev["shuffle_read_bytes"]
            )
        prev = cur
        stats["wall_sec"] = round(stats["wall_sec"], 3)
        rounds.append(stats)

    t1 = time.perf_counter()
    components = connected_components(pairs, on_round=on_round)
    n_nodes = components.count()
    n_clusters = components.select("component").distinct().count()
    resolve_sec = time.perf_counter() - t1

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_pairs": n_pairs,
                "n_nodes": n_nodes,
                "n_clusters": n_clusters,
                "lsh_sec": round(lsh_sec, 2),
                "resolve_sec": round(resolve_sec, 2),
                "rounds": rounds,
                "chain_len": chain_len,
                "replicate": replicate,
                "hash_fn": hash_fn,
                "cpus": cpus,
                "loadavg_at_start": loadavg,
            }
        )
    )


if __name__ == "__main__":
    main()
