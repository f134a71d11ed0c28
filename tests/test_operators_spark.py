"""Dedup / similarity / textstats / multimodal operator tests."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.dedup import (
    drop_exact_duplicates,
    exact_duplicates,
    minhash_lsh_pairs,
    simhash_near_duplicates,
    simhash64_col,
    simhash64_py,
)
from web_content_extraction_benchmark_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_media_features,
    real_decode,
    synthesize_media,
)
from web_content_extraction_benchmark_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from web_content_extraction_benchmark_spark.operators.textstats import (
    language_id,
    quality_score,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    copies = docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(copies)
    groups = exact_duplicates(corpus)
    assert groups.count() >= docs.select("text").distinct().count()
    kept = drop_exact_duplicates(corpus)
    assert kept.count() == corpus.select("text").distinct().count()
    # deterministic winner: the lowest doc_id
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_finds_planted_near_duplicates(spark, docs):
    words = F.split(F.col("text"), " ")
    mutants = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutants)
    pairs = minhash_lsh_pairs(corpus, jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 10_000)
        for r in docs.filter(F.col("doc_id") % 25 == 0).collect()
    }
    # banded LSH recall is < 1 by design; most planted pairs must surface
    assert len(found & planted) >= 0.7 * len(planted)
    for r in pairs.collect():
        assert 0.5 <= r.jaccard <= 1.0


def test_minhash_prod_width_fast_hash_recall(spark, docs):
    """Production path: 128 hashes / 16 bands with the xxhash64
    base+remix signatures must find (nearly) all planted near-dups —
    at r=8 rows/band the S-curve midpoint is ~0.71, well under the
    planted pairs' ~0.9 Jaccard."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        PROD_BANDS,
        PROD_NUM_HASHES,
    )

    words = F.split(F.col("text"), " ")
    mutants = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutants)
    pairs = minhash_lsh_pairs(
        corpus, num_hashes=PROD_NUM_HASHES, bands=PROD_BANDS,
        jaccard_threshold=0.5, hash_fn="xxhash64",
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {
        (r.doc_id, r.doc_id + 10_000)
        for r in docs.filter(F.col("doc_id") % 25 == 0).collect()
    }
    assert len(found & planted) >= 0.95 * len(planted)


def test_simhash_hamming_on_near_duplicates(spark, docs):
    sample = docs.filter(F.col("doc_id") < 50)
    words = F.split(F.col("text"), " ")
    mutants = sample.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 1)).alias("text"),
    )
    corpus = sample.select("doc_id", "text").unionByName(mutants)
    pairs = simhash_near_duplicates(corpus, max_hamming=8)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 10_000) for i in range(50)}
    assert len(found & planted) >= 0.5 * len(planted)
    # identical docs -> hamming 0
    sig = {r.doc_id: r.sig
           for r in sample.select(
               "doc_id", simhash64_col(F.col("text")).alias("sig")
           ).collect()}
    assert all(isinstance(v, int) for v in sig.values())


def test_simhash_catalyst_matches_python_kernel(spark, docs):
    """The JVM-side Catalyst SimHash must reproduce the single-threaded
    reference kernel bit-for-bit (same oracle pattern as extractors)."""
    sample = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    got = {r.doc_id: r.sig
           for r in sample.select(
               "doc_id", simhash64_col(F.col("text")).alias("sig")
           ).collect()}
    texts = {r.doc_id: r.text for r in sample.collect()}
    assert len(got) > 20
    for doc_id, text in texts.items():
        assert got[doc_id] == simhash64_py(text), doc_id
    # edge cases: blank-ish inputs -> 0
    edge = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("one two one",)], "text string"
    ).select(simhash64_col(F.col("text")).alias("sig")).collect()
    assert edge[0].sig == 0 and edge[1].sig == 0
    assert edge[2].sig == simhash64_py("one")
    assert edge[3].sig == simhash64_py("one two one")


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk(emb, queries, k=5)
    # few planes per table + many tables: recall/selectivity trade-off is
    # tunable per corpus; these settings target ~0.7+ recall here
    approx = lsh_cosine_topk(emb, queries, dim=64, k=5,
                             n_planes=4, n_tables=12)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6  # multi-table LSH on random vectors
    # ranks are 1..5 per query, deterministic
    ranks = [(r.query_id, r.rank) for r in exact.collect()]
    assert len(ranks) == len(set(ranks))


def test_short_and_empty_docs_survive_gram_operators(spark):
    """Docs shorter than the shingle size must yield empty gram sets,
    not a slice(start=0) runtime error (sequence(1, 0) descends)."""
    from web_content_extraction_benchmark_spark.operators.grams import (
        with_word_kgrams,
    )
    from web_content_extraction_benchmark_spark.operators.textstats import (
        winnowing_fingerprints,
    )

    edge = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "one two three four five")],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(edge).collect()
    assert {r.doc_id for r in fps} == {3}
    sh = with_word_kgrams(edge, "text", 3, "sh", distinct=True).select(
        "doc_id", F.size("sh").alias("n")
    ).collect()
    assert {r.doc_id: r.n for r in sh} == {1: 0, 2: 0, 3: 3}
    # the gram-based pair operators run clean over short docs too
    assert minhash_lsh_pairs(edge).count() == 0


def test_winnowing_plan_is_shuffle_free(spark, docs):
    fp = __import__(
        "web_content_extraction_benchmark_spark.operators.textstats",
        fromlist=["winnowing_fingerprints"],
    ).winnowing_fingerprints(docs)
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan


def test_repetition_stats_flags_degenerate_docs(spark, docs):
    """Gopher-style repetition filters: planted repeated-phrase docs must
    score far above natural prose; the plan stays per-row JVM."""
    from web_content_extraction_benchmark_spark.operators.textstats import (
        repetition_stats,
    )

    edge = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(edge).collect()}
    assert rows[1].dup_word_frac > 0.8 and rows[1].top_bigram_frac == 1.0
    assert rows[2].dup_word_frac < 0.2 and rows[2].top_bigram_frac < 0.2
    plan = repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_ann_ivf_recall_and_plan(spark, sf_dir):
    """IVF path: k-means cells + multi-probe must recover most exact
    neighbors; candidate generation is an equi join on the cell id."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}
    approx_df = ivf_cosine_topk(emb, queries, k=5, n_cells=16, n_probe=6)
    approx = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
    assert len(exact & approx) / len(exact) >= 0.6
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_textstats_bounds(spark, docs):
    out = quality_score(language_id(docs), "text")
    rows = out.select("lang_pred", "quality").collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(r.lang_pred in {"en", "de", "fr", "es", "und"} for r in rows)
    counts = token_counts(docs.select("doc_id", "text")).collect()
    assert all(r.n_bpe_tokens >= r.n_ws_tokens for r in counts)


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n_rows=30)
    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.features) == FEATURE_DIM for r in feats)
    assert all(r.n_bytes > 0 for r in feats)
    # deterministic across runs
    again = extract_media_features(synthesize_media(spark, n_rows=30)).collect()
    assert sorted(map(repr, feats)) == sorted(map(repr, again))
    # all three kinds decode for real; junk bytes fail loudly
    with pytest.raises(ValueError):
        real_decode(b"x", "video")
    with pytest.raises(ValueError):
        real_decode(b"x", "bogus_kind")


def test_real_bmp_wav_decode_roundtrip():
    """The image/audio decode kernels are REAL: header parse + pixel/
    sample decode recover exactly what the writers emitted, and corrupt
    payloads fail loudly instead of producing garbage features."""
    import numpy as np

    from web_content_extraction_benchmark_spark.operators.multimodal import (
        bmp_features,
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
        wav_features,
    )

    px = decode_bmp(encode_bmp(9, 7, (10, 20, 30), (200, 100, 50)))
    assert px.shape == (7, 9, 3)
    assert tuple(px[0, 0]) == (10, 20, 30) and tuple(px[3, 1]) == (200, 100, 50)
    f = bmp_features(encode_bmp(9, 7, (10, 20, 30), (200, 100, 50)))
    assert f[0] == 9.0 and f[1] == 7.0
    assert f[2] == (5 * 10 + 4 * 200) / 9  # stripe mean, exact

    rate, s = decode_wav(encode_wav(8000, 80, 2000, 2))
    assert rate == 8000 and len(s) == 80
    assert s[0] == 2000 / 32768.0 and s[2] == -2000 / 32768.0
    wf = wav_features(encode_wav(8000, 80, 2000, 2))
    assert wf[2] == 0.0  # full periods -> exact zero mean
    assert wf[3] == 2000 / 32768.0  # square wave rms == amplitude
    assert wf[4] == (80 / 2 - 1) / 79  # zero crossings

    for bad in (b"", b"BMnope", b"RIFFxxxxWAVE"):
        with pytest.raises(ValueError):
            decode_bmp(bad)
        with pytest.raises(ValueError):
            decode_wav(bad)
    # 8-bit / compressed BMPs and non-PCM16 WAVs are rejected, not
    # silently mis-decoded
    bmp = bytearray(encode_bmp(4, 4, (0, 0, 0), (1, 1, 1)))
    bmp[28] = 8  # bpp
    with pytest.raises(ValueError):
        decode_bmp(bytes(bmp))
    wav = bytearray(encode_wav(8000, 8, 100, 1))
    wav[20] = 3  # format tag != PCM
    with pytest.raises(ValueError):
        decode_wav(bytes(wav))


def test_real_avi_decode_roundtrip():
    """The video decode kernel is REAL: RIFF hdrl/movi walk + DIB frame
    decode recover exactly what the writer emitted; motion features
    match hand-computed stripe deltas; corrupt payloads fail loudly."""
    from web_content_extraction_benchmark_spark.operators.multimodal import (
        avi_features,
        decode_avi,
        encode_avi,
    )

    colors = [((10, 20, 30), (200, 100, 50)), ((13, 24, 35), (205, 90, 61))]
    payload = encode_avi(9, 5, colors, 12)
    fps, frames = decode_avi(payload)
    assert fps == 12.0 and frames.shape == (2, 5, 9, 3)
    assert tuple(frames[0, 0, 0]) == (10, 20, 30)
    assert tuple(frames[0, 2, 3]) == (200, 100, 50)
    assert tuple(frames[1, 4, 8]) == (13, 24, 35)

    f = avi_features(payload)
    assert f[:3] == [9.0, 5.0, 2.0]
    # mean over both frames: 5 even cols c1, 4 odd cols c2 per row
    total = sum(
        5 * (5 * sum(c1) + 4 * sum(c2)) for c1, c2 in colors
    )
    assert f[3] == total / (2 * 5 * 9 * 3)
    # one frame pair: |delta| = (3+4+5) per even cell, (5+10+11) per odd
    pair = 5 * (5 * (3 + 4 + 5) + 4 * (5 + 10 + 11))
    assert f[4] == pair / (1 * 5 * 9 * 3) == f[5] * 1.0

    # single-frame video -> zero motion
    single = avi_features(encode_avi(4, 3, colors[:1], 10))
    assert single[2] == 1.0 and single[4] == 0.0 and single[5] == 0.0

    for bad in (b"", b"RIFFxxxxWAVE", b"RIFF\x00\x00\x00\x00AVI "):
        with pytest.raises(ValueError):
            decode_avi(bad)
    # truncated frame data and non-24bpp streams are rejected
    trunc = bytearray(payload)
    with pytest.raises(ValueError):
        decode_avi(bytes(trunc[:-20]))
    bpp = payload.index(b"strf") + 8 + 14
    bad_bpp = bytearray(payload)
    bad_bpp[bpp] = 8
    with pytest.raises(ValueError):
        decode_avi(bytes(bad_bpp))


def test_avi_top_down_negative_height():
    """A negative strf height means top-down frame rows (same DIB rule
    as BMP): the decoder must not flip them."""
    import struct

    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
    )

    colors = [((1, 2, 3), (4, 5, 6))]
    payload = bytearray(encode_avi(4, 2, colors, 10))
    # rows are identical stripes here, so flipping alone can't differ;
    # instead plant a distinct first-row pixel and negate the height
    strf_h = payload.index(b"strf") + 8 + 8
    payload[strf_h:strf_h + 4] = struct.pack("<i", -2)
    movi = payload.index(b"00db") + 8
    payload[movi:movi + 3] = bytes((9, 8, 7))  # BGR of FIRST stored row
    fps, frames = decode_avi(bytes(payload))
    # top-down: first stored row IS row 0 (bottom-up would put it last)
    assert tuple(frames[0, 0, 0]) == (7, 8, 9)


def test_simhash_blank_docs_excluded_from_blocking(spark, docs):
    """Planted blank/empty docs (sig=0) must not enter chunk blocking:
    they would all share every 16-bit chunk and turn the candidate join
    quadratic (VERDICT r2, What's wrong #2)."""
    sample = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    blanks = spark.createDataFrame(
        [(100_000 + i, ["", "   ", "\t\n", None][i % 4]) for i in range(40)],
        "doc_id long, text string",
    )
    copies = sample.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    corpus = sample.unionByName(blanks).unionByName(copies)
    pairs = simhash_near_duplicates(corpus, max_hamming=3).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert not any(i >= 100_000 for i in ids_in_pairs)  # no blank ids
    # 40 blanks would otherwise contribute C(40,2)=780 hamming-0 pairs
    planted = {(i, i + 10_000) for i in range(40)}
    found = {(r.id_a, r.id_b) for r in pairs}
    assert planted <= found


def test_simhash_whitespace_token_contract(spark):
    """Catalyst kernel == Python kernel on the documented ASCII-whitespace
    token contract, including the edge cases where trim+split and
    str.split() used to diverge (ADVICE r2): leading tabs, CRLF, NBSP and
    U+2028 (which stay INSIDE tokens on both sides)."""
    texts = [
        "\tleading tab",
        "trailing space  ",
        "crlf\r\nsplit",
        "nbsp joined stays",
        "line sep stays",
        " \t \r\n ",
        "a  b\tc",
    ]
    rows = spark.createDataFrame([(t,) for t in texts], "text string").select(
        simhash64_col(F.col("text")).alias("sig")
    ).collect()
    for text, row in zip(texts, rows):
        assert row.sig == simhash64_py(text), repr(text)


def test_ivf_broadcast_codebook_recall(spark, sf_dir):
    """The broadcast-codebook IVF path (n_cells > literal threshold) must
    clear the same recall gate as the literal path — 256 cells on the 500
    vector corpus with 64-probe (25% of cells scanned)."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}
    approx_df = ivf_cosine_topk(emb, queries, k=5, n_cells=256, n_probe=64)
    approx = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_oph_minhash_recall_and_determinism(spark, docs):
    """One-permutation-hashing LSH (hash_fn='oph'): O(shingles) per doc
    instead of O(shingles x 128).  Emitted pairs must still be exact-
    Jaccard-verified (subset of true pairs), recall the planted mutant
    pairs well, and be deterministic across partitionings."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        PROD_BANDS,
        PROD_NUM_HASHES,
        minhash_lsh_pairs,
    )

    a = minhash_lsh_pairs(
        docs, num_hashes=PROD_NUM_HASHES, bands=PROD_BANDS,
        jaccard_threshold=0.6, hash_fn="oph",
    ).collect()
    got = {(r.id_a, r.id_b) for r in a}
    # exact truth: the md5 8/4 fixture path verifies by exact Jaccard
    # too, and at 0.6 on this corpus its candidates are effectively
    # exhaustive (planted mutants share most shingles)
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.6).collect()
    }
    assert want, "fixture should plant pairs"
    recall = len(got & want) / len(want)
    assert recall >= 0.9, (recall, len(got), len(want))
    # emitted jaccards are exact (>= threshold by construction)
    assert all(r.jaccard >= 0.6 for r in a)
    # repartition determinism
    b = minhash_lsh_pairs(
        docs.repartition(13), num_hashes=PROD_NUM_HASHES,
        bands=PROD_BANDS, jaccard_threshold=0.6, hash_fn="oph",
    ).collect()
    assert {(r.id_a, r.id_b) for r in b} == got


def test_oph_short_docs_densify(spark):
    """Docs with fewer shingles than signature bins must densify into
    full signatures (no EMPTY leakage) and identical texts must still
    collide on every band."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(
        df, num_hashes=128, bands=16, jaccard_threshold=0.9,
        hash_fn="oph",
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_ivf_prebuilt_inverted_lists_identical(spark, sf_dir):
    """The production probe path (codebook + materialized inverted
    lists via ivf_index) returns EXACTLY what the per-call assignment
    path returns — the index build only moves the corpus cell
    assignment out of the batch window, never changes semantics."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_cosine_topk,
        ivf_index,
        ivf_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    centroids = ivf_train(emb, n_cells=16)
    lists = ivf_index(emb, centroids).cache()
    inline = ivf_cosine_topk(emb, queries, k=5, centroids=centroids,
                             n_probe=4).collect()
    prebuilt = ivf_cosine_topk(emb, queries, k=5, centroids=centroids,
                               n_probe=4, indexed_corpus=lists).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, prebuilt))
    assert len(inline) > 0


def test_connected_components_transitive(spark):
    """Pair resolution must close transitively: chain edges A-B, B-C
    (no A-C) collapse into one component labeled by the min id; long
    chains converge within the iteration budget."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23),
             (23, 24)] + [(100 + i, 101 + i) for i in range(15)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert all(got[20 + i] == 20 for i in range(5))
    assert all(got[100 + i] == 100 for i in range(16))  # 15-hop chain
    assert set(got) == {e for ab in edges for e in ab}


def test_drop_near_duplicates_keeps_one_per_cluster(spark, docs):
    from web_content_extraction_benchmark_spark.operators.dedup import (
        drop_near_duplicates,
    )

    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 30)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    kept = {r.doc_id for r in drop_near_duplicates(base, pairs).collect()}
    assert 0 in kept and 5 in kept            # canonical minima survive
    assert {1, 2, 6}.isdisjoint(kept)         # cluster losers dropped
    assert all(i in kept for i in range(7, 30))  # untouched docs stay


def test_connected_components_matches_union_find(spark):
    """Property check: the distributed min-label propagation equals a
    single-threaded union-find on random graphs."""
    import random

    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    for _ in range(2):
        n = 60
        edges = list(
            {
                (a, b)
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(45)
                )
                if a != b
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {e for ab in edges for e in ab}
        comp_min: dict[int, int] = {}
        for x in nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[find(x)] for x in nodes}
        got = {
            r.id: r.component
            for r in connected_components(
                spark.createDataFrame(edges, "id_a long, id_b long")
            ).collect()
        }
        assert got == expected


def test_connected_components_loop_equals_fast_path(spark, monkeypatch):
    """r9: small graphs resolve via driver union-find; the distributed
    pointer-jumping loop must stay bit-identical.  Force the loop by
    zeroing the fast-path threshold and compare on a chain + random
    edges (string ids too — the loop is type-agnostic)."""
    import random

    from web_content_extraction_benchmark_spark.operators import dedup

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(40)] + [
        (rng.randrange(200), rng.randrange(200)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.id, r.component)
            for r in dedup.connected_components(df).collect()}
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_THRESHOLD", 0)
    loop = {(r.id, r.component)
            for r in dedup.connected_components(df).collect()}
    assert fast == loop

    sdf = spark.createDataFrame(
        [("u" + str(a), "u" + str(b)) for a, b in edges[:30]],
        "id_a string, id_b string",
    )
    loop_s = {(r.id, r.component)
              for r in dedup.connected_components(sdf).collect()}
    monkeypatch.undo()
    fast_s = {(r.id, r.component)
              for r in dedup.connected_components(sdf).collect()}
    assert fast_s == loop_s


def test_simhash_contract_on_random_unicode(spark):
    """Catalyst == Python kernel on randomized unicode text covering the
    whole token contract surface: ASCII whitespace runs, unicode
    whitespace (kept inside tokens), accents, CJK, empty-ish strings."""
    import random

    rng = random.Random(42)
    alphabet = (
        list("abcXYZ019_-") + ["é", "ß", "漢", "字", " ", " "]
        + [" ", "\t", "\n", "\r", "\x0b", "\x0c"]
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(80)
    ]
    rows = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    ).select("i", simhash64_col(F.col("text")).alias("sig")).collect()
    got = {r.i: r.sig for r in rows}
    for i, text in enumerate(texts):
        assert got[i] == simhash64_py(text), repr(text)


def test_simhash_bucket_cap_prunes_hot_buckets(spark, docs):
    """Opt-in skew valve: (chunk_id, chunk) buckets above max_bucket are
    dropped from blocking — a 40-doc identical-text clique (every chunk
    bucket hot) produces zero candidates under the cap, while a small
    pair elsewhere is still found through its under-cap buckets."""
    sample = docs.filter(F.col("doc_id") < 10).select("doc_id", "text")
    one = sample.first().text
    other = "completely different words " * 5
    hot = spark.createDataFrame(
        [(20_000 + i, one) for i in range(40)], "doc_id long, text string"
    )
    pair = spark.createDataFrame(
        [(30_000, other), (30_001, other)], "doc_id long, text string"
    )
    corpus = sample.unionByName(hot).unionByName(pair)

    uncapped = {(r.id_a, r.id_b)
                for r in simhash_near_duplicates(corpus).collect()}
    assert sum(1 for a, b in uncapped if a >= 20_000 and b < 30_000) >= 780

    capped = {(r.id_a, r.id_b)
              for r in simhash_near_duplicates(
                  corpus, max_bucket=10).collect()}
    assert (30_000, 30_001) in capped
    assert not any(20_000 <= a < 30_000 for a, _ in capped)


def test_connected_components_on_string_ids(spark):
    """Ids are type-generic: url strings work directly (no long cast —
    ANSI mode would throw); canonical = lexicographic min."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [("u/a", "u/b"), ("u/b", "u/c"), ("u/x", "u/y")],
        "id_a string, id_b string",
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {"u/a": "u/a", "u/b": "u/a", "u/c": "u/a",
                   "u/x": "u/x", "u/y": "u/x"}


def test_bmp_top_down_negative_height():
    """BMP height is a SIGNED field: negative height means top-down row
    order (no flip).  A decoder parsing it unsigned would either garble
    or reject every real top-down bitmap."""
    import struct

    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_bmp,
    )

    w, h = 2, 2
    row_size = (3 * w + 3) // 4 * 4
    rows = [
        bytes((0, 0, 255)) + bytes((0, 255, 0)),  # BGR: red, green (top)
        bytes((255, 0, 0)) + bytes((255, 255, 255)),
    ]
    pix = b"".join(r + b"\x00" * (row_size - len(r)) for r in rows)
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(pix),
                      0, 0, 0, 0)
        + pix
    )
    px = decode_bmp(payload)
    assert px.shape == (2, 2, 3)
    assert tuple(px[0, 0]) == (255, 0, 0)  # top-left stays red: no flip
    assert tuple(px[1, 1]) == (255, 255, 255)


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """Pointer jumping must close a 512-node path graph (diameter 511)
    well within max_iterations ~ O(log n) — plain min-label propagation
    without jumping would need ~511 rounds and trip the loud
    non-convergence guard."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )

    n = 512
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)]
        + [(10_000 + i, 10_001 + i) for i in range(20)],
        "id_a long, id_b long",
    )
    comp = connected_components(pairs, max_iterations=14)  # ~log2(512)+pad
    rows = comp.collect()
    assert len(rows) == n + 21
    chain = {r.id for r in rows if r.id < 10_000}
    assert chain == set(range(n))
    assert {r.component for r in rows if r.id < 10_000} == {0}
    assert {r.component for r in rows if r.id >= 10_000} == {10_000}


def test_drop_exact_duplicates_null_texts_form_one_group(spark):
    """NULL texts must dedup as ONE group (the old window semantics and
    exact_duplicates' null-safe groupBy): a null-unsafe digest join
    would never match NULL digests and silently keep every NULL row
    (code-review r4 finding)."""
    corpus = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x"), (5, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in drop_exact_duplicates(corpus).collect())
    assert kept == [1, 3]


def test_codec_declared_but_truncated_payloads_raise_valueerror():
    """Payloads with valid magic but truncated/lying headers must raise
    ValueError, not struct.error or silent garbage (code-review r4)."""
    import struct

    from web_content_extraction_benchmark_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
    )

    # WAV: fmt chunk declares 16 bytes but carries 4
    wav = (
        struct.pack("<4sI4s", b"RIFF", 20, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 16) + b"\x01\x00\x01\x00"
    )
    with pytest.raises(ValueError):
        decode_wav(wav)
    # BMP: pixel offset pointing back into the headers
    bmp = bytearray(encode_bmp(2, 2, (0, 0, 0), (1, 1, 1)))
    struct.pack_into("<I", bmp, 10, 0)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bmp))


def test_cosine_zero_vector_is_not_nan_poison(spark):
    """A zero embedding must score 0.0 (and rank LAST), not NaN — Spark
    sorts NaN above every real value, so an unguarded 0/0 would rank a
    zero vector #1 for every query and pass every threshold filter
    (code-review r4 finding)."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [1.0] * 4), (3, [0.0] * 4), (4, [0.5] * 4)],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk(emb, emb.filter("vec_id = 1"), k=3).collect()
    ranked = {r.rank: (r.neighbor_id, r.cos) for r in top}
    assert ranked[1][0] in (2, 4) and abs(ranked[1][1] - 1.0) < 1e-9
    assert ranked[3] == (3, 0.0)  # zero vector scores 0.0, ranks last
    pairs = embedding_near_duplicates(emb, threshold=0.9, dim=4).collect()
    assert all(3 not in (r.id_a, r.id_b) for r in pairs)


def test_quality_score_zeroes_empty_and_null_text(spark):
    """Empty, whitespace-only, and NULL texts must score 0.0 — split('')
    returns [''] so an n_words==0 guard is dead code, and null-skipping
    least/greatest would otherwise hand NULL text a 0.175 score that
    clears typical quality cutoffs (code-review r4 finding)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None),
         (4, "this is a perfectly normal sentence with many fine words")],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.quality for r in quality_score(df).collect()}
    assert scores[1] == 0.0 and scores[2] == 0.0 and scores[3] == 0.0
    assert scores[4] > 0.3


def test_decontamination_matches_duckdb_and_plan(spark, docs):
    """Benchmark decontamination: planted eval-set leaks are found
    exactly (DuckDB shingle-intersection cross-check) and the exploded
    corpus grams never enter an Exchange (benchmark side broadcasts)."""
    import duckdb

    from web_content_extraction_benchmark_spark.operators.dedup import (
        contaminated_ids,
        decontaminate,
    )

    corpus = docs.select("doc_id", "text")
    # benchmark = 9-word snippets lifted from every 25th doc (planted
    # leaks) plus one disjoint synthetic row
    words = F.split(F.col("text"), " ")
    bench = corpus.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(words, 3, 9)).alias("text")
    ).unionByName(
        spark.createDataFrame(
            [("zzz qqq xxx yyy www vvv",)], "text string"
        )
    )
    bad = {r.doc_id for r in contaminated_ids(corpus, bench).collect()}
    con = duckdb.connect()
    con.register("docs_v", corpus.toPandas())
    con.register("bench_v", bench.toPandas())
    want = {
        row[0]
        for row in con.sql("""
            WITH dg AS (
                SELECT doc_id, unnest(range(1,
                    greatest(len(string_split(text, ' ')) - 1, 1))) AS i,
                    string_split(text, ' ') AS w
                FROM docs_v
            ),
            dgs AS (
                SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
                FROM dg WHERE len(w) >= 3
            ),
            bg AS (
                SELECT DISTINCT array_to_string(
                    string_split(text, ' ')[i:i+2], ' ') AS gram
                FROM (SELECT text, unnest(range(1, greatest(
                    len(string_split(text, ' ')) - 1, 1))) AS i
                      FROM bench_v)
                WHERE len(string_split(text, ' ')) >= 3
            )
            SELECT DISTINCT doc_id FROM dgs JOIN bg USING (gram)
        """).fetchall()
    }
    assert bad == want
    # every planted leak found, clean docs retained
    planted = {r.doc_id for r in corpus.filter("doc_id % 25 = 0")
               .filter(F.size(F.split("text", " ")) >= 11).collect()}
    assert planted <= bad
    kept = decontaminate(corpus, bench)
    assert kept.count() == corpus.count() - len(bad)
    # plan: the exploded CORPUS grams reach the join via a broadcast of
    # the (small) benchmark gram set — a sort-merge join would need TWO
    # gram exchanges (one per side); exactly one is allowed (the
    # benchmark side's distinct).  The id exchange is the final distinct.
    plan = contaminated_ids(corpus, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    gram_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(gram" in ln
    ]
    assert len(gram_exchanges) <= 1, gram_exchanges


def test_decontaminate_retains_no_blocks(spark):
    """Repeated decontaminate calls leave no persisted or checkpointed
    block behind in the session's block manager."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        decontaminate,
    )

    def stored() -> set[int]:
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    corpus = spark.createDataFrame(
        [(i, f"w{i} x{i % 3} alpha beta gamma delta y{i}") for i in range(40)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("x1 alpha beta",), ("nothing to see here",)], "text string"
    )
    before = stored()
    for _ in range(3):
        assert decontaminate(corpus, bench, k=3).count() == 27
        assert stored() <= before


def test_ivf_tune_n_probe_picks_smallest_meeting_target(spark, sf_dir):
    """ivf_tune_n_probe: the measured curve is non-decreasing in
    n_probe, the returned n_probe is the FIRST grid value meeting
    target, and an unreachable target surfaces the grid max with its
    honest recall."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_train,
        ivf_tune_n_probe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sample = emb.filter(F.col("vec_id") % 25 == 0)
    centroids = ivf_train(emb, n_cells=16)
    out = ivf_tune_n_probe(
        emb, sample, centroids, k=5, target_recall=0.9,
        n_probe_grid=(1, 2, 4, 8, 16),
    )
    recalls = [pt["recall"] for pt in out["curve"]]
    assert recalls == sorted(recalls), "recall not monotone in n_probe"
    assert out["recall"] >= 0.9
    # every earlier grid point missed target (first-hit minimality)
    assert all(pt["recall"] < 0.9 for pt in out["curve"][:-1])
    # probing every cell is exhaustive: recall exactly 1.0 at the top
    full = ivf_tune_n_probe(
        emb, sample, centroids, k=5, target_recall=2.0,  # unreachable
        n_probe_grid=(16,),
    )
    assert full["n_probe"] == 16 and full["recall"] == 1.0


def test_band_keys_selectexpr_equals_column_form(spark, docs):
    """r9: lsh_band_keys builds its signature columns as SQL strings
    (one selectExpr) instead of per-seed Column trees — the expressions
    must be IDENTICAL.  Reconstruct the old column form for both hash
    families and compare full (id, band, key) sets."""
    from pyspark.sql import functions as F

    from web_content_extraction_benchmark_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signature,
        minhash_signature_fast,
    )
    from web_content_extraction_benchmark_spark.operators.grams import (
        with_word_kgrams,
    )

    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 60)
    for hash_fn, num_hashes, bands in (("md5", 8, 4), ("xxhash64", 32, 8)):
        new = {(r.id, r.band, r.key) for r in lsh_band_keys(
            base, id_col="doc_id", num_hashes=num_hashes, bands=bands,
            hash_fn=hash_fn).collect()}
        shingled = with_word_kgrams(
            base, "text", 3, "_sh", distinct=True
        ).select(F.col("doc_id").alias("id"), "_sh").filter(
            F.size("_sh") > 0)
        if hash_fn == "xxhash64":
            sig = shingled.select(
                "id", F.transform("_sh", lambda s: F.xxhash64(s)).alias("_hs")
            ).select("id", *minhash_signature_fast(F.col("_hs"), num_hashes))
        else:
            sig = shingled.select(
                "id", *minhash_signature(F.col("_sh"), num_hashes))
        rpb = num_hashes // bands
        band_cols = [
            F.concat_ws("|", *[F.col(f"mh{b * rpb + r}") for r in range(rpb)]
                        ).alias(f"band{b}")
            for b in range(bands)
        ]
        old = {(r.id, r.band, r.key) for r in sig.select(
            "id", F.posexplode(F.array(*band_cols)).alias("band", "key")
        ).collect()}
        assert new == old and new


# Property fuzz: the OPH signature kernel against a naive per-row
# reference (routing + min + circular-left densification are the LSH
# soundness contract).
EMPTY = np.iinfo(np.int64).max
K = 16


def _naive_oph(arr: list[int], k: int) -> list[int]:
    sig = [EMPTY] * k
    for h in arr:
        b = int(np.uint64(np.int64(h)) % np.uint64(k))
        sig[b] = min(sig[b], int(h))
    out = list(sig)
    for i in range(k):
        if out[i] == EMPTY:
            for d in range(1, k + 1):
                j = (i - d) % k
                if sig[j] != EMPTY:
                    out[i] = sig[j]
                    break
    return out


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**62), max_value=2**62), max_size=40
        ),
        min_size=1,
        max_size=12,
    )
)
# a shingle-less row must keep the EMPTY sentinel in every bin next to
# a densified one (all-null bins would collide on one band key)
@example([[], [7, 11, 13]])
@settings(max_examples=300, deadline=None)
def test_oph_kernel_matches_naive_reference(rows):
    from web_content_extraction_benchmark_spark.operators.dedup import (
        oph_signatures,
    )

    got = oph_signatures(rows, K)
    assert got.shape == (len(rows), K)
    for r, g in zip(rows, got):
        assert list(g) == _naive_oph(r, K)
