"""Word k-grams (operators/grams.py): the arrays against a
pure-Python reference, its argument checks, and its cost in the words
per document."""

import hashlib
import random
import time

import pytest
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.dedup import (
    contaminated_ids,
    minhash_lsh_pairs,
)
from web_content_extraction_benchmark_spark.operators.grams import (
    with_word_kgrams,
)
from web_content_extraction_benchmark_spark.operators.substr_dedup import (
    dedup_exact_substrings,
)
from web_content_extraction_benchmark_spark.operators.textstats import (
    winnowing_fingerprints,
)


def _ref_kgrams(text, k, distinct=False, transform=None):
    """Positional word k-grams of ``text.split(" ")``; order-preserving
    distinct for shingle sets."""
    if text is None:
        return []
    w = text.split(" ")
    grams = [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)]
    if transform is not None:
        grams = [transform(g) for g in grams]
    return list(dict.fromkeys(grams)) if distinct else grams


def _random_texts(rng, n):
    vocab = ["a", "b", "c", "dé", "ß", "x.y", "*", "a b"]
    edge = [None, "", " ", "  ", "a", "a b", "a  b", "a b ", " a b",
            "a b c", "a a a a", "a b a b a b"]
    out = list(edge)
    while len(out) < n:
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        text = " ".join(words)
        if rng.random() < 0.3:  # double and trailing spaces
            text = text.replace(" ", "  ", 1) + " " * rng.randint(0, 2)
        out.append(text)
    return out


def test_word_kgrams_match_python_reference(spark):
    rng = random.Random(20261018)
    texts = _random_texts(rng, 80)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    md5 = (lambda g: hashlib.md5(g.encode("utf-8")).hexdigest())
    for k in (1, 2, 3, 5):
        for distinct, transform, py_transform in (
            (False, None, None), (True, None, None), (False, F.md5, md5),
        ):
            got = {
                r.doc_id: list(r.g) for r in with_word_kgrams(
                    df, "text", k, "g", distinct=distinct,
                    transform=transform,
                ).select("doc_id", "g").collect()
            }
            want = {
                i: _ref_kgrams(t, k, distinct, py_transform)
                for i, t in enumerate(texts)
            }
            assert got == want, (k, distinct, transform)


def test_word_kgrams_columns_nonempty_and_explode(spark):
    df = spark.createDataFrame(
        [(1, "a b", 7), (2, "", 8), (3, None, 9), (4, "a b c d", 10)],
        "doc_id long, text string, extra int",
    )
    out = with_word_kgrams(df, "text", 3, "sh", distinct=True)
    assert out.columns == ["doc_id", "text", "extra", "sh"]
    assert {r.doc_id: list(r.sh) for r in out.collect()} == {
        1: [], 2: [], 3: [], 4: ["a b c", "b c d"],
    }
    kept = with_word_kgrams(df, "text", 3, "sh", nonempty=True,
                            words_out="w")
    assert kept.columns == ["doc_id", "text", "extra", "w", "sh"]
    assert [(r.doc_id, list(r.w)) for r in kept.collect()] == [
        (4, ["a", "b", "c", "d"]),
    ]
    rows = with_word_kgrams(df, "text", 2, "g", explode=True).collect()
    assert [(r.doc_id, r.g) for r in rows] == [
        (1, "a b"), (4, "a b"), (4, "b c"), (4, "c d"),
    ]


def test_gram_size_below_one_is_rejected_before_planning(spark):
    """k=0 used to give every document, even '', the gram set [''] (so
    every pair looked like a Jaccard-1.0 duplicate and every winnowing
    fingerprint was md5('')); k=-1 failed inside tasks."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "")], "doc_id long, text string"
    )
    for k in (0, -1):
        with pytest.raises(ValueError, match="k-gram size"):
            with_word_kgrams(df, "text", k, "g")
        with pytest.raises(ValueError, match="k-gram size"):
            winnowing_fingerprints(df, k=k)
        with pytest.raises(ValueError, match="k-gram size"):
            contaminated_ids(df, df, k=k)
    for window in (0, -1):
        with pytest.raises(ValueError, match="window"):
            winnowing_fingerprints(df, window=window)
        for mode in ("hash", "exact"):
            with pytest.raises(ValueError, match="window"):
                dedup_exact_substrings(df, window=window, key_mode=mode)


def _docs_of(spark, n_words):
    """8 persisted docs of ``n_words`` words from a 100k-word
    vocabulary; docs 2j and 2j+1 differ in their last word only, so
    the verify stage sees 4 near-duplicate pairs."""
    pair = F.floor(F.col("id") / 2)

    def word(x):
        return F.when(
            (x == n_words) & (F.col("id") % 2 == 1), F.lit("tail")
        ).otherwise(F.concat(
            F.lit("w"), F.pmod(F.xxhash64(pair, x), F.lit(100_000))
            .cast("string")
        ))

    docs = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), F.lit(n_words)), word)
        ).alias("text"),
    ).persist()
    docs.count()
    return docs


def test_minhash_lsh_pairs_cost_is_linear_in_words(spark):
    """Doubling the words per document must cost < 2.5x the time (best
    of 3).  With the word split inlined into the gram lambda, shingling
    4k -> 8k words per doc took 5.0 -> 17.1 s (O(words^2))."""
    best = {}
    for n_words in (4000, 8000):
        docs = _docs_of(spark, n_words)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            pairs = minhash_lsh_pairs(docs).collect()
            times.append(time.perf_counter() - t0)
        assert len(pairs) == 4
        best[n_words] = min(times)
        docs.unpersist()
    assert best[8000] < 2.5 * best[4000], best
