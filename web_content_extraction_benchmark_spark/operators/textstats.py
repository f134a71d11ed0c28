"""Text-analysis operators for training-data curation.

All four families stay JVM-side (built-in functions only — no Python in
the hot path), so they survive 100 TB scans inside whole-stage codegen:

- language ID: stopword-hit scoring against small per-language lists
  (broadcast as literals), deterministic argmax;
- quality scoring: length / punctuation / stopword-ratio / mean-word-length
  heuristics combined into [0, 1];
- token counting: whitespace tokens + BPE-ish subword-run count;
- fingerprinting: winnowing-style rolling shingle hashes with a window
  minimum -> compact document sketch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .grams import with_word_kgrams

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no", "por", "que"],
}

# A BPE-ish token proxy: word fragments of letters/digits, max 4 chars each
# (counts sub-word units the way a byte-pair vocab would split long words).
BPE_ISH_PATTERN = r"[A-Za-z0-9]{1,4}"


def _words(text_col: Column) -> Column:
    return F.split(F.trim(text_col), r"\s+")


def stopword_hits(text_col: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(_words(F.lower(text_col)), lambda w: w.isin(words)))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``lang_pred`` + per-language hit counts; argmax with
    lexicographic tie-break (deterministic).

    One single ``select`` — a per-language ``withColumn`` loop stacks a
    Project node per language and bloats the plan once the list grows to
    dozens of languages."""
    langs = sorted(STOPWORDS)
    hit_cols = {
        lang: stopword_hits(F.col(text_col), lang).alias(f"hits_{lang}")
        for lang in langs
    }
    hit_structs = F.array(
        *[
            F.struct(F.col(f"hits_{lang}").alias("hits"),
                     F.lit(lang).alias("lang"))
            for lang in langs
        ]
    )
    best = F.array_max(hit_structs)
    lang_pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.select("*", *hit_cols.values()).select(
        "*", lang_pred.alias("lang_pred")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword count + char count."""
    return df.select(
        "*",
        F.size(_words(F.col(text_col))).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_text_chars"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  lang: str = "en") -> DataFrame:
    """[0,1] quality heuristic: length band + stopword ratio + mean word
    length band + punctuation-run penalty (all codegen-able)."""
    words = _words(F.col(text_col))
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    stop_ratio = stopword_hits(F.col(text_col), lang) / n_words
    punct_runs = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[!?.,;:]{3,}"), 0)
    )
    length_component = F.least(n_words / F.lit(50.0), F.lit(1.0))
    word_len_component = F.when(
        mean_word_len.between(3.0, 9.0), F.lit(1.0)
    ).otherwise(F.lit(0.25))
    stop_component = F.least(stop_ratio * 5.0, F.lit(1.0))
    penalty = F.least(punct_runs * F.lit(0.2), F.lit(0.6))
    score = (
        0.4 * length_component + 0.3 * word_len_component + 0.3 * stop_component
        - penalty
    )
    # NB: split('') returns [''], so n_words is never 0 — the emptiness
    # guard must test the trimmed text itself (NULL text would otherwise
    # score 0.175 through null-skipping least/greatest, and whitespace-
    # only text 0.083: garbage clearing a typical 0.05-0.1 cutoff).
    empty = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    return df.withColumn(
        "quality",
        F.when(empty, F.lit(0.0)).otherwise(
            F.greatest(F.lit(0.0), F.least(F.lit(1.0), score))
        ),
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1 quality
    filters) per document, entirely per-row JVM expressions (no shuffle):

    - ``dup_word_frac``: 1 - distinct/total whitespace words;
    - ``top_bigram_frac``: occurrences of the most frequent word bigram /
      total bigrams — computed as the longest equal-run of the SORTED
      bigram array via one ``aggregate`` pass (run-length max), which is
      exactly the modal count without building a per-row map."""
    staged = with_word_kgrams(
        df, text_col, 2, "_bigrams", words_out="_words", words=_words
    )
    words = F.col("_words")
    bigrams = F.col("_bigrams")
    n = F.size(words)
    dup_word_frac = F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(words)) / n, 6)
    ).otherwise(F.lit(0.0))
    run_state = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("\0").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_bigram_frac = F.when(
        F.size(bigrams) > 0,
        F.round(run_state["best"] / F.size(bigrams), 6),
    ).otherwise(F.lit(0.0))
    return staged.select(
        "*",
        dup_word_frac.alias("dup_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
    ).drop("_words", "_bigrams")


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document sketch: md5 over word k-grams, sliding-window
    minimum, distinct survivors per doc -> (doc_id, fingerprint).

    Entirely per-row: the window minima are array-slice minima over the
    gram array, so there is NO explode-then-window shuffle — the original
    posexplode + range-window formulation shuffled every gram of every
    document by doc_id, which at 100 TB is a full-corpus shuffle for a
    value that never needed to leave its row.  The trailing windows
    shorter than ``window`` are kept (slice truncates at the end), same
    as rowsBetween's partition-end capping.

    Raises ``ValueError`` for ``k < 1`` or ``window < 1`` before any
    plan is built (window 0 would make every window minimum NULL)."""
    if window < 1:
        raise ValueError(f"winnowing window must be >= 1, got {window}")
    two_step = with_word_kgrams(
        df, text_col, k, "_grams", transform=F.md5
    ).select(F.col(id_col).alias("id"), "_grams")
    # NB: sequence(1, 0) DESCENDS in Spark, so the gram-less edge needs an
    # explicit empty array (matches the old explode form: no rows emitted).
    wmins = F.when(
        F.size(F.col("_grams")) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_grams"))),
            lambda i: F.array_min(F.slice(F.col("_grams"), i, window)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode the expression, not a projected column: exploding a bare
    # column makes Spark infer size(col) > 0 and push that filter down
    # to the scan with the whole gram build substituted into it
    return two_step.select(
        F.col("id").alias(id_col),
        F.explode(F.array_distinct(wmins)).alias("fingerprint"),
    )


def nfc_normalize_col(col: Column) -> Column:
    """Unicode NFC normalization — the dedup-prep step real web text
    needs: 'é' arrives both precomposed (U+00E9) and decomposed
    (e + U+0301), and exact/shingle dedup treats them as different
    documents unless canonicalized first.

    Arrow-batched kernel with an ASCII fast path (`str.isascii` is a
    C-level flag check, and ~all crawl text is ASCII-dominated — those
    rows never enter the normalizer).  DuckDB mirrors it exactly with
    its built-in ``nfc_normalize`` (both sides implement Unicode NFC;
    the oracle plants combining-sequence rows to pin the agreement).
    NULLs pass through as NULL, like every column op here."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: t if t is None or t.isascii()
            else unicodedata.normalize("NFC", t)
        )

    return _nfc(col)
