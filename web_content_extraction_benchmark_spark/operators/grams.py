"""Word k-grams: every full k-gram array in the package
(MinHash shingle sets, benchmark grams, Gopher bigrams, winnowing and
exact-substring windows) comes from ``with_word_kgrams``.

It takes a DataFrame and a text column NAME, never an expression,
because the cost of a k-gram array is decided by where the word array
lives in the plan.  The words are projected in their own ``select``
and the gram expression references them more than once, so
CollapseProject cannot inline the split into the ``transform`` lambda,
where it would re-run at every start position: O(words^2) per document
(shingling 8 docs on local[2] took 5.0 s at 4k words per doc and
17.1 s at 8k).

The short-document guard also lives here: Spark's ``sequence(1,
0)`` DESCENDS ([1, 0]) instead of returning empty, and ``slice`` with
start 0 throws — so documents shorter than k words short-circuit to an
explicit empty array.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WORDS = "__wceb_words"


def single_space_words(text: Column) -> Column:
    """The dedup contract's tokenizer: split on ONE space, so "a  b"
    keeps its empty token and '' is ['']."""
    return F.split(text, " ")


def with_words(df: DataFrame, text_col: str, out: str, *,
               words: Callable[[Column], Column] = single_space_words
               ) -> DataFrame:
    """``df`` plus the word array of ``text_col`` as column ``out``, in
    its own projection.  Consumers that reference ``out`` more than once
    (or inside a lambda) then read the array instead of re-splitting."""
    return df.select("*", words(F.col(text_col)).alias(out))


def with_word_kgrams(
    df: DataFrame,
    text_col: str,
    k: int,
    out: str,
    *,
    distinct: bool = False,
    transform: Callable[[Column], Column] | None = None,
    nonempty: bool = False,
    explode: bool = False,
    words_out: str | None = None,
    words: Callable[[Column], Column] = single_space_words,
) -> DataFrame:
    """``df`` plus ``out``: the positional word k-grams of ``text_col``
    (one gram per start position, in order, duplicates kept).

    - ``distinct``: order-preserving ``array_distinct`` (shingle sets);
    - ``transform``: maps each gram inside the same projection (e.g.
      ``F.md5`` for winnowing's hashed grams);
    - ``nonempty``: drop rows with no gram (fewer than k words, or NULL
      text).  The filter tests the WORD count: a filter on the gram
      array would be pushed below both projections with the gram
      expression substituted, splitting inside the lambda again;
    - ``explode``: one row per gram instead of an array column.  The
      explode takes the gram EXPRESSION: exploding the bare ``out``
      column would make Spark infer ``size(out) > 0`` and push that
      filter down the same way;
    - ``words_out``: keep the word array under this name (callers that
      also need the words, e.g. Gopher's distinct-word fraction);
    - ``words``: the tokenizer, single-space split by default.

    Raises ``ValueError`` for ``k < 1`` before any plan is built (k=0
    would give every document, even '', the gram set [''])."""
    if k < 1:
        raise ValueError(f"k-gram size must be >= 1, got {k}")
    w = words_out or _WORDS
    staged = with_words(df, text_col, w, words=words)
    if nonempty:
        staged = staged.filter(F.size(w) >= k)
    wc = F.col(w)
    n = F.size(wc)

    def gram(i: Column) -> Column:
        g = F.concat_ws(" ", F.slice(wc, i, k))
        return transform(g) if transform is not None else g

    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))
    if distinct:
        grams = F.array_distinct(grams)
    built = staged.withColumn(out, F.explode(grams) if explode else grams)
    return built if words_out else built.drop(w)
