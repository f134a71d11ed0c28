"""Relational operators from the reference's eval/complexity stages.

Each maps a reference mechanism (SURVEY.md §2.3 R-ops) onto a declarative
DataFrame plan: Catalyst gets to push filters, prune columns, and pick
broadcast vs sort-merge joins.  Nothing here ever collects to the driver
except explicit quantile *constants* used as band boundaries (tiny, same
role as the reference's driver-computed quantile CSV, eval.py:350-353).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import src_word_count_udf, word_count_col

COMPLEXITY_QUANTILE_LABELS = [0.25, 0.33, 0.5, 0.66, 0.75]


def page_complexity(pages: DataFrame, truth: DataFrame) -> DataFrame:
    """R18: complexity = 1 - clip(truth_tokens / src_tokens, 0, 1)
    (reference complexity.py:52-73).  truth tokens counted JVM-side;
    src tokens need the DOM pass (script/style excluded) -> pandas UDF."""
    truth_tokens = truth.select(
        "url", "dataset",
        word_count_col(F.col("plaintext")).alias("truth_tokens"),
    )
    src_tokens = pages.select(
        "url", src_word_count_udf(F.col("html")).alias("src_tokens")
    )
    ratio = F.col("truth_tokens") / F.col("src_tokens")
    return truth_tokens.join(src_tokens, "url", "inner").select(
        "url",
        "dataset",
        F.when(F.col("src_tokens") == 0, F.lit(1.0))
        .otherwise(
            1.0 - F.least(F.lit(1.0), F.greatest(F.lit(0.0), ratio))
        )
        .alias("complexity"),
    )


def complexity_quantiles(complexity: DataFrame,
                         labels: list[float] | None = None) -> DataFrame:
    """R17: exact quantile table, per dataset plus global
    (complexity.py:46, 76-84)."""
    labels = labels or COMPLEXITY_QUANTILE_LABELS
    # round before int(): bare truncation float-rounds labels like 0.29
    # down to q28
    names = [f"q{int(round(q * 100))}" for q in labels]
    aggs = [
        F.percentile("complexity", F.lit(q)).alias(name)
        for q, name in zip(labels, names)
    ]
    per_ds = complexity.groupBy("dataset").agg(*aggs)
    overall = complexity.agg(*aggs).select(
        F.lit("_all").alias("dataset"), *names
    )
    return per_ds.unionByName(overall)


def filter_complexity_band(scores: DataFrame, complexity: DataFrame,
                           low: float, high: float) -> DataFrame:
    """R19: keep score rows for pages within [low, high] complexity
    (eval.py:377-380); band bounds are driver constants."""
    banded = complexity.filter(F.col("complexity").between(low, high))
    return scores.join(banded.select("url"), "url", "left_semi")


def band_counts(complexity: DataFrame, low: float, high: float) -> DataFrame:
    """R21: pages below/within/above thresholds per dataset
    (complexity.py:360-363) — conditional aggregation."""
    return complexity.groupBy("dataset").agg(
        F.sum(F.when(F.col("complexity") < low, 1).otherwise(0)).alias("n_low"),
        F.sum(
            F.when(
                (F.col("complexity") >= low) & (F.col("complexity") < high), 1
            ).otherwise(0)
        ).alias("n_medium"),
        F.sum(F.when(F.col("complexity") >= high, 1).otherwise(0)).alias("n_high"),
        F.count("*").alias("n_pages"),
    )
