"""Edge rows of the per-record kernels on `functions.records.map_records`:
the exact rows, and error strings, that null and junk inputs give."""

from web_content_extraction_benchmark_spark.extractors.pdf_text import (
    extract_pdf,
)
from web_content_extraction_benchmark_spark.operators.lm import lm_score
from web_content_extraction_benchmark_spark.operators.multimodal import (
    extract_media_features,
)
from web_content_extraction_benchmark_spark.plans.pipeline import (
    ensemble_answers,
)


def test_extract_pdf_error_rows(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", b"junk"), ("c", b"%PDF-1.4 garbage")],
        "source string, content binary",
    )
    rows = extract_pdf(df).orderBy("source").collect()
    assert [r.error for r in rows] == [
        "TypeError: cannot convert 'NoneType' object to bytes",
        "PdfError: missing %PDF header",
        "PdfError: no /Catalog object found",
    ]
    for r in rows:
        assert (r.plaintext, r.n_pages, r.n_columns, r.n_blocks,
                r.n_lines) == (None,) * 5


def test_lm_score_rows_without_a_bigram_are_dropped(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "one"), (3, "two words"), (4, "")],
        "doc_id long, text string",
    )
    assert [tuple(r) for r in lm_score(df).collect()] == [(3, -1505150, 1)]


def test_media_features_of_null_payloads(spark):
    df = spark.createDataFrame(
        [(1, "image", None), (2, "audio", None), (3, "video", None)],
        "media_id long, kind string, payload binary",
    )
    rows = extract_media_features(df).orderBy("media_id").collect()
    assert [tuple(r) for r in rows] == [
        (i, kind, 0, [0.0] * 6)
        for i, kind in ((1, "image"), (2, "audio"), (3, "video"))
    ]


def test_vote_over_a_null_answers_map(spark):
    """A url absent from the answers table (a null map after the left
    join) votes ''; a present one votes over its members."""
    answers = spark.createDataFrame(
        [("u1", "plain", "x y z", 0, False), ("u1", "a", "x y", 0, False)],
        "url string, model string, plaintext string, block_count int, "
        "error boolean",
    )
    urls = spark.createDataFrame([("u1",), ("u2",)], "url string")
    out = ensemble_answers(answers, ["a", "b"], urls=urls)
    assert [tuple(r) for r in out.orderBy("url").collect()] == [
        ("u1", "ensemble_majority", "x y", 0, False),
        ("u2", "ensemble_majority", "", 0, False),
    ]
