"""End-to-end Spark pipeline tests — the repo's byte-identity gate.

The invariant from BASELINE.json: extracted text per url from the Spark
pipeline must be byte-identical to the single-threaded Python oracle
(the same extractor functions run in plain Python over the same rows).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.extractors import safe_extract
from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.plans.pipeline import (
    aggregate_scores,
    ensemble_answers,
    extract_answers,
    repartition_salted,
    score_answers,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
    gold_main_text,
    synthesize_pages,
    truth_table,
    url_for,
)


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return repartition_salted(synthesize_pages(spark, sf_dir), 8).cache()


def _python_oracle(sf_dir: str, model: str) -> dict[str, str]:
    """Single-threaded reference-semantics harness (mirrors the per-row
    loop of the reference's extract.py:102-119: error/None -> '')."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    out = {}
    for _, row in docs.iterrows():
        doc_id = int(row.doc_id)
        raw = encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text)
        )
        out[url_for(doc_id, row.source)] = safe_extract(model, decode_html(raw))
    return out


@pytest.mark.parametrize("model", ["main_content", "plain", "bte",
                                   "readability", "xpath_text",
                                   "tag_blacklist"])
def test_spark_byte_identical_to_python_oracle(spark, sf_dir, pages, model):
    expected = _python_oracle(sf_dir, model)
    answers = extract_answers(pages, [model])
    got = {r.url: r.plaintext for r in answers.collect()}
    assert got == expected  # byte-for-byte, every url


def test_main_content_matches_gold_truth(spark, pages):
    truth = truth_table(pages)
    answers = extract_answers(pages, ["main_content"])
    joined = answers.alias("a").join(truth.alias("t"), "url")
    mismatches = joined.filter(F.expr("a.plaintext != t.plaintext")).count()
    assert mismatches == 0


def test_extraction_deterministic_across_partitionings(spark, sf_dir):
    base = synthesize_pages(spark, sf_dir)
    a = extract_answers(repartition_salted(base, 3), ["main_content"])
    b = extract_answers(repartition_salted(base, 13, salt=7), ["main_content"])
    got_a = {r.url: r.plaintext for r in a.collect()}
    got_b = {r.url: r.plaintext for r in b.collect()}
    assert got_a == got_b


def test_lineage_sidecar_accounts_every_page(spark, pages):
    n_pages = pages.count()
    models = ["main_content", "plain"]
    answers, lineage = extract_answers(
        pages, models, snapshot_id=7, with_lineage=True
    )
    # the lineage mode answers are the plain-mode answers, row for row
    got = sorted(answers.collect())
    assert got == sorted(extract_answers(pages, models).collect())
    # per model, the lineage sums account for exactly these answers
    expected = {
        m: (sum(1 for r in got if r.model == m and r.plaintext),
            sum(1 for r in got if r.model == m and r.error),
            sum(r.block_count for r in got if r.model == m))
        for m in models
    }
    sums = {
        r.model: (r.docs_out, r.errors, r.block_count)
        for r in lineage.groupBy("model").agg(
            F.sum("docs_out").alias("docs_out"),
            F.sum("errors").alias("errors"),
            F.sum("block_count").alias("block_count"),
        ).collect()
    }
    assert sums == expected
    totals = {
        r.model: r.total
        for r in lineage.groupBy("model").agg(
            F.sum("docs_in").alias("total")
        ).collect()
    }
    assert totals == {"main_content": n_pages, "plain": n_pages}
    lineage_rows = lineage.collect()
    assert all(r.snapshot_id == 7 for r in lineage_rows)
    assert all(r.extractor_version for r in lineage_rows)
    # bytes_in is the raw html volume -> positive
    assert all(r.bytes_in > 0 for r in lineage_rows)


def test_lineage_accounts_each_partition(spark, pages):
    """Lineage is one row per (partition, model) that saw a page: with
    more partitions than pages some are empty and emit no row, and each
    row's docs_in and bytes_in are its partition's page count and html
    bytes."""
    n_pages = pages.count()
    spread = repartition_salted(pages, 4 * n_pages)
    _, lineage = extract_answers(spread, ["main_content", "plain"],
                                 with_lineage=True)
    rows = lineage.collect()
    assert all(r.docs_in > 0 for r in rows)
    keys = [(r.partition_id, r.model) for r in rows]
    assert len(keys) == len(set(keys))
    want = {
        r.pid: (r.docs, r.bytes)
        for r in spread.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.count("*").alias("docs"),
            F.sum(F.length("html")).alias("bytes"),
        ).collect()
    }
    assert len(want) < 4 * n_pages  # some partitions are empty
    for model in ("main_content", "plain"):
        got = {r.partition_id: (r.docs_in, r.bytes_in)
               for r in rows if r.model == model}
        assert got == want


def test_scoring_perfect_extraction_scores_one(spark, pages):
    answers = extract_answers(pages, ["main_content"])
    scores = score_answers(answers, truth_table(pages))
    row = scores.agg(
        F.min("dist").alias("d"), F.min("f1").alias("f"),
        F.min("rec").alias("r"),
    ).collect()[0]
    assert row.d == 1.0 and row.f == 1.0 and row.r == 1.0


def test_aggregate_micro_macro_vs_pandas(spark, pages):
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages)).cache()
    agg = aggregate_scores(scores, score_cols=("dist",))
    got = {(r.model, r.dataset): (r.mean_dist, r.median_dist)
           for r in agg.collect()}
    pdf = scores.select("model", "dataset", "dist").toPandas()
    per_ds = pdf.groupby("dataset")["dist"]
    for ds, grp in per_ds:
        mean, median = got[("plain", ds)]
        assert mean == pytest.approx(grp.mean())
        assert median == pytest.approx(grp.median())
    micro = got[("plain", "_micro")]
    assert micro[0] == pytest.approx(pdf["dist"].mean())
    assert micro[1] == pytest.approx(pdf["dist"].median())
    macro = got[("plain", "_macro")]
    assert macro[0] == pytest.approx(per_ds.mean().mean())
    assert macro[1] == pytest.approx(per_ds.median().median())


def test_ensemble_majority_spark(spark, pages):
    models = ["main_content", "plain", "readability"]
    answers = extract_answers(pages, models)
    voted = ensemble_answers(answers, models, vote_fraction=0.66)
    sample = {r.url: r.plaintext for r in voted.limit(50).collect()}
    assert sample
    # votes with threshold int(3*0.66)=1: every token backed by >=1 model;
    # main-content tokens always survive
    golds = {r.url: r.plaintext for r in truth_table(pages).collect()}
    for url, text in sample.items():
        gold_tokens = set(golds[url].split())
        if gold_tokens:
            assert gold_tokens <= set(text.split())


def test_stream_extract_equals_batch(spark, pages, tmp_path):
    """The extraction kernel under Structured Streaming (file source,
    2 micro-batches, append mode) must emit byte-identical answers to the
    batch plan."""
    from web_content_extraction_benchmark_spark.streaming.extract import (
        run_extract_stream_to_memory,
    )

    src = str(tmp_path / "pages_stream")
    pages.repartition(2).write.mode("overwrite").parquet(src)
    run_extract_stream_to_memory(
        spark, src, ["main_content"], query_name="t_stream_extract"
    )
    streamed = {
        r.url: r.plaintext
        for r in spark.sql(
            "SELECT url, plaintext FROM t_stream_extract"
        ).collect()
    }
    batch = {
        r.url: r.plaintext
        for r in extract_answers(pages, ["main_content"]).collect()
    }
    assert streamed == batch


def test_ensemble_fused_equals_join_plan(spark, pages):
    """The zero-shuffle fused extract+vote plan must produce exactly the
    join-based (collect_list + map) plan's output, at both thresholds."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_extract,
    )

    models = ["main_content", "plain", "readability"]
    answers = extract_answers(pages, models)
    for fraction in (0.66, 0.67):
        joined = {
            r.url: r.plaintext
            for r in ensemble_answers(
                answers, models, vote_fraction=fraction
            ).collect()
        }
        fused = {
            r.url: r.plaintext
            for r in ensemble_extract(
                pages, models, vote_fraction=fraction
            ).collect()
        }
        assert fused == joined


def test_mixed_edge_rows(spark):
    """extract_mixed's routing and error rows, pinned: a null body, a
    %PDF- magic past the sniffed first KB (stays html), junk labeled
    application/pdf, a nesting bomb, BOM'd text/plain (content types
    match case-blind) and an image.  extract_answers never routes: the
    page whose first KB holds %PDF- is still extracted as HTML."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        MIXED_SCHEMA,
        extract_mixed,
    )

    late = b"<html><body><p>" + b"alpha beta gamma " * 100 + b"%PDF-1.4 tail"
    mislabeled = b"<html><body><p>%PDF-1.7 starts every pdf file</p></body></html>"
    crawl = spark.createDataFrame(
        [
            ("u/null", None, "text/html"),
            ("u/late-magic", late + b"</p></body></html>", "text/html"),
            ("u/pdf-junk", b"this is not a pdf at all", "application/pdf"),
            ("u/bomb", b"<div>" * 200_000, "text/html"),
            ("u/bom-text", b"\xef\xbb\xbfhello plain world\n",
             "Text/Plain; charset=utf-8"),
            ("u/png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 32, "image/png"),
            ("u/mislabeled", mislabeled, "text/html"),
        ],
        "url string, html binary, content_type string",
    )
    out = extract_mixed(crawl)
    assert out.schema == MIXED_SCHEMA
    assert {r.url: tuple(r)[1:] for r in out.collect()} == {
        "u/null": ("html", "", None),
        "u/late-magic": ("html", "alpha beta gamma " * 100 + "%PDF-1.4 tail",
                         None),
        "u/pdf-junk": ("pdf", None, "PdfError: missing %PDF header"),
        "u/bomb": ("html", None,
                   "RecursionError: maximum recursion depth exceeded"),
        "u/bom-text": ("text", "hello plain world\n", None),
        "u/png": ("binary", None, None),
        "u/mislabeled": ("pdf", None, "PdfError: no /Catalog object found"),
    }
    as_html = extract_answers(
        crawl.filter(F.col("url") == "u/mislabeled"), ["main_content"]
    ).collect()
    assert [tuple(r) for r in as_html] == [
        ("u/mislabeled", "main_content", "%PDF-1.7 starts every pdf file",
         1, False)
    ]


def test_empty_and_gzip_edge_rows(spark, pages):
    answers = extract_answers(pages, ["main_content"])
    empty = answers.join(
        pages.filter(F.col("doc_id") % 101 == 0).select("url"), "url"
    )
    assert all(r.plaintext == "" for r in empty.collect())
    gz = answers.join(
        pages.filter(
            (F.col("doc_id") % 103 == 0) & (F.col("doc_id") % 101 != 0)
        ).select("url", "gold"),
        "url",
    )
    rows = gz.collect()
    assert rows and all(r.plaintext == r.gold for r in rows)


def test_undefined_meta_charset_falls_back_instead_of_failing(spark):
    """codecs.lookup("undefined") succeeds but decoding with it raises a
    bare UnicodeError: such a page must fall through to utf-8/cp1252,
    not fail the whole Spark task."""
    from web_content_extraction_benchmark_spark.extractors import EXTRACTORS

    raw = b'<meta charset="undefined"><p>x\xff</p>'
    assert decode_html(raw) == '<meta charset="undefined"><p>x\xff</p>'
    page = spark.createDataFrame([("u", raw)], "url string, html binary")
    rows = extract_answers(page).collect()
    assert sorted(r.model for r in rows) == sorted(EXTRACTORS)


def test_ensemble_partial_answer_coverage(spark, pages):
    """Preloaded answer tables may cover only some pages: with the urls=
    page universe, uncovered pages emit '' instead of vanishing."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ensemble_answers,
    )

    models = ["main_content", "plain"]
    some = pages.limit(40).cache()
    answers = extract_answers(some, models)
    universe = pages.limit(60).select("url")
    voted = {r.url: r.plaintext
             for r in ensemble_answers(
                 answers, models, urls=universe).collect()}
    assert len(voted) == 60
    covered = {r.url for r in some.select("url").collect()}
    assert all(voted[u] == "" for u in set(voted) - covered)
