"""wceb-spark CLI (cli.py): the reference `wceb` command surface
(extract / convert-datasets / eval score / eval aggregate / complexity
calculate) driven end-to-end over the same plan functions the driver
queries use."""

import pytest

from web_content_extraction_benchmark_spark.cli import build_parser, main


def test_cli_extract_score_aggregate_complexity(tmp_path, spark, sf_dir):
    answers = str(tmp_path / "answers")
    scores = str(tmp_path / "scores")
    report = str(tmp_path / "report")

    main(["extract", "--sf-dir", sf_dir, "-m", "main_content", "-m",
          "neural", "-o", answers, "--golden"])
    got = spark.read.json(answers)
    assert set(r.model for r in got.select("model").distinct().collect()) \
        == {"main_content", "neural"}

    main(["eval", "score", "--answers", answers, "--sf-dir", sf_dir,
          "-o", scores, "--golden"])
    sc = spark.read.json(scores)
    assert {"dist", "f1", "prec", "rec"} <= set(sc.columns)

    main(["eval", "aggregate", "--scores", scores, "-o", report])
    csv = (tmp_path / "report" / "scores.csv").read_text()
    assert "_micro" in csv and "_macro" in csv
    assert (tmp_path / "report" / "scores.md").exists()
    assert (tmp_path / "report" / "scores.tex").exists()

    main(["complexity", "calculate", "--sf-dir", sf_dir,
          "-o", str(tmp_path / "cx"), "--golden"])
    cx = spark.read.json(str(tmp_path / "cx"))
    assert cx.count() > 100


def test_cli_convert_datasets(tmp_path, spark, sf_dir):
    """Every FORMATS layout converts through the CLI: one output row per
    synthesized page, with the format's extra columns."""
    from web_content_extraction_benchmark_spark.sources import (
        raw_datasets as rd,
    )

    for fmt, spec in rd.FORMATS.items():
        raw = str(tmp_path / fmt / "raw")
        out = str(tmp_path / fmt / "combined")
        n = getattr(rd, f"synthesize_{fmt}_tree")(sf_dir, raw)
        main(["convert-datasets", "--format", fmt, "-i", raw,
              "-o", out, "--golden"])
        df = spark.read.json(out)
        assert df.count() == n, fmt
        assert {"source", "html", "plaintext", *spec.extra} \
            <= set(df.columns), fmt


def test_cli_rejects_unknown_model():
    with pytest.raises(SystemExit):
        main(["extract", "--sf-dir", "/nonexistent", "-m", "nope",
              "-o", "/tmp/x"])


def test_cli_rejects_unknown_model_even_with_all():
    # 'all' used to expand BEFORE validation, silently swallowing a typo
    with pytest.raises(SystemExit):
        main(["extract", "--sf-dir", "/nonexistent", "-m", "all",
              "-m", "bogus", "-o", "/tmp/x"])


def test_cli_all_unions_explicit_models():
    import argparse

    from web_content_extraction_benchmark_spark.cli import _models

    ns = argparse.Namespace(model=["all", "neural"])
    models = _models(ns)
    assert "neural" in models           # explicit co-passed model kept
    assert "main_content" in models     # expansion present
    assert len(models) == len(set(models))


def test_cli_surface_matches_reference_commands():
    """Command-name parity with the reference click CLI
    (cli/__init__.py: extract, convert_datasets, eval, complexity)."""
    parser = build_parser()
    sub = next(
        a for a in parser._actions
        if isinstance(a, type(parser._subparsers._group_actions[0]))
    )
    assert {"extract", "convert-datasets", "eval", "complexity"} <= set(
        sub.choices
    )


def test_cli_dedup_append_and_export(tmp_path, spark):
    """Beyond-reference `wceb-spark dedup`: two appends against a
    persisted index, then export of the canonical (deduped) view."""
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta theta")],
        "doc_id long, text string",
    ).write.parquet(b2)
    index = str(tmp_path / "idx")
    out = str(tmp_path / "uniq")

    main(["dedup", "append", "--index", index, "--batch", b1,
          "--threshold", "0.5", "--hash-fn", "md5",
          "--num-hashes", "8", "--bands", "8"])
    # config is persisted: the second append needs NO flags (loads the
    # stored shape), and a CONFLICTING explicit flag must refuse
    main(["dedup", "append", "--index", index, "--batch", b2])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        main(["dedup", "append", "--index", index, "--batch", b2,
              "--hash-fn", "oph"])
    # compact between appends: file counts re-bound, labels unchanged
    main(["dedup", "compact", "--index", index,
          "--max-files-per-bucket", "1"])
    # expire: history dropped, unreferenced files reclaimed, view intact
    main(["dedup", "expire", "--index", index, "--keep-last", "1"])
    main(["dedup", "export", "--index", index, "-o", out])
    uniq = {r.doc_id for r in spark.read.json(out).collect()}
    # doc 3 near-dups doc 1 (6 of 7 words shared) -> canonical 1 kept
    assert uniq == {1, 2}


def test_cli_dedup_maintenance_refuses_missing_index(tmp_path):
    """compact/expire on a path with no committed index must refuse
    (opening a typo'd path would otherwise create empty store dirs and
    report a no-op success)."""
    import pytest as _pytest

    from web_content_extraction_benchmark_spark.cli import main

    missing = str(tmp_path / "nope")
    with _pytest.raises(SystemExit, match="no index"):
        main(["dedup", "expire", "--index", missing])
    with _pytest.raises(SystemExit, match="no index"):
        main(["dedup", "compact", "--index", missing])
    import os

    assert not os.path.exists(missing)


def test_cli_dedup_append_embedding_signature(tmp_path, spark):
    """`dedup append --signature embedding`: --text-col names the
    vector column, --emb-dim pins the hyperplane shape in the index
    config, and export keeps one canonical row per identical pair."""
    b1 = str(tmp_path / "b1")
    b2 = str(tmp_path / "b2")
    vecs = [[float(i == j) for i in range(8)] for j in range(4)]
    spark.createDataFrame(
        [(i, vecs[i]) for i in range(4)],
        "doc_id long, embedding array<double>",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(10, vecs[0])],  # identical copy of doc 0
        "doc_id long, embedding array<double>",
    ).write.parquet(b2)
    index = str(tmp_path / "emb_idx")
    out = str(tmp_path / "uniq")

    from web_content_extraction_benchmark_spark.cli import main

    main(["dedup", "append", "--index", index, "--batch", b1,
          "--signature", "embedding", "--emb-dim", "8",
          "--text-col", "embedding", "--threshold", "0.999",
          "--num-hashes", "16", "--bands", "2"])
    # --text-col names the INPUT batch's column (per invocation); the
    # index's LSH config itself needs no flags on reopen
    main(["dedup", "append", "--index", index, "--batch", b2,
          "--text-col", "embedding"])
    main(["dedup", "export", "--index", index, "-o", out])
    uniq = {r.doc_id for r in spark.read.json(out).collect()}
    assert uniq == {0, 1, 2, 3}  # copy 10 deduped against committed 0


def test_cli_convert_pdf_and_warc(tmp_path, spark, sf_dir):
    """The two r7 container formats ride the same convert-datasets
    surface: PDF emits parsed plaintext keyed by file stem; WARC runs
    the extraction kernel over unwrapped response bodies."""
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        synthesize_pdf_tree,
    )
    from web_content_extraction_benchmark_spark.sources.warc import (
        synthesize_warc_tree,
    )

    pdf_raw = str(tmp_path / "pdfraw")
    pdf_out = str(tmp_path / "pdfout")
    n = synthesize_pdf_tree(sf_dir, pdf_raw)
    main(["convert-datasets", "--format", "pdf", "-i", pdf_raw,
          "-o", pdf_out, "--golden"])
    pdf_df = spark.read.json(pdf_out)
    assert pdf_df.count() == n
    assert {"source", "plaintext"} <= set(pdf_df.columns)

    warc_raw = str(tmp_path / "warcraw")
    warc_out = str(tmp_path / "warcout")
    m = synthesize_warc_tree(sf_dir, warc_raw)
    main(["convert-datasets", "--format", "warc", "-i", warc_raw,
          "-o", warc_out, "--golden"])
    warc_df = spark.read.json(warc_out)
    assert warc_df.count() == m
    assert {"source", "url", "plaintext"} <= set(warc_df.columns)
    # numeric-tail urls key by doc id, and plaintext is extracted text
    row = warc_df.orderBy("source").first()
    assert row["source"].isdigit()
    assert row["plaintext"]


def test_cli_extract_wet_output(tmp_path, spark, sf_dir):
    """--wet publishes one model's answers as WET conversion records,
    readable back through read_wet; multi-model --wet refuses."""
    from web_content_extraction_benchmark_spark.sources.warc import read_wet

    out = str(tmp_path / "wet")
    main(["extract", "--sf-dir", sf_dir, "-m", "main_content",
          "-o", out, "--wet"])
    got = read_wet(spark, out)
    assert got.count() == 500
    assert got.filter("plaintext IS NULL").count() == 0

    with pytest.raises(SystemExit):
        main(["extract", "--sf-dir", sf_dir, "-m", "main_content",
              "-m", "plain", "-o", str(tmp_path / "x"), "--wet"])
