"""Raw dataset readers (S1) over committed fixtures: decode chain
(gzip / BOM / meta-charset cp1252), CleanEval unwrap + truth derivation,
L3S CSS-annotated truth, whitelist semi-join drop."""

import os

from web_content_extraction_benchmark_spark.sources.raw_datasets import (
    cleaneval_truth,
    cleaneval_unwrap,
    convert_dataset,
    l3s_truth,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "raw")


def test_cleaneval_convert_end_to_end(spark):
    out = convert_dataset(spark, "cleaneval", os.path.join(FIXTURES, "cleaneval"))
    rows = {r.source: r for r in out.collect()}
    # page 5 has no truth file -> whitelist-dropped
    assert set(rows) == {"1", "2", "3", "4"}
    assert rows["1"].url == "http://example.com/one"
    assert rows["1"].plaintext == "Alpha beta gamma."
    assert "<text" not in rows["1"].html
    assert "Alpha beta gamma." in rows["1"].html
    # gzip payload decoded transparently
    assert rows["2"].plaintext == "Second page body text."
    assert rows["2"].html.startswith("<html>")
    # cp1252 via meta-charset sniff: é must round-trip
    assert "Café richness." in rows["3"].html
    assert rows["3"].plaintext == "Café richness."
    # BOM stripped
    assert rows["4"].html.startswith("<html>")


def test_l3s_convert_end_to_end(spark):
    out = convert_dataset(spark, "l3s", os.path.join(FIXTURES, "l3s"))
    rows = {r.source: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    # block parents prefix a newline; trailing space before it is kept
    assert rows["a"].plaintext == "Article A \nBody words here."
    assert rows["a"].html.startswith("<html><body><div>Article A</div>")
    # multi-token class matches; non-leaf span skipped; inline parent (em)
    # gets no newline prefix (only block parents do)
    assert rows["b"].plaintext == "Lead text. inline tail"


def test_cleaneval_pure_helpers():
    assert cleaneval_unwrap('<text id="9">\n<p>x</p>\n</text>') == "<p>x</p>"
    url, text = cleaneval_truth("URL: http://e.com/a\n\n<p>hello there</p>\n")
    assert url == "http://e.com/a"
    assert text == "hello there"
    # no URL line
    url, text = cleaneval_truth("<p>just text</p>")
    assert url is None and text == "just text"


def test_l3s_truth_skips_unannotated_and_nonleaf():
    html = (
        '<body><p><span class="x-nc-sel2">keep <b>no</b></span></p>'
        '<p><span class="other">drop</span></p>'
        '<p><span class="x-nc-sel1">yes</span></p></body>'
    )
    # first span is non-leaf (element child) -> skipped entirely
    assert l3s_truth(html) == "yes"


def test_new_format_converters_match_fixtures(spark, sf_dir, tmp_path):
    """Dragnet/CETD/Readability/ScrapingHub/GoogleTrends: converted
    plaintext equals the planted truth; scrapinghub page_id is the sha256
    of the DECOMPRESSED bytes."""
    import gzip
    import hashlib
    import os

    import pyarrow.parquet as pq

    from web_content_extraction_benchmark_spark.sources import (
        raw_datasets as rd,
    )

    root = str(tmp_path)
    n = rd.synthesize_dragnet_tree(sf_dir, f"{root}/dg")
    rd.synthesize_cetd_tree(sf_dir, f"{root}/cetd")
    rd.synthesize_readability_tree(sf_dir, f"{root}/rb")
    rd.synthesize_scrapinghub_tree(sf_dir, f"{root}/sh")
    rd.synthesize_googletrends_tree(sf_dir, f"{root}/gt")

    docs = {
        str(r["doc_id"]): r["text"]
        for r in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
        if r["doc_id"] % 7 == 0 and r["doc_id"] % 101 != 0
    }
    assert len(docs) == n

    dg = rd.convert_dataset(spark, "dragnet", f"{root}/dg").collect()
    assert len(dg) == n
    assert all(r.plaintext == docs[r.source] for r in dg)

    ct = rd.convert_dataset(spark, "cetd", f"{root}/cetd").collect()
    assert len(ct) == n
    assert all(r.plaintext == docs[r.source.split("_", 1)[1]] for r in ct)
    assert all(r.source.split("_", 1)[0] in ("BBC", "wiki") for r in ct)

    # per-case directories: the key is the case directory's name
    rb = rd.convert_dataset(spark, "readability", f"{root}/rb").collect()
    assert len(rb) == n
    assert all(r.plaintext == docs[r.source] for r in rb)

    sh = rd.convert_dataset(spark, "scrapinghub", f"{root}/sh").collect()
    assert len(sh) == n
    assert all(r.plaintext == docs[r.source] for r in sh)
    one = sh[0]
    data = gzip.decompress(
        open(f"{root}/sh/html/{one.source}.html.gz", "rb").read()
    )
    assert one.page_id == hashlib.sha256(data).hexdigest()

    gt = rd.convert_dataset(spark, "googletrends", f"{root}/gt").collect()
    assert len(gt) == n
    assert all(r.plaintext.split("\n", 1)[1] == docs[r.source] for r in gt)


def test_key_derivation_and_overlap_guard(spark, tmp_path):
    """ADVICE r2: compound/uppercase extensions must still key-match, and
    disjoint key sets must fail loudly instead of silently joining to
    zero rows."""
    import gzip
    import os

    import pytest as _pytest

    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        assert_key_overlap,
        read_binary_dir,
    )

    d = tmp_path / "pages"
    os.makedirs(d)
    (d / "page.html.gz").write_bytes(gzip.compress(b"<p>x</p>"))
    (d / "UPPER.HTML").write_bytes(b"<p>y</p>")
    keys = {
        r.source
        for r in read_binary_dir(spark, str(d), strip_exts=2).collect()
    }
    assert keys == {"page", "UPPER"}

    t = tmp_path / "truths"
    os.makedirs(t)
    (t / "other.txt").write_bytes(b"z")
    pages = read_binary_dir(spark, str(d), strip_exts=2)
    truths = read_binary_dir(spark, str(t))
    with _pytest.raises(ValueError, match="disjoint"):
        assert_key_overlap(pages, truths, "unit test")
