"""Raw dataset ingestion (SURVEY S1): binaryFile scan -> decode ->
format-specific unwrap / truth derivation -> whitelist semi-join.

Distributed re-expression of the reference's dataset-reader family
(/root/reference/src/extraction_benchmark/dataset_readers.py): the two
representative formats are

- CleanEval-style (dataset_readers.py:135-168): raw pages wrapped in a
  ``<text id=...>`` element (stripped), truth files carrying a leading
  ``URL: http://...`` line plus lightly-marked-up clean text (parsed as
  HTML, whitespace-squeezed, URL line removed);
- L3S-GN1-style (dataset_readers.py:264-298): truth is an *annotated*
  copy of the page where content elements carry CSS classes
  ``x-nc-sel1..3``; derivation walks leaf elements with those classes,
  prefixing a newline when the parent is block-level.

Driver-side listing in the reference becomes a ``binaryFile`` scan here;
each file decodes through the shared ``encoding.decode_html`` path
(auto-gunzip, BOM, meta-charset sniff, cp1252 fallback), and the
conversion joins pages to derived truths with the same whitelist
semi-join semantics as the reference's extract whitelist
(extract.py:63-74).

Deviation (documented): derived truth text is ``.strip()``-ed, so the
oracle formulas are trailing-whitespace-free.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dom import BLOCK_ELEMENTS, body_or_root, parse_html
from ..encoding import decode_html

# CleanEval <text ...> wrapper strip (reference dataset_readers.py:146).
_TEXT_TAG_RE = re.compile(r"(?:^<text [^>]+>\s*|\s*</text>$)", flags=re.MULTILINE)
_URL_LINE_RE = re.compile(r"^\s*URL: (https?://.+)")
_URL_STRIP_RE = re.compile(r"^\s*URL:[^\n]+\s*")
_NL_SPACE_RE = re.compile(r"\n +")

L3S_CONTENT_CLASSES = frozenset({"x-nc-sel1", "x-nc-sel2", "x-nc-sel3"})


def cleaneval_unwrap(content: str) -> str:
    """Strip the CleanEval ``<text ...>`` wrapper from a raw page."""
    return _TEXT_TAG_RE.sub("", content)


def cleaneval_truth(content: str) -> tuple[str | None, str]:
    """(url, clean_text) from a CleanEval truth file: URL header line +
    HTML-ish clean markup -> body text, squeezed, URL line removed."""
    url_match = _URL_LINE_RE.search(content)
    url = url_match.group(1) if url_match else None
    text = body_or_root(parse_html(content)).text_content()
    text = _NL_SPACE_RE.sub("\n", text)
    text = _URL_STRIP_RE.sub("", text)
    return url, text.strip()


def _annotated_truth(content: str, is_content) -> str:
    """Truth text from an annotated page copy: leaf elements selected by
    ``is_content``; block-level parents prefix a newline (reference
    dataset_readers.py:283-298 `_extract_with_css_selector` semantics,
    shared by the L3S-GN1 and GoogleTrends2017 readers)."""
    body = body_or_root(parse_html(content))
    parts: list[str] = []
    for node in body.iter():
        if node.is_text or not is_content(node):
            continue
        if len(node.children) != 1 or not node.children[0].is_text:
            continue  # leaf elements only (avoid double-counting parents)
        if node.parent is not None and node.parent.tag in BLOCK_ELEMENTS:
            parts.append("\n")
        parts.append(node.children[0].text.strip() + " ")
    return "".join(parts).strip()


def l3s_truth(content: str) -> str:
    """L3S-GN1: content elements carry CSS classes ``x-nc-sel1..3``
    (reference dataset_readers.py:264-298)."""
    return _annotated_truth(
        content,
        lambda n: bool(set(n.attr("class").split()) & L3S_CONTENT_CLASSES),
    )


def boilernet_truth(content: str) -> str:
    """GoogleTrends2017: content elements carry the attribute
    ``__boilernet_label="1"`` (reference dataset_readers.py:301-317)."""
    return _annotated_truth(
        content, lambda n: n.attr("__boilernet_label") == "1"
    )


def read_binary_dir(spark: SparkSession, path: str,
                    glob: str = "*",
                    strip_exts: int = 1,
                    key_pattern: str | None = None) -> DataFrame:
    """binaryFile scan of a raw dataset directory: (source, content, path).

    ``source`` is the file stem — the reference's per-file key.  Up to
    ``strip_exts`` trailing extensions are stripped CASE-INSENSITIVELY
    (ADVICE r2: 'page.HTML' or compound 'page.html.gz' must still meet
    their truth rows; a silently empty semi-join is the failure mode).
    Formats with multi-part truth suffixes pass a higher count (dragnet:
    '{page}.html.corrected.txt' -> strip_exts=3).  ``key_pattern``
    overrides the derivation entirely (group 1 = key)."""
    df = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    if key_pattern is None:
        key_pattern = rf"([^/]+?)((?i:\.[a-z0-9]+){{0,{strip_exts}}})$"
    return df.select(
        F.regexp_extract(F.col("path"), key_pattern, 1).alias("source"),
        F.col("content"),
        F.col("path"),
    )


def assert_key_overlap(pages: DataFrame, truths: DataFrame,
                       what: str = "raw dataset") -> None:
    """Fail LOUDLY when the page and truth key sets are disjoint — a
    mis-derived join key otherwise just drops every row (ADVICE r2).
    Eager (runs two tiny key-only scans); call it from tests or one-off
    conversion jobs, not from inside a hot pipeline."""
    n = (
        pages.select("source").distinct()
        .join(truths.select("source").distinct(), "source")
        .count()
    )
    if n == 0:
        sample_p = [r.source for r in pages.select("source").limit(3).collect()]
        sample_t = [r.source for r in truths.select("source").limit(3).collect()]
        raise ValueError(
            f"{what}: page and truth keys are disjoint "
            f"(pages e.g. {sample_p}, truths e.g. {sample_t}) — "
            "check extension stripping / key_pattern"
        )


_CLEANEVAL_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("html", T.StringType(), True),
    ]
)

_CLEANEVAL_TRUTH_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("plaintext", T.StringType(), True),
    ]
)


def _cleaneval_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "html": [
                    cleaneval_unwrap(decode_html(raw)) for raw in pdf["content"]
                ],
            }
        )


def _cleaneval_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        urls, texts = [], []
        for raw in pdf["content"]:
            url, text = cleaneval_truth(decode_html(raw))
            urls.append(url)
            texts.append(text)
        yield pd.DataFrame(
            {"source": pdf["source"], "url": urls, "plaintext": texts}
        )


def convert_cleaneval(spark: SparkSession, raw_dir: str,
                      truth_dir: str) -> DataFrame:
    """CleanEval conversion plan: (source, url, html, plaintext), one row
    per page that has a truth file (whitelist semi-join on the truth
    side, like the reference's truth-driven extract whitelist)."""
    pages = read_binary_dir(spark, raw_dir).mapInPandas(
        _cleaneval_pages, schema=_CLEANEVAL_PAGE_SCHEMA
    )
    truths = read_binary_dir(spark, truth_dir).mapInPandas(
        _cleaneval_truths, schema=_CLEANEVAL_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "url", "html", "plaintext"
    )


def _l3s_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "plaintext": [
                    l3s_truth(decode_html(raw)) for raw in pdf["content"]
                ],
            }
        )


def convert_l3s(spark: SparkSession, original_dir: str,
                annotated_dir: str) -> DataFrame:
    """L3S-GN1 conversion plan: (source, html, plaintext); truth derived
    from the annotated copy, joined to the original page bytes."""
    # decode path shared with the other decode-only formats
    # (_decoded_pages / _PAGE_SCHEMA / _TEXT_TRUTH_SCHEMA, defined below)
    pages = read_binary_dir(spark, original_dir).mapInPandas(
        _decoded_pages, schema=_PAGE_SCHEMA
    )
    truths = read_binary_dir(spark, annotated_dir).mapInPandas(
        _l3s_truths, schema=_TEXT_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "html", "plaintext"
    )


# ---------------------------------------------------------------------------
# Deterministic raw-format synthesis (fixture generation): builds on-disk
# CleanEval / L3S trees from the documents parquet so the conversion plans
# have DuckDB-expressible expected outputs.  Pure pyarrow — no Spark.
# ---------------------------------------------------------------------------


def _fixture_docs(sf_dir: str, mod: int = 7):
    """(doc_id, source, text) rows selected for raw-format fixtures:
    every ``doc_id % mod == 0`` non-empty page."""
    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    ).to_pylist()
    for row in docs:
        if row["doc_id"] % mod == 0 and row["doc_id"] % 101 != 0:
            yield row["doc_id"], row["source"], row["text"]


def synthesize_cleaneval_tree(sf_dir: str, out_dir: str, mod: int = 7,
                              orig_name: str = "orig",
                              clean_name: str = "clean") -> int:
    """Write CleanEval-style orig/ + clean/ trees for documents with
    ``doc_id % mod == 0`` (non-empty pages only).  Edge encodings carried
    over from the pages synthesis: gzip bytes for %103 rows, UTF-8 BOM for
    %107 rows.  Returns the number of pages written.  CleanPortalEval
    reuses this with its input/GoldStandard directory names."""
    import gzip
    import os

    from .pages import build_page_html, gold_main_text, url_for

    os.makedirs(os.path.join(out_dir, orig_name), exist_ok=True)
    os.makedirs(os.path.join(out_dir, clean_name), exist_ok=True)
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        html = build_page_html(doc_id, source, text)
        wrapped = f'<text id="{doc_id}">\n{html}\n</text>'
        if doc_id % 107 == 0:
            wrapped = "\ufeff" + wrapped
        raw = wrapped.encode("utf-8")
        if doc_id % 103 == 0:
            raw = gzip.compress(raw, compresslevel=1, mtime=0)
        with open(
            os.path.join(out_dir, orig_name, f"{doc_id}.html"), "wb"
        ) as f:
            f.write(raw)
        truth = (
            f"URL: {url_for(doc_id, source)}\n\n"
            f"<p>{gold_main_text(doc_id, source, text)}</p>\n"
        )
        with open(
            os.path.join(out_dir, clean_name, f"{doc_id}.txt"), "wb"
        ) as f:
            f.write(truth.encode("utf-8"))
        n += 1
    return n


def l3s_annotated_html(source: str, text: str) -> str:
    """One L3S-GN1-style annotated page (original = same without the
    annotation spans)."""
    return (
        "<html><body>"
        f'<div><span class="x-nc-sel1">Article {source}</span></div>'
        f'<p><span class="x-nc-sel2">{text}</span></p>'
        '<aside><a href="/promo">promo</a> <a href="/more">more</a></aside>'
        "</body></html>"
    )


def l3s_original_html(source: str, text: str) -> str:
    return (
        "<html><body>"
        f"<div>Article {source}</div>"
        f"<p>{text}</p>"
        '<aside><a href="/promo">promo</a> <a href="/more">more</a></aside>'
        "</body></html>"
    )


def synthesize_l3s_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Write L3S-GN1-style original/ + annotated/ trees."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(os.path.join(out_dir, "original"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "annotated"), exist_ok=True)
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
    ).to_pylist()
    n = 0
    for row in docs:
        doc_id, source, text = row["doc_id"], row["source"], row["text"]
        if doc_id % mod != 0 or doc_id % 101 == 0:
            continue
        orig = l3s_original_html(source, text)
        anno = l3s_annotated_html(source, text)
        with open(
            os.path.join(out_dir, "original", f"{doc_id}.html"), "wb"
        ) as f:
            f.write(orig.encode("utf-8"))
        with open(
            os.path.join(out_dir, "annotated", f"{doc_id}.html"), "wb"
        ) as f:
            f.write(anno.encode("utf-8"))
        n += 1
    return n


# ---------------------------------------------------------------------------
# Remaining raw formats (S1 tail — reference dataset_readers.py:171-317).
# Same plan for all: binaryFile scan -> decode -> per-format unwrap / truth
# derivation -> broadcast whitelist join on the per-file key.
# ---------------------------------------------------------------------------

_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("html", T.StringType(), True),
    ]
)

_TEXT_TRUTH_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("plaintext", T.StringType(), True),
    ]
)


def _decoded_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Pages that need decode only (gzip/BOM/charset), no unwrap."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "html": [decode_html(raw) for raw in pdf["content"]],
            }
        )


def _raw_text_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Truth files whose decoded content IS the plaintext verbatim
    (dragnet / CETD gold .txt files)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "plaintext": [decode_html(raw) for raw in pdf["content"]],
            }
        )


def convert_cleanportaleval(spark: SparkSession, input_dir: str,
                            gold_dir: str) -> DataFrame:
    """CleanPortalEval (reference dataset_readers.py:171-179): identical
    reader semantics to CleanEval — <text> wrapper pages under ``input/``,
    URL-line + clean-markup truths under ``GoldStandard/``."""
    return convert_cleaneval(spark, input_dir, gold_dir)


def convert_dragnet(spark: SparkSession, html_dir: str,
                    corrected_dir: str) -> DataFrame:
    """Dragnet (reference dataset_readers.py:182-198): pages under
    ``HTML/`` decode as-is; truths are VERBATIM corrected-text files named
    ``{page}.html.corrected.txt`` (hence strip_exts=3 — the reference
    double-splitexts the truth name, then splitexts once more for the
    source key)."""
    pages = read_binary_dir(spark, html_dir).mapInPandas(
        _decoded_pages, schema=_PAGE_SCHEMA
    )
    truths = read_binary_dir(spark, corrected_dir, strip_exts=3).mapInPandas(
        _raw_text_truths, schema=_TEXT_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "html", "plaintext"
    )


def _cetd_keyed(spark: SparkSession, root_dir: str, sub: str) -> DataFrame:
    """CETD files live under {root}/{vertical}/{original|gold}/; the
    per-file key is '{vertical}_{stem}' (reference dataset_readers.py:214)."""
    df = spark.read.format("binaryFile").load(f"{root_dir}/*/{sub}")
    vertical = F.regexp_extract(F.col("path"), rf"/([^/]+)/{sub}/[^/]+$", 1)
    stem = F.regexp_extract(
        F.col("path"), r"([^/]+?)((?i:\.[a-z0-9]+){0,1})$", 1
    )
    return df.select(
        F.concat_ws("_", vertical, stem).alias("source"), F.col("content")
    )


def convert_cetd(spark: SparkSession, root_dir: str) -> DataFrame:
    """CETD (reference dataset_readers.py:201-220): per-vertical
    ``original/*.htm`` pages and verbatim ``gold/*.txt`` truths."""
    pages = _cetd_keyed(spark, root_dir, "original").mapInPandas(
        _decoded_pages, schema=_PAGE_SCHEMA
    )
    truths = _cetd_keyed(spark, root_dir, "gold").mapInPandas(
        _raw_text_truths, schema=_TEXT_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "html", "plaintext"
    )


def readability_truth(content: str) -> str:
    """Readability test-pages truth: the ``expected.html`` body rendered
    as text (reference dataset_readers.py:223-236).  Deviation
    (documented, same as CleanEval): ``.strip()``-ed."""
    return body_or_root(parse_html(content)).text_content().strip()


def _readability_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "plaintext": [
                    readability_truth(decode_html(raw))
                    for raw in pdf["content"]
                ],
            }
        )


def convert_readability_ds(spark: SparkSession,
                           test_pages_dir: str) -> DataFrame:
    """Readability test suite (reference dataset_readers.py:223-236):
    one case directory per page holding ``source.html`` +
    ``expected.html``; the case directory name is the key."""
    case_of = r"/([^/]+)/[^/]+$"

    def keyed(name: str) -> DataFrame:
        df = spark.read.format("binaryFile").option(
            "pathGlobFilter", name
        ).option("recursiveFileLookup", True).load(test_pages_dir)
        return df.select(
            F.regexp_extract(F.col("path"), case_of, 1).alias("source"),
            F.col("content"),
        )

    pages = keyed("source.html").mapInPandas(
        _decoded_pages, schema=_PAGE_SCHEMA
    )
    truths = keyed("expected.html").mapInPandas(
        _readability_truths, schema=_TEXT_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "html", "plaintext"
    )


_SCRAPINGHUB_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("html", T.StringType(), True),
        T.StructField("page_id", T.StringType(), True),
    ]
)

_SCRAPINGHUB_TRUTH_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("plaintext", T.StringType(), True),
    ]
)


def _scrapinghub_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode + the reference's hash quirk (dataset_readers.py:245-248):
    the page id is the sha256 of the DECOMPRESSED bytes, not of the .gz
    file on disk — recomputed here after gunzip so ids stay stable across
    recompression."""
    import hashlib

    from ..encoding import maybe_gunzip

    for pdf in batches:
        htmls, ids = [], []
        for raw in pdf["content"]:
            data = maybe_gunzip(bytes(raw))
            htmls.append(decode_html(data))
            ids.append(hashlib.sha256(data).hexdigest())
        yield pd.DataFrame(
            {"source": pdf["source"], "html": htmls, "page_id": ids}
        )


def _scrapinghub_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """ground-truth.json is one dict {key: {articleBody, url}}
    (dataset_readers.py:239-248) — a metadata-scale artifact: one file ->
    one task; at corpus scale you would convert it to JSONL first."""
    import json

    for pdf in batches:
        sources, urls, texts = [], [], []
        for raw in pdf["content"]:
            truth = json.loads(decode_html(raw))
            for key in sorted(truth):
                sources.append(key)
                urls.append(truth[key].get("url"))
                texts.append(truth[key].get("articleBody"))
        yield pd.DataFrame(
            {"source": sources, "url": urls, "plaintext": texts}
        )


def convert_scrapinghub(spark: SparkSession, root_dir: str) -> DataFrame:
    """ScrapingHub article benchmark (reference dataset_readers.py:239-261):
    gzipped pages under ``html/``, truths in one ``ground-truth.json``."""
    pages = read_binary_dir(
        spark, f"{root_dir}/html", glob="*.gz", strip_exts=2
    ).mapInPandas(_scrapinghub_pages, schema=_SCRAPINGHUB_PAGE_SCHEMA)
    truths = read_binary_dir(
        spark, root_dir, glob="ground-truth.json"
    ).mapInPandas(_scrapinghub_truths, schema=_SCRAPINGHUB_TRUTH_SCHEMA)
    return pages.join(F.broadcast(truths), "source").select(
        "source", "url", "html", "plaintext", "page_id"
    )


def _boilernet_truths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "source": pdf["source"],
                "plaintext": [
                    boilernet_truth(decode_html(raw)) for raw in pdf["content"]
                ],
            }
        )


def convert_googletrends(spark: SparkSession, raw_dir: str,
                         prepared_dir: str) -> DataFrame:
    """GoogleTrends2017 (reference dataset_readers.py:301-317): truth from
    the prepared copy's ``__boilernet_label="1"`` elements, joined to the
    raw page bytes."""
    pages = read_binary_dir(spark, raw_dir).mapInPandas(
        _decoded_pages, schema=_PAGE_SCHEMA
    )
    truths = read_binary_dir(spark, prepared_dir).mapInPandas(
        _boilernet_truths, schema=_TEXT_TRUTH_SCHEMA
    )
    return pages.join(F.broadcast(truths), "source").select(
        "source", "html", "plaintext"
    )


def googletrends_prepared_html(source: str, text: str) -> str:
    """One GoogleTrends2017-style prepared page: same skeleton as the L3S
    original, with content leaves carrying ``__boilernet_label="1"``."""
    return (
        "<html><body>"
        f'<div><span __boilernet_label="1">Article {source}</span></div>'
        f'<p><span __boilernet_label="1">{text}</span></p>'
        '<aside><a href="/promo">promo</a> <a href="/more">more</a></aside>'
        "</body></html>"
    )


def synthesize_cleanportaleval_tree(sf_dir: str, out_dir: str,
                                    mod: int = 7) -> int:
    """CleanPortalEval = CleanEval semantics under input/ + GoldStandard/."""
    return synthesize_cleaneval_tree(
        sf_dir, out_dir, mod, orig_name="input", clean_name="GoldStandard"
    )


def synthesize_dragnet_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Dragnet: HTML/{id}.html pages + verbatim
    corrected/Corrected/{id}.html.corrected.txt truths."""
    import os

    from .pages import build_page_html

    html_dir = os.path.join(out_dir, "HTML")
    corr_dir = os.path.join(out_dir, "corrected", "Corrected")
    os.makedirs(html_dir, exist_ok=True)
    os.makedirs(corr_dir, exist_ok=True)
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        with open(os.path.join(html_dir, f"{doc_id}.html"), "wb") as f:
            f.write(build_page_html(doc_id, source, text).encode("utf-8"))
        with open(
            os.path.join(corr_dir, f"{doc_id}.html.corrected.txt"), "wb"
        ) as f:
            f.write(text.encode("utf-8"))
        n += 1
    return n


CETD_FIXTURE_VERTICALS = ("BBC", "wiki")


def synthesize_cetd_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """CETD: two fixture verticals by doc_id parity, original/*.htm pages
    + verbatim gold/*.txt truths."""
    import os

    from .pages import build_page_html

    for v in CETD_FIXTURE_VERTICALS:
        os.makedirs(os.path.join(out_dir, v, "original"), exist_ok=True)
        os.makedirs(os.path.join(out_dir, v, "gold"), exist_ok=True)
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        v = CETD_FIXTURE_VERTICALS[doc_id % 2]
        with open(
            os.path.join(out_dir, v, "original", f"{doc_id}.htm"), "wb"
        ) as f:
            f.write(build_page_html(doc_id, source, text).encode("utf-8"))
        with open(
            os.path.join(out_dir, v, "gold", f"{doc_id}.txt"), "wb"
        ) as f:
            f.write(text.encode("utf-8"))
        n += 1
    return n


def synthesize_readability_tree(sf_dir: str, out_dir: str,
                                mod: int = 7) -> int:
    """Readability suite: test-pages/{id}/source.html + expected.html
    whose body text is exactly the document text."""
    import os

    from .pages import build_page_html

    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        case_dir = os.path.join(out_dir, "test-pages", str(doc_id))
        os.makedirs(case_dir, exist_ok=True)
        with open(os.path.join(case_dir, "source.html"), "wb") as f:
            f.write(build_page_html(doc_id, source, text).encode("utf-8"))
        expected = f"<html><body><p>{text}</p></body></html>"
        with open(os.path.join(case_dir, "expected.html"), "wb") as f:
            f.write(expected.encode("utf-8"))
        n += 1
    return n


def synthesize_scrapinghub_tree(sf_dir: str, out_dir: str,
                                mod: int = 7) -> int:
    """ScrapingHub: html/{id}.html.gz gzipped pages + one
    ground-truth.json {id: {articleBody, url}}."""
    import gzip
    import json
    import os

    from .pages import build_page_html, url_for

    html_dir = os.path.join(out_dir, "html")
    os.makedirs(html_dir, exist_ok=True)
    truth: dict[str, dict] = {}
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        page = build_page_html(doc_id, source, text).encode("utf-8")
        with open(os.path.join(html_dir, f"{doc_id}.html.gz"), "wb") as f:
            f.write(gzip.compress(page, compresslevel=1, mtime=0))
        truth[str(doc_id)] = {
            "articleBody": text, "url": url_for(doc_id, source)
        }
        n += 1
    with open(os.path.join(out_dir, "ground-truth.json"), "w",
              encoding="utf-8") as f:
        json.dump(truth, f, sort_keys=True)
    return n


def synthesize_googletrends_tree(sf_dir: str, out_dir: str,
                                 mod: int = 7) -> int:
    """GoogleTrends2017: raw_html/ originals + prepared_html/ annotated
    copies carrying __boilernet_label attributes."""
    import os

    os.makedirs(os.path.join(out_dir, "raw_html"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "prepared_html"), exist_ok=True)
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        with open(
            os.path.join(out_dir, "raw_html", f"{doc_id}.html"), "wb"
        ) as f:
            f.write(l3s_original_html(source, text).encode("utf-8"))
        with open(
            os.path.join(out_dir, "prepared_html", f"{doc_id}.html"), "wb"
        ) as f:
            f.write(googletrends_prepared_html(source, text).encode("utf-8"))
        n += 1
    return n


def convert_pdf(spark: SparkSession, root_dir: str) -> DataFrame:
    """PDF corpus directory -> (source, plaintext).

    No reference counterpart (the reference repo ingests HTML formats
    only); this is the "PDF/layout parse" leg of the pipeline mandate.
    The whole parse — xref, FlateDecode, content-stream text operators,
    column/line layout reconstruction — is the from-scratch
    ``extractors/pdf_text`` kernel run per file inside mapInPandas;
    the source key is the file stem, as for every other raw format."""
    from ..extractors.pdf_text import extract_pdf

    pages = read_binary_dir(spark, root_dir, glob="*.pdf")
    return extract_pdf(pages).select("source", "plaintext")


def synthesize_pdf_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Write one ``{doc_id}.pdf`` per fixture doc (layout/encoding arms
    vary by doc_id — see ``sources/pdf_synth``).  Oracle-arm lockstep:
    ground truth per file is the documents-table ``text`` verbatim
    (fixture text is single-space normalized; `check_oracles
    ... convert_raw_formats` guards the contract)."""
    import os

    from .pdf_synth import encode_pdf

    os.makedirs(out_dir, exist_ok=True)
    n = 0
    for doc_id, _source, text in _fixture_docs(sf_dir, mod):
        with open(os.path.join(out_dir, f"{doc_id}.pdf"), "wb") as f:
            f.write(encode_pdf(doc_id, text))
        n += 1
    return n
