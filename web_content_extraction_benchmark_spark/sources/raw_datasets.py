"""Raw dataset ingestion (SURVEY S1): binaryFile scan -> decode ->
format-specific unwrap / truth derivation -> whitelist semi-join.

Distributed re-expression of the reference's dataset-reader family
(``src/extraction_benchmark/dataset_readers.py:135-317``).
The eight annotated formats differ only in data, so each is one
``FORMATS`` entry — where its pages and truths live under the dataset
root, how the join key is built, the page transform, the truth-row
function and the extra output columns — and ``convert_dataset`` runs the
same plan for all of them.  The two representative truth shapes:

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

import hashlib
import json
import os
import re
from dataclasses import dataclass
from functools import partial
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dom import (
    BLOCK_ELEMENTS,
    body_and_ancestors,
    body_or_root,
    iter_elements,
    parse_html,
)
from ..encoding import decode_html, maybe_gunzip
from ..functions.records import map_records

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
    body, ancestors = body_and_ancestors(parse_html(content))
    parts: list[str] = []
    for node, parent, _ in iter_elements(body, ancestors):
        if not is_content(node):
            continue
        if len(node.children) != 1 or not node.children[0].is_text:
            continue  # leaf elements only (avoid double-counting parents)
        if parent is not None and parent.tag in BLOCK_ELEMENTS:
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


def readability_truth(content: str) -> str:
    """Readability test-pages truth: the ``expected.html`` body rendered
    as text (reference dataset_readers.py:223-236).  Deviation
    (documented, same as CleanEval): ``.strip()``-ed."""
    return body_or_root(parse_html(content)).text_content().strip()


def read_binary_dir(spark: SparkSession, path: str,
                    glob: str = "*",
                    strip_exts: int = 1,
                    key_pattern: str | None = None) -> DataFrame:
    """binaryFile scan of a raw dataset directory: (source, content, path).

    The listing is recursive (partition inference off), so per-case
    layouts such as Readability's ``test-pages/{case}/source.html`` list
    their files and ``k=v`` directory names never add columns.
    ``source`` is the file stem — the reference's per-file key.  Up to
    ``strip_exts`` trailing extensions are stripped CASE-INSENSITIVELY
    (ADVICE r2: 'page.HTML' or compound 'page.html.gz' must still meet
    their truth rows; a silently empty semi-join is the failure mode).
    Formats with multi-part truth suffixes pass a higher count (dragnet:
    '{page}.html.corrected.txt' -> strip_exts=3).  ``key_pattern``
    overrides the derivation entirely (group 1 = key)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", True)
        .load(path)
    )
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


# ---------------------------------------------------------------------------
# The format table.  A format is pure data: where its two file sets live,
# how their join key is built, and which functions turn decoded files into
# page html and truth rows.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Side:
    """One file set (pages or truths) of a raw format under its root."""

    sub: str                         # root-relative directory; may glob
    glob: str = "*"                  # file-name filter
    strip_exts: int = 1              # read_binary_dir's stem rule
    key_pattern: str | None = None   # read_binary_dir override (group 1)
    key_prefix: str | None = None    # path regex; group 1 + "_" + key


TruthRows = Callable[[str, str], Iterable[tuple]]


def _keyed(truth: Callable[[str], str]) -> TruthRows:
    """Truth-row function for one truth file per page, keyed by the file."""
    return lambda key, content: [(key, None, truth(content))]


def _cleaneval_rows(key: str, content: str) -> list[tuple]:
    return [(key, *cleaneval_truth(content))]


def _scrapinghub_rows(_key: str, content: str) -> list[tuple]:
    """ground-truth.json is one dict {key: {articleBody, url}}
    (dataset_readers.py:239-248) — a metadata-scale artifact: one file ->
    one task; at corpus scale you would convert it to JSONL first."""
    truth = json.loads(content)
    return [
        (key, truth[key].get("url"), truth[key].get("articleBody"))
        for key in sorted(truth)
    ]


@dataclass(frozen=True)
class RawFormat:
    """One annotated dataset: ``truth_rows`` maps (key, decoded truth
    file) to (source, url, plaintext) rows, ``page`` maps a decoded page
    to its html (``str``: as is), ``extra`` names the output columns
    beyond source/html/plaintext."""

    pages: Side
    truths: Side
    truth_rows: TruthRows
    page: Callable[[str], str] = str
    extra: tuple[str, ...] = ()


_CLEANEVAL = dict(truth_rows=_cleaneval_rows, page=cleaneval_unwrap,
                  extra=("url",))
_PARENT_DIR = r"/([^/]+)/[^/]+$"            # .../{case}/file
_GRANDPARENT_DIR = r"/([^/]+)/[^/]+/[^/]+$"  # .../{vertical}/sub/file

FORMATS: dict[str, RawFormat] = {
    # dataset_readers.py:135-168
    "cleaneval": RawFormat(Side("orig"), Side("clean"), **_CLEANEVAL),
    # dataset_readers.py:264-298
    "l3s": RawFormat(Side("original"), Side("annotated"), _keyed(l3s_truth)),
    # dataset_readers.py:171-179: CleanEval semantics, other directories
    "cleanportaleval": RawFormat(
        Side("input"), Side("GoldStandard"), **_CLEANEVAL
    ),
    # dataset_readers.py:182-198: verbatim '{page}.html.corrected.txt'
    # truths (the reference double-splitexts the name, then once more)
    "dragnet": RawFormat(
        Side("HTML"), Side("corrected/Corrected", strip_exts=3), _keyed(str)
    ),
    # dataset_readers.py:201-220: {vertical}/original|gold trees, keyed
    # '{vertical}_{stem}'
    "cetd": RawFormat(
        Side("*/original", key_prefix=_GRANDPARENT_DIR),
        Side("*/gold", key_prefix=_GRANDPARENT_DIR),
        _keyed(str),
    ),
    # dataset_readers.py:223-236: one case directory per page, keyed by
    # the directory name
    "readability": RawFormat(
        Side("test-pages", "source.html", key_pattern=_PARENT_DIR),
        Side("test-pages", "expected.html", key_pattern=_PARENT_DIR),
        _keyed(readability_truth),
    ),
    # dataset_readers.py:239-261: gzipped pages, one ground-truth.json
    "scrapinghub": RawFormat(
        Side("html", "*.gz", strip_exts=2),
        Side("", "ground-truth.json"),
        _scrapinghub_rows,
        extra=("url", "page_id"),
    ),
    # dataset_readers.py:301-317
    "googletrends": RawFormat(
        Side("raw_html"), Side("prepared_html"), _keyed(boilernet_truth)
    ),
}

_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("html", T.StringType(), True),
    ]
)

_PAGE_ID_SCHEMA = T.StructType(
    [*_PAGE_SCHEMA.fields, T.StructField("page_id", T.StringType(), True)]
)

_TRUTH_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("plaintext", T.StringType(), True),
    ]
)

_COLUMNS = ("source", "url", "html", "plaintext", "page_id")


def _scan(spark: SparkSession, root: str, side: Side) -> DataFrame:
    df = read_binary_dir(
        spark, f"{root}/{side.sub}".rstrip("/"), side.glob,
        side.strip_exts, side.key_pattern,
    )
    if side.key_prefix is None:
        return df
    prefix = F.regexp_extract(F.col("path"), side.key_prefix, 1)
    return df.withColumn("source", F.concat_ws("_", prefix, "source"))


def _pages_kernel(fmt: str, source: str, raw: bytes) -> list[tuple]:
    spec = FORMATS[fmt]
    if "page_id" not in spec.extra:
        return [(source, spec.page(decode_html(raw)))]
    # the reference's hash quirk (dataset_readers.py:245-248): the id is
    # the sha256 of the DECOMPRESSED bytes, not of the .gz on disk, so
    # ids stay stable across recompression.  Only here: decode_html
    # gunzips too, so other formats must not.
    raw = maybe_gunzip(bytes(raw))
    return [(source, spec.page(decode_html(raw)),
             hashlib.sha256(raw).hexdigest())]


def _truths_kernel(fmt: str, source: str, raw: bytes) -> Iterable[tuple]:
    return FORMATS[fmt].truth_rows(source, decode_html(raw))


def convert_dataset(spark: SparkSession, fmt: str, root: str) -> DataFrame:
    """Conversion plan for one ``FORMATS`` dataset tree under ``root``:
    (source, [url,] html, plaintext[, page_id]), one row per page that
    has a truth (whitelist semi-join on the truth side, like the
    reference's truth-driven extract whitelist)."""
    spec = FORMATS[fmt]
    schema = _PAGE_ID_SCHEMA if "page_id" in spec.extra else _PAGE_SCHEMA
    pages = map_records(
        _scan(spark, root, spec.pages).select("source", "content"),
        partial(_pages_kernel, fmt), schema,
    )
    truths = map_records(
        _scan(spark, root, spec.truths).select("source", "content"),
        partial(_truths_kernel, fmt), _TRUTH_SCHEMA,
    )
    keep = ("source", "html", "plaintext", *spec.extra)
    return pages.join(F.broadcast(truths), "source").select(
        *[c for c in _COLUMNS if c in keep]
    )


def convert_pdf(spark: SparkSession, root_dir: str) -> DataFrame:
    """PDF corpus directory -> (source, plaintext).

    No reference counterpart (the reference repo ingests HTML formats
    only); this is the "PDF/layout parse" leg of the pipeline mandate.
    The whole parse — xref, FlateDecode, content-stream text operators,
    column/line layout reconstruction — is the from-scratch
    ``extractors/pdf_text`` kernel run per file on the record kernel;
    the source key is the file stem, as for every other raw format."""
    from ..extractors.pdf_text import extract_pdf

    pages = read_binary_dir(spark, root_dir, glob="*.pdf")
    return extract_pdf(pages).select("source", "plaintext")


# ---------------------------------------------------------------------------
# Deterministic raw-format synthesis (fixture generation): builds on-disk
# trees in each format's layout from the documents parquet so the
# conversion plans have DuckDB-expressible expected outputs.  Pure
# pyarrow — no Spark.
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


def _write(path: str, data: bytes) -> None:
    """Write one fixture file, creating its parent directory."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def synthesize_cleaneval_tree(sf_dir: str, out_dir: str, mod: int = 7,
                              orig_name: str = "orig",
                              clean_name: str = "clean") -> int:
    """Write CleanEval-style orig/ + clean/ trees for documents with
    ``doc_id % mod == 0`` (non-empty pages only).  Edge encodings carried
    over from the pages synthesis: gzip bytes for %103 rows, UTF-8 BOM for
    %107 rows.  Returns the number of pages written.  CleanPortalEval
    reuses this with its input/GoldStandard directory names."""
    import gzip

    from .pages import build_page_html, gold_main_text, url_for

    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        html = build_page_html(doc_id, source, text)
        wrapped = f'<text id="{doc_id}">\n{html}\n</text>'
        if doc_id % 107 == 0:
            wrapped = "\ufeff" + wrapped
        raw = wrapped.encode("utf-8")
        if doc_id % 103 == 0:
            raw = gzip.compress(raw, compresslevel=1, mtime=0)
        _write(os.path.join(out_dir, orig_name, f"{doc_id}.html"), raw)
        truth = (
            f"URL: {url_for(doc_id, source)}\n\n"
            f"<p>{gold_main_text(doc_id, source, text)}</p>\n"
        )
        _write(os.path.join(out_dir, clean_name, f"{doc_id}.txt"),
               truth.encode("utf-8"))
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


def synthesize_l3s_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Write L3S-GN1-style original/ + annotated/ trees."""
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        _write(os.path.join(out_dir, "original", f"{doc_id}.html"),
               l3s_original_html(source, text).encode("utf-8"))
        _write(os.path.join(out_dir, "annotated", f"{doc_id}.html"),
               l3s_annotated_html(source, text).encode("utf-8"))
        n += 1
    return n


def synthesize_cleanportaleval_tree(sf_dir: str, out_dir: str,
                                    mod: int = 7) -> int:
    """CleanPortalEval = CleanEval semantics under input/ + GoldStandard/."""
    return synthesize_cleaneval_tree(
        sf_dir, out_dir, mod, orig_name="input", clean_name="GoldStandard"
    )


def synthesize_dragnet_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Dragnet: HTML/{id}.html pages + verbatim
    corrected/Corrected/{id}.html.corrected.txt truths."""
    from .pages import build_page_html

    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        _write(os.path.join(out_dir, "HTML", f"{doc_id}.html"),
               build_page_html(doc_id, source, text).encode("utf-8"))
        _write(os.path.join(out_dir, "corrected", "Corrected",
                            f"{doc_id}.html.corrected.txt"),
               text.encode("utf-8"))
        n += 1
    return n


CETD_FIXTURE_VERTICALS = ("BBC", "wiki")


def synthesize_cetd_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """CETD: two fixture verticals by doc_id parity, original/*.htm pages
    + verbatim gold/*.txt truths."""
    from .pages import build_page_html

    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        v = CETD_FIXTURE_VERTICALS[doc_id % 2]
        _write(os.path.join(out_dir, v, "original", f"{doc_id}.htm"),
               build_page_html(doc_id, source, text).encode("utf-8"))
        _write(os.path.join(out_dir, v, "gold", f"{doc_id}.txt"),
               text.encode("utf-8"))
        n += 1
    return n


def synthesize_readability_tree(sf_dir: str, out_dir: str,
                                mod: int = 7) -> int:
    """Readability suite: test-pages/{id}/source.html + expected.html
    whose body text is exactly the document text."""
    from .pages import build_page_html

    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        case_dir = os.path.join(out_dir, "test-pages", str(doc_id))
        _write(os.path.join(case_dir, "source.html"),
               build_page_html(doc_id, source, text).encode("utf-8"))
        expected = f"<html><body><p>{text}</p></body></html>"
        _write(os.path.join(case_dir, "expected.html"),
               expected.encode("utf-8"))
        n += 1
    return n


def synthesize_scrapinghub_tree(sf_dir: str, out_dir: str,
                                mod: int = 7) -> int:
    """ScrapingHub: html/{id}.html.gz gzipped pages + one
    ground-truth.json {id: {articleBody, url}}."""
    import gzip

    from .pages import build_page_html, url_for

    truth: dict[str, dict] = {}
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        page = build_page_html(doc_id, source, text).encode("utf-8")
        _write(os.path.join(out_dir, "html", f"{doc_id}.html.gz"),
               gzip.compress(page, compresslevel=1, mtime=0))
        truth[str(doc_id)] = {
            "articleBody": text, "url": url_for(doc_id, source)
        }
        n += 1
    _write(os.path.join(out_dir, "ground-truth.json"),
           json.dumps(truth, sort_keys=True).encode("utf-8"))
    return n


def synthesize_googletrends_tree(sf_dir: str, out_dir: str,
                                 mod: int = 7) -> int:
    """GoogleTrends2017: raw_html/ originals + prepared_html/ annotated
    copies carrying __boilernet_label attributes."""
    n = 0
    for doc_id, source, text in _fixture_docs(sf_dir, mod):
        _write(os.path.join(out_dir, "raw_html", f"{doc_id}.html"),
               l3s_original_html(source, text).encode("utf-8"))
        _write(os.path.join(out_dir, "prepared_html", f"{doc_id}.html"),
               googletrends_prepared_html(source, text).encode("utf-8"))
        n += 1
    return n


def synthesize_pdf_tree(sf_dir: str, out_dir: str, mod: int = 7) -> int:
    """Write one ``{doc_id}.pdf`` per fixture doc (layout/encoding arms
    vary by doc_id — see ``sources/pdf_synth``).  Oracle-arm lockstep:
    ground truth per file is the documents-table ``text`` verbatim
    (fixture text is single-space normalized; `check_oracles
    ... convert_raw_formats` guards the contract)."""
    from .pdf_synth import encode_pdf

    n = 0
    for doc_id, _source, text in _fixture_docs(sf_dir, mod):
        _write(os.path.join(out_dir, f"{doc_id}.pdf"), encode_pdf(doc_id, text))
        n += 1
    return n
