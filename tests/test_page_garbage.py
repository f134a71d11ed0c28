"""A page leaves nothing for CPython's cyclic collector.

The DOM has no parent pointers and the extractors' walks use no
self-referencing closures, so a page's tree, blocks and walk state are
freed by reference counting as soon as the caller drops them.  With the
collector disabled, ``gc.collect()`` after each page must find no
unreachable object, for the parser and for every registered extractor,
on well-formed, malformed and nesting-bomb pages alike (a bomb's
``RecursionError`` traceback included)."""

import gc
import random

import pandas as pd

from web_content_extraction_benchmark_spark.dom import parse_html
from web_content_extraction_benchmark_spark.encoding import decode_html
from web_content_extraction_benchmark_spark.extractors import (
    EXTRACTORS,
    safe_extract,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    build_page_html,
    encode_page_html,
)

MALFORMED = [
    "",
    "<html><body><div class='article'><p>truncated para<a href='x",
    "<p>unclosed <b>bold <i>italic <div>block</p></i> tail",
    "<body></div></span><p>stray end tags</p></body></html></html>",
    "a < b and c<d <  <p>stray angle brackets</p> <",
    "<script>var s = '<p>not text</p>';",
    "<!-- unterminated comment <p>hidden",
    "<p title=\"unterminated attr>text</p><p class='x' id=y data-z>ok</p>",
    "<table><tr><td>one<td>two<tr><td>three</table><li>loose<li>items",
]
BOMBS = [
    "<html><body><div>" + "<span>" * 3000 + "deep</body></html>",
    "<html><body>" + "<div>" * 3000 + "<p>deep words, here</p></body></html>",
]


def _pages(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pages = []
    for row in docs[docs.doc_id < 120].itertuples():
        doc_id = int(row.doc_id)
        pages.append(decode_html(encode_page_html(
            doc_id, build_page_html(doc_id, row.source, row.text))))
    rng = random.Random(8)
    garbage = bytes(rng.randrange(256) for _ in range(4000))
    return pages + MALFORMED + [decode_html(garbage)] + BOMBS


def test_pages_are_freed_by_reference_counting(sf_dir):
    pages = _pages(sf_dir)
    names = sorted(EXTRACTORS)
    for html in pages[:3]:  # first calls may fill module-level caches
        for name in names:
            safe_extract(name, html)
    gc.collect()
    gc.freeze()  # each collect() below then scans only the page's objects
    left = []
    gc.disable()
    try:
        for i, html in enumerate(pages):
            root = parse_html(html)
            del root
            found = gc.collect()
            if found:
                left.append((i, "parse_html", found))
            for name in names:
                safe_extract(name, html)
                found = gc.collect()
                if found:
                    left.append((i, name, found))
    finally:
        gc.enable()
        gc.unfreeze()
    assert left == []
