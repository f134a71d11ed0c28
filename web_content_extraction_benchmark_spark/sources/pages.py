"""Deterministic Common-Crawl-style ``pages`` table synthesis.

The engine's input contract (BASELINE.json ``input_hint``) is an Iceberg
table ``(url string, warc_ts timestamp, html binary, text string,
lang string)``.  No external data exists in the sandbox, so pages are
synthesized deterministically from the driver-provided ``documents``
parquet (doc_id, text, lang, source, n_chars): each document becomes one
page whose HTML template (5 variants keyed by ``doc_id % 5``) embeds the
document text as main content surrounded by boilerplate (nav/aside/footer
link farms — the negatives for the density classifiers).

Crucially, the *expected main content* ("gold") of every variant is a pure
SQL-expressible function of (doc_id, source, text) — see
``gold_sql`` / ``plain_sql`` — so DuckDB can serve as an independent
oracle of the full Spark extract→score pipeline (driver correctness gate).

Edge rows (decode/error paths, FIXTURES.md §1):
- ``doc_id % 101 == 0``  -> empty html (extractor error path -> '')
- ``doc_id % 103 == 0``  -> gzip-compressed html (transparent gunzip)
- ``doc_id % 107 == 0``  -> UTF-8 BOM prefix (encoding sniff)
"""

from __future__ import annotations

import gzip
import hashlib
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.records import map_records

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dataset", T.StringType(), False),
        T.StructField("gold", T.StringType(), False),
    ]
)

EPOCH_2023 = pd.Timestamp("2023-01-01 00:00:00")

N_HOSTS = 41
# Every 5th page lands on host0 -> deliberate host skew for the salted
# repartition path (north_star: defuse host/page-size skew).
SKEW_HOST_MOD = 5


# The modules whose code writes the synthesized fixtures (pages, raw
# dataset trees, WARC and PDF files): a cache of their output goes stale
# when any of them changes.
_SOURCES = os.path.dirname(os.path.abspath(__file__))
FIXTURE_WRITERS = tuple(
    os.path.join(_SOURCES, name)
    for name in ("pages.py", "raw_datasets.py", "warc.py", "pdf_synth.py"))


def fixture_fingerprint(sf_dir: str) -> str:
    """Key for a cache of fixtures synthesized from ``sf_dir``: the
    corpus file's path, mtime and size plus a hash of the writer code,
    so regenerated test data or an edited writer rebuilds the cache
    instead of silently serving stale files."""
    path = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(path)
    writers = hashlib.sha256()
    for writer in FIXTURE_WRITERS:
        with open(writer, "rb") as f:
            writers.update(f.read())
    return (f"{os.path.abspath(path)}|{st.st_mtime_ns}|{st.st_size}"
            f"|{writers.hexdigest()}")


def host_for(doc_id: int) -> str:
    host_num = 0 if doc_id % SKEW_HOST_MOD == 0 else doc_id % N_HOSTS
    return f"host{host_num}.example"


def url_for(doc_id: int, source: str) -> str:
    return f"https://{host_for(doc_id)}/{source}/{doc_id}"


def _split_words(text: str) -> tuple[str, str]:
    words = text.split(" ")
    return " ".join(words[:4]), " ".join(words[4:])


def build_page_html(doc_id: int, source: str, text: str) -> str:
    """One page's HTML by template variant (pure; mirrored by *_sql)."""
    variant = doc_id % 5
    host = host_for(doc_id)
    if variant == 2:
        part1, part2 = _split_words(text)
        return render_template(variant, host, source, text, part1, part2)
    return render_template(variant, host, source, text)


def render_template(variant: int, host: str, source: str, text: str,
                    part1: str = "", part2: str = "") -> str:
    """The raw HTML templates — single source of truth for the Python
    builder AND the SQL mirror (html_sql() splices SQL expressions into
    the same strings via sentinel substitution)."""
    if variant == 0:
        return (
            f"<html><head><title>Article {source}</title>"
            "<style>p{color:#333}</style><script>var a=1;</script></head>"
            '<body><nav><a href="/">Home</a> <a href="/about">About</a> '
            '<a href="/contact">Contact</a></nav>'
            f"<main><h1>Article {source}</h1><p>{text}</p></main>"
            f"<footer><p>© 2023 {host} — All rights reserved</p></footer>"
            "</body></html>"
        )
    if variant == 1:
        return (
            f"<html><head><title>{source}</title></head>"
            '<body><div id="menu"><ul><li><a href="/login">Login</a></li>'
            '<li><a href="/register">Register</a></li></ul></div>'
            f'<div class="article-body"><p>{text}</p></div>'
            '<aside class="promo"><a href="/buy">Buy now</a> '
            '<a href="/deals">Hot deals</a></aside></body></html>'
        )
    if variant == 2:
        return (
            f"<html><head><title>{source}</title><script>track();</script>"
            f'</head><body><div class="content"><p>{part1}</p>'
            f"<p>{part2}</p></div></body></html>"
        )
    if variant == 3:
        return f"<html><body><p>{text}</p></body></html>"
    return (
        f"<html><head><title>Article {source}</title></head>"
        f"<body><header><h1>Article {source}</h1></header>"
        f'<div class="content"><p>{text}</p>'
        '<ul class="nav"><li><a href="/t/1">tag one</a></li>'
        '<li><a href="/t/2">tag two</a></li></ul></div>'
        "<footer>Copyright 2023</footer></body></html>"
    )


def gold_main_text(doc_id: int, source: str, text: str) -> str:
    """Expected main-content extraction per variant (the truth column)."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    if variant in (0, 4):
        return f"Article {source}\n{text}"
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{part1}\n{part2}"
    return text


def plain_full_text(doc_id: int, source: str, text: str) -> str:
    """Expected ``plain`` (bs4-style strip-join) extraction per variant."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    host = host_for(doc_id)
    if variant == 0:
        return (
            f"Article {source} Home About Contact Article {source} {text} "
            f"© 2023 {host} — All rights reserved"
        )
    if variant == 1:
        return f"{source} Login Register {text} Buy now Hot deals"
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{source} {part1} {part2}"
    if variant == 3:
        return text
    return f"Article {source} Article {source} {text} tag one tag two Copyright 2023"


def gold_xpath_text(doc_id: int, source: str, text: str) -> str:
    """Expected ``xpath_text`` extraction (raw body text joined with ' ',
    whitespace-squeezed) per variant."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    host = host_for(doc_id)
    if variant == 0:
        return (
            f"Home About Contact Article {source} {text} "
            f"© 2023 {host} — All rights reserved"
        )
    if variant == 1:
        return f"Login Register {text} Buy now Hot deals"
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{part1} {part2}"
    if variant == 3:
        return text
    return f"Article {source} {text} tag one tag two Copyright 2023"


def gold_tag_blacklist(doc_id: int, source: str, text: str) -> str:
    """Expected tag-blacklist-cleaner extraction per variant (nav/aside/
    footer/head subtrees killed, then strip-join)."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    if variant == 0:
        return f"Article {source} {text}"
    if variant == 1:
        return f"Login Register {text}"
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{part1} {part2}"
    if variant == 3:
        return text
    return f"Article {source} {text} tag one tag two"


def gold_readability(doc_id: int, source: str, text: str) -> str:
    """Expected readability extraction per variant: the winning scored
    candidate's paragraph-broken text (variant 4's heading sits outside
    the winning ``div.content``, unlike the density extractor's gold)."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    if variant == 0:
        return f"Article {source}\n{text}"
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{part1}\n{part2}"
    return text


def gold_bte(doc_id: int, source: str, text: str) -> str:
    """Expected BTE extraction per variant: the max-sum token span.  On
    variant 0 the span provably extends through the footer (net +3
    regardless of the document) and ties left onto the heading (earliest
    start wins); elsewhere it is exactly the article text."""
    if doc_id % 101 == 0:
        return ""
    variant = doc_id % 5
    host = host_for(doc_id)
    if variant == 0:
        return (
            f"Article {source}\n{text}\n© 2023 {host} — All rights reserved"
        )
    if variant == 2:
        part1, part2 = _split_words(text)
        return f"{part1}\n{part2}"
    return text


def _justext_cf_class(t: str) -> str:
    """jusText context-free class of a zero-link-density paragraph (the
    only kind the templates produce for the article text)."""
    from ..extractors.stopword_density import (
        LENGTH_HIGH,
        LENGTH_LOW,
        STOPLIST,
        STOPWORDS_HIGH,
        STOPWORDS_LOW,
    )

    if len(t) < LENGTH_LOW:
        return "short"
    words = t.split(" ")
    density = sum(1 for w in words if w.lower() in STOPLIST) / len(words)
    if density >= STOPWORDS_HIGH:
        return "good" if len(t) > LENGTH_HIGH else "neargood"
    if density >= STOPWORDS_LOW:
        return "neargood"
    return "bad"


def gold_justext(doc_id: int, source: str, text: str) -> str:
    """Expected jusText extraction per variant.

    On every variant except 2 the article text's neighbours are all bad
    after revision (link farms, © footer, boundary), so the output is the
    text iff its context-free class is good.  Variant 2 has two adjacent
    text paragraphs: shorts always demote (mixed neighbourhoods are never
    neargood-shielded here), neargood promotes iff the sibling is good."""
    if doc_id % 101 == 0:
        return ""
    if doc_id % 5 != 2:
        return text if _justext_cf_class(text) == "good" else ""
    part1, part2 = _split_words(text)
    c1, c2 = _justext_cf_class(part1), _justext_cf_class(part2)
    keep1 = c1 == "good" or (c1 == "neargood" and c2 == "good")
    keep2 = c2 == "good" or (c2 == "neargood" and c1 == "good")
    return " ".join(p for p, k in ((part1, keep1), (part2, keep2)) if k)


def encode_page_html(doc_id: int, html: str) -> bytes:
    """Apply edge-row byte encodings (empty / gzip / BOM)."""
    if doc_id % 101 == 0:
        return b""
    if doc_id % 107 == 0:
        html = "\ufeff" + html
    raw = html.encode("utf-8")
    if doc_id % 103 == 0:
        raw = gzip.compress(raw, compresslevel=1, mtime=0)
    return raw


def _page_row(doc_id: int, source: str, text: str | None,
              lang: str | None) -> list[tuple]:
    """One `PAGES_SCHEMA` row of a fixture document."""
    return [(
        url_for(doc_id, source),
        # seconds bounded to keep replicate-offset ids (copy * 10^7, up
        # to ~2*10^10 at the 10M-page stress level) inside the pandas
        # ns-timestamp range; identity for every base doc_id, so the SQL
        # mirrors never see the modulo.
        EPOCH_2023 + pd.Timedelta(seconds=doc_id % 4_000_000_000),
        encode_page_html(doc_id, build_page_html(doc_id, source, text)),
        None if doc_id % 13 == 0 else text,
        lang,
        doc_id,
        source,
        gold_main_text(doc_id, source, text),
    )]


def synthesize_pages(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """documents.parquet -> pages DataFrame (plus doc_id/dataset/gold cols).

    ``replicate`` scales row volume for benchmarking: copy k gets doc_ids
    offset by ``k * 10**7`` (distinct urls, same text corpus).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        # copy * 10^7 must be LONG arithmetic: an int literal keeps the
        # multiply in INT32, which under ANSI mode throws at replicate
        # >= 215 (first hit at the 10M-page stress level).
        docs = docs.withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).withColumn(
            "doc_id",
            F.col("doc_id")
            + F.col("copy").cast("long") * F.lit(10_000_000).cast("long"),
        ).drop("copy")
    if partitions:
        docs = docs.repartition(partitions)
    return map_records(docs.select("doc_id", "source", "text", "lang"),
                       _page_row, PAGES_SCHEMA)


def truth_table(pages: DataFrame) -> DataFrame:
    """Ground-truth table (url, page_id-free variant keyed by url)."""
    return pages.select(
        "url",
        F.col("dataset"),
        F.col("gold").alias("plaintext"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders — MUST stay in lockstep with the Python
# builders above (pytest cross-checks them row-for-row at sf0.001/sf0.01).
# ---------------------------------------------------------------------------

HOST_SQL = (
    "('host' || CAST(CASE WHEN doc_id % {skew} = 0 THEN 0 "
    "ELSE doc_id % {hosts} END AS VARCHAR) || '.example')"
).format(skew=SKEW_HOST_MOD, hosts=N_HOSTS)

URL_SQL = f"('https://' || {HOST_SQL} || '/' || source || '/' || CAST(doc_id AS VARCHAR))"

_P1_SQL = "array_to_string(string_split(text, ' ')[1:4], ' ')"
_P2_SQL = "array_to_string(string_split(text, ' ')[5:], ' ')"

GOLD_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 IN (0, 4) THEN 'Article ' || source || chr(10) || text "
    f"WHEN doc_id % 5 = 2 THEN {_P1_SQL} || chr(10) || {_P2_SQL} "
    "ELSE text END"
)

PLAIN_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 = 0 THEN 'Article ' || source || ' Home About Contact "
    "Article ' || source || ' ' || text || ' © 2023 ' || "
    f"{HOST_SQL} || ' — All rights reserved' "
    "WHEN doc_id % 5 = 1 THEN source || ' Login Register ' || text || "
    "' Buy now Hot deals' "
    f"WHEN doc_id % 5 = 2 THEN source || ' ' || {_P1_SQL} || ' ' || {_P2_SQL} "
    "WHEN doc_id % 5 = 3 THEN text "
    "ELSE 'Article ' || source || ' Article ' || source || ' ' || text || "
    "' tag one tag two Copyright 2023' END"
)


XPATH_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 = 0 THEN 'Home About Contact Article ' || source || "
    f"' ' || text || ' © 2023 ' || {HOST_SQL} || ' — All rights reserved' "
    "WHEN doc_id % 5 = 1 THEN 'Login Register ' || text || ' Buy now Hot deals' "
    f"WHEN doc_id % 5 = 2 THEN {_P1_SQL} || ' ' || {_P2_SQL} "
    "WHEN doc_id % 5 = 3 THEN text "
    "ELSE 'Article ' || source || ' ' || text || "
    "' tag one tag two Copyright 2023' END"
)

TAG_BLACKLIST_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 = 0 THEN 'Article ' || source || ' ' || text "
    "WHEN doc_id % 5 = 1 THEN 'Login Register ' || text "
    f"WHEN doc_id % 5 = 2 THEN {_P1_SQL} || ' ' || {_P2_SQL} "
    "WHEN doc_id % 5 = 3 THEN text "
    "ELSE 'Article ' || source || ' ' || text || ' tag one tag two' END"
)

READABILITY_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 = 0 THEN 'Article ' || source || chr(10) || text "
    f"WHEN doc_id % 5 = 2 THEN {_P1_SQL} || chr(10) || {_P2_SQL} "
    "ELSE text END"
)

BTE_SQL = (
    "CASE WHEN doc_id % 101 = 0 THEN '' "
    "WHEN doc_id % 5 = 0 THEN 'Article ' || source || chr(10) || text || "
    f"chr(10) || '© 2023 ' || {HOST_SQL} || ' — All rights reserved' "
    f"WHEN doc_id % 5 = 2 THEN {_P1_SQL} || chr(10) || {_P2_SQL} "
    "ELSE text END"
)


def _justext_cls_sql(expr: str) -> str:
    """DuckDB mirror of ``_justext_cf_class`` over a text expression."""
    from ..extractors.stopword_density import (
        LENGTH_HIGH,
        LENGTH_LOW,
        STOPLIST,
        STOPWORDS_HIGH,
        STOPWORDS_LOW,
    )

    stoplist = "(" + ", ".join(f"'{w}'" for w in sorted(STOPLIST)) + ")"
    density = (
        f"(CAST(len(list_filter(string_split({expr}, ' '), "
        f"w -> lower(w) IN {stoplist})) AS DOUBLE) / "
        f"len(string_split({expr}, ' ')))"
    )
    return (
        f"CASE WHEN length({expr}) < {LENGTH_LOW} THEN 'short' "
        f"WHEN {density} >= {STOPWORDS_HIGH} THEN "
        f"(CASE WHEN length({expr}) > {LENGTH_HIGH} THEN 'good' "
        "ELSE 'neargood' END) "
        f"WHEN {density} >= {STOPWORDS_LOW} THEN 'neargood' "
        "ELSE 'bad' END"
    )


def justext_sql() -> str:
    """DuckDB expression for the jusText gold (over a ``documents`` scan
    aliased with doc_id/source/text) — generated from the same class
    thresholds and stoplist as the Python extractor, so the two cannot
    drift."""
    cls_text = _justext_cls_sql("text")
    cls_p1 = _justext_cls_sql(_P1_SQL)
    cls_p2 = _justext_cls_sql(_P2_SQL)
    keep = (
        "({c1} = 'good' OR ({c1} = 'neargood' AND {c2} = 'good'))"
    )
    k1 = keep.format(c1=cls_p1, c2=cls_p2)
    k2 = keep.format(c1=cls_p2, c2=cls_p1)
    return (
        "CASE WHEN doc_id % 101 = 0 THEN '' "
        "WHEN doc_id % 5 != 2 THEN "
        f"(CASE WHEN {cls_text} = 'good' THEN text ELSE '' END) "
        "ELSE trim(concat_ws(' ', "
        f"CASE WHEN {k1} THEN {_P1_SQL} ELSE NULL END, "
        f"CASE WHEN {k2} THEN {_P2_SQL} ELSE NULL END)) END"
    )


def html_sql(edge_bytes: bool = True) -> str:
    """DuckDB expression rebuilding the page HTML *string* from documents
    rows — generated from the same templates as the Python builder, so the
    two cannot drift.  With ``edge_bytes`` (pages-table mirror) it covers
    the non-gzip rows (gzip bytes are not SQL-reproducible) and spells the
    BOM prefix (doc_id % 107) as chr(65279); without it (post-decode
    mirror, raw dataset readers) every row is the plain template string."""
    sentinels = {
        "\x00HOST\x00": HOST_SQL,
        "\x00SRC\x00": "source",
        "\x00TXT\x00": "text",
        "\x00P1\x00": _P1_SQL,
        "\x00P2\x00": _P2_SQL,
    }
    cases = []
    for variant in range(5):
        rendered = render_template(
            variant, "\x00HOST\x00", "\x00SRC\x00", "\x00TXT\x00",
            "\x00P1\x00", "\x00P2\x00",
        )
        expr = "'" + rendered.replace("'", "''") + "'"
        for marker, sql in sentinels.items():
            expr = expr.replace(marker, f"' || {sql} || '")
        cases.append(f"WHEN doc_id % 5 = {variant} THEN {expr}")
    body = " ".join(cases)
    plain_html = f"CASE {body} END"
    if not edge_bytes:
        return plain_html
    return (
        "CASE WHEN doc_id % 101 = 0 THEN '' "
        f"WHEN doc_id % 107 = 0 THEN chr(65279) || ({plain_html}) "
        f"ELSE ({plain_html}) END"
    )


# Structural tag counts of each template's <body> (script/style/noscript
# excluded), for the html-features oracle: (total_tags, {tag: count}).
VARIANT_TAG_COUNTS = {
    0: (9, {"a": 3, "h1": 1, "p": 2}),
    1: (11, {"a": 4, "li": 2, "p": 1, "div": 2}),
    2: (3, {"p": 2, "div": 1}),
    3: (1, {"p": 1}),
    4: (10, {"a": 2, "h1": 1, "li": 2, "p": 1, "div": 1}),
}

# body word-token (\w+) count offsets per variant (over n text words).
VARIANT_BODY_WORD_OFFSET = {0: 11, 1: 6, 2: 0, 3: 0, 4: 8}
