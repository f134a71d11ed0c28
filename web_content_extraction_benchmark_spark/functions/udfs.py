"""Shared Arrow-batched pandas UDFs: decode, link scans, block spans,
scoring and the complexity features.

These are not the only Python/JVM crossing points — the extraction
pipeline (``plans/pipeline.py``), the LM scorer (``operators/lm.py``),
the OPH/dedup kernels (``operators/dedup.py``) and the PDF, media and
other per-operator kernels run their own ``mapInArrow``/``mapInPandas``
stages — but every crossing is vectorized (never a per-row Python UDF):
the reference's per-row ``model(in_data['html'])`` loop
(extract.py:102-119) becomes one Arrow batch per
``spark.sql.execution.arrow.maxRecordsPerBatch`` documents.
Per-document errors map to '' exactly as the reference harness
swallows them (extract.py:106-119).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..dom import NON_TEXT_ELEMENTS, body_or_root, parse_html
from ..encoding import decode_html
from ..extractors.density import extract_main_content_with_blocks
from ..functions.scoring import rouge_lsum, token_levenshtein_ratio
from ..textutils import word_tokens

BLOCKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("tag", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
)

ROUGE_TYPE = T.StructType(
    [
        T.StructField("prec", T.DoubleType(), False),
        T.StructField("rec", T.DoubleType(), False),
        T.StructField("f1", T.DoubleType(), False),
    ]
)

HTML_FEATURE_TAGS = [
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "li", "table", "a", "div",
    "br", "strong", "em",
]
HTML_FEATURES_TYPE = T.StructType(
    [T.StructField(t, T.DoubleType(), False) for t in HTML_FEATURE_TAGS]
    + [T.StructField("html_to_non_html", T.DoubleType(), False)]
)


def decode_series(raw: pd.Series) -> pd.Series:
    return raw.map(lambda b: decode_html(b) if b is not None else "")


@pandas_udf(T.StringType())
def decode_html_udf(raw: pd.Series) -> pd.Series:
    """binary html -> decoded text (gunzip + BOM/meta sniff + fallbacks)."""
    return decode_series(raw)


@pandas_udf(T.ArrayType(T.StringType()))
def hrefs_from_html_udf(raw: pd.Series) -> pd.Series:
    """binary html -> href attribute values, decode fused with the scan.

    One Arrow crossing instead of two: ``decode_html_udf`` followed by a
    JVM ``regexp_extract_all`` ships every decoded page string back to
    the JVM only to throw away all but ~0.5% of it — measured 0.60
    2->8-core scaling on that round trip alone (Arrow ser-de is
    memory-bandwidth-bound) vs the link-graph layers' own ~0.75.  The
    Python and Java regex semantics agree on this literal pattern
    (no char classes beyond ``[^"]``)."""
    import re

    from ..operators.linkgraph import HREF_PATTERN

    pat = re.compile(HREF_PATTERN)
    return raw.map(
        lambda b: pat.findall(decode_html(b)) if b is not None else []
    )


PAGE_LINKS_TYPE = T.StructType([
    T.StructField("hrefs", T.ArrayType(T.StringType()), False),
    T.StructField("anchor_hrefs", T.ArrayType(T.StringType()), False),
    T.StructField("anchor_texts", T.ArrayType(T.StringType()), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("meta_names", T.ArrayType(T.StringType()), False),
    T.StructField("meta_contents", T.ArrayType(T.StringType()), False),
    T.StructField("prop_names", T.ArrayType(T.StringType()), False),
    T.StructField("prop_contents", T.ArrayType(T.StringType()), False),
    T.StructField("canonical", T.StringType(), False),
    T.StructField("hreflang_langs", T.ArrayType(T.StringType()), False),
    T.StructField("hreflang_hrefs", T.ArrayType(T.StringType()), False),
])


@pandas_udf(PAGE_LINKS_TYPE)
def page_links_udf(raw: pd.Series) -> pd.DataFrame:
    """binary html -> (hrefs, anchor href/text pairs, raw title): the
    WAT-record bundle in ONE Arrow crossing.

    Fusing all three scans with the charset decode matters for the same
    reason ``hrefs_from_html_udf`` exists (decoded pages are ~200x the
    extracted metadata — shipping them back to the JVM for three
    separate regexp passes is pure Arrow ser-de waste), plus one more:
    the three patterns share one decode.  Anchor inner HTML and the
    title are returned RAW — tag-stripping/whitespace-squeezing happens
    JVM-side in ``linkgraph.squeeze_text`` so the normalization lives in
    exactly one place for the kernel path, the Catalyst twin
    (``linkgraph.page_links``) and the DuckDB mirrors."""
    import re

    from ..operators.linkgraph import (
        ANCHOR_PATTERN,
        CANONICAL_PATTERN,
        HREF_PATTERN,
        HREFLANG_PATTERN,
        META_NAME_PATTERN,
        META_PROP_PATTERN,
        TITLE_PATTERN,
    )

    hp = re.compile(HREF_PATTERN)
    ap = re.compile(ANCHOR_PATTERN)
    tp = re.compile(TITLE_PATTERN)
    mnp = re.compile(META_NAME_PATTERN)
    mpp = re.compile(META_PROP_PATTERN)
    cp = re.compile(CANONICAL_PATTERN)
    hlp = re.compile(HREFLANG_PATTERN)
    cols: dict[str, list] = {f.name: [] for f in PAGE_LINKS_TYPE.fields}
    for blob in raw:
        s = decode_html(blob) if blob is not None else ""
        cols["hrefs"].append(hp.findall(s))
        pairs = ap.findall(s)
        cols["anchor_hrefs"].append([p[0] for p in pairs])
        cols["anchor_texts"].append([p[1] for p in pairs])
        m = tp.search(s)
        cols["title"].append(m.group(1) if m else "")
        mn = mnp.findall(s)
        cols["meta_names"].append([p[0] for p in mn])
        cols["meta_contents"].append([p[1] for p in mn])
        mp = mpp.findall(s)
        cols["prop_names"].append([p[0] for p in mp])
        cols["prop_contents"].append([p[1] for p in mp])
        c = cp.search(s)
        cols["canonical"].append(c.group(1) if c else "")
        hl = hlp.findall(s)
        cols["hreflang_langs"].append([p[0] for p in hl])
        cols["hreflang_hrefs"].append([p[1] for p in hl])
    return pd.DataFrame(cols)


@pandas_udf(BLOCKS_TYPE)
def main_content_blocks_udf(raw: pd.Series) -> pd.Series:
    """Block-level spans of the main-content extractor (north-star output)."""
    out = []
    for blob in raw:
        try:
            _, spans = extract_main_content_with_blocks(decode_html(blob))
            out.append([
                {"start": s, "end": e, "tag": tag, "text": text}
                for s, e, tag, text in spans
            ])
        except Exception:
            out.append([])
    return pd.Series(out, dtype="object")


@pandas_udf(T.DoubleType())
def token_levenshtein_udf(target: pd.Series, pred: pd.Series) -> pd.Series:
    out = [
        token_levenshtein_ratio(t or "", p or "")
        for t, p in zip(target, pred)
    ]
    return pd.Series(out, dtype="float64")


@pandas_udf(ROUGE_TYPE)
def rouge_lsum_udf(target: pd.Series, pred: pd.Series) -> pd.DataFrame:
    rows = [rouge_lsum(t or "", p or "") for t, p in zip(target, pred)]
    return pd.DataFrame(rows, columns=["prec", "rec", "f1"])


@pandas_udf(T.IntegerType())
def src_word_count_udf(raw: pd.Series) -> pd.Series:
    """Word-token count of the body text (script/style excluded) — the
    denominator of the page-complexity score (reference complexity.py:52-73)."""
    counts = []
    for blob in raw:
        try:
            body = body_or_root(parse_html(decode_html(blob)))
            # join text nodes with a separator: adjacent element texts must
            # not merge into one word token ("two" + "Copyright")
            parts = [
                node.text
                for node in body.iter(skip_tags=NON_TEXT_ELEMENTS)
                if node.is_text
            ]
            counts.append(len(word_tokens(" ".join(parts))))
        except Exception:
            counts.append(0)
    return pd.Series(counts, dtype="int32")


@pandas_udf(HTML_FEATURES_TYPE)
def html_features_udf(raw: pd.Series) -> pd.DataFrame:
    """15 structural features per page (reference complexity.py:93-122):
    tag-count ratios over total body tags + tags-per-word-token ratio."""
    rows = []
    for blob in raw:
        feats = {t: 0.0 for t in HTML_FEATURE_TAGS}
        feats["html_to_non_html"] = 0.0
        try:
            body = body_or_root(parse_html(decode_html(blob)))
            counts = {t: 0 for t in HTML_FEATURE_TAGS}
            n_tags = 0
            text_parts = []
            for node in body.iter(skip_tags=NON_TEXT_ELEMENTS):
                if node.is_text:
                    text_parts.append(node.text)
                    continue
                if node is body:
                    continue
                n_tags += 1
                if node.tag in counts:
                    counts[node.tag] += 1
            if n_tags:
                for t in HTML_FEATURE_TAGS:
                    feats[t] = counts[t] / n_tags
            # separator join: adjacent element texts must not merge tokens
            n_words = len(word_tokens(" ".join(text_parts)))
            feats["html_to_non_html"] = n_tags / n_words if n_words else 0.0
        except Exception:
            pass
        rows.append(feats)
    return pd.DataFrame(rows, columns=HTML_FEATURE_TAGS + ["html_to_non_html"])


def word_count_col(col):
    """JVM-side Unicode word-token count (reference util.py:60-70)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(?U)\w+"), 0))
