"""Host-level link-graph analytics: outlinks -> edges -> PageRank.

A crawl-analytics staple the reference engine (a scoring harness — cf.
its ``eval.py`` which has no graph code at all) never needed, but any
100 TB web-corpus pipeline does: which hosts a page links to drives
seed selection, spam scoring, and crawl prioritization.  Three layers,
each independently usable and each DuckDB-mirrorable:

1. ``extract_outlinks`` — pure Catalyst: one ``regexp_extract_all`` over
   the decoded page HTML pulls every ``href="..."`` value, and URL
   resolution (absolute / protocol-relative / root-relative; drop
   fragments, mailto:, javascript:, and path-relative hrefs) is a
   ``CASE`` chain of string functions.  No Python, no shuffle — the
   explode stays inside the scan stage.
2. ``host_edges`` — (src_host, dst_host, n_links) via one groupBy;
   map-side partial aggregation makes the exchange carry host pairs,
   never URLs.
3. ``pagerank_hosts`` — damped PageRank in exact integer micro-units so
   ANY engine reproduces it bit-for-bit (the repo's oracle-float rule,
   applied harder: no floats at all).  Per iteration:

       contrib(u->v) = (rank(u) * n_links(u,v)) DIV out_weight(u)
       rank'(v)      = 150_000 + (sum_u contrib(u,v) * 850) DIV 1000

   with rank_0 = 1_000_000 micro-units for every host.  ``DIV`` is
   BIGINT division in Spark and ``//`` in DuckDB — identical on the
   non-negative values here, so the unrolled-CTE mirror
   (``pagerank_sql``) matches exactly, iteration by iteration.

Scale notes (100 TB):
- the only data-sized work is the regex scan; everything after the
  host_edges groupBy is O(hosts + host-pairs), orders of magnitude
  smaller than pages.
- the PageRank loop joins edges to ranks on src_host then groups by
  dst_host: two exchanges per iteration over host-cardinality rows.
  Edge/out-weight inputs are ``localCheckpoint``-ed before the loop —
  persist() alone does NOT stop Catalyst re-analyzing the whole
  upstream plan every iteration (measured 22-43 s/round on
  connected_components before the same fix, see CLAUDE.md).
- dangling hosts (no outlinks) keep the base rank 150_000 after the
  first iteration; like the classic formulation without the dangling
  redistribution term — documented, and mirrored identically in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HREF_PATTERN = r'href="([^"]*)"'
# anchor ELEMENTS only (HREF_PATTERN also hits <link href>): group 1 =
# href, group 2 = inner content up to the first </a> ((?s) because real
# anchors span lines; non-greedy is identical in Java, RE2 and Python)
ANCHOR_PATTERN = r'(?s)<a href="([^"]*)"[^>]*>(.*?)</a>'
TITLE_PATTERN = r"<title>([^<]*)</title>"
# head metadata (r8): the WAT HTML-Metadata attribute set.  Attribute
# order is assumed canonical (name/property/rel first) — the same
# first-attribute convention HREF_PATTERN/ANCHOR_PATTERN already rely
# on; values are verbatim attribute text (no squeeze — they are not
# element content)
META_NAME_PATTERN = r'<meta name="([^"]*)" content="([^"]*)"'
META_PROP_PATTERN = r'<meta property="([^"]*)" content="([^"]*)"'
CANONICAL_PATTERN = r'<link rel="canonical" href="([^"]*)"'
HREFLANG_PATTERN = r'<link rel="alternate" hreflang="([^"]*)" href="([^"]*)"'
# explicit ASCII whitespace class, NOT \s: Java's \s includes \x0B,
# RE2's does not — the explicit class is engine-identical
_WS_CLASS = "[ \\t\\n\\r\\f]+"
DAMPING_NUM = 850       # 0.85 in thousandths
BASE_MICRO = 150_000    # (1 - 0.85) in micro-units
INIT_MICRO = 1_000_000  # rank_0
# Host graphs at or below this many weighted edges iterate on the
# driver (exact same integer arithmetic) instead of paying 2 shuffles +
# a plan analysis per PageRank round — the bounded-collect pattern of
# connected_components' union-find fast path (~50 B/edge, a few MB).
PR_LOCAL_EDGE_THRESHOLD = 100_000


def _host_of(url: Column) -> Column:
    """scheme://host[/...] -> host (lowercased; '' when not a URL)."""
    return F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))


def _resolve_href_pre(href: Column, scheme: Column, origin: Column) -> Column:
    """``resolve_href`` against a base URL whose scheme and origin were
    already extracted (hoisted before the outlink explode so the two
    base-URL regexes run once per PAGE, not once per link)."""
    return (
        F.when(href.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.lit(None).cast("string"))
    )


def resolve_href(href: Column, base_url: Column) -> Column:
    """Resolve an href against its page URL; NULL for the dropped kinds.

    Handled: absolute http(s), protocol-relative (``//host/p``), and
    root-relative (``/p``).  Dropped (NULL): empty, fragment-only,
    non-http schemes (mailto:, javascript:, tel:, data:), and
    path-relative hrefs (correct resolution needs RFC 3986 dot-segment
    merging against the base path — out of scope for host-graph use,
    where a path-relative link is a same-host edge the root-relative
    rows already witness)."""
    scheme = F.regexp_extract(base_url, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(base_url, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1)
    return _resolve_href_pre(href, scheme, origin)


def _outlinks_from_hrefs(pages: DataFrame, hrefs: Column,
                         url_col: str) -> DataFrame:
    """Shared resolution tail: (page rows, href-array column) -> one row
    per resolvable outlink (url, href, dst_url, src_host, dst_host).

    All base-URL regexes (src_host, scheme, origin) are computed BEFORE
    the href explode — CollapseProject would otherwise inline them into
    every per-link expression and re-run them once per outlink (~10x
    redundant regex work on a nav-heavy page)."""
    out = pages.select(
        F.col(url_col).alias("url"),
        _host_of(F.col(url_col)).alias("src_host"),
        F.regexp_extract(
            F.col(url_col), r"^([A-Za-z][A-Za-z0-9+.-]*):", 1
        ).alias("_scheme"),
        F.regexp_extract(
            F.col(url_col), r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1
        ).alias("_origin"),
        F.explode(hrefs).alias("href"),
    )
    dst = _resolve_href_pre(
        F.col("href"), F.col("_scheme"), F.col("_origin")
    )
    return (
        out.select("url", "src_host", "href", dst.alias("dst_url"))
        .filter(F.col("dst_url").isNotNull())
        .select(
            "url", "href", "dst_url", "src_host",
            _host_of(F.col("dst_url")).alias("dst_host"),
        )
    )


def extract_outlinks(pages: DataFrame, html_col: str = "html_str",
                     url_col: str = "url") -> DataFrame:
    """(url, html string) rows -> one row per resolvable outlink:
    (url, href, dst_url, src_host, dst_host).  Pure Catalyst."""
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(HREF_PATTERN), 1)
    return _outlinks_from_hrefs(pages, hrefs, url_col)


def extract_outlinks_raw(pages: DataFrame, html_col: str = "html",
                         url_col: str = "url") -> DataFrame:
    """``extract_outlinks`` straight off raw page BYTES: charset decode
    fused with the href scan in one Arrow crossing
    (``hrefs_from_html_udf``), so only the ~0.5%-sized href arrays cross
    back to the JVM instead of every decoded page.  Same output as
    ``extract_outlinks`` over ``decode_html_udf`` text (pytest-pinned);
    prefer this form whenever the corpus is still binary."""
    from ..functions.udfs import hrefs_from_html_udf

    return _outlinks_from_hrefs(
        pages, hrefs_from_html_udf(F.col(html_col)), url_col
    )


def squeeze_text(col: Column) -> Column:
    """Anchor/title normalization: strip nested tags (``<b>``, ``<img>``
    inside the anchor element), squeeze ASCII whitespace runs to one
    space, trim.  Space-only trim + the explicit ``_WS_CLASS`` keep
    Java, RE2 and Python byte-identical."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(col, "<[^>]*>", ""), _WS_CLASS, " "
    ))


def page_links(pages: DataFrame, html_col: str = "html_str",
               url_col: str = "url") -> DataFrame:
    """Catalyst twin of ``page_links_raw`` for already-decoded pages:
    (url, hrefs, anchor_hrefs, anchor_texts, title_raw) — the per-page
    link-metadata bundle every WAT-shaped export derives from.
    ``anchor_hrefs[i]`` pairs with ``anchor_texts[i]`` (two group
    extractions of the same pattern match in lockstep)."""
    h = F.col(html_col)
    return pages.select(
        F.col(url_col).alias("url"),
        F.regexp_extract_all(h, F.lit(HREF_PATTERN), 1).alias("hrefs"),
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 1).alias("anchor_hrefs"),
        F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 2).alias("anchor_texts"),
        F.regexp_extract(h, TITLE_PATTERN, 1).alias("title_raw"),
        F.regexp_extract_all(
            h, F.lit(META_NAME_PATTERN), 1).alias("meta_names"),
        F.regexp_extract_all(
            h, F.lit(META_NAME_PATTERN), 2).alias("meta_contents"),
        F.regexp_extract_all(
            h, F.lit(META_PROP_PATTERN), 1).alias("prop_names"),
        F.regexp_extract_all(
            h, F.lit(META_PROP_PATTERN), 2).alias("prop_contents"),
        F.regexp_extract(h, CANONICAL_PATTERN, 1).alias("canonical"),
        F.regexp_extract_all(
            h, F.lit(HREFLANG_PATTERN), 1).alias("hreflang_langs"),
        F.regexp_extract_all(
            h, F.lit(HREFLANG_PATTERN), 2).alias("hreflang_hrefs"),
    )


def page_links_raw(pages: DataFrame, html_col: str = "html",
                   url_col: str = "url") -> DataFrame:
    """``page_links`` straight off raw page BYTES — charset decode fused
    with all three scans (hrefs, anchor pairs, title) in one Arrow
    crossing (``page_links_udf``).  The struct is expanded in a SECOND
    select: the non-cheap UDF expression is referenced four times there,
    which is exactly what stops CollapseProject from inlining (and thus
    re-running) it per consumer."""
    from ..functions.udfs import page_links_udf

    return pages.select(
        F.col(url_col).alias("url"),
        page_links_udf(F.col(html_col)).alias("_pl"),
    ).select(
        "url",
        F.col("_pl.hrefs").alias("hrefs"),
        F.col("_pl.anchor_hrefs").alias("anchor_hrefs"),
        F.col("_pl.anchor_texts").alias("anchor_texts"),
        F.col("_pl.title").alias("title_raw"),
        F.col("_pl.meta_names").alias("meta_names"),
        F.col("_pl.meta_contents").alias("meta_contents"),
        F.col("_pl.prop_names").alias("prop_names"),
        F.col("_pl.prop_contents").alias("prop_contents"),
        F.col("_pl.canonical").alias("canonical"),
        F.col("_pl.hreflang_langs").alias("hreflang_langs"),
        F.col("_pl.hreflang_hrefs").alias("hreflang_hrefs"),
    )


def outlinks_from_page_links(links: DataFrame) -> DataFrame:
    """``extract_outlinks`` rows off a precomputed ``page_links`` bundle
    — the path to use when several arms (outlinks, anchors, titles)
    consume the same pages: one decode+scan, N cheap tails."""
    return _outlinks_from_hrefs(links, F.col("hrefs"), "url")


def anchors_from_page_links(links: DataFrame) -> DataFrame:
    """(page_links rows) -> one row per resolvable anchor element:
    (url, href, anchor_text, dst_url, src_host, dst_host).  Base-URL
    regexes hoisted before the explode, as in ``_outlinks_from_hrefs``."""
    out = links.select(
        "url",
        _host_of(F.col("url")).alias("src_host"),
        F.regexp_extract(
            F.col("url"), r"^([A-Za-z][A-Za-z0-9+.-]*):", 1
        ).alias("_scheme"),
        F.regexp_extract(
            F.col("url"), r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1
        ).alias("_origin"),
        F.explode(
            F.arrays_zip(F.col("anchor_hrefs"), F.col("anchor_texts"))
        ).alias("z"),
    )
    dst = _resolve_href_pre(
        F.col("z.anchor_hrefs"), F.col("_scheme"), F.col("_origin")
    )
    return (
        out.select(
            "url", "src_host",
            F.col("z.anchor_hrefs").alias("href"),
            squeeze_text(F.col("z.anchor_texts")).alias("anchor_text"),
            dst.alias("dst_url"),
        )
        .filter(F.col("dst_url").isNotNull())
        .select(
            "url", "href", "anchor_text", "dst_url", "src_host",
            _host_of(F.col("dst_url")).alias("dst_host"),
        )
    )


def extract_anchors(pages: DataFrame, html_col: str = "html_str",
                    url_col: str = "url") -> DataFrame:
    """Anchor ELEMENTS with their link text, resolved like
    ``extract_outlinks`` (same dropped kinds): one row per ``<a href>``
    whose target resolves — the raw material of an anchor-text corpus.
    Pure Catalyst."""
    return anchors_from_page_links(page_links(pages, html_col, url_col))


def page_titles(links: DataFrame) -> DataFrame:
    """(page_links rows) -> (url, title) for pages with a non-empty
    normalized ``<title>`` (first title element wins, as in both regex
    engines' first-match ``regexp_extract``)."""
    return links.select(
        "url", squeeze_text(F.col("title_raw")).alias("title")
    ).filter(F.col("title") != "")


def head_meta_from_page_links(links: DataFrame) -> DataFrame:
    """(page_links rows) -> long-format head metadata: (url, kind, key,
    value) with kind in {'meta', 'prop', 'canonical', 'hreflang'} —
    ``<meta name=>`` / ``<meta property=>`` (OG tags) pairs, the first
    ``rel=canonical`` href, and ``rel=alternate hreflang`` pairs.  The
    WAT HTML-Metadata head set in one tidy relation; values are
    verbatim attribute text."""
    def zipped(kind: str, keys: str, vals: str) -> DataFrame:
        z = links.select(
            "url", F.explode(F.arrays_zip(keys, vals)).alias("z")
        )
        return z.select(
            "url", F.lit(kind).alias("kind"),
            F.col(f"z.{keys}").alias("key"),
            F.col(f"z.{vals}").alias("value"),
        )

    canon = links.filter(F.col("canonical") != "").select(
        "url", F.lit("canonical").alias("kind"),
        F.lit("").alias("key"), F.col("canonical").alias("value"),
    )
    return (
        zipped("meta", "meta_names", "meta_contents")
        .unionByName(zipped("prop", "prop_names", "prop_contents"))
        .unionByName(canon)
        .unionByName(zipped("hreflang", "hreflang_langs", "hreflang_hrefs"))
    )


def extract_head_meta(pages: DataFrame, html_col: str = "html_str",
                      url_col: str = "url") -> DataFrame:
    """``head_meta_from_page_links`` off decoded pages.  Pure Catalyst;
    for raw bytes go through ``page_links_raw`` (the fused kernel
    already carries the meta fields — no extra decode)."""
    return head_meta_from_page_links(page_links(pages, html_col, url_col))


def head_meta_sql(corpus_cte: str) -> str:
    """DuckDB mirror of ``extract_head_meta`` (same pattern constants,
    same positional list_zip pairing as ``anchors_sql``)."""
    def zipped(kind: str, pattern: str) -> str:
        return f"""
            SELECT url, '{kind}' AS kind, u.l[1] AS key, u.l[2] AS value
            FROM (
                SELECT url,
                       list_zip(regexp_extract_all(html_str, '{pattern}', 1),
                                regexp_extract_all(html_str, '{pattern}', 2)
                       ) AS z
                FROM corpus
            ), UNNEST(z) AS u(l)
        """

    return f"""
        WITH corpus AS ({corpus_cte})
        {zipped("meta", META_NAME_PATTERN)}
        UNION ALL
        {zipped("prop", META_PROP_PATTERN)}
        UNION ALL
        SELECT url, 'canonical' AS kind, '' AS key, c AS value FROM (
            SELECT url,
                   regexp_extract(html_str, '{CANONICAL_PATTERN}', 1) AS c
            FROM corpus
        ) WHERE c <> ''
        UNION ALL
        {zipped("hreflang", HREFLANG_PATTERN)}
    """


def anchor_corpus(anchors: DataFrame, by: str = "dst_url") -> DataFrame:
    """Anchor-text corpus: how the web describes each target —
    (target, anchor_text, n_anchors BIGINT), grouped per ``by`` (the
    resolved target URL by default; pass ``dst_host`` for a host-level
    corpus).  The classic anchor-text aggregation used for retrieval
    and LLM-pretraining signal; map-side partial aggregation keeps the
    exchange at (target, text) cardinality."""
    return (
        anchors.groupBy(F.col(by).alias("target"), "anchor_text")
        .agg(F.count("*").cast("long").alias("n_anchors"))
    )


def host_edges(outlinks: DataFrame) -> DataFrame:
    """Outlink rows -> weighted host->host edges (n_links BIGINT)."""
    return (
        outlinks.groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def pagerank_hosts(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Integer micro-unit PageRank over (src_host, dst_host, n_links).

    Returns (host, rank_micro BIGINT) for every host appearing as a
    source or destination.  Exact arithmetic — see the module docstring
    for the per-iteration formula; ``pagerank_sql`` is the
    decision-for-decision DuckDB mirror."""
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0: {iterations}")
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    out_w = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
    # lineage truncation BEFORE the loop: persist() would re-analyze the
    # full upstream plan every iteration (CLAUDE.md, connected_components)
    e = edges.join(out_w, "src_host").localCheckpoint()

    # Small-graph fast path (r9): the weighted edge set is already
    # materialized by the checkpoint, so its count is free; below the
    # bounded threshold the iteration runs on the driver over collected
    # (src, dst, n_links, out_w) rows — the identical exact integer
    # arithmetic (Python // == BIGINT DIV on the non-negative values
    # here), skipping 2 shuffles + a plan re-analysis per iteration.
    # Host graphs are O(hosts^2) edges at worst but crawl-real ones at
    # 100 TB (~10^8 hosts) exceed the threshold and take the
    # distributed loop unchanged.  Collect bounded at ~50 B/edge.
    if iterations > 0 and e.count() <= PR_LOCAL_EDGE_THRESHOLD:
        rows = e.select(
            "src_host", "dst_host", "n_links", "out_w"
        ).collect()
        rank = {}
        for r in rows:
            rank.setdefault(r[0], INIT_MICRO)
            rank.setdefault(r[1], INIT_MICRO)
        for _ in range(iterations):
            contrib: dict = {}
            for src, dst, n_links, ow in rows:
                c = (rank[src] * n_links) // ow
                contrib[dst] = contrib.get(dst, 0) + c
            rank = {
                h: BASE_MICRO + (contrib.get(h, 0) * DAMPING_NUM) // 1000
                for h in rank
            }
        spark = edges.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("host", edges.schema["src_host"].dataType, True),
            T.StructField("rank_micro", T.LongType(), True),
        ])
        return spark.createDataFrame(sorted(rank.items()), schema)

    nodes = nodes.localCheckpoint()

    ranks = nodes.select(
        "host", F.lit(INIT_MICRO).cast("long").alias("rank_micro")
    )
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src_host"] == ranks["host"])
            .select(
                F.col("dst_host").alias("host"),
                F.expr("(rank_micro * n_links) DIV out_w").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        ranks = nodes.join(contribs, "host", "left").select(
            "host",
            (
                F.lit(BASE_MICRO).cast("long")
                + F.expr(f"(coalesce(c, CAST(0 AS BIGINT)) * {DAMPING_NUM}) DIV 1000")
            ).alias("rank_micro"),
        )
    return ranks


def wat_records(outlinks: DataFrame) -> DataFrame:
    """Per-page link-metadata records in the Common-Crawl-WAT shape
    (one record per page, a ``links`` array of its resolved outlinks) —
    the export a crawl-metadata consumer expects next to a WET sink.
    ``links`` is sorted (by href, then target) so golden-mode JSONL
    output is byte-stable."""
    return (
        outlinks.groupBy("url")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("href").alias("href"),
                        F.col("dst_url").alias("target"),
                        F.col("dst_host").alias("host"),
                    )
                )
            ).alias("links")
        )
        .withColumn("n_links", F.size("links"))
    )


def _resolve_case_sql(href: str, url: str) -> str:
    """DuckDB twin of ``resolve_href`` as a CASE expression (shared by
    the outlink and anchor mirrors so the resolution semantics cannot
    drift between them)."""
    return f"""CASE
                 WHEN regexp_matches({href}, '^[Hh][Tt][Tt][Pp][Ss]?://')
                   THEN {href}
                 WHEN {href} LIKE '//%'
                   THEN regexp_extract({url},
                        '^([A-Za-z][A-Za-z0-9+.-]*):', 1) || ':' || {href}
                 WHEN {href} LIKE '/%'
                   THEN regexp_extract({url},
                        '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1) || {href}
                 ELSE NULL
               END"""


def _squeeze_sql(expr: str) -> str:
    """DuckDB twin of ``squeeze_text`` (same ``_WS_CLASS`` constant)."""
    return (
        f"trim(regexp_replace(regexp_replace({expr}, '<[^>]*>', '', 'g'), "
        f"'{_WS_CLASS}', ' ', 'g'))"
    )


def resolve_redirects(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """Follow redirect chains to their final target: (url, redirect_to)
    edges — e.g. ``read_warc`` rows with a non-null ``redirect_to`` —
    become (url, final_url, hops, terminated).

    ``terminated=False`` marks chains cut by the ``max_hops`` cap
    (cycles, or pathologically long chains a crawler abandons anyway —
    browsers cap around 20).  Semantics are EXACT and mirrored by
    ``redirects_sql``: final_url is the node reached after
    min(chain length, max_hops) hops.

    Scale shape: saturating pointer doubling — ``log2(max_hops)``
    self-joins on the EDGE table (size = number of redirect rows, a
    tiny fraction of any crawl), not a per-hop loop over the corpus;
    each round composes jumps and adds hop counts, so round r covers
    2^r hops.  ``max_hops`` must be a power of two (the doubling and
    the mirror's hop-capped walk then agree exactly, cycles included).
    Inputs are localCheckpoint-ed before the loop per the repo's
    iterative-operator rule."""
    if max_hops < 1 or max_hops & (max_hops - 1):
        raise ValueError(f"max_hops must be a power of two: {max_hops}")
    m = edges.select(
        F.col("url").alias("src"),
        F.col("redirect_to").alias("dst"),
        F.lit(1).cast("long").alias("hops"),
    ).filter(F.col("dst").isNotNull()).localCheckpoint()
    rounds = max_hops.bit_length() - 1  # log2
    for _ in range(rounds):
        nxt = m.select(
            F.col("src").alias("j_src"),
            F.col("dst").alias("j_dst"),
            F.col("hops").alias("j_hops"),
        )
        m = m.join(nxt, m["dst"] == nxt["j_src"], "left").select(
            "src",
            F.coalesce("j_dst", "dst").alias("dst"),
            (F.col("hops") + F.coalesce(
                F.col("j_hops"), F.lit(0).cast("long")
            )).alias("hops"),
        ).localCheckpoint()
    # terminated = the final node has NO outgoing edge (anti join beats
    # collecting the edge set; both sides are edge-sized)
    starts = m.select(F.col("src").alias("k")).distinct()
    return m.join(
        starts, m["dst"] == starts["k"], "left"
    ).select(
        F.col("src").alias("url"),
        F.col("dst").alias("final_url"),
        "hops",
        F.col("k").isNull().alias("terminated"),
    )


def redirects_sql(edges_cte: str, max_hops: int = 8) -> str:
    """DuckDB mirror of ``resolve_redirects``: a recursive CTE walking
    ONE hop per level with a hop cap, then the last row per start —
    decision-for-decision equal to the saturating doubling (both
    compute the node after min(chain length, max_hops) hops)."""
    return f"""
        WITH RECURSIVE edges AS ({edges_cte}),
        walk(src, dst, hops) AS (
            SELECT url, redirect_to, CAST(1 AS BIGINT)
            FROM edges WHERE redirect_to IS NOT NULL
            UNION ALL
            SELECT w.src, e.redirect_to, w.hops + 1
            FROM walk w JOIN edges e ON w.dst = e.url
            WHERE w.hops < {max_hops} AND e.redirect_to IS NOT NULL
        ),
        last AS (
            SELECT src, dst, hops,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY hops DESC) AS rn
            FROM walk
        )
        SELECT l.src AS url, l.dst AS final_url, l.hops,
               (l.dst NOT IN (SELECT url FROM edges
                              WHERE redirect_to IS NOT NULL))
                   AS terminated
        FROM last l WHERE l.rn = 1
    """


def bfs_depths(edges: DataFrame, seeds: DataFrame,
               max_depth: int = 16) -> DataFrame:
    """Crawl-depth labeling: min hops from any seed host over
    (src_host, dst_host) edges -> (host, depth INT); hosts unreachable
    within ``max_depth`` are absent.  The seed-distance signal crawl
    schedulers and quality pipelines use (deep pages correlate with
    spam/boilerplate; cf. the harmonic-centrality style metrics).

    Frontier BFS: each round joins ONLY the frontier (hosts first
    reached last round) to the edge table and anti-joins already-
    visited hosts — per-round work is O(frontier-adjacent edges), total
    O(E) across all rounds, host-cardinality rows only.  Terminates on
    frontier exhaustion (the ``isEmpty`` probe is a driver round trip
    per level, bounded by ``max_depth``); inputs localCheckpoint-ed
    per the iterative-operator rule.  ``bfs_depths_sql`` mirrors it as
    a recursive CTE with UNION dedup + depth cap, min(depth) per host
    — first-visit depth IS min depth, so the two agree exactly."""
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0: {max_depth}")
    e = edges.select(
        F.col("src_host").alias("s"), F.col("dst_host").alias("d")
    ).distinct().localCheckpoint()
    depths = seeds.select(F.col("host")).distinct().select(
        "host", F.lit(0).cast("int").alias("depth")
    ).localCheckpoint()
    frontier = depths.select("host")
    for level in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["host"] == e["s"])
            .select(F.col("d").alias("host"))
            .distinct()
            .join(depths.select("host"), "host", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        new_rows = nxt.select(
            "host", F.lit(level).cast("int").alias("depth")
        )
        depths = depths.unionByName(new_rows).localCheckpoint()
        frontier = nxt
    return depths


def bfs_depths_sql(edges_cte: str, seeds_cte: str,
                   max_depth: int = 16) -> str:
    """DuckDB mirror of ``bfs_depths``: recursive CTE with UNION (NOT
    UNION ALL — the dedup bounds exploration at (host, depth) pairs
    instead of path-count explosion on cyclic host graphs)."""
    return f"""
        WITH RECURSIVE bfs_edges AS ({edges_cte}),
        bfs_seeds AS ({seeds_cte}),
        walk(host, depth) AS (
            SELECT DISTINCT host, 0 FROM bfs_seeds
            UNION
            SELECT e.dst_host, w.depth + 1
            FROM walk w JOIN bfs_edges e ON w.host = e.src_host
            WHERE w.depth < {max_depth}
        )
        SELECT host, CAST(min(depth) AS INT) AS depth
        FROM walk GROUP BY host
    """


def wat_records_full(links: DataFrame) -> DataFrame:
    """WAT-parity per-page metadata records off a ``page_links`` bundle:
    (url, title, metas, links, n_links) where ``links`` holds the
    resolvable anchor ELEMENTS as (href, target, host, text) and
    ``metas`` the head-metadata rows as (kind, key, value) — the
    Common-Crawl-WAT essentials (HTML-Metadata Head/Title/Metas/Links
    with anchor text).  ``wat_records`` remains the href-value-level
    export (every ``href="..."`` incl. ``<link>``/``<area>``, no text).
    Pages with no anchors or metadata still get a record (empty
    arrays); sorted arrays keep golden output byte-stable."""
    anchors = anchors_from_page_links(links)
    per_page = anchors.groupBy("url").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("href").alias("href"),
                    F.col("dst_url").alias("target"),
                    F.col("dst_host").alias("host"),
                    F.col("anchor_text").alias("text"),
                )
            )
        ).alias("links")
    )
    metas = head_meta_from_page_links(links).groupBy("url").agg(
        F.sort_array(
            F.collect_list(F.struct("kind", "key", "value"))
        ).alias("metas")
    )
    titles = links.select(
        "url", squeeze_text(F.col("title_raw")).alias("title")
    )
    return (
        titles.join(metas, "url", "left").join(per_page, "url", "left")
        .select(
            "url", "title",
            F.coalesce(
                "metas",
                F.array().cast(
                    "array<struct<kind:string,key:string,value:string>>"
                ),
            ).alias("metas"),
            F.coalesce(
                "links",
                F.array().cast(
                    "array<struct<href:string,target:string,"
                    "host:string,text:string>>"
                ),
            ).alias("links"),
        )
        .withColumn("n_links", F.size("links"))
    )


def outlinks_sql(corpus_cte: str) -> str:
    """DuckDB mirror of ``extract_outlinks`` over a CTE body selecting
    (url, html_str).  RE2 and Java agree on every pattern used here."""
    return f"""
        WITH corpus AS ({corpus_cte}),
        hrefs AS (
            SELECT url,
                   unnest(regexp_extract_all(html_str,
                          'href="([^"]*)"', 1)) AS href
            FROM corpus
        ),
        resolved AS (
            SELECT url, href,
                   {_resolve_case_sql("href", "url")} AS dst_url
            FROM hrefs
        )
        SELECT url, href, dst_url,
               lower(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host,
               lower(regexp_extract(dst_url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host
        FROM resolved WHERE dst_url IS NOT NULL
    """


def anchors_sql(corpus_cte: str) -> str:
    """DuckDB mirror of ``extract_anchors``: two group extractions of
    ``ANCHOR_PATTERN`` zipped positionally (``list_zip`` + struct index —
    exactly how the Catalyst twin pairs its two ``regexp_extract_all``
    arrays), then the shared resolve CASE and squeeze."""
    return f"""
        WITH corpus AS ({corpus_cte}),
        az AS (
            SELECT url,
                   list_zip(
                       regexp_extract_all(html_str, '{ANCHOR_PATTERN}', 1),
                       regexp_extract_all(html_str, '{ANCHOR_PATTERN}', 2)
                   ) AS z
            FROM corpus
        ),
        pairs AS (
            SELECT url, u.l[1] AS href,
                   {_squeeze_sql("u.l[2]")} AS anchor_text
            FROM az, UNNEST(z) AS u(l)
        ),
        resolved AS (
            SELECT url, href, anchor_text,
                   {_resolve_case_sql("href", "url")} AS dst_url
            FROM pairs
        )
        SELECT url, href, anchor_text, dst_url,
               lower(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS src_host,
               lower(regexp_extract(dst_url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS dst_host
        FROM resolved WHERE dst_url IS NOT NULL
    """


def titles_sql(corpus_cte: str) -> str:
    """DuckDB mirror of ``page_titles`` (first ``<title>`` match,
    squeezed, empty filtered)."""
    return f"""
        WITH corpus AS ({corpus_cte})
        SELECT url, title FROM (
            SELECT url,
                   {_squeeze_sql(
                       f"regexp_extract(html_str, '{TITLE_PATTERN}', 1)"
                   )} AS title
            FROM corpus
        ) WHERE title <> ''
    """


def pagerank_sql(edges_cte: str, iterations: int = 5) -> str:
    """DuckDB mirror of ``pagerank_hosts`` — the iteration loop unrolled
    into CTE stages r0..r{n} generated from the SAME constants, so the
    two sides cannot drift independently.  HUGEINT sums are cast back to
    BIGINT at every step to keep the arithmetic domain identical."""
    parts = [
        f"WITH edges AS ({edges_cte})",
        """nodes AS (
            SELECT DISTINCT host FROM (
                SELECT src_host AS host FROM edges
                UNION ALL SELECT dst_host FROM edges
            )
        )""",
        """outw AS (
            SELECT src_host, CAST(sum(n_links) AS BIGINT) AS out_w
            FROM edges GROUP BY src_host
        )""",
        f"r0 AS (SELECT host, CAST({INIT_MICRO} AS BIGINT) AS rank_micro "
        "FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""r{i} AS (
            SELECT n.host,
                   CAST({BASE_MICRO} AS BIGINT)
                   + (CAST(coalesce(s.c, 0) AS BIGINT) * {DAMPING_NUM}) // 1000
                       AS rank_micro
            FROM nodes n LEFT JOIN (
                SELECT e.dst_host AS host,
                       CAST(sum((r.rank_micro * e.n_links) // o.out_w)
                            AS BIGINT) AS c
                FROM edges e
                JOIN r{i - 1} r ON e.src_host = r.host
                JOIN outw o ON e.src_host = o.src_host
                GROUP BY e.dst_host
            ) s ON n.host = s.host
        )""")
    body = ",\n".join(parts)
    return f"{body}\nSELECT host, rank_micro FROM r{iterations}"
