"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet tables.  Extraction queries synthesize the
Common-Crawl-style pages table deterministically from ``documents``
(web_content_extraction_benchmark_spark.sources.pages), whose expected
extraction output is SQL-expressible — so even the HTML decode -> DOM parse
-> extract -> score pipeline is oracle-checked end-to-end, not just the
relational tail.

Float outputs are rounded to 6 decimals on BOTH sides to absorb
summation-order noise; timestamps are formatted to strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.dedup import (
    SHINGLE_SIZE,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64_col,
)
from web_content_extraction_benchmark_spark.operators.grams import (
    with_word_kgrams,
)
from web_content_extraction_benchmark_spark.operators.substr_dedup import (
    dedup_exact_substrings,
    substr_dedup_sql,
)
from web_content_extraction_benchmark_spark.operators.relational import (
    band_counts,
    complexity_quantiles,
    page_complexity,
)
from web_content_extraction_benchmark_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from web_content_extraction_benchmark_spark.operators.textstats import (
    STOPWORDS,
    language_id,
    quality_score,
    token_counts,
    winnowing_fingerprints,
)
from web_content_extraction_benchmark_spark.operators.multimodal import (
    extract_media_features,
    synthesize_media,
)
from web_content_extraction_benchmark_spark.plans.pipeline import (
    aggregate_scores,
    extract_answers,
    extract_mixed,
    score_answers,
)
from web_content_extraction_benchmark_spark.sources.pages import (
    BTE_SQL,
    GOLD_SQL,
    HOST_SQL,
    PLAIN_SQL,
    READABILITY_SQL,
    TAG_BLACKLIST_SQL,
    URL_SQL,
    XPATH_SQL,
    _P1_SQL,
    _P2_SQL,
    justext_sql,
    synthesize_pages,
    truth_table,
)
from web_content_extraction_benchmark_spark.streaming.events import (
    windowed_event_counts,
)

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tpch(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_with_mutants(docs: DataFrame) -> DataFrame:
    """documents UNION mutated near-dup copies (drop last 2 words),
    mirrored in SQL by _MUTANTS_SQL."""
    words = F.split(F.col("text"), " ")
    mutants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 2)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(mutants)


_MUTANTS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       array_to_string(
           string_split(text, ' ')[1:len(string_split(text, ' ')) - 2], ' '
       ) AS text
FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_quotes(docs: DataFrame) -> DataFrame:
    """documents UNION 'quoting' docs for the ExactSubstr arm: every
    (doc_id % 10 == 3, >= 30-token) doc spawns a copy of its tokens
    11..30 (1-based, 20 tokens) wrapped in doc-unique lead/tail tokens —
    so dedup must mark the copied span in BOTH the source and the quote
    while leaving the unique wrapper intact.  Mirrored by _QUOTES_SQL."""
    w = F.split(F.col("text"), " ")
    did = F.col("doc_id").cast("string")
    quotes = docs.filter(
        (F.col("doc_id") % 10 == 3) & (F.size(w) >= 30)
    ).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("q"), did, F.lit("lead")),
            F.concat_ws(" ", F.slice(w, 11, 20)),
            F.concat(F.lit("q"), did, F.lit("tail")),
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(quotes)


_QUOTES_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 3000000 AS doc_id,
       'q' || doc_id || 'lead ' ||
       array_to_string(string_split(text, ' ')[11:30], ' ') ||
       ' q' || doc_id || 'tail' AS text
FROM documents
WHERE doc_id % 10 = 3 AND len(string_split(text, ' ')) >= 30
"""

# gold / plain token lengths (whitespace tokens; '' -> 0)
_GLEN_SQL = (
    "CASE WHEN g = '' THEN 0 ELSE len(string_split_regex(g, '\\s+')) END"
)
_PLEN_SQL = (
    "CASE WHEN p = '' THEN 0 ELSE len(string_split_regex(p, '\\s+')) END"
)

# word-token (\\w+) counts for the complexity score, per template variant;
# n = word count of the document text (all corpus words are \\w-only).
_N_SQL = "len(string_split(text, ' '))"
_TRUTH_TOKENS_SQL = f"""
CASE WHEN doc_id % 101 = 0 THEN 0
     WHEN doc_id % 5 IN (0, 4) THEN {_N_SQL} + 2
     ELSE {_N_SQL} END
"""
_SRC_TOKENS_SQL = f"""
CASE WHEN doc_id % 101 = 0 THEN 0
     WHEN doc_id % 5 = 0 THEN {_N_SQL} + 11
     WHEN doc_id % 5 = 1 THEN {_N_SQL} + 6
     WHEN doc_id % 5 = 4 THEN {_N_SQL} + 8
     ELSE {_N_SQL} END
"""
_COMPLEXITY_SQL = f"""
SELECT {URL_SQL} AS url, source AS dataset,
       CASE WHEN s = 0 THEN 1.0
            ELSE round(1.0 - least(1.0, greatest(0.0, CAST(t AS DOUBLE) / s)), 6)
       END AS complexity
FROM (SELECT doc_id, source, text, {_TRUTH_TOKENS_SQL} AS t,
             {_SRC_TOKENS_SQL} AS s
      FROM documents)
"""

_SHINGLES_SQL = """
-- distinct word 3-gram shingles per doc over the mutant-augmented corpus
WITH corpus AS ({mutants}),
words AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM corpus
),
shingles AS (
    SELECT DISTINCT doc_id,
           word || ' ' || lead(word, 1) OVER win || ' ' ||
           lead(word, 2) OVER win AS sh
    FROM words
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY sh IS NOT NULL
)
"""


def _simhash_sig_sql(corpus_sql: str) -> str:
    """DuckDB mirror of the Catalyst SimHash over an arbitrary
    (doc_id, text) corpus: token md5 -> first-8-bytes big-endian bits via
    hex digits -> per-bit +/-1 votes -> sign bits packed two's-complement."""
    return f"""
        WITH corpus AS ({corpus_sql}),
        -- token contract: non-empty runs between ASCII whitespace,
        -- spelled as an EXPLICIT class: RE2's \\s is [\\t\\n\\f\\r ]
        -- (no \\x0b) while Java's \\s includes \\x0b — the explicit
        -- class mirrors simhash64_col's split bit-for-bit
        words AS (
            SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split_regex(text,
                           '[ \\t\\n\\x0b\\f\\r]+')) AS w
                FROM corpus WHERE text IS NOT NULL
            ) WHERE w != ''
        ),
        tok AS (SELECT doc_id, substring(md5(w), 1, 16) AS h FROM words),
        bits AS (
            SELECT t.doc_id, b.bit,
                   sum(CASE WHEN ((strpos('0123456789abcdef',
                                   substring(t.h, 16 - b.bit // 4, 1)) - 1)
                                  >> (b.bit % 4)) & 1 = 1
                            THEN 1 ELSE -1 END) AS cnt
            FROM tok t
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
            GROUP BY t.doc_id, b.bit
        ),
        packed AS (
            SELECT doc_id,
                   sum(CASE WHEN cnt > 0 THEN CAST(1 AS HUGEINT) << bit
                            ELSE 0 END) AS u
            FROM bits GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST(coalesce(
                   CASE WHEN p.u >= 9223372036854775808
                        THEN p.u - 18446744073709551616 ELSE p.u END,
                   0) AS BIGINT) AS sig
        FROM corpus c LEFT JOIN packed p ON p.doc_id = c.doc_id
    """


def _lev_from_counts() -> str:
    return (
        "CASE WHEN gl + pl = 0 THEN 1.0 "
        "ELSE round(2.0 * gl / (gl + pl), 6) END"
    )


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


# The 7 from-scratch extractor families, byte-identity-checked in ONE
# query: a single decode + DOM parse per page feeds every extractor
# (R4 fan-out), and the oracle unions the per-family SQL formulas.
# (Folded from 7 per-model queries in r2 so the driver's 50-row
# correctness cap covers every operator — VERDICT r2 item 1.)
ALL_EXTRACT_MODELS = [
    "main_content", "plain", "xpath_text", "tag_blacklist",
    "readability", "bte", "stopword_density",
]


def q_extract_all_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity check for all 7 extractor families at once: binary
    html -> decode (gzip/BOM) -> one DOM parse -> every extractor, per
    url; one output row per (model, url)."""
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ALL_EXTRACT_MODELS)
    return answers.select("model", "url", "plaintext")


def q_extract_block_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["main_content"])
    return answers.select("url", F.col("block_count").cast("int").alias("n_blocks"))


def q_score_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extract+score pipeline: token-Levenshtein of the plain
    extractor vs gold truth, per url."""
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages))
    return scores.select("url", F.round("dist", 6).alias("dist"))


def q_score_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages))
    return scores.select(
        "url",
        F.round("prec", 6).alias("prec"),
        F.round("rec", 6).alias("rec"),
        F.round("f1", 6).alias("f1"),
    )


def q_agg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/median score aggregation incl. _micro/_macro pseudo-datasets
    (reference eval.py:255-274)."""
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages))
    # round per-row BEFORE aggregating — the oracle's dist is rounded per
    # row too, so means/medians must aggregate identical inputs; means
    # run in exact integer micro-units (order-independent, CLAUDE.md
    # oracle-float rule)
    scores = scores.withColumn("dist", F.round("dist", 6))
    agg = aggregate_scores(scores, score_cols=("dist",),
                           unit_scale=1_000_000)
    return agg.select(
        "model", "dataset",
        F.round("mean_dist", 6).alias("mean_dist"),
        F.round("median_dist", 6).alias("median_dist"),
    )


def q_page_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages(spark, sf_dir)
    compl = page_complexity(pages, truth_table(pages))
    return compl.select(
        "url", "dataset", F.round("complexity", 6).alias("complexity")
    )


def q_quantiles_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14/R17 folded: per-dataset complexity quantiles (incl. the _all
    rollup) UNION per-returnflag lineitem price quantiles — the same
    exact interpolated-percentile operator over both a derived and a raw
    table, one row per (src, grp)."""
    qcols = ("q25", "q33", "q50", "q66", "q75")
    pages = synthesize_pages(spark, sf_dir)
    compl = page_complexity(pages, truth_table(pages))
    compl = compl.withColumn("complexity", F.round("complexity", 6))
    a = complexity_quantiles(compl).select(
        F.lit("complexity").alias("src"),
        F.col("dataset").alias("grp"),
        *[F.round(c, 6).alias(c) for c in qcols],
    )
    lineitem = _tpch(spark, sf_dir, "lineitem")
    b = lineitem.groupBy(F.col("l_returnflag").alias("grp")).agg(
        *[
            F.round(F.percentile("l_extendedprice", F.lit(p)), 6).alias(c)
            for c, p in zip(qcols, (0.25, 0.33, 0.50, 0.66, 0.75))
        ]
    ).select(F.lit("lineitem_price").alias("src"), "grp", *qcols)
    return a.unionByName(b)


def q_complexity_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages(spark, sf_dir)
    compl = page_complexity(pages, truth_table(pages))
    compl = compl.withColumn("complexity", F.round("complexity", 6))
    return band_counts(compl, low=0.1, high=0.3)


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-style equi joins + hash aggregate: revenue per nation."""
    orders = _tpch(spark, sf_dir, "orders")
    customer = _tpch(spark, sf_dir, "customer")
    nation = _tpch(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2+R3 folded (op column, r4 — frees a slot under the 50-query
    cap): customers with at least one order (left semi, grouped) UNION
    customers with no high-value order (left anti, the resume/
    skip-existing shape)."""
    orders = _tpch(spark, sf_dir, "orders")
    customer = _tpch(spark, sf_dir, "customer")
    semi = (
        customer.join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey", "left_semi",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("v"))
        .select(
            F.lit("semi").alias("op"), F.col("c_mktsegment").alias("k"),
            F.col("v").cast("long").alias("v"),
        )
    )
    anti = customer.join(
        orders.filter(F.col("o_totalprice") > 350000).select(
            F.col("o_custkey").alias("c_custkey")
        ),
        "c_custkey", "left_anti",
    ).select(
        F.lit("anti").alias("op"), F.col("c_name").alias("k"),
        F.col("c_custkey").cast("long").alias("v"),
    )
    return semi.unionByName(anti)


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL LLM-corpus pipeline as one chain, value-oracled end to
    end: HTML extraction -> exact dedup -> MinHash-LSH near-dup drop ->
    benchmark decontamination -> per-source quota -> deterministic
    sample -> greedy sequence packing.  (Subsumes the former corpus_prep
    row, which covered only the quota/sample/pack tail.)

    Duplicates are PLANTED in a negative id namespace — an exact copy
    -(4d+1) for d%7==0, a drop-last-2-words mutant -(4d+2) for d%10==0 —
    so the planted rows WIN the min-id dedup contests and flow into the
    final packed output: a fault in any stage (extraction bytes, dedup
    winner choice, LSH banding, component resolution, decontamination
    grams, quota ranking, sample membership, packing greedy state)
    changes the surviving id set and flips the value hash.

    The packing runs single-shard here so the DuckDB recursive-CTE
    mirror reproduces the EXACT chunk assignment; the scale path shards
    by id hash (n_shards default, pytest- and bench-covered)."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        decontaminate,
        drop_exact_duplicates,
        drop_near_duplicates,
        minhash_lsh_pairs,
    )
    from web_content_extraction_benchmark_spark.operators.packing import (
        pack_sequences,
    )
    from web_content_extraction_benchmark_spark.operators.sampling import (
        deterministic_sample,
        quota_per_key,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_answers,
    )

    # 1. extract: pages -> main_content text; (source, doc_id) recovered
    # from the url tail (https://host/{source}/{doc_id}) — no second
    # synthesis pass, no join.
    answers = extract_answers(
        synthesize_pages(spark, sf_dir), ["main_content"]
    )
    parts = F.split(F.col("url"), "/")
    extracted = answers.select(
        F.element_at(parts, -1).cast("long").alias("doc_id"),
        F.element_at(parts, -2).alias("source"),
        F.col("plaintext").alias("text"),
    )

    # 2. plant duplicates (negative namespace: -(4d+1) exact, -(4d+2)
    # mutant; disjoint mod-4 classes, can never collide with real ids).
    words = F.split(F.col("text"), " ")
    exact_copies = extracted.filter(F.col("doc_id") % 7 == 0).select(
        (-(F.col("doc_id") * 4 + 1)).alias("doc_id"), "source", "text"
    )
    mutants = extracted.filter(
        (F.col("doc_id") % 10 == 0) & (F.size(words) > 2)
    ).select(
        (-(F.col("doc_id") * 4 + 2)).alias("doc_id"),
        "source",
        F.concat_ws(" ", F.slice(words, 1, F.size(words) - 2)).alias("text"),
    )
    # MATERIALIZE the planted corpus once: the chain below scans it many
    # times (LSH signature + verify passes, exact-dedup losers,
    # decontamination grams, benchmark slice, quota/sample/pack) and a
    # lazy plan would re-run the Python extraction kernel for each scan
    # (measured: the bulk of this row's 2m18s at sf0.01 pre-fix)
    scratch = _scratch_dir("wceb_pipeline_corpus_")
    extracted.unionByName(exact_copies).unionByName(mutants).write.mode(
        "overwrite"
    ).parquet(scratch)
    corpus = spark.read.parquet(scratch)
    extracted = corpus.filter(F.col("doc_id") >= 0)

    # 3-4. exact dedup, then near-dup drop over LSH pairs
    d1 = drop_exact_duplicates(corpus)
    pairs = minhash_lsh_pairs(d1, jaccard_threshold=0.6)
    d2 = drop_near_duplicates(d1, pairs)

    # 5. decontaminate against a planted benchmark slice (%40 originals)
    benchmark = extracted.filter(F.col("doc_id") % 40 == 0).select("text")
    d3 = decontaminate(d2, benchmark)

    # 6-8. quota per source, deterministic sample, pack
    capped = quota_per_key(d3, 30, key_col="source")
    sampled = deterministic_sample(capped, 0.5, key_col="doc_id", seed=7)
    counted = sampled.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = pack_sequences(counted, 700, n_shards=1)
    return packed.select("doc_id", "chunk", "chunk_fill", "oversize")


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11-R13 family: grouped means/medians with rollup totals."""
    lineitem = _tpch(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            # cent-exact mean (prices have 2 decimals): a double sum's
            # partition-order noise could flip the 6th decimal at a
            # rounding boundary (CLAUDE.md oracle-float rule)
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                )
                / (F.count("*") * F.lit(100.0)),
                6,
            ).alias("avg_price"),
            F.round(F.median("l_discount"), 6).alias("median_disc"),
        )
    )


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16: rank within group (top-3 suppliers by acctbal per nation)."""
    from pyspark.sql.window import Window

    supplier = _tpch(spark, sf_dir, "supplier")
    window = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        supplier.withColumn("rnk", F.row_number().over(window))
        .filter(F.col("rnk") <= 3)
        .select("s_nationkey", "s_suppkey", "rnk")
    )


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21: conditional aggregation over events."""
    events = _events(spark, sf_dir)
    return events.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("n_high"),
        F.sum(F.when(F.col("value") <= 50, 1).otherwise(0)).alias("n_low"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_pipe_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 deployment-pattern demo: extraction through an EXTERNAL
    per-partition sidecar process (rdd.pipe, JSONL protocol) — the
    DOM-Distiller-binary shape, one process per partition instead of the
    reference's fork-per-document.  The stand-in executable applies this
    engine's plain extractor, so PLAIN_SQL is a true value oracle of the
    whole pipe round-trip (base64 -> sidecar -> JSONL parse)."""
    from web_content_extraction_benchmark_spark.extractors.sidecar import (
        sidecar_extract,
        stub_sidecar_command,
    )

    pages = synthesize_pages(spark, sf_dir)
    command, env = stub_sidecar_command()
    return sidecar_extract(pages, command, env=env)


def q_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows over events (streaming-equivalent batch plan;
    driver row carried by stream_hourly, whose oracle is identical —
    stream==batch is pinned by tests/test_streaming.py)."""
    events = _events(spark, sf_dir)
    out = windowed_event_counts(events, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + grouped count."""
    events = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select(k.alias("k")).groupBy("k").agg(
        F.count("*").alias("n")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24 exact dedup + the ExactSubstr arm (op column, r8).

    op='exact': byte-identical document groups (text_hash key).
    op='substr': Lee-et-al-style duplicated-window span removal over
    documents UNION planted 'quoting' docs (_docs_with_quotes) —
    n_a = duplicated window starts, n_b = tokens removed, payload =
    the surviving text (value-sensitive to the whole coverage sweep).
    key_mode='exact' so the DuckDB mirror reproduces window keys
    verbatim; the xxhash64 production path is pinned ==exact in pytest.
    """
    corpus = _docs_with_mutants(_docs(spark, sf_dir))
    # mutants change text, so add true duplicates: re-union originals
    dup_corpus = corpus.unionByName(
        _docs(spark, sf_dir).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    exact = exact_duplicates(dup_corpus).select(
        F.lit("exact").alias("op"),
        F.col("text_hash").alias("key"),
        F.col("n_docs").cast("long").alias("n_a"),
        F.col("canonical_id").cast("long").alias("n_b"),
        F.lit("").alias("payload"),
    )
    sub = dedup_exact_substrings(
        _docs_with_quotes(_docs(spark, sf_dir)), key_mode="exact"
    ).select(
        F.lit("substr").alias("op"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_dup_windows").cast("long").alias("n_a"),
        F.col("n_tokens_removed").cast("long").alias("n_b"),
        F.col("kept_text").alias("payload"),
    )
    return exact.unionByName(sub)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-independent MinHash signatures (md5-min per seed)."""
    docs = with_word_kgrams(
        _docs(spark, sf_dir), "text", SHINGLE_SIZE, "_sh", distinct=True
    )
    return docs.select("doc_id", *minhash_signature(F.col("_sh"), 8))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_mutants(_docs(spark, sf_dir))
    pairs = minhash_lsh_pairs(corpus, jaccard_threshold=0.6)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_mutants(_docs(spark, sf_dir)).filter(
        (F.col("doc_id") % 20 == 0)
    )
    pairs = ngram_jaccard_pairs(corpus, threshold=0.8)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _chain_corpus(docs: DataFrame) -> DataFrame:
    """docs (doc_id % 25 == 0) plus two word-prefix mutants per doc at
    0.9n and 0.81n words: shingle-Jaccard(A,B) and (B,C) clear 0.85 while
    (A,C) does not — so the cluster {A,B,C} exists only through the
    TRANSITIVE closure, which is what q_neardup_clusters proves.  (Short
    docs where the fractions collapse are fine: the oracle recomputes the
    same pairs, whatever they are.)

    Mutant ids live in a DISJOINT NEGATIVE namespace (-(2*doc_id+k)) so
    they can never collide with real non-negative doc_ids at any corpus
    size — a fixed additive offset would silently merge unrelated graph
    nodes once doc_ids reach it."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)

    def prefix(frac: float, k: int) -> DataFrame:
        take = F.floor(F.lit(frac) * n).cast("int")
        return docs.select(
            (-(F.col("doc_id") * 2 + k)).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 1, take)).alias("text"),
        )

    return (
        docs.select("doc_id", "text")
        .unionByName(prefix(0.9, 1))
        .unionByName(prefix(0.81, 2))
    )


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR RESOLUTION, two arms over the same planted A-B-C
    chain corpus:

    - ``ngram085``: ngram-Jaccard pairs (threshold 0.85) -> connected
      components -> (doc_id, component=min member).  A and C share a
      cluster despite no direct edge — the transitive step a
      deduplicated corpus needs; the DuckDB mirror recomputes the same
      pairs and closes them with a recursive CTE.
    - ``incr_lsh06`` (r6): the corpus split into TWO BATCHES (bases,
      then mutants) fed through a persisted ``NearDupIndex`` (md5
      minhash 8/4, threshold 0.6) — batch 2 signs only itself and
      candidate-joins the committed band store.  The DuckDB mirror is
      the FROM-SCRATCH banded run over the union, so the hash match
      proves incremental == from-scratch labels exactly.
    - ``incr_emb07`` (r7): the EMBEDDING signature plugin — sampled
      embeddings plus planted identical copies fed as two batches
      through an embedding-configured ``NearDupIndex`` (hyperplane LSH
      48/4 seed 42, exact-cosine verify at 0.999).  The DuckDB mirror
      is the EXACT all-pairs cosine graph closed by a recursive CTE —
      valid because every planted pair (cos 1.0) shares all of its
      original's buckets and the non-planted cosine ceiling sits far
      below threshold (the same corpus property the hash-green
      ``embedding_neardup`` row pins at both sf)."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        connected_components,
    )
    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        NearDupIndex,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text").filter(
        F.col("doc_id") % 25 == 0
    )
    corpus = _chain_corpus(docs)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.85)
    comp = connected_components(pairs)
    arm1 = comp.select(
        F.lit("ngram085").alias("mode"),
        F.col("id").alias("doc_id"), "component",
    )

    idx = NearDupIndex(
        _scratch_dir("wceb_neardup_idx_"), jaccard_threshold=0.6
    )
    idx.add_batch(corpus.filter(F.col("doc_id") >= 0)).unpersist()
    idx.add_batch(corpus.filter(F.col("doc_id") < 0)).unpersist()
    arm2 = idx.labels(spark).select(
        F.lit("incr_lsh06").alias("mode"),
        F.col("id").alias("doc_id"), "component",
    )

    emb = _emb(spark, sf_dir).select("vec_id", "embedding").filter(
        F.col("vec_id") % 3 == 0
    )
    copies = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    idx_emb = NearDupIndex(
        _scratch_dir("wceb_neardup_emb_"), signature="embedding",
        emb_dim=64, num_hashes=48, bands=4, jaccard_threshold=0.999,
        id_col="vec_id", text_col="embedding",
    )
    idx_emb.add_batch(emb).unpersist()
    idx_emb.add_batch(copies).unpersist()
    arm3 = idx_emb.labels(spark).select(
        F.lit("incr_emb07").alias("mode"),
        F.col("id").alias("doc_id"), "component",
    )
    return arm1.unionByName(arm2).unionByName(arm3)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + near-dup pairs, folded into one op-union row
    (r8 — freed a 50-cap slot for host_graph).

    op='sig':  (doc_id, 0, signature) — pure Catalyst kernel, bit-exact
    vs the DuckDB md5-vote mirror.
    op='pair': (id_a, id_b, hamming) over a corpus with planted exact
    copies; pigeonhole blocking (4 x 16-bit chunks) is LOSSLESS at
    hamming <= 3, so the all-pairs mirror is an exact oracle."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sigs = docs.select(
        F.lit("sig").alias("op"),
        F.col("doc_id").alias("id_a"),
        F.lit(0).cast("long").alias("id_b"),
        simhash64_col(F.col("text")).alias("val"),
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    pairs = simhash_near_duplicates(corpus, max_hamming=3).select(
        F.lit("pair").alias("op"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("hamming").cast("long").alias("val"),
    )
    return sigs.unionByName(pairs)


def _host_col_for(t: F.Column) -> F.Column:
    """Spark twin of pages.host_for over an arbitrary long column
    (lockstep: sources/pages.py host_for / HOST_SQL — mod 5 skew host,
    else mod 41)."""
    n = F.when(t % 5 == 0, F.lit(0)).otherwise(t % 41)
    return F.concat(F.lit("host"), n.cast("string"), F.lit(".example"))


def _hub_pages(docs: DataFrame) -> DataFrame:
    """Planted cross-host 'hub' pages for the host-graph arms: every
    doc_id % 7 == 1 doc spawns a hub page on its own host linking to
    three absolute URLs on hosts host_for(doc_id + 997*j), j=1..3 —
    cross-host edges the real templates (root-relative links only)
    cannot produce.  r8: hubs also carry the head-metadata set (meta
    description, OG site_name, rel=canonical, hreflang by doc_id%3) —
    the real templates have no meta tags, so hubs are where the 'meta'
    arm gets its rows (and the canonical/hreflang link hrefs feed the
    outlink arms too, on both sides).  Mirrored by _hubs_sql()."""
    did = F.col("doc_id")
    host = _host_col_for(did)
    hub_url = F.concat(
        F.lit("https://"), host, F.lit("/hub/"), did.cast("string")
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
        (did % 3).cast("int") + 1,
    )

    def link(t: F.Column) -> F.Column:
        return F.concat(
            F.lit('<a href="https://'), _host_col_for(t),
            F.lit("/d/"), t.cast("string"), F.lit('">x</a>'),
        )

    return docs.filter(did % 7 == 1).select(
        hub_url.alias("url"),
        F.concat(
            F.lit('<html><head><meta name="description" content="hub '),
            did.cast("string"), F.lit(' links">'),
            F.lit('<meta property="og:site_name" content="'), host,
            F.lit('">'),
            F.lit('<link rel="canonical" href="'), hub_url, F.lit('">'),
            F.lit('<link rel="alternate" hreflang="'), lang,
            F.lit('" href="'), hub_url, F.lit("?hl="), lang,
            F.lit('"></head><body>'),
            link(did + 997), link(did + 1994), link(did + 2991),
            F.lit("</body></html>"),
        ).alias("html_str"),
    )


def _host_sql_for(expr: str) -> str:
    """DuckDB twin of _host_col_for (generated from the same constants
    as pages.HOST_SQL, parameterized on the id expression)."""
    return (
        f"('host' || CAST(CASE WHEN ({expr}) % 5 = 0 THEN 0 "
        f"ELSE ({expr}) % 41 END AS VARCHAR) || '.example')"
    )


def _hubs_sql() -> str:
    """DuckDB mirror of _hub_pages over the documents view."""
    def link(expr: str) -> str:
        return (
            f"'<a href=\"https://' || {_host_sql_for(expr)} || '/d/' || "
            f"CAST({expr} AS VARCHAR) || '\">x</a>'"
        )

    host = _host_sql_for("doc_id")
    hub_url = f"('https://' || {host} || '/hub/' || CAST(doc_id AS VARCHAR))"
    lang = ("(CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' "
            "ELSE 'fr' END)")
    return f"""
        SELECT {hub_url} AS url,
               '<html><head><meta name="description" content="hub ' ||
                   CAST(doc_id AS VARCHAR) || ' links">' ||
                   '<meta property="og:site_name" content="' || {host} ||
                   '">' ||
                   '<link rel="canonical" href="' || {hub_url} || '">' ||
                   '<link rel="alternate" hreflang="' || {lang} ||
                   '" href="' || {hub_url} || '?hl=' || {lang} || '">' ||
                   '</head><body>' || {link('doc_id + 997')} ||
                   {link('doc_id + 1994')} || {link('doc_id + 2991')} ||
                   '</body></html>' AS html_str
        FROM documents WHERE doc_id % 7 = 1
    """


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph over the synthesized pages plus planted
    cross-host hub pages (op-union, r8):

    op='outlink': every resolvable href, grouped (url, dst_url, count) —
    exercises regex extraction + absolute/protocol-relative/root-relative
    URL resolution over the real (decoded) page bytes;
    op='edge': host->host weighted edges;
    op='rank': integer micro-unit PageRank after 5 iterations — exact
    arithmetic, mirrored iteration-for-iteration by the unrolled-CTE
    DuckDB oracle (operators/linkgraph.pagerank_sql).

    op='anchor': the anchor-text corpus — (target url, squeezed anchor
    text, count) over resolvable ``<a>`` ELEMENTS (WAT-parity signal);
    op='title': (url, squeezed first ``<title>``) for titled pages.

    The synthesized pages go through ``page_links_raw`` (the fused
    decode + hrefs/anchors/title kernel — ONE Arrow crossing over raw
    bytes feeds all five arms, so this oracle row gates the production
    path incl. the gzip/BOM/cp1252 encoding variants);
    ``localCheckpoint`` pins that single computation because the five
    union arms are otherwise independent subtrees that would each
    re-run the scan.  The string-typed hub pages go through the
    Catalyst ``page_links`` twin, and the two bundles union."""
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        anchor_corpus,
        anchors_from_page_links,
        head_meta_from_page_links,
        host_edges,
        outlinks_from_page_links,
        page_links,
        page_links_raw,
        page_titles,
        pagerank_hosts,
    )

    from web_content_extraction_benchmark_spark.operators.robots import (
        crawl_delays,
        robots_filter,
        robots_rules,
    )

    pages = synthesize_pages(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    links = page_links_raw(pages).localCheckpoint().unionByName(
        page_links(_hub_pages(docs))
    )
    outlinks = outlinks_from_page_links(links)
    edges = host_edges(outlinks)
    ol_arm = (
        outlinks.groupBy("url", "dst_url")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.lit("outlink").alias("op"),
            F.col("url").alias("a"),
            F.col("dst_url").alias("b"),
            "n",
        )
    )
    edge_arm = edges.select(
        F.lit("edge").alias("op"),
        F.col("src_host").alias("a"),
        F.col("dst_host").alias("b"),
        F.col("n_links").alias("n"),
    )
    rank_arm = pagerank_hosts(edges, iterations=5).select(
        F.lit("rank").alias("op"),
        F.col("host").alias("a"),
        F.lit("").alias("b"),
        F.col("rank_micro").alias("n"),
    )
    anchor_arm = anchor_corpus(anchors_from_page_links(links)).select(
        F.lit("anchor").alias("op"),
        F.col("target").alias("a"),
        F.col("anchor_text").alias("b"),
        F.col("n_anchors").alias("n"),
    )
    title_arm = page_titles(links).select(
        F.lit("title").alias("op"),
        F.col("url").alias("a"),
        F.col("title").alias("b"),
        F.lit(1).cast("long").alias("n"),
    )
    meta_arm = head_meta_from_page_links(links).select(
        F.lit("meta").alias("op"),
        F.col("url").alias("a"),
        F.concat_ws("|", "kind", "key", "value").alias("b"),
        F.lit(1).cast("long").alias("n"),
    )
    # robots arm (r8): per-host robots.txt TEXT synthesized and parsed
    # by the REP kernel, probe frontier filtered by longest-prefix-match
    # — the DuckDB mirror bypasses the parser with the closed-form rule
    # set, so the oracle gates parse output THROUGH the match verdicts.
    did = F.col("doc_id")
    r_host = _host_col_for(did)
    robots = docs.select(
        r_host.alias("host"),
        F.regexp_extract(r_host, "host([0-9]+)", 1).cast("long").alias("k"),
    ).distinct().select(
        "host",
        F.concat(
            F.lit("# synthetic policy\nUser-agent: badbot\nDisallow: /\n"
                  "\nUser-agent: *\nDisallow: /p/\nAllow: /p/ok/\n"),
            F.when(F.col("k") % 3 == 0, F.lit("Disallow: /q/\n"))
            .otherwise(F.lit("")),
            # r8: pacing directive for every even host — parsed back by
            # the delay arm and matched against the closed-form mirror
            F.when(
                F.col("k") % 2 == 0,
                F.concat(F.lit("Crawl-delay: "),
                         (F.col("k") % 5 + 1).cast("string"),
                         F.lit("\n")),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    probe_path = (
        F.when(did % 5 == 0, F.concat(F.lit("/p/x"), did.cast("string")))
        .when(did % 5 == 1, F.concat(F.lit("/p/ok/"), did.cast("string")))
        .when(did % 5 == 2, F.concat(F.lit("/q/"), did.cast("string")))
        .when(did % 5 == 3, F.concat(F.lit("/free/"), did.cast("string")))
        .otherwise(F.concat(F.lit("/p"), did.cast("string")))
    )
    frontier = docs.select(
        F.concat(F.lit("https://"), r_host, probe_path).alias("url")
    )
    robots_arm = robots_filter(
        frontier, robots_rules(robots), keep_denied=True
    ).select(
        F.lit("robots").alias("op"),
        F.col("url").alias("a"),
        F.when(F.col("robots_allowed"), F.lit("allow"))
        .otherwise(F.lit("deny")).alias("b"),
        F.lit(1).cast("long").alias("n"),
    )
    # sitemap arm (r8): per-doc synthesized sitemaps — urlset entries
    # with INDEPENDENTLY optional lastmod/changefreq/priority (the case
    # parallel-array zipping cannot express) and every 7th doc a
    # sitemapindex; whitespace-padded locs pin the trim
    from web_content_extraction_benchmark_spark.operators.sitemaps import (
        parse_sitemaps,
    )

    sm_url = F.concat(
        F.lit("https://"), r_host, F.lit("/sitemaps/"),
        did.cast("string"), F.lit(".xml"),
    )
    cf = F.element_at(
        F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
        (did % 3).cast("int") + 1,
    )
    e1 = F.concat(
        F.lit("<url><loc>https://"), r_host, F.lit("/d/"),
        did.cast("string"), F.lit("</loc>"),
        F.when(did % 2 == 0, F.concat(
            F.lit("<lastmod>2023-01-"),
            F.lpad((did % 28 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        )).otherwise(F.lit("")),
        F.lit("<changefreq>"), cf, F.lit("</changefreq>"),
        F.lit("<priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    e2 = F.concat(
        F.lit("<url>\n  <loc> https://"), r_host, F.lit("/alt/"),
        did.cast("string"), F.lit("?x=1&amp;y=2 </loc>\n</url>"),
    )
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'), e1, e2, F.lit("</urlset>")
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://"), r_host,
        F.lit("/sm/"), did.cast("string"),
        F.lit("/1.xml</loc><lastmod>2023-02-02</lastmod></sitemap>"),
        F.lit("<sitemap><loc>https://"), r_host, F.lit("/sm/"),
        did.cast("string"), F.lit("/2.xml</loc></sitemap></sitemapindex>"),
    )
    sm = docs.select(
        sm_url.alias("url"),
        F.when(did % 7 == 2, index).otherwise(urlset).alias("xml"),
    )
    sitemap_arm = parse_sitemaps(sm).select(
        F.lit("sitemap").alias("op"),
        F.col("url").alias("a"),
        F.concat_ws(
            "|", "kind", "loc", "lastmod", "changefreq", "priority"
        ).alias("b"),
        F.lit(1).cast("long").alias("n"),
    )
    # redirect arm (r8): planted per-doc chains of doc_id%4+1 hops plus
    # a 2-cycle every 13th doc — resolve_redirects' saturating pointer
    # doubling must equal the recursive-CTE hop-capped walk, cycles
    # included (n carries the hop count)
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        resolve_redirects,
    )

    def _r(i_col) -> F.Column:
        return F.concat(
            F.lit("https://"), F.col("h"), F.lit("/r/"),
            F.col("doc_id").cast("string"), F.lit("/"),
            i_col.cast("string"),
        )

    chain = docs.select(
        "doc_id", r_host.alias("h"),
        F.explode(F.sequence(F.lit(0), did % 4)).alias("i"),
    )
    redir_edges = chain.select(
        _r(F.col("i")).alias("url"),
        _r(F.col("i") + 1).alias("redirect_to"),
    )
    cyc_base = docs.filter(did % 13 == 0).select(
        F.concat(F.lit("https://"), r_host, F.lit("/c/"),
                 did.cast("string")).alias("c"),
    )
    cycles = cyc_base.select(
        F.concat("c", F.lit("/a")).alias("url"),
        F.concat("c", F.lit("/b")).alias("redirect_to"),
    ).unionByName(cyc_base.select(
        F.concat("c", F.lit("/b")).alias("url"),
        F.concat("c", F.lit("/a")).alias("redirect_to"),
    ))
    redir_arm = resolve_redirects(
        redir_edges.unionByName(cycles), max_hops=8
    ).select(
        F.lit("redir").alias("op"),
        F.col("url").alias("a"),
        F.concat(
            "final_url", F.lit("|"), F.col("terminated").cast("string")
        ).alias("b"),
        F.col("hops").alias("n"),
    )
    # depth arm (r8): BFS min-hops from seed hosts (k%7==0) over the
    # SAME host edges the rank arm uses — frontier BFS vs the
    # recursive-CTE UNION mirror
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        bfs_depths,
    )

    seeds = docs.select(
        r_host.alias("host"),
        F.regexp_extract(r_host, "host([0-9]+)", 1).cast("long").alias("k"),
    ).distinct().filter(F.col("k") % 7 == 0).select("host")
    delay_arm = crawl_delays(robots).select(
        F.lit("delay").alias("op"),
        F.col("host").alias("a"),
        F.lit("").alias("b"),
        F.col("crawl_delay").cast("long").alias("n"),
    )
    depth_arm = bfs_depths(edges, seeds, max_depth=16).select(
        F.lit("depth").alias("op"),
        F.col("host").alias("a"),
        F.lit("").alias("b"),
        F.col("depth").cast("long").alias("n"),
    )
    return (
        ol_arm.unionByName(edge_arm).unionByName(rank_arm)
        .unionByName(anchor_arm).unionByName(title_arm)
        .unionByName(meta_arm).unionByName(robots_arm)
        .unionByName(sitemap_arm).unionByName(redir_arm)
        .unionByName(depth_arm).unionByName(delay_arm)
    )


def _host_graph_sql() -> str:
    """host_graph mirror: decoded-page html (plain template string — the
    gzip/BOM edge encodings decode away; empty for doc_id % 101 rows)
    UNION the hub pages, then the linkgraph mirrors layered on top."""
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        anchors_sql,
        bfs_depths_sql,
        head_meta_sql,
        outlinks_sql,
        pagerank_sql,
        titles_sql,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        html_sql,
    )

    corpus = f"""
        SELECT {URL_SQL} AS url,
               CASE WHEN doc_id % 101 = 0 THEN ''
                    ELSE ({html_sql(edge_bytes=False)}) END AS html_str
        FROM documents
        UNION ALL
        {_hubs_sql()}
    """
    ol = outlinks_sql(corpus)
    edges = (
        "SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links "
        f"FROM ({ol}) GROUP BY src_host, dst_host"
    )
    pr = pagerank_sql(edges, iterations=5)
    an = anchors_sql(corpus)
    ti = titles_sql(corpus)
    return f"""
        SELECT 'outlink' AS op, url AS a, dst_url AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM ({ol}) GROUP BY url, dst_url
        UNION ALL
        SELECT 'edge', src_host, dst_host, n_links FROM ({edges})
        UNION ALL
        SELECT 'rank', host, '', rank_micro FROM ({pr})
        UNION ALL
        SELECT 'anchor', dst_url, anchor_text, CAST(count(*) AS BIGINT)
        FROM ({an}) GROUP BY dst_url, anchor_text
        UNION ALL
        SELECT 'title', url, title, CAST(1 AS BIGINT) FROM ({ti})
        UNION ALL
        SELECT 'meta', url, kind || '|' || key || '|' || value,
               CAST(1 AS BIGINT)
        FROM ({head_meta_sql(corpus)})
        UNION ALL
        SELECT 'robots', url,
               CASE WHEN robots_allowed THEN 'allow' ELSE 'deny' END,
               CAST(1 AS BIGINT)
        FROM ({_robots_verdicts_sql()})
        UNION ALL
        SELECT 'sitemap', url,
               kind || '|' || loc || '|' || lastmod || '|' ||
                   changefreq || '|' || priority,
               CAST(1 AS BIGINT)
        FROM ({_sitemap_rows_sql()})
        UNION ALL
        SELECT 'redir', url,
               final_url || '|' || CAST(terminated AS VARCHAR), hops
        FROM ({_redirects_sql()})
        UNION ALL
        SELECT 'delay', 'host' || CAST(k AS VARCHAR) || '.example', '',
               CAST(k % 5 + 1 AS BIGINT)
        FROM (SELECT DISTINCT (CASE WHEN doc_id % 5 = 0 THEN 0
                               ELSE doc_id % 41 END) AS k
              FROM documents)
        WHERE k % 2 = 0
        UNION ALL
        SELECT 'depth', host, '', CAST(depth AS BIGINT)
        FROM ({bfs_depths_sql(
            edges,
            "SELECT DISTINCT 'host' || CAST(k AS VARCHAR) || '.example'"
            " AS host FROM (SELECT DISTINCT (CASE WHEN doc_id % 5 = 0"
            " THEN 0 ELSE doc_id % 41 END) AS k FROM documents)"
            " WHERE k % 7 = 0",
            max_depth=16,
        )})
    """


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for sampled queries."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    topk = cosine_topk(emb, queries, k=5)
    return topk.select(
        "query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank"
    )


# NB: the raw LSH/IVF top-k outputs are seeded-hyperplane / iterative-
# quantizer specific (no SQL oracle possible), so they carry no driver
# rows of their own; their quality is gated by the ORACLED
# ann_lsh_recall / ann_ivf_recall pass rows below and by
# tests/test_operators_spark.py (incl. the 256-cell broadcast-codebook
# path).


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quality gate: recall of IVF top-5 vs exact top-5 must clear
    0.6 (measured 0.77-0.96 at n_cells=16/n_probe=6 across sfs — random
    near-orthogonal vectors are the WORST case for coarse quantization;
    clustered real embeddings do better)."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_cosine_topk(
        emb, queries, k=5, n_cells=16, n_probe=6
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        (F.sum("hit") / F.count("*") >= 0.6).alias("pass"),
        F.count("*").alias("n_exact"),
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-ANN quality gate as a pass/fail oracle row: recall of the
    LSH top-5 against the exact top-5 must clear 0.6 (measured 0.76-0.92
    at sf0.001/0.01/0.1; multi-table hyperplanes are seeded so the value
    itself is engine-specific — the bound is the invariant)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_cosine_topk(
        emb, queries, dim=64, k=5, n_planes=4, n_tables=12
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        (F.sum("hit") / F.count("*") >= 0.6).alias("pass"),
        F.count("*").alias("n_exact"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = language_id(docs, "text")
    return out.select(
        "doc_id", "lang_pred", *[f"hits_{lang}" for lang in sorted(STOPWORDS)]
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score + (r8) the frozen bigram-LM columns:
    integer micro-log10 document scores summed from the pinned table
    (operators/lm.py) — the CCNet-style perplexity filter, exact BIGINT
    both sides (the mirror renders the SAME frozen dict as VALUES)."""
    from web_content_extraction_benchmark_spark.operators.lm import (
        lm_score,
    )

    docs = _docs(spark, sf_dir)
    out = quality_score(docs, "text")
    lm = lm_score(docs)
    return out.select(
        "doc_id", F.round("quality", 6).alias("quality")
    ).join(
        lm.select(
            F.col("id").alias("doc_id"), "lm_score_micro", "lm_bigrams"
        ),
        "doc_id", "left",
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting plus the PII-redaction arm (r5): every 10th doc
    gets a deterministic doc_id-parameterized e-mail + IPv4 + card
    number + (r6) compressed IPv6 + space-separated international phone
    spliced in, and the returned ``redacted`` column byte-compares the
    full scrubbed text against the DuckDB mirror (operators/redaction's
    Java/RE2 common-subset patterns).  The IPv6 group and phone tail are
    decimal renderings of doc_id (decimal digits are valid hex, so both
    engines build the literal identically).

    r8 adds the ``nfc`` column: planted combining-sequence strings
    (decomposed accents by doc_id%3, one precomposed idempotence
    witness) normalized by ``nfc_normalize_col`` and byte-compared
    against DuckDB's built-in ``nfc_normalize``."""
    from web_content_extraction_benchmark_spark.operators.redaction import (
        redact_pii_col,
    )
    from web_content_extraction_benchmark_spark.operators.textstats import (
        nfc_normalize_col,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    spliced = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" ops-"), F.col("doc_id").cast("string"),
            F.lit("@crawl.example 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 4012-8888-8888-1881 2001:db8::"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit(" +1 415 555 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    nfc_src = (
        F.when(
            F.col("doc_id") % 3 == 0,
            # DECOMPOSED e + U+0301 -> must compose to U+00E9
            F.concat(F.lit("e\u0301cole "),
                     F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            # precomposed idempotence witness (U+00E9, U+00E0)
            F.concat(F.lit("d\u00e9j\u00e0 "),
                     F.col("doc_id").cast("string")),
        )
        .otherwise(
            # DECOMPOSED A + U+030A -> must compose to U+00C5
            F.concat(F.lit("A\u030a-"),
                     F.col("doc_id").cast("string"))
        )
    )
    return token_counts(
        docs.withColumn("_spliced", spliced), "text"
    ).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens", "n_text_chars",
        redact_pii_col(F.col("_spliced")).alias("redacted"),
        nfc_normalize_col(nfc_src).alias("nfc"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters over a corpus with planted
    degenerate docs (repeated-phrase mutants, doc_id+3M)."""
    from web_content_extraction_benchmark_spark.operators.textstats import (
        repetition_stats,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    # planted repetitive docs: first 3 words repeated 10x
    mutants = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(
            F.flatten(
                F.array_repeat(F.slice(words, 1, 3), 10)
            ),
            " ",
        ).alias("text"),
    )
    corpus = docs.unionByName(mutants)
    out = repetition_stats(corpus)
    return out.select("doc_id", "dup_word_frac", "top_bigram_frac")


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint counts + (r8) the passage-split arm:
    op='winnow' (doc_id, k=n_fingerprints) unioned with op='passage'
    rows (k=passage_idx, txt='{n_tokens}|{passage text}') at
    window=32/stride=24 — the tail-containment start rule and exact
    slice text are value-compared against the generate_series mirror."""
    from web_content_extraction_benchmark_spark.operators.packing import (
        passage_split,
    )

    docs = _docs(spark, sf_dir)
    fp = winnowing_fingerprints(docs, "text")
    winnow_arm = fp.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("k")
    ).select(
        F.lit("winnow").alias("op"), "doc_id", "k", F.lit("").alias("txt")
    )
    passages = passage_split(docs, window=32, stride=24)
    passage_arm = passages.select(
        F.lit("passage").alias("op"),
        F.col("id").alias("doc_id"),
        F.col("passage_idx").alias("k"),
        F.concat(
            F.col("n_tokens").cast("string"), F.lit("|"),
            F.col("passage_text"),
        ).alias("txt"),
    )
    return winnow_arm.unionByName(passage_arm)


def q_block_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star block-level spans: char offsets of each kept block into
    the extracted plaintext, exploded to one row per block."""
    from web_content_extraction_benchmark_spark.functions.udfs import (
        main_content_blocks_udf,
    )

    pages = synthesize_pages(spark, sf_dir)
    blocks = pages.select(
        "url", F.posexplode(main_content_blocks_udf(F.col("html"))).alias(
            "block_idx", "b"
        )
    )
    return blocks.select(
        "url", "block_idx",
        F.col("b.start").alias("start"),
        F.col("b.end").alias("end"),
        F.col("b.tag").alias("tag"),
    )


def _scratch_dir(prefix: str) -> str:
    """Query-scratch temp dir under one root, with liveness-aware pruning
    of previous rounds' leftovers (the returned DataFrames read these
    paths LAZILY, so a query cannot delete its own scratch — but it can
    sweep dirs whose OWNING PROCESS is gone, bounding /tmp growth across
    repeated check_oracles/driver rounds instead of leaking parquet
    copies forever).  The owner pid is embedded in the dir name; a dir
    whose owner is still alive is protected for 24 HOURS (a >1h oracle
    round in a concurrent session must not lose a scratch path
    mid-query, but a recycled/zombie pid must not strand parquet until
    reboot).  OUR OWN dirs get their mtime touched on every call, so an
    active session keeps its scratch alive indefinitely while idle
    leftovers still age out (ADVICE r5 — previously a >24h session
    could lose a lazily-read scratch to its own sweep).  Ownerless dirs
    (legacy naming) fall back to a 1h age cutoff."""
    import os
    import re
    import shutil
    import tempfile
    import time as _time

    root = "/tmp/wceb_query_scratch"
    os.makedirs(root, exist_ok=True)
    # keepalive: refresh the mtime of every dir THIS process owns, so
    # the 24h cap below only ever bites sessions idle that long
    own_tag = f".pid{os.getpid()}_"
    for name in os.listdir(root):
        if own_tag in name:
            try:
                os.utime(os.path.join(root, name))
            except OSError:
                pass
    cutoff = _time.time() - 3600
    # a live owner protects its dirs only up to a generous age cap: a
    # RECYCLED pid (or a zombie, where kill(pid, 0) still succeeds)
    # must not strand sf-scale parquet in /tmp until reboot
    pid_cutoff = _time.time() - 24 * 3600
    for name in os.listdir(root):
        full = os.path.join(root, name)
        m = re.search(r"\.pid(\d+)_", name)
        try:
            if m:
                pid = int(m.group(1))
                try:
                    os.kill(pid, 0)  # raises if the owner is gone
                    if os.path.getmtime(full) >= pid_cutoff:
                        continue
                except ProcessLookupError:
                    pass
                except PermissionError:  # alive, other user
                    if os.path.getmtime(full) >= pid_cutoff:
                        continue
            elif os.path.getmtime(full) >= cutoff:
                continue
            shutil.rmtree(full, ignore_errors=True)
        except OSError:
            continue
    return tempfile.mkdtemp(prefix=f"{prefix}.pid{os.getpid()}_", dir=root)


def _synthesize_warc_tree(sf_dir: str, out_dir: str) -> int:
    from web_content_extraction_benchmark_spark.sources.warc import (
        synthesize_warc_tree,
    )

    return synthesize_warc_tree(sf_dir, out_dir)


def _synthesize_mixed_tree(sf_dir: str, out_dir: str) -> int:
    from web_content_extraction_benchmark_spark.sources.warc import (
        synthesize_mixed_warc_tree,
    )

    return synthesize_mixed_warc_tree(sf_dir, out_dir)


RAW_TREE_ROOT = "/tmp/wceb_raw"


def _raw_tree(sf_dir: str, kind: str) -> str:
    """Synthesize (once, cached) an on-disk raw-format dataset tree.
    The cache marker records ``fixture_fingerprint``; a changed corpus
    or writer triggers regeneration instead of serving stale files."""
    import os

    from web_content_extraction_benchmark_spark.sources import raw_datasets
    from web_content_extraction_benchmark_spark.sources.pages import (
        fixture_fingerprint,
    )

    synth = {
        "warc": _synthesize_warc_tree,
        "mixed": _synthesize_mixed_tree,
    }.get(kind) or getattr(raw_datasets, f"synthesize_{kind}_tree")
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(RAW_TREE_ROOT, f"{kind}_{tag}")
    marker = os.path.join(out, "_done")
    fingerprint = fixture_fingerprint(sf_dir)
    stale = True
    if os.path.exists(marker):
        with open(marker) as f:
            stale = f.read() != fingerprint
    if stale:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        synth(sf_dir, out)
        with open(marker, "w") as f:
            f.write(fingerprint)
    return out


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S5: answers -> sorted golden JSONL sink -> schema-declared scan;
    the read-back rows must byte-match the plain-extraction oracle."""
    import tempfile

    from web_content_extraction_benchmark_spark.sources.jsonl import (
        ANSWER_JSONL_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["plain"]).select(
        "url",
        F.lit(None).cast("string").alias("page_id"),
        "model",
        "plaintext",
    )
    out = _scratch_dir("wceb_jsonl_")
    write_jsonl(answers, out, sort_by="url", golden=True)
    back = read_jsonl(spark, out, ANSWER_JSONL_SCHEMA)
    return back.select("url", "plaintext")


def q_convert_cleaneval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: CleanEval-style raw ingestion — binaryFile scan -> decode
    (gzip/BOM rows included) -> <text> unwrap -> truth derivation (URL
    line + clean-markup body text) -> whitelist join."""
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        convert_dataset,
    )

    return convert_dataset(spark, "cleaneval", _raw_tree(sf_dir, "cleaneval"))


def q_convert_raw_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 tail: the 7 other ``FORMATS`` entries, each run through
    ``convert_dataset``, in one oracle row (reference
    dataset_readers.py:171-317) — L3S-GN1 (CSS-annotated truth),
    CleanPortalEval (CleanEval semantics under input/GoldStandard),
    Dragnet (verbatim .html.corrected.txt truths, 3-part suffix keys), CETD (per-vertical trees, composite keys), Readability
    (per-case dirs, expected.html body text), ScrapingHub (gzipped pages,
    one ground-truth.json, page_id = sha256 of DECOMPRESSED bytes — the
    reference's re-hash quirk, oracled), GoogleTrends2017
    (__boilernet_label-annotated truth), and — r7, no reference
    counterpart — PDF (real PDF 1.4 files: xref/FlateDecode/content
    -stream text operators parsed from scratch, two-column layout
    reconstructed into reading order; extractors/pdf_text.py) and WARC
    (Common-Crawl-style .warc.gz: per-record gzip members, HTTP
    response parse incl. chunked transfer encoding, then the standard
    extraction kernel; sources/warc.py).  Output one row per (format,
    source); page_id is non-null only for scrapinghub."""
    from web_content_extraction_benchmark_spark.sources import raw_datasets as rd
    from web_content_extraction_benchmark_spark.sources.warc import read_warc

    null_id = F.lit(None).cast("string").alias("page_id")

    def tagged(fmt: str, df: DataFrame) -> DataFrame:
        page_id = F.col("page_id") if "page_id" in df.columns else null_id
        return df.select(F.lit(fmt).alias("format"), "source", "plaintext",
                         page_id)

    parts = [
        tagged(fmt, rd.convert_dataset(spark, fmt, _raw_tree(sf_dir, fmt)))
        for fmt in rd.FORMATS
        if fmt != "cleaneval"  # its own query: convert_cleaneval
    ] + [
        tagged("pdf", rd.convert_pdf(spark, _raw_tree(sf_dir, "pdf"))),
        # warc: Common-Crawl-style container ingest (r7).  read_warc
        # walks gzip members / dechunks HTTP inside a per-file map, then
        # the standard extraction kernel runs on the recovered bytes —
        # the oracle demands the same GOLD text as extract_all_models,
        # so WARC framing must be byte-transparent end to end.
        tagged("warc", extract_answers(
            read_warc(spark, _raw_tree(sf_dir, "warc")), ["main_content"]
        ).select(
            F.regexp_extract("url", r"/(\d+)$", 1).alias("source"),
            "plaintext",
        )),
        # mixed: content-type-routed dispatch (r7) — PDF rows (half of
        # them MISLABELED text/html, so the %PDF- magic sniff is
        # oracle-gated) through the PDF parser, html rows through the
        # extraction kernel, in one crawl
        tagged("mixed", extract_mixed(
            read_warc(spark, _raw_tree(sf_dir, "mixed"))
        ).select(
            F.regexp_extract("url", r"/(\d+)$", 1).alias("source"),
            "plaintext",
        )),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_neural_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: a TRAINED frozen block-classifier MLP (seeded numpy Adam,
    tools/train_neural.py — beats the density rule on the held-out
    doc_id%7==5 split), built once per worker from the frozen weights,
    extracts main text in a batched mapInPandas kernel, one leaf
    matmul per Arrow batch of pages (the BoilerNet shape,
    reference extractors.py:146-153 + boilernet/net/train.py).  The
    learned model agrees with gold on every template block with >13
    logit margin (pinned corpus-wide in tests/test_neural_stub.py), so
    GOLD_SQL is a true value oracle, not a rows-only check."""
    from web_content_extraction_benchmark_spark.extractors.neural import (
        neural_extract_answers,
    )

    pages = synthesize_pages(spark, sf_dir)
    return neural_extract_answers(pages).select("url", "plaintext")


# Planted IDN hosts and their pinned punycode forms (stdlib
# `'<host>'.encode('idna')` — IDNA 2003 ToASCII): the pair of constant
# lists is shared by the Spark arm (input construction) and the DuckDB
# mirror (closed-form expected output), so the fold's oracle can't
# drift from its inputs.
IDN_UNICODE = ["bücher", "köln", "почта"]
IDN_PUNY = ["xn--bcher-kva", "xn--kln-sna", "xn--80a1acny"]


def q_page_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: sha256 content-hash page ids over the raw html bytes (gzip rows
    excluded — compressed bytes are not SQL-reproducible), plus the URL
    canonicalization arm (r5): every 10th url is messied (upper-case
    scheme/host, default port, doc_id-parameterized tracking + real
    query params, fragment; r6 adds percent-encoded escapes needing
    hex-uppercase + unreserved-decode, and — every 20th — a
    case-sensitive userinfo that must survive host lowercasing) and the
    returned ``canonical_url`` column byte-compares the normalization
    against the DuckDB mirror.  r7 adds the IDN arm: every 20th-plus-5
    url carries a Unicode host (from IDN_UNICODE, by doc_id%3) that
    must fold to its pinned punycode form, and every 20th-plus-15 an
    UPPERCASE punycode host that must lower-fold to itself — the
    DuckDB mirror maps the planted hosts in closed form (punycode is
    not SQL-expressible; the pinned constants ARE the oracle)."""
    from web_content_extraction_benchmark_spark.operators.urls import (
        canonicalize_urls,
        surt_key,
    )

    pages = synthesize_pages(spark, sf_dir).filter(F.col("doc_id") % 103 != 0)
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    tail = F.regexp_extract("url", r"^https://[^/]+/(.*)$", 1)
    b = (F.col("doc_id") % 7).cast("string")
    k = (F.col("doc_id") % 3).cast("int")
    uhost = F.element_at(
        F.array(*[F.lit(h) for h in IDN_UNICODE]), k + 1
    )
    ahost = F.upper(
        F.element_at(F.array(*[F.lit(h) for h in IDN_PUNY]), k + 1)
    )
    messy = F.when(
        F.col("doc_id") % 20 == 0,
        F.concat(
            F.lit("HTTPS://U%3aP@"), F.upper(host), F.lit(":443/%7e"),
            tail, F.lit("?utm_source=x&b="), b, F.lit("&a=%31#s"),
        ),
    ).when(
        F.col("doc_id") % 20 == 5,
        F.concat(
            F.lit("https://"), uhost, F.lit(".example:443/"), tail,
            F.lit("#f"),
        ),
    ).when(
        F.col("doc_id") % 20 == 15,
        F.concat(
            F.lit("HTTPS://"), ahost, F.lit(".example/"), tail,
            F.lit("?utm_x=1&z=2"),
        ),
    ).when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.lit("HTTPS://"), F.upper(host), F.lit(":443/"), tail,
            F.lit("?utm_source=x&b="), b, F.lit("&a=1&c=%4a#s"),
        ),
    ).otherwise(F.col("url"))
    # the staged corpus entry point, NOT canonical_url_col(messy): the
    # single-expression form would evaluate the (lambda-bearing, hence
    # subexpression-elimination-exempt) percent-normalize transform 4x
    # per row — canonicalize_urls materializes __messy/__norm in their
    # own projections first (the CLAUDE.md fan-out gotcha)
    staged = pages.select(
        "url",
        F.sha2(F.col("html"), 256).alias("page_id"),
        messy.alias("__messy"),
    )
    return canonicalize_urls(
        staged, "__messy", out_col="canonical_url"
    ).select(
        "url", "page_id", "canonical_url",
        # r8: the crawl-index sort key, derived from the canonical form
        # (so host case/ports/tracking params are already folded)
        surt_key(F.col("canonical_url")).alias("surt"),
    )


def q_html_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R25: 15 structural features per page (tag-count ratios +
    tags-per-word)."""
    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FEATURE_COLS,
        html_feature_table,
    )

    pages = synthesize_pages(spark, sf_dir)
    feats = html_feature_table(pages)
    return feats.select(
        "url", *[F.round(c, 6).alias(c) for c in FEATURE_COLS]
    )


def q_ensemble_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20, all variants in one oracle row (folded from 4 r2 queries):

    - ``majority_join``: join-based plan (collect_list answer map ->
      vote; the S11 preloaded-answers path) at threshold int(3*0.66)=1 —
      with ``plain`` among the voters every full-text window is
      supported, so the provable expected output is the plain full text;
    - ``majority2``/``best``/``weighted``: the FUSED zero-shuffle
      extract+vote plan at the reference's three variant specs
      (extractors.py:174-209); per-variant expected-output formulas are
      verified corpus-wide in tests/test_extractor_golds.py, and fused ==
      join-based is pinned by tests/test_spark_pipeline.py."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        ENSEMBLE_VARIANTS,
        ensemble_answers,
        ensemble_extract,
    )

    pages = synthesize_pages(spark, sf_dir)
    models = ["main_content", "plain", "readability"]
    answers = extract_answers(pages, models)
    parts = [
        ensemble_answers(answers, models)
        .select(F.lit("majority_join").alias("variant"), "url", "plaintext"),
        ensemble_extract(pages, models, vote_fraction=0.67)
        .select(F.lit("majority2").alias("variant"), "url", "plaintext"),
    ]
    for tag, variant in (("best", "ensemble_best"),
                         ("weighted", "ensemble_weighted")):
        spec = ENSEMBLE_VARIANTS[variant]
        parts.append(
            ensemble_extract(
                pages, spec["models"], weights=spec["weights"],
                vote_fraction=spec.get("vote_fraction", 0.66),
            ).select(F.lit(tag).alias("variant"), "url", "plaintext")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R27 cluster assignment with a TRUE value oracle — the FROZEN
    aligned codebook (trained once via the pyspark.ml path; see
    complexity_ml.FROZEN_KMEANS, label-flip applied at freeze time) is
    applied by exact integer micro-unit L2 argmin, so the
    (kmeans_label, quantile_label) confusion counts are
    engine-independent.  Training itself (R26 scaler / R27 KMeans /
    R28 PCA) is iterative and stays pytest-gated
    (tests/test_ml_and_io.py)."""
    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FEATURE_COLS,
        frozen_kmeans_confusion,
        html_feature_table,
    )

    pages = synthesize_pages(spark, sf_dir).cache()
    feats = html_feature_table(pages).select(
        "url", *[F.round(c, 6).alias(c) for c in FEATURE_COLS]
    )
    compl = page_complexity(pages, truth_table(pages))
    return frozen_kmeans_confusion(feats, compl)


def q_lr_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R29/R30: the LR classify+metrics tail with a TRUE value oracle —
    the FROZEN model (trained once via the pyspark.ml path; see
    complexity_ml.FROZEN_LR) is applied to the deterministic doc_id%7==3
    test split in exact integer micro-unit arithmetic, so the integer
    confusion matrix and the metrics derived from it (accuracy/F1/MCC)
    are engine-independent.  Training itself is iterative and stays
    pytest-gated (tests/test_ml_and_io.py)."""
    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FEATURE_COLS,
        frozen_lr_metrics,
        html_feature_table,
    )

    pages = synthesize_pages(spark, sf_dir).cache()
    feats = html_feature_table(pages).select(
        "url", *[F.round(c, 6).alias(c) for c in FEATURE_COLS]
    )
    compl = page_complexity(pages, truth_table(pages))
    return frozen_lr_metrics(feats, compl, pages.select("url", "doc_id"))


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming execution of the hourly rollup: file-source
    stream -> watermarked tumbling windows -> memory sink; same oracle as
    the batch twin."""
    import os
    import shutil
    import tempfile

    from web_content_extraction_benchmark_spark.streaming.events import (
        run_stream_to_memory,
    )

    src = _scratch_dir("wceb_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "events.parquet"))
    run_stream_to_memory(spark, src, query_name="q_stream_hourly")
    out = spark.sql("SELECT * FROM q_stream_hourly")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "sum_value",
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming idempotent ingest: the events file is delivered TWICE
    (at-least-once upstream), dropDuplicatesWithinWatermark on event_id
    removes the replay, and the per-type counts must equal the
    single-delivery batch truth."""
    import os
    import shutil
    import tempfile

    from web_content_extraction_benchmark_spark.streaming.events import (
        run_dedup_stream_to_memory,
    )

    src = _scratch_dir("wceb_dedup_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "a.parquet"))
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "b.parquet"))
    run_dedup_stream_to_memory(spark, src, query_name="q_stream_dedup")
    return spark.sql(
        "SELECT event_type, n_events, sum_value FROM q_stream_dedup"
    )


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming execution of the flagship extraction: pages parquet as a
    file-source stream (2 files -> 2 micro-batches) -> the same Arrow
    extraction kernel -> memory sink; byte-identical to the batch gold."""
    import tempfile

    from web_content_extraction_benchmark_spark.streaming.extract import (
        run_extract_stream_to_memory,
    )

    src = _scratch_dir("wceb_pages_stream_")
    synthesize_pages(spark, sf_dir).repartition(2).write.mode(
        "overwrite"
    ).parquet(src)
    run_extract_stream_to_memory(
        spark, src, ["main_content"], query_name="q_stream_extract"
    )
    out = spark.sql("SELECT * FROM q_stream_extract")
    return out.select("url", "plaintext")


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: Iceberg-style snapshot-log time travel — two commits, then
    read v1 and v2 as-of; totals must reconcile with the source table."""
    import tempfile

    from web_content_extraction_benchmark_spark.sources.snapshots import (
        SnapshotTable,
    )

    table = SnapshotTable(_scratch_dir("wceb_snap_"))
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    table.append(docs.filter(F.col("doc_id") % 2 == 0))
    table.append(docs.filter(F.col("doc_id") % 2 == 1))

    def totals(version: int) -> DataFrame:
        df = table.read(spark, version)
        return df.agg(
            F.lit(version).alias("version"),
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
        )

    return totals(1).unionByName(totals(2))


def q_lineage_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage sidecar reconciliation: per-model totals over all partition
    rows must equal the corpus truth (docs in, non-empty outputs, zero
    errors, per-variant block counts)."""
    pages = synthesize_pages(spark, sf_dir)
    _answers, lineage = extract_answers(
        pages, ["main_content"], snapshot_id=1, with_lineage=True
    )
    return lineage.groupBy("model").agg(
        F.sum("docs_in").alias("docs_in"),
        F.sum("docs_out").alias("docs_out"),
        F.sum("errors").alias("errors"),
        F.sum("block_count").alias("block_count"),
    )


def q_band_filtered_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R19: score rows restricted to a complexity band (driver-constant
    bounds), then aggregated per dataset."""
    from web_content_extraction_benchmark_spark.operators.relational import (
        filter_complexity_band,
    )

    pages = synthesize_pages(spark, sf_dir).cache()
    answers = extract_answers(pages, ["plain"])
    scores = score_answers(answers, truth_table(pages)).withColumn(
        "dist", F.round("dist", 6)
    )
    compl = page_complexity(pages, truth_table(pages)).withColumn(
        "complexity", F.round("complexity", 6)
    )
    banded = filter_complexity_band(scores, compl, low=0.05, high=0.2)
    # exact integer micro-units: FP summation order flipped the 6th
    # decimal at a rounding boundary vs the oracle — integer sums are
    # order-independent in both engines
    dist_u = F.round(F.col("dist") * 1_000_000, 0).cast("long")
    return banded.groupBy("dataset").agg(
        F.count("*").alias("n_pages"),
        F.round(
            F.sum(dist_u) / (F.count("*") * F.lit(1_000_000.0)), 6
        ).alias("mean_dist"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH candidates + exact
    verify) over a corpus with planted identical copies (vec_id + 10000).
    Seeded-hyperplane path -> rows-only check; pytest asserts recall."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = _emb(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(copies)
    pairs = embedding_near_duplicates(corpus, threshold=0.999, dim=64)
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) executed by the REAL
    stateful streaming operator (applyInPandasWithState, append mode):
    the events file streams in followed by one far-future sentinel per
    user (end-of-backfill flush), which closes every real session — so
    the streamed output equals the batch/SQL truth exactly while the
    sentinel sessions stay open in state.  (r2's row ran only the batch
    twin; the stateful path was pytest-only.)"""
    import os
    import shutil
    import tempfile

    from web_content_extraction_benchmark_spark.streaming.sessions import (
        run_session_stream_to_memory,
        write_session_flush_sentinels,
    )

    src = _scratch_dir("wceb_sess_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src, "a.parquet"))
    write_session_flush_sentinels(
        spark, _events(spark, sf_dir), os.path.join(src, "b_sentinels")
    )
    for name in os.listdir(os.path.join(src, "b_sentinels")):
        if name.endswith(".parquet"):
            shutil.move(
                os.path.join(src, "b_sentinels", name),
                os.path.join(src, "b.parquet"),
            )
    shutil.rmtree(os.path.join(src, "b_sentinels"), ignore_errors=True)
    # The file stream orders micro-batches by modification time: the
    # sentinel file MUST come second, or its far-future timestamps
    # advance the watermark and every real event is dropped as late.
    # Pin the order explicitly instead of trusting copy/write timing.
    os.utime(os.path.join(src, "a.parquet"), (1_000_000, 1_000_000))
    os.utime(os.path.join(src, "b.parquet"), (2_000_000, 2_000_000))
    run_session_stream_to_memory(spark, src, query_name="q_sessionize")
    out = spark.sql("SELECT * FROM q_sessionize")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: REAL stdlib BMP (24-bit header+pixel parse),
    WAV (RIFF walk + PCM16), and AVI (RIFF hdrl/movi walk + DIB frame
    decode, r5) kernels run per row on the record kernel
    (functions.records.map_records) over the synthetic
    payload table; the DuckDB oracle mirrors the decoded channel means
    / RMS / zero-crossing rate / frame-motion deltas with closed-form
    integer arithmetic (multimodal.synthetic_media_params is the shared
    source of truth)."""
    media = synthesize_media(spark, n_rows=64)
    feats = extract_media_features(media)
    cols = [
        F.round(F.element_at("features", k), 6).alias(f"f{k}")
        for k in range(1, 7)
    ]
    return feats.select("media_id", "kind", "n_bytes", *cols)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages at sf0.001, extract with two models,
    score vs truth, aggregate with micro/macro rollups."""
    sf_dir = "/root/testdata/sf0.001"
    pages = synthesize_pages(spark, sf_dir)
    answers = extract_answers(pages, ["main_content", "plain"])
    scores = score_answers(answers, truth_table(pages))
    return aggregate_scores(scores)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries == the driver's per-round correctness cap, so
    EVERY query gets a driver row (VERDICT r2 item 1).  Coverage that used
    to span 60 rows is folded, not dropped: the 7 per-extractor
    byte-identity rows live in ``extract_all_models`` (model column), the
    4 ensemble variants in ``ensemble_variants`` (variant column), and
    the 8 raw dataset formats in ``convert_cleaneval`` +
    ``convert_raw_formats`` (format column).  Never-yet-driver-checked
    queries are ordered first."""
    return {
        # r2's ten driver-unchecked queries first
        "lr_classify": q_lr_classify,
        "stream_hourly": q_stream_hourly,
        "stream_dedup": q_stream_dedup,
        "stream_extract": q_stream_extract,
        "snapshot_time_travel": q_snapshot_time_travel,
        "lineage_totals": q_lineage_totals,
        "band_filtered_scores": q_band_filtered_scores,
        "sessionize": q_sessionize,
        "embedding_neardup": q_embedding_neardup,
        "media_features": q_media_features,
        # new / folded this round
        "convert_raw_formats": q_convert_raw_formats,
        "neural_extract": q_neural_extract,
        "neardup_clusters": q_neardup_clusters,
        "extract_all_models": q_extract_all_models,
        "ensemble_variants": q_ensemble_variants,
        "convert_cleaneval": q_convert_cleaneval,
        # the r2 hash-green suite
        "extract_block_counts": q_extract_block_counts,
        "block_spans": q_block_spans,
        "score_levenshtein": q_score_levenshtein,
        "score_rouge": q_score_rouge,
        "agg_scores": q_agg_scores,
        "page_complexity": q_page_complexity,
        "quantiles_all": q_quantiles_all,
        "complexity_band_counts": q_complexity_band_counts,
        "join_agg": q_join_agg,
        "semi_anti_join": q_semi_anti_join,
        "corpus_pipeline": q_corpus_pipeline,
        "rollup_agg": q_rollup_agg,
        "topk_window": q_topk_window,
        "conditional_agg": q_conditional_agg,
        "pipe_extract": q_pipe_extract,
        "json_extract": q_json_extract,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash": q_simhash,
        "host_graph": q_host_graph,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_ivf_recall": q_ann_ivf_recall,
        "language_id": q_language_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "repetition_stats": q_repetition_stats,
        "fingerprints": q_fingerprints,
        "page_ids": q_page_ids,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "html_features": q_html_features,
        "kmeans_clusters": q_kmeans_clusters,
    }


def _page_ids_sql() -> str:
    """page_ids mirror: sha256 over the reconstructed html plus the URL
    canonicalization arm (the messy-url construction mirrored, then the
    operator's own SQL twin normalizes it)."""
    from web_content_extraction_benchmark_spark.operators.urls import (
        canonical_url_sql,
        surt_sql,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        HOST_SQL,
        html_sql,
    )

    uhost = (
        f"CASE doc_id % 3 WHEN 0 THEN '{IDN_UNICODE[0]}' "
        f"WHEN 1 THEN '{IDN_UNICODE[1]}' ELSE '{IDN_UNICODE[2]}' END"
    )
    ahost = (
        f"upper(CASE doc_id % 3 WHEN 0 THEN '{IDN_PUNY[0]}' "
        f"WHEN 1 THEN '{IDN_PUNY[1]}' ELSE '{IDN_PUNY[2]}' END)"
    )
    messy = f"""
        CASE WHEN doc_id % 20 = 0 THEN
            'HTTPS://U%3aP@' || upper({HOST_SQL}) || ':443/%7e'
            || source || '/'
            || CAST(doc_id AS VARCHAR) || '?utm_source=x&b='
            || CAST(doc_id % 7 AS VARCHAR) || '&a=%31#s'
        WHEN doc_id % 20 = 5 THEN
            'https://' || {uhost} || '.example:443/' || source || '/'
            || CAST(doc_id AS VARCHAR) || '#f'
        WHEN doc_id % 20 = 15 THEN
            'HTTPS://' || {ahost} || '.example/' || source || '/'
            || CAST(doc_id AS VARCHAR) || '?utm_x=1&z=2'
        WHEN doc_id % 10 = 0 THEN
            'HTTPS://' || upper({HOST_SQL}) || ':443/' || source || '/'
            || CAST(doc_id AS VARCHAR) || '?utm_source=x&b='
            || CAST(doc_id % 7 AS VARCHAR) || '&a=1&c=%4a#s'
        ELSE {URL_SQL} END
    """
    # the IDN fold's closed-form mirror: punycode is not
    # SQL-expressible, but the PLANTED hosts' punycode forms are pinned
    # constants — map each '://<unicode-host>.example' occurrence in
    # the (fold-free) canonical output to its ASCII form.  The
    # uppercase-punycode arm needs no mapping: the canonicalizer's host
    # lowercasing plus the fold's valid-punycode round-trip identity
    # land it on itself.
    canon = canonical_url_sql(f"({messy})")
    for u, p in zip(IDN_UNICODE, IDN_PUNY):
        canon = (
            f"replace({canon}, '://{u}.example', '://{p}.example')"
        )
    # surt applies to the COMPUTED canonical column via a subquery — the
    # canonical expression is large and surt_sql references its input
    # six times
    return (
        f"SELECT url, page_id, canonical_url, "
        f"{surt_sql('canonical_url')} AS surt FROM ("
        f"SELECT {URL_SQL} AS url, sha256({html_sql()}) AS page_id, "
        f"{canon} AS canonical_url "
        "FROM documents WHERE doc_id % 103 != 0)"
    )


def _robots_verdicts_sql() -> str:
    """Mirror of the host_graph robots arm: CLOSED-FORM rules (what
    ``parse_robots_txt`` must produce from the synthesized text — the
    badbot group and empty-path idioms excluded) + the probe frontier,
    matched by ``robots_match_sql``."""
    from web_content_extraction_benchmark_spark.operators.robots import (
        robots_match_sql,
    )

    host = _host_sql_for("doc_id")
    k = "(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE doc_id % 41 END)"
    rules = f"""
        SELECT 'host' || CAST(k AS VARCHAR) || '.example' AS host,
               p AS path, a AS allow
        FROM (SELECT DISTINCT {k} AS k FROM documents),
             (VALUES ('/p/', FALSE, FALSE), ('/p/ok/', TRUE, FALSE),
                     ('/q/', FALSE, TRUE)) v(p, a, only_k3)
        WHERE NOT only_k3 OR k % 3 = 0
    """
    frontier = f"""
        SELECT 'https://' || {host} ||
               CASE doc_id % 5
                 WHEN 0 THEN '/p/x' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN '/p/ok/' || CAST(doc_id AS VARCHAR)
                 WHEN 2 THEN '/q/' || CAST(doc_id AS VARCHAR)
                 WHEN 3 THEN '/free/' || CAST(doc_id AS VARCHAR)
                 ELSE '/p' || CAST(doc_id AS VARCHAR)
               END AS url
        FROM documents
    """
    return robots_match_sql(frontier, rules)


def _sitemap_rows_sql() -> str:
    """Mirror of the host_graph sitemap arm: the same per-doc xml
    synthesis in SQL, parsed by the operator's own mirror
    (``sitemaps_sql``)."""
    from web_content_extraction_benchmark_spark.operators.sitemaps import (
        sitemaps_sql,
    )

    host = _host_sql_for("doc_id")
    d = "CAST(doc_id AS VARCHAR)"
    cf = ("(CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly' "
          "ELSE 'monthly' END)")
    e1 = f"""('<url><loc>https://' || {host} || '/d/' || {d} || '</loc>'
        || CASE WHEN doc_id % 2 = 0
                THEN '<lastmod>2023-01-' ||
                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
                     '</lastmod>'
                ELSE '' END
        || '<changefreq>' || {cf} || '</changefreq>'
        || '<priority>0.' || CAST(doc_id % 10 AS VARCHAR) ||
           '</priority></url>')"""
    e2 = f"""('<url>' || chr(10) || '  <loc> https://' || {host} ||
        '/alt/' || {d} || '?x=1&amp;y=2 </loc>' || chr(10) || '</url>')"""
    urlset = (f"('<?xml version=\"1.0\"?><urlset>' || {e1} || {e2} || "
              "'</urlset>')")
    index = f"""('<sitemapindex><sitemap><loc>https://' || {host} ||
        '/sm/' || {d} ||
        '/1.xml</loc><lastmod>2023-02-02</lastmod></sitemap>' ||
        '<sitemap><loc>https://' || {host} || '/sm/' || {d} ||
        '/2.xml</loc></sitemap></sitemapindex>')"""
    corpus = f"""
        SELECT 'https://' || {host} || '/sitemaps/' || {d} || '.xml'
                   AS url,
               CASE WHEN doc_id % 7 = 2 THEN {index}
                    ELSE {urlset} END AS xml
        FROM documents
    """
    return sitemaps_sql(corpus)


def _quality_with_lm_sql(quality_sql: str) -> str:
    """quality mirror + the frozen-LM columns (operators/lm.py mirror
    over the documents view, joined by doc id)."""
    from web_content_extraction_benchmark_spark.operators.lm import (
        lm_score_sql,
    )

    lm = lm_score_sql("SELECT doc_id, text FROM documents")
    return f"""
        SELECT q.doc_id, q.quality, lm.lm_score_micro, lm.lm_bigrams
        FROM ({quality_sql}) q
        LEFT JOIN ({lm}) lm ON q.doc_id = lm.id
    """


def _passages_sql_arm() -> str:
    from web_content_extraction_benchmark_spark.operators.packing import (
        passages_sql,
    )

    return passages_sql(
        "SELECT doc_id, text FROM documents", window=32, stride=24
    )


def _redirects_sql() -> str:
    """Mirror of the host_graph redirect arm: the same planted chains +
    2-cycles, resolved by the operator's recursive-CTE mirror."""
    from web_content_extraction_benchmark_spark.operators.linkgraph import (
        redirects_sql,
    )

    host = _host_sql_for("doc_id")
    d = "CAST(doc_id AS VARCHAR)"
    base = f"('https://' || {host} || '/r/' || {d} || '/')"
    cyc = f"('https://' || {host} || '/c/' || {d})"
    edges = f"""
        SELECT {base} || CAST(i AS VARCHAR) AS url,
               {base} || CAST(i + 1 AS VARCHAR) AS redirect_to
        FROM documents,
             UNNEST(generate_series(0, doc_id % 4)) AS t(i)
        UNION ALL
        SELECT {cyc} || '/a', {cyc} || '/b'
        FROM documents WHERE doc_id % 13 = 0
        UNION ALL
        SELECT {cyc} || '/b', {cyc} || '/a'
        FROM documents WHERE doc_id % 13 = 0
    """
    return redirects_sql(edges, max_hops=8)


def _redact_pii_sql_expr() -> str:
    from web_content_extraction_benchmark_spark.operators.redaction import (
        redact_pii_sql,
    )

    return redact_pii_sql("_spliced")


def _corpus_pipeline_sql() -> str:
    """Composed DuckDB mirror of q_corpus_pipeline: gold extraction ->
    min-id exact dedup -> banded-MinHash candidate pairs + exact-Jaccard
    verify -> recursive-CTE transitive min-label components -> anti-drop
    of non-canonical members -> benchmark 3-gram decontamination -> the
    quota row_number subquery -> the md5 sample predicate -> the
    recursive-CTE greedy packing.  The tail pieces are the operators'
    own SQL mirrors (operators/sampling.py, operators/packing.py); the
    dedup middle reuses the exact banded-minhash construction the
    minhash_lsh_pairs oracle pins — LSH false negatives and all."""
    from web_content_extraction_benchmark_spark.operators.packing import (
        pack_sequences_sql,
    )
    from web_content_extraction_benchmark_spark.operators.sampling import (
        quota_predicate_sql,
        sample_predicate_sql,
    )

    minhash_cols = ", ".join(
        f"min(md5('{h}:' || sh)) AS mh{h}" for h in range(8)
    )
    n_words = "len(string_split(text, ' '))"
    chain = f"""
    (WITH RECURSIVE
    extracted AS MATERIALIZED (
        SELECT doc_id, source, {GOLD_SQL} AS text FROM documents
    ),
    corpus AS MATERIALIZED (
        SELECT doc_id, source, text FROM extracted
        UNION ALL
        SELECT -(doc_id * 4 + 1), source, text FROM extracted
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT -(doc_id * 4 + 2), source,
               array_to_string(
                   string_split(text, ' ')[1:{n_words} - 2], ' ')
        FROM extracted
        WHERE doc_id % 10 = 0 AND {n_words} > 2
    ),
    exact_winners AS (
        SELECT text, min(doc_id) AS win FROM corpus GROUP BY text
    ),
    d1 AS MATERIALIZED (
        SELECT c.doc_id, c.source, c.text
        FROM corpus c JOIN exact_winners w
          ON c.text = w.text AND c.doc_id = w.win
    ),
    words1 AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM d1
    ),
    sh1 AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               word || ' ' || lead(word, 1) OVER win || ' ' ||
               lead(word, 2) OVER win AS sh
        FROM words1
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY sh IS NOT NULL
    ),
    sig AS (SELECT doc_id, {minhash_cols} FROM sh1 GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
        UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
        UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
        UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    ),
    szs AS (SELECT doc_id, count(*) AS n FROM sh1 GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh1 sa ON sa.doc_id = c.id_a
        JOIN sh1 sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
        GROUP BY c.id_a, c.id_b
    ),
    nd_pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN szs za ON za.doc_id = c.id_a
        JOIN szs zb ON zb.doc_id = c.id_b
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
              (za.n + zb.n - coalesce(i.n_inter, 0)) >= 0.6
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM nd_pairs
        UNION SELECT id_b, id_a FROM nd_pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.b, reach.r FROM edges e JOIN reach ON reach.id = e.a
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    d2 AS MATERIALIZED (
        SELECT * FROM d1
        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)
    ),
    bwords AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM extracted WHERE doc_id % 40 = 0
    ),
    bsh AS (
        SELECT DISTINCT
               word || ' ' || lead(word, 1) OVER bwin || ' ' ||
               lead(word, 2) OVER bwin AS sh
        FROM bwords
        WINDOW bwin AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY sh IS NOT NULL
    ),
    contam AS (
        SELECT DISTINCT s.doc_id FROM sh1 s JOIN bsh b ON s.sh = b.sh
    ),
    d3 AS MATERIALIZED (
        SELECT * FROM d2
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    )
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
    FROM ({quota_predicate_sql('(SELECT doc_id, source, text FROM d3)',
                               30, 'source')})
    WHERE {sample_predicate_sql('doc_id', 0.5, 7)})
    """
    return (
        "SELECT doc_id, chunk, chunk_fill, oversize FROM ("
        + pack_sequences_sql(chain, 700)
        + ")"
    )


def oracle_sql() -> dict[str, str]:
    gold_plain = (
        f"SELECT {URL_SQL} AS url, {GOLD_SQL} AS g, {PLAIN_SQL} AS p "
        "FROM documents"
    )
    lev = _lev_from_counts()
    stop_lists = {
        lang: "(" + ", ".join(f"'{w}'" for w in words) + ")"
        for lang, words in STOPWORDS.items()
    }
    hits = {
        lang: (
            "len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            f"w -> w IN {stop_lists[lang]}))"
        )
        for lang in sorted(STOPWORDS)
    }
    quality_sql = f"""
    SELECT doc_id,
           -- split('') is [''] so n_words is never 0: guard on the
           -- trimmed text like the Spark side (lockstep)
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
                ELSE round(greatest(0.0, least(1.0,
                     0.4 * least(n_words / 50.0, 1.0)
                   + 0.3 * (CASE WHEN mean_wl BETWEEN 3.0 AND 9.0
                            THEN 1.0 ELSE 0.25 END)
                   + 0.3 * least(5.0 * hits_en / n_words, 1.0)
                   - least(0.2 * punct_runs, 0.6))), 6) END AS quality
    FROM (
        SELECT doc_id, text,
               len(string_split_regex(trim(text), '\\s+')) AS n_words,
               CAST(length(text) - (len(string_split_regex(trim(text), '\\s+')) - 1)
                    AS DOUBLE) / len(string_split_regex(trim(text), '\\s+'))
                    AS mean_wl,
               {hits['en']} AS hits_en,
               len(regexp_extract_all(text, '[!?.,;:]{{3,}}')) AS punct_runs
        FROM documents
    )
    """
    minhash_cols = ", ".join(
        f"min(md5('{h}:' || sh)) AS mh{h}" for h in range(8)
    )
    shingles_docs_only = _SHINGLES_SQL.format(mutants="SELECT doc_id, text FROM documents")
    shingles_mutants = _SHINGLES_SQL.format(mutants=_MUTANTS_SQL)

    lsh_pairs_sql = f"""
    {shingles_mutants},
    sig AS (
        SELECT doc_id, {minhash_cols} FROM shingles GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
        UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
        UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
        UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
        GROUP BY c.id_a, c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id)
    SELECT c.id_a, c.id_b,
           round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
                 (za.n + zb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
    WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
          (za.n + zb.n - coalesce(i.n_inter, 0)) >= 0.6
    """

    # A-B-C prefix-chain corpus for the cluster-resolution oracle: pairs
    # at 0.85 recomputed exactly, then closed transitively with a
    # recursive CTE (mirrors connected_components min-label semantics).
    _chain_sql = """
    SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
    UNION ALL
    SELECT -(doc_id * 2 + 1),
           array_to_string(string_split(text, ' ')[1:CAST(
               floor(0.9 * len(string_split(text, ' '))) AS INT)], ' ')
    FROM documents WHERE doc_id % 25 = 0
    UNION ALL
    SELECT -(doc_id * 2 + 2),
           array_to_string(string_split(text, ' ')[1:CAST(
               floor(0.81 * len(string_split(text, ' '))) AS INT)], ' ')
    FROM documents WHERE doc_id % 25 = 0
    """
    neardup_clusters_sql = (
        _SHINGLES_SQL.format(mutants=_chain_sql).replace(
            "WITH corpus", "WITH RECURSIVE corpus", 1
        )
        + f""",
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM shingles a JOIN shingles b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes za ON za.doc_id = i.id_a
        JOIN sizes zb ON zb.doc_id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= 0.85
          AND zb.n >= za.n * 0.85 AND zb.n <= za.n / 0.85
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.b, reach.r FROM edges e JOIN reach ON reach.id = e.a
    ),
    -- incremental arm mirror: the FROM-SCRATCH banded md5-minhash run
    -- over the union corpus (8 hashes / 4 bands, threshold 0.6); the
    -- Spark side's two-batch NearDupIndex must equal this exactly
    sig AS (SELECT doc_id, {minhash_cols} FROM shingles GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS key FROM sig
        UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig
        UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig
        UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    ),
    inter2 AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.id_a
        JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
        GROUP BY c.id_a, c.id_b
    ),
    pairs2 AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        LEFT JOIN inter2 i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sizes za ON za.doc_id = c.id_a
        JOIN sizes zb ON zb.doc_id = c.id_b
        WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
              (za.n + zb.n - coalesce(i.n_inter, 0)) >= 0.6
    ),
    edges2 AS (
        SELECT id_a AS a, id_b AS b FROM pairs2
        UNION SELECT id_b, id_a FROM pairs2
    ),
    nodes2 AS (SELECT DISTINCT a AS id FROM edges2),
    reach2(id, r) AS (
        SELECT id, id FROM nodes2
        UNION
        SELECT e.b, reach2.r FROM edges2 e JOIN reach2 ON reach2.id = e.a
    ),
    -- embedding-plugin arm mirror: the EXACT all-pairs cosine graph
    -- (same zero-norm guard as the embedding_neardup row) closed by a
    -- recursive CTE; valid because planted identical copies share all
    -- LSH buckets and no non-planted pair approaches the threshold
    embc AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 3 = 0
    ),
    ecorpus AS (
        SELECT vec_id, v FROM embc
        UNION ALL
        SELECT vec_id + 100000, v FROM embc WHERE vec_id % 9 = 0
    ),
    epairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
        WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                        sqrt(list_dot_product(b.v, b.v)) != 0
                   THEN list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) *
                         sqrt(list_dot_product(b.v, b.v)))
                   ELSE 0.0 END >= 0.999
    ),
    eedges AS (
        SELECT id_a AS a, id_b AS b FROM epairs
        UNION SELECT id_b, id_a FROM epairs
    ),
    enodes AS (SELECT DISTINCT a AS id FROM eedges),
    ereach(id, r) AS (
        SELECT id, id FROM enodes
        UNION
        SELECT e.b, ereach.r FROM eedges e JOIN ereach ON ereach.id = e.a
    )
    SELECT 'ngram085' AS mode, id AS doc_id,
           CAST(min(r) AS BIGINT) AS component
    FROM reach GROUP BY id
    UNION ALL
    SELECT 'incr_lsh06', id, CAST(min(r) AS BIGINT)
    FROM reach2 GROUP BY id
    UNION ALL
    SELECT 'incr_emb07', id, CAST(min(r) AS BIGINT)
    FROM ereach GROUP BY id
    """
    )

    ngram_pairs_sql = f"""
    {shingles_mutants},
    sub AS (SELECT * FROM shingles WHERE doc_id % 20 = 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sub GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sub a JOIN sub b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter), 6)
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) >= 0.8
      AND zb.n >= za.n * 0.8 AND zb.n <= za.n / 0.8
    """

    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FEATURE_COLS,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        VARIANT_BODY_WORD_OFFSET,
        VARIANT_TAG_COUNTS,
        html_sql,
    )

    feature_expr: dict[str, str] = {}
    for col in FEATURE_COLS:
        if col == "html_to_non_html":
            whens = " ".join(
                f"WHEN doc_id % 5 = {v} THEN "
                f"round(CAST({VARIANT_TAG_COUNTS[v][0]} AS DOUBLE) / "
                f"({_N_SQL} + {VARIANT_BODY_WORD_OFFSET[v]}), 6)"
                for v in range(5)
            )
        else:
            whens = " ".join(
                f"WHEN doc_id % 5 = {v} THEN "
                f"round(CAST({VARIANT_TAG_COUNTS[v][1].get(col, 0)} AS DOUBLE)"
                f" / {VARIANT_TAG_COUNTS[v][0]}, 6)"
                for v in range(5)
            )
        feature_expr[col] = f"CASE WHEN doc_id % 101 = 0 THEN 0.0 {whens} END"
    html_features_sql = (
        f"SELECT {URL_SQL} AS url, "
        + ", ".join(f"{expr} AS {col}" for col, expr in feature_expr.items())
        + " FROM documents"
    )

    # Frozen-LR mirror: same integer micro-unit margin over the same
    # 6-decimal-rounded feature formulas, same metric derivations.
    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FROZEN_LR,
    )

    _u = 1_000_000
    margin_terms = [
        f"CAST({int(round(FROZEN_LR['bias'] * _u))} AS BIGINT) * {_u}"
    ]
    for col, w in sorted(FROZEN_LR["weights"].items()):
        margin_terms.append(
            f"CAST(round(({feature_expr[col]}) * {_u}, 0) AS BIGINT) "
            f"* ({int(round(w * _u))})"
        )
    lr_sql = f"""
        WITH t AS (
            SELECT doc_id, {_TRUTH_TOKENS_SQL} AS tt, {_SRC_TOKENS_SQL} AS ss,
                   {" + ".join(margin_terms)} AS margin
            FROM documents
            WHERE doc_id % {FROZEN_LR['test_mod']} = {FROZEN_LR['test_rem']}
        ),
        lab AS (
            SELECT CASE WHEN ss = 0 THEN 1
                        WHEN round(1.0 - least(1.0, greatest(0.0,
                             CAST(tt AS DOUBLE) / ss)), 6)
                             >= {FROZEN_LR['threshold']} THEN 1
                        ELSE 0 END AS label,
                   CASE WHEN margin > 0 THEN 1 ELSE 0 END AS pred
            FROM t
        ),
        cm AS (
            SELECT count(*) AS n_test,
                   CAST(sum(label * pred) AS BIGINT) AS tp,
                   CAST(sum((1 - label) * pred) AS BIGINT) AS fp,
                   CAST(sum(label * (1 - pred)) AS BIGINT) AS fn,
                   CAST(sum((1 - label) * (1 - pred)) AS BIGINT) AS tn
            FROM lab
        )
        SELECT n_test, tp, fp, fn, tn,
               round(CASE WHEN n_test > 0
                     THEN CAST(tp + tn AS DOUBLE) / n_test
                     ELSE 0.0 END, 6) AS accuracy,
               round(CASE WHEN (CASE WHEN tp + fp > 0
                                THEN CAST(tp AS DOUBLE) / (tp + fp)
                                ELSE 0 END)
                        + (CASE WHEN tp + fn > 0
                                THEN CAST(tp AS DOUBLE) / (tp + fn)
                                ELSE 0 END) > 0
                     THEN 2 * (CASE WHEN tp + fp > 0
                               THEN CAST(tp AS DOUBLE) / (tp + fp)
                               ELSE 0 END)
                            * (CASE WHEN tp + fn > 0
                               THEN CAST(tp AS DOUBLE) / (tp + fn)
                               ELSE 0 END)
                          / ((CASE WHEN tp + fp > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fp)
                              ELSE 0 END)
                           + (CASE WHEN tp + fn > 0
                              THEN CAST(tp AS DOUBLE) / (tp + fn)
                              ELSE 0 END))
                     ELSE 0.0 END, 6) AS f1,
               round(CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                               > 0
                     THEN (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                          / sqrt(CAST((tp + fp) AS DOUBLE) * (tp + fn)
                                 * (tn + fp) * (tn + fn))
                     ELSE 0.0 END, 6) AS mcc
        FROM cm
    """

    # Frozen-kmeans mirror: exact integer micro-unit squared L2 to the
    # pinned aligned centroids, ties -> cluster 0 (same as Spark's <=).
    from web_content_extraction_benchmark_spark.plans.complexity_ml import (
        FROZEN_KMEANS,
    )

    def _km_dist_sql(centroid: list[float]) -> str:
        terms = []
        for col, c in zip(FEATURE_COLS, centroid):
            d = (
                f"(CAST(round(({feature_expr[col]}) * {_u}, 0) AS BIGINT)"
                f" - CAST({int(round(c * _u))} AS BIGINT))"
            )
            terms.append(f"{d} * {d}")
        return " + ".join(terms)

    km_sql = f"""
        WITH t AS (
            SELECT doc_id, {_TRUTH_TOKENS_SQL} AS tt, {_SRC_TOKENS_SQL} AS ss,
                   {_km_dist_sql(FROZEN_KMEANS['centroids'][0])} AS d0,
                   {_km_dist_sql(FROZEN_KMEANS['centroids'][1])} AS d1
            FROM documents
        ),
        lab AS (
            SELECT CASE WHEN d0 <= d1 THEN 0 ELSE 1 END AS kmeans_label,
                   CASE WHEN ss = 0 THEN 1
                        WHEN round(1.0 - least(1.0, greatest(0.0,
                             CAST(tt AS DOUBLE) / ss)), 6)
                             >= {FROZEN_KMEANS['threshold']} THEN 1
                        ELSE 0 END AS quantile_label
            FROM t
        )
        SELECT CAST(kmeans_label AS INT) AS kmeans_label,
               CAST(quantile_label AS INT) AS quantile_label,
               count(*) AS n
        FROM lab GROUP BY 1, 2
    """


    return {
        "jsonl_roundtrip": (
            f"SELECT {URL_SQL} AS url, {PLAIN_SQL} AS plaintext FROM documents"
        ),
        "convert_cleaneval": f"""
            SELECT CAST(doc_id AS VARCHAR) AS source, {URL_SQL} AS url,
                   {html_sql(edge_bytes=False)} AS html,
                   {GOLD_SQL} AS plaintext
            FROM documents WHERE doc_id % 7 = 0 AND doc_id % 101 != 0
        """,
        # 10 format arms, one row per (format, source); page_id non-null
        # only for scrapinghub (sha256 of the DECOMPRESSED page bytes —
        # the reference's re-hash-after-gunzip quirk,
        # dataset_readers.py:245-248)
        "convert_raw_formats": f"""
            WITH fx AS (
                SELECT doc_id, source, text FROM documents
                WHERE doc_id % 7 = 0 AND doc_id % 101 != 0
            )
            SELECT 'l3s' AS format, CAST(doc_id AS VARCHAR) AS source,
                   'Article ' || source || ' ' || chr(10) || text AS plaintext,
                   CAST(NULL AS VARCHAR) AS page_id
            FROM fx
            UNION ALL
            SELECT 'cleanportaleval', CAST(doc_id AS VARCHAR),
                   {GOLD_SQL}, NULL
            FROM fx
            UNION ALL
            SELECT 'dragnet', CAST(doc_id AS VARCHAR), text, NULL FROM fx
            UNION ALL
            SELECT 'cetd',
                   (CASE WHEN doc_id % 2 = 0 THEN 'BBC' ELSE 'wiki' END)
                       || '_' || CAST(doc_id AS VARCHAR),
                   text, NULL
            FROM fx
            UNION ALL
            SELECT 'readability', CAST(doc_id AS VARCHAR), text, NULL FROM fx
            UNION ALL
            SELECT 'scrapinghub', CAST(doc_id AS VARCHAR), text,
                   sha256({html_sql(edge_bytes=False)})
            FROM fx
            UNION ALL
            SELECT 'googletrends', CAST(doc_id AS VARCHAR),
                   'Article ' || source || ' ' || chr(10) || text, NULL
            FROM fx
            UNION ALL
            -- pdf: writer lays text.split() out as a real 2-column PDF
            -- (sources/pdf_synth.py arms); the from-scratch parser must
            -- recover the exact word sequence, so reading order IS the
            -- oracle.  Fixture text is single-space normalized (guarded
            -- below by the lockstep note), hence plaintext == text.
            SELECT 'pdf', CAST(doc_id AS VARCHAR), text, NULL FROM fx
            UNION ALL
            -- warc: the response payload carries the pages table's
            -- exact html bytes, so after WARC/HTTP unwrapping the
            -- main_content extraction must equal GOLD (byte identity
            -- through gzip members + chunked transfer framing).
            SELECT 'warc', CAST(doc_id AS VARCHAR), {GOLD_SQL}, NULL
            FROM fx
            UNION ALL
            -- mixed: content-type-routed dispatch over one crawl;
            -- predicates mirror synthesize_mixed_warc_tree exactly:
            -- doc_id % 4 < 2 -> PDF payloads (half mislabeled
            -- text/html to gate the magic sniff); % 8 = 2 -> text/plain
            -- passthrough (plaintext = text verbatim); % 8 = 7 ->
            -- image/png binary (plaintext NULL, counted skip, no
            -- error); else html (plaintext = GOLD).  PDF plaintext
            -- keeps LINE structure (r8): pdf_structured_text joins
            -- layout lines with chr(10), and the synth lays wpl =
            -- 3 + doc_id % 3 words per line (pdf_layout_params) —
            -- block and page boundaries always fall on line
            -- boundaries, so the mirror regroups text.split() into
            -- wpl-word lines.
            SELECT 'mixed', CAST(doc_id AS VARCHAR),
                   CASE WHEN doc_id % 4 < 2 THEN
                       array_to_string(
                         list_transform(
                           range(0, CAST(len(string_split(text, ' '))
                                         AS BIGINT),
                                 CAST(3 + doc_id % 3 AS BIGINT)),
                           i -> array_to_string(
                                  string_split(text, ' ')
                                      [i+1 : i + 3 + doc_id % 3], ' ')
                         ), chr(10))
                        WHEN doc_id % 8 = 2 THEN text
                        WHEN doc_id % 8 = 7 THEN NULL
                        ELSE {GOLD_SQL} END, NULL
            FROM fx
        """,
        "page_ids": _page_ids_sql(),
        "html_features": html_features_sql,
        "lr_classify": lr_sql,
        "kmeans_clusters": km_sql,
        # one row per (model, url): the 7 per-family byte-identity
        # formulas unioned (folded from 7 r2 queries)
        "extract_all_models": " UNION ALL ".join(
            f"SELECT '{model}' AS model, {URL_SQL} AS url, "
            f"{sql} AS plaintext FROM documents"
            for model, sql in (
                ("main_content", GOLD_SQL),
                ("plain", PLAIN_SQL),
                ("xpath_text", XPATH_SQL),
                ("tag_blacklist", TAG_BLACKLIST_SQL),
                ("readability", READABILITY_SQL),
                ("bte", BTE_SQL),
                ("stopword_density", justext_sql()),
            )
        ),
        # E15 stand-in model == density classifier by construction
        "neural_extract": (
            f"SELECT {URL_SQL} AS url, {GOLD_SQL} AS plaintext FROM documents"
        ),
        # E6 sidecar stand-in == plain extractor through the pipe protocol
        "pipe_extract": (
            f"SELECT {URL_SQL} AS url, {PLAIN_SQL} AS plaintext FROM documents"
        ),
        # majority_join (threshold 1) == plain full text (plain's answer
        # contains every window); majority2 (threshold 2) drops the
        # boilerplate only plain supports; 'best' (mc/readability/bte,
        # threshold 1) keeps bte's footer span on variant 0; 'weighted'
        # (2/2/1, threshold 2) drops it — bte alone is below threshold.
        "ensemble_variants": f"""
            SELECT 'majority_join' AS variant, {URL_SQL} AS url,
                   {PLAIN_SQL} AS plaintext
            FROM documents
            UNION ALL
            SELECT 'majority2', {URL_SQL},
                   CASE WHEN doc_id % 101 = 0 THEN ''
                        WHEN doc_id % 5 IN (0, 4) THEN
                            'Article ' || source || ' Article ' || source ||
                            ' ' || text
                        ELSE text END
            FROM documents
            UNION ALL
            SELECT 'best', {URL_SQL},
                   CASE WHEN doc_id % 101 = 0 THEN ''
                        WHEN doc_id % 5 = 0 THEN
                            'Article ' || source || ' Article ' || source ||
                            ' ' || text || ' © 2023 ' || {HOST_SQL} ||
                            ' — All rights reserved'
                        WHEN doc_id % 5 = 4 THEN
                            'Article ' || source || ' Article ' || source ||
                            ' ' || text
                        ELSE text END
            FROM documents
            UNION ALL
            SELECT 'weighted', {URL_SQL},
                   CASE WHEN doc_id % 101 = 0 THEN ''
                        WHEN doc_id % 5 IN (0, 4) THEN
                            'Article ' || source || ' Article ' || source ||
                            ' ' || text
                        ELSE text END
            FROM documents
        """,
        "extract_block_counts": f"""
            SELECT {URL_SQL} AS url,
                   CAST(CASE WHEN doc_id % 101 = 0 THEN 0
                        WHEN doc_id % 5 IN (0, 2, 4) THEN 2
                        ELSE 1 END AS INT) AS n_blocks
            FROM documents
        """,
        # two rows per 2-block variant (h1/p or p/p), one for 1-block ones;
        # offsets: second block starts after first block + newline
        "block_spans": f"""
            WITH base AS (
                SELECT {URL_SQL} AS url, doc_id, source, text,
                       length('Article ' || source) AS hlen,
                       length(text) AS tlen,
                       length({_P1_SQL}) AS p1len,
                       length({_P2_SQL}) AS p2len
                FROM documents WHERE doc_id % 101 != 0
            )
            SELECT url, CAST(0 AS INT) AS block_idx, CAST(0 AS INT) AS start,
                   CAST(CASE WHEN doc_id % 5 IN (0, 4) THEN hlen
                             WHEN doc_id % 5 = 2 THEN p1len
                             ELSE tlen END AS INT) AS "end",
                   CASE WHEN doc_id % 5 IN (0, 4) THEN 'h1' ELSE 'p' END AS tag
            FROM base
            UNION ALL
            SELECT url, CAST(1 AS INT),
                   CAST(CASE WHEN doc_id % 5 IN (0, 4) THEN hlen + 1
                             ELSE p1len + 1 END AS INT),
                   CAST(CASE WHEN doc_id % 5 IN (0, 4) THEN hlen + 1 + tlen
                             ELSE p1len + 1 + p2len END AS INT),
                   'p'
            FROM base WHERE doc_id % 5 IN (0, 2, 4)
        """,
        "score_levenshtein": f"""
            SELECT url, {lev} AS dist
            FROM (SELECT url, {_GLEN_SQL} AS gl, {_PLEN_SQL} AS pl
                  FROM ({gold_plain}))
        """,
        "score_rouge": f"""
            SELECT url,
                   CASE WHEN gl = 0 AND pl = 0 THEN 1.0
                        WHEN gl = 0 THEN 0.0
                        ELSE round(CAST(gl AS DOUBLE) / pl, 6) END AS prec,
                   1.0 AS rec,
                   CASE WHEN gl = 0 AND pl = 0 THEN 1.0
                        WHEN gl = 0 THEN 0.0
                        ELSE round(2.0 * (CAST(gl AS DOUBLE) / pl) /
                                   (1.0 + CAST(gl AS DOUBLE) / pl), 6)
                   END AS f1
            FROM (SELECT url, {_GLEN_SQL} AS gl, {_PLEN_SQL} AS pl
                  FROM ({gold_plain}))
        """,
        "agg_scores": f"""
            WITH s AS (
                SELECT source AS dataset, {lev} AS dist
                FROM (SELECT source, {_GLEN_SQL} AS gl, {_PLEN_SQL} AS pl
                      FROM (SELECT source, {GOLD_SQL} AS g, {PLAIN_SQL} AS p
                            FROM documents))
            ),
            per_ds AS (
                -- means via EXACT integer micro-unit sums (the
                -- CLAUDE.md oracle-float rule): double-sum order can
                -- flip the 6th decimal at a rounding boundary
                SELECT 'plain' AS model, dataset,
                       round(CAST(sum(CAST(round(dist * 1000000, 0)
                                 AS BIGINT)) AS DOUBLE)
                             / (count(dist) * 1000000.0), 6) AS mean_dist,
                       round(median(dist), 6) AS median_dist
                FROM s GROUP BY dataset
            )
            SELECT * FROM per_ds
            UNION ALL
            SELECT 'plain', '_micro',
                   round(CAST(sum(CAST(round(dist * 1000000, 0)
                             AS BIGINT)) AS DOUBLE)
                         / (count(dist) * 1000000.0), 6),
                   round(median(dist), 6) FROM s
            UNION ALL
            SELECT 'plain', '_macro', round(avg(mean_dist), 6),
                   round(median(median_dist), 6) FROM per_ds
        """,
        "page_complexity": _COMPLEXITY_SQL,
        "quantiles_all": f"""
            WITH c AS ({_COMPLEXITY_SQL})
            SELECT 'complexity' AS src, dataset AS grp,
                   round(quantile_cont(complexity, 0.25), 6) AS q25,
                   round(quantile_cont(complexity, 0.33), 6) AS q33,
                   round(quantile_cont(complexity, 0.50), 6) AS q50,
                   round(quantile_cont(complexity, 0.66), 6) AS q66,
                   round(quantile_cont(complexity, 0.75), 6) AS q75
            FROM c GROUP BY dataset
            UNION ALL
            SELECT 'complexity', '_all',
                   round(quantile_cont(complexity, 0.25), 6),
                   round(quantile_cont(complexity, 0.33), 6),
                   round(quantile_cont(complexity, 0.50), 6),
                   round(quantile_cont(complexity, 0.66), 6),
                   round(quantile_cont(complexity, 0.75), 6)
            FROM c
            UNION ALL
            SELECT 'lineitem_price', l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 6),
                   round(quantile_cont(l_extendedprice, 0.33), 6),
                   round(quantile_cont(l_extendedprice, 0.50), 6),
                   round(quantile_cont(l_extendedprice, 0.66), 6),
                   round(quantile_cont(l_extendedprice, 0.75), 6)
            FROM lineitem GROUP BY l_returnflag
        """,
        "neardup_clusters": neardup_clusters_sql,
        "complexity_band_counts": f"""
            WITH c AS ({_COMPLEXITY_SQL})
            SELECT dataset,
                   CAST(sum(CASE WHEN complexity < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN complexity >= 0.1 AND complexity < 0.3
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
                   CAST(sum(CASE WHEN complexity >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                   count(*) AS n_pages
            FROM c GROUP BY dataset
        """,
        "join_agg": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "semi_anti_join": """
            SELECT 'semi' AS op, c_mktsegment AS k,
                   CAST(count(*) AS BIGINT) AS v
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
            UNION ALL
            SELECT 'anti', c_name, CAST(c_custkey AS BIGINT)
            FROM customer
            WHERE c_custkey NOT IN
                (SELECT o_custkey FROM orders WHERE o_totalprice > 350000)
        """,
        "corpus_pipeline": _corpus_pipeline_sql(),
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   round(sum(l_quantity), 4) AS sum_qty,
                   -- cent-exact mean, lockstep with the Spark side
                   round(CAST(sum(CAST(round(l_extendedprice * 100, 0)
                             AS BIGINT)) AS DOUBLE)
                         / (count(*) * 100.0), 6) AS avg_price,
                   round(median(l_discount), 6) AS median_disc
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,

        "topk_window": """
            SELECT s_nationkey, s_suppkey, CAST(rnk AS INT) AS rnk FROM (
                SELECT s_nationkey, s_suppkey,
                       row_number() OVER (PARTITION BY s_nationkey
                           ORDER BY s_acctbal DESC, s_suppkey ASC) AS rnk
                FROM supplier
            ) WHERE rnk <= 3
        """,
        "conditional_agg": """
            SELECT event_type,
                   CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                   CAST(sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY event_type
        """,

        "stream_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "stream_extract": (
            f"SELECT {URL_SQL} AS url, {GOLD_SQL} AS plaintext FROM documents"
        ),
        "stream_dedup": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY event_type
        """,
        "snapshot_time_travel": """
            SELECT 1 AS version,
                   count(*) FILTER (doc_id % 2 = 0) AS n_rows,
                   CAST(sum(doc_id) FILTER (doc_id % 2 = 0) AS BIGINT)
                       AS sum_doc_id
            FROM documents
            UNION ALL
            SELECT 2, count(*), CAST(sum(doc_id) AS BIGINT) FROM documents
        """,
        "lineage_totals": """
            SELECT 'main_content' AS model,
                   count(*) AS docs_in,
                   CAST(sum(CASE WHEN doc_id % 101 != 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_out,
                   CAST(0 AS BIGINT) AS errors,
                   CAST(sum(CASE WHEN doc_id % 101 = 0 THEN 0
                            WHEN doc_id % 5 IN (0, 2, 4) THEN 2
                            ELSE 1 END) AS BIGINT) AS block_count
            FROM documents
        """,
        "band_filtered_scores": f"""
            WITH c AS ({_COMPLEXITY_SQL}),
            s AS (
                SELECT url, source AS dataset, {_lev_from_counts()} AS dist
                FROM (SELECT {URL_SQL} AS url, source,
                             {_GLEN_SQL} AS gl, {_PLEN_SQL} AS pl
                      FROM (SELECT doc_id, source, {GOLD_SQL} AS g,
                                   {PLAIN_SQL} AS p
                            FROM documents))
            )
            SELECT s.dataset, count(*) AS n_pages,
                   round(CAST(sum(CAST(round(s.dist * 1000000, 0) AS BIGINT))
                              AS DOUBLE) / (count(*) * 1000000.0), 6)
                       AS mean_dist
            FROM s JOIN c ON s.url = c.url
            WHERE c.complexity BETWEEN 0.05 AND 0.2
            GROUP BY s.dataset
        """,
        "sessionize": """
            WITH gapped AS (
                -- MICROSECOND epochs: lockstep with both the stream
                -- kernel (ts_us compare) and batch_sessionize
                -- (unix_micros) — second truncation diverges on gaps
                -- within 1 s of the threshold
                SELECT user_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER win
                                 > 1800000000
                            THEN 1 ELSE 0 END AS gap
                FROM events
                WINDOW win AS (PARTITION BY user_id ORDER BY ts)
            ),
            sessions AS (
                SELECT user_id, ts, value,
                       sum(gap) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM gapped
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM sessions GROUP BY user_id, session_id
        """,
        "json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "dedup_exact": f"""
            WITH exact_corpus AS (
                {_MUTANTS_SQL}
                UNION ALL
                SELECT doc_id + 2000000, text FROM documents
            ),
            exact_arm AS (
                SELECT 'exact' AS op, md5(text) AS key,
                       CAST(count(*) AS BIGINT) AS n_a,
                       CAST(min(doc_id) AS BIGINT) AS n_b,
                       '' AS payload
                FROM exact_corpus GROUP BY md5(text)
                HAVING count(*) > 1
            ),
            substr_arm AS (
                SELECT 'substr' AS op, CAST(doc_id AS VARCHAR) AS key,
                       CAST(n_dup_windows AS BIGINT) AS n_a,
                       CAST(n_tokens_removed AS BIGINT) AS n_b,
                       kept_text AS payload
                FROM ({substr_dedup_sql(_QUOTES_SQL)})
            )
            SELECT * FROM exact_arm UNION ALL SELECT * FROM substr_arm
        """,
        "minhash_signatures": f"""
            {shingles_docs_only}
            SELECT doc_id, {minhash_cols} FROM shingles GROUP BY doc_id
        """,
        "minhash_lsh_pairs": lsh_pairs_sql,
        # Folded sig + pair arms (r8).  Exact pair mirror: pigeonhole
        # chunk blocking is lossless at hamming <= 3 with 4 chunks, so
        # Spark's blocked join equals the all-pairs truth bit-for-bit.
        "simhash": f"""
            WITH sig AS ({_simhash_sig_sql(
                "SELECT doc_id, text FROM documents "
                "UNION ALL SELECT doc_id + 2000000, text "
                "FROM documents WHERE doc_id % 10 = 0"
            )})
            SELECT 'sig' AS op, doc_id AS id_a, CAST(0 AS BIGINT) AS id_b,
                   sig AS val
            FROM sig WHERE doc_id < 2000000
            UNION ALL
            SELECT 'pair', a.doc_id, b.doc_id,
                   CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT)
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            -- blank docs (sig=0) are excluded from SimHash blocking on the
            -- Spark side (degenerate hot bucket); mirror that here
            WHERE bit_count(xor(a.sig, b.sig)) <= 3
              AND a.sig != 0 AND b.sig != 0
        """,
        "host_graph": _host_graph_sql(),
        "ngram_jaccard_pairs": ngram_pairs_sql,
        "ann_cosine_topk": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       -- zero-norm guard in lockstep with the Spark
                       -- cosine (NaN would sort above real neighbors)
                       CASE WHEN
                         sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])))
                         != 0
                       THEN
                       list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[])) /
                       (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                              CAST(q.embedding AS DOUBLE[]))) *
                        sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[]))))
                       ELSE 0.0 END AS cos
                FROM embeddings q, embeddings c
                WHERE q.vec_id % 100 = 0 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, round(cos, 6) AS cos,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "ann_lsh_recall": """
            SELECT CAST(1 AS BOOLEAN) AS pass,
                   5 * (SELECT count(*) FROM embeddings
                        WHERE vec_id % 100 = 0) AS n_exact
        """,
        "ann_ivf_recall": """
            SELECT CAST(1 AS BOOLEAN) AS pass,
                   5 * (SELECT count(*) FROM embeddings
                        WHERE vec_id % 100 = 0) AS n_exact
        """,
        # exact all-pairs mirror: the only cos >= 0.999 pairs are the
        # planted identical copies (max non-planted cos ~ 0.6 at all sfs),
        # and identical vectors share every LSH bucket, so the LSH-candidate
        # Spark path provably finds the full exact answer here.
        "embedding_neardup": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                         FROM embeddings),
            corpus AS (
                SELECT vec_id, v FROM emb
                UNION ALL
                SELECT vec_id + 10000, v FROM emb WHERE vec_id % 10 = 0
            ),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       -- zero-norm guard in lockstep with the Spark
                       -- cosine (NaN would sort above real neighbors)
                       CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                                 sqrt(list_dot_product(b.v, b.v)) != 0
                            THEN list_dot_product(a.v, b.v) /
                                 (sqrt(list_dot_product(a.v, a.v)) *
                                  sqrt(list_dot_product(b.v, b.v)))
                            ELSE 0.0 END AS cos
                FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(cos, 6) AS cos
            FROM pairs WHERE cos >= 0.999
        """,
        "media_features": """
            -- Closed-form mirror of multimodal.synthetic_media_params:
            -- stripe BMP channel means, square-wave WAV stats, and
            -- drifting-stripe AVI frame/motion sums are exact integer
            -- arithmetic (uint8/PCM16 sums stay integral in float64),
            -- so the real decoders are value-checked.
            WITH p AS (
                SELECT i,
                       CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                       8 + i % 9 AS w, 6 + i % 7 AS h,
                       (37*i) % 256 AS r1, (59*i) % 256 AS g1,
                       (83*i) % 256 AS b1,
                       (101*i) % 256 AS r2, (131*i) % 256 AS g2,
                       (151*i) % 256 AS b2,
                       8000 + 1000 * (i % 5) AS rate,
                       1 + i % 4 AS hp,
                       1000 + 37*i AS amp,
                       2 * (1 + i % 4) * (20 + i % 10) AS n,
                       6 + i % 7 AS vw, 4 + i % 5 AS vh,
                       2 + i % 4 AS nf
                FROM generate_series(0, 63) t(i)
            ),
            d AS (
                SELECT *,
                       CAST(floor((w + 1) / 2) AS BIGINT) AS ne,
                       w - CAST(floor((w + 1) / 2) AS BIGINT) AS nodd,
                       CAST(floor((vw + 1) / 2) AS BIGINT) AS vne,
                       vw - CAST(floor((vw + 1) / 2) AS BIGINT) AS vno,
                       CAST(floor((3*vw + 3) / 4) AS BIGINT) * 4 AS vrow
                FROM p
            ),
            vstats AS (
                -- per-video-row frame sums: stripe frame f has
                -- even-column color ((37i+11f)%256, (59i+13f)%256,
                -- (83i+17f)%256) and odd-column ((101i+19f)%256,
                -- (131i+23f)%256, (151i+29f)%256); vtotal pools all
                -- frames, vpair* the consecutive-frame |delta| sums
                -- (motion).  generate_series rejects correlated bounds,
                -- so f spans the fixed max (nf <= 5) and CASE masks the
                -- per-row frame count.
                SELECT i,
                       sum(CASE WHEN f < nf THEN vh * (
                            vne*((37*i+11*f)%256 + (59*i+13*f)%256
                                 + (83*i+17*f)%256)
                          + vno*((101*i+19*f)%256 + (131*i+23*f)%256
                                 + (151*i+29*f)%256)) ELSE 0 END)
                           AS vtotal,
                       sum(CASE WHEN f < nf - 1 THEN vh * (
                            vne*(abs((37*i+11*(f+1))%256 - (37*i+11*f)%256)
                               + abs((59*i+13*(f+1))%256 - (59*i+13*f)%256)
                               + abs((83*i+17*(f+1))%256 - (83*i+17*f)%256))
                          + vno*(abs((101*i+19*(f+1))%256 - (101*i+19*f)%256)
                               + abs((131*i+23*(f+1))%256 - (131*i+23*f)%256)
                               + abs((151*i+29*(f+1))%256 - (151*i+29*f)%256)))
                           ELSE 0 END) AS vpairsum,
                       max(CASE WHEN f < nf - 1 THEN vh * (
                            vne*(abs((37*i+11*(f+1))%256 - (37*i+11*f)%256)
                               + abs((59*i+13*(f+1))%256 - (59*i+13*f)%256)
                               + abs((83*i+17*(f+1))%256 - (83*i+17*f)%256))
                          + vno*(abs((101*i+19*(f+1))%256 - (101*i+19*f)%256)
                               + abs((131*i+23*(f+1))%256 - (131*i+23*f)%256)
                               + abs((151*i+29*(f+1))%256 - (151*i+29*f)%256)))
                           END) AS vpairmax
                FROM d CROSS JOIN generate_series(0, 4) g(f)
                GROUP BY i
            ),
            v AS (SELECT d.*, vtotal, vpairsum, vpairmax
                  FROM d JOIN vstats USING (i))
            SELECT CAST(i AS BIGINT) AS media_id, kind,
                   CAST(CASE kind
                        WHEN 'image' THEN 54 +
                             h * (CAST(floor((3*w + 3) / 4) AS BIGINT) * 4)
                        WHEN 'audio' THEN 44 + 2 * n
                        ELSE 224 + nf * (8 + vrow * vh) END
                        AS BIGINT) AS n_bytes,
                   round(CASE kind WHEN 'image' THEN CAST(w AS DOUBLE)
                         WHEN 'audio' THEN CAST(rate AS DOUBLE)
                         ELSE CAST(vw AS DOUBLE) END, 6) AS f1,
                   round(CASE kind WHEN 'image' THEN CAST(h AS DOUBLE)
                         WHEN 'audio' THEN CAST(n AS DOUBLE)
                         ELSE CAST(vh AS DOUBLE) END, 6) AS f2,
                   round(CASE kind
                         WHEN 'image' THEN (ne*r1 + nodd*r2) / CAST(w AS DOUBLE)
                         WHEN 'audio' THEN 0.0
                         ELSE CAST(nf AS DOUBLE) END, 6) AS f3,
                   round(CASE kind
                         WHEN 'image' THEN (ne*g1 + nodd*g2) / CAST(w AS DOUBLE)
                         WHEN 'audio' THEN amp / 32768.0
                         ELSE CAST(vtotal AS DOUBLE)
                              / (nf * (vh * vw * 3.0)) END, 6) AS f4,
                   round(CASE kind
                         WHEN 'image' THEN (ne*b1 + nodd*b2) / CAST(w AS DOUBLE)
                         WHEN 'audio' THEN (CAST(n AS DOUBLE) / hp - 1)
                                           / (n - 1)
                         ELSE CAST(vpairsum AS DOUBLE)
                              / ((nf - 1) * (vh * vw * 3.0)) END, 6) AS f5,
                   round(CASE kind
                         WHEN 'image' THEN
                             ((ne*r1 + nodd*r2) / CAST(w AS DOUBLE)
                              + (ne*g1 + nodd*g2) / CAST(w AS DOUBLE)
                              + (ne*b1 + nodd*b2) / CAST(w AS DOUBLE)) / 3.0
                         WHEN 'audio' THEN amp / 32768.0
                         ELSE CAST(vpairmax AS DOUBLE)
                              / (vh * vw * 3.0) END, 6) AS f6
            FROM v
        """,
        "language_id": f"""
            SELECT doc_id,
                   CASE WHEN greatest({hits['de']}, {hits['en']},
                                      {hits['es']}, {hits['fr']}) = 0
                        THEN 'und'
                        ELSE (CASE
                            WHEN {hits['fr']} >= {hits['es']}
                             AND {hits['fr']} >= {hits['en']}
                             AND {hits['fr']} >= {hits['de']} THEN 'fr'
                            WHEN {hits['es']} >= {hits['en']}
                             AND {hits['es']} >= {hits['de']} THEN 'es'
                            WHEN {hits['en']} >= {hits['de']} THEN 'en'
                            ELSE 'de' END)
                   END AS lang_pred,
                   CAST({hits['de']} AS INT) AS hits_de, CAST({hits['en']} AS INT) AS hits_en,
                   CAST({hits['es']} AS INT) AS hits_es, CAST({hits['fr']} AS INT) AS hits_fr
            FROM documents
        """,
        "quality_score": _quality_with_lm_sql(quality_sql),
        "token_counts": f"""
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{{1,4}}'))
                       AS INT) AS n_bpe_tokens,
                   CAST(length(text) AS INT) AS n_text_chars,
                   {_redact_pii_sql_expr()} AS redacted,
                   nfc_normalize(
                       CASE doc_id % 3
                         WHEN 0 THEN 'e' || chr(769) || 'cole '
                                     || CAST(doc_id AS VARCHAR)
                         WHEN 1 THEN 'd' || chr(233) || 'j' || chr(224)
                                     || ' ' || CAST(doc_id AS VARCHAR)
                         ELSE 'A' || chr(778) || '-'
                                  || CAST(doc_id AS VARCHAR)
                       END
                   ) AS nfc
            FROM (
                SELECT doc_id, text,
                       CASE WHEN doc_id % 10 = 0 THEN
                           text || ' ops-' || CAST(doc_id AS VARCHAR)
                                || '@crawl.example 10.2.'
                                || CAST(doc_id % 256 AS VARCHAR)
                                || '.7 4012-8888-8888-1881 2001:db8::'
                                || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                                || ' +1 415 555 '
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE text END AS _spliced
                FROM documents)
        """,
        "repetition_stats": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 3000000,
                       array_to_string(
                           flatten(array_value(
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3],
                               string_split(text, ' ')[1:3]
                           )), ' ')
                FROM documents WHERE doc_id % 50 = 0
            ),
            base AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM corpus
            ),
            dup AS (
                SELECT doc_id,
                       round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)
                             / len(w), 6) AS dup_word_frac,
                       w
                FROM base
            ),
            bg AS (
                SELECT doc_id,
                       unnest(w[1:len(w) - 1]) || ' ' || unnest(w[2:]) AS bigram
                FROM base WHERE len(w) >= 2
            ),
            counts AS (
                SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
            ),
            top AS (
                SELECT doc_id,
                       round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                           AS top_bigram_frac
                FROM counts GROUP BY doc_id
            )
            SELECT d.doc_id, d.dup_word_frac,
                   coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
            FROM dup d LEFT JOIN top t ON t.doc_id = d.doc_id
        """,
        "fingerprints": f"""
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS word,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents
            ),
            grams AS (
                SELECT doc_id, pos,
                       md5(word || ' ' || lead(word, 1) OVER win || ' ' ||
                           lead(word, 2) OVER win) AS h
                FROM words
                WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
                QUALIFY h IS NOT NULL
            ),
            wmins AS (
                SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
                FROM grams
            )
            SELECT 'winnow' AS op, doc_id,
                   CAST(count(DISTINCT wmin) AS INT) AS k, '' AS txt
            FROM wmins GROUP BY doc_id
            UNION ALL
            SELECT 'passage', id, passage_idx,
                   CAST(n_tokens AS VARCHAR) || '|' || passage_text
            FROM ({_passages_sql_arm()})
        """,
    }
