"""The flagship extraction pipeline as declarative DataFrame plans.

Replaces the reference's (model x dataset) spawn-Pool fan-out
(/root/reference/src/extraction_benchmark/extract.py:139-157) with:

    pages --salted repartition--> map_records(decode once, run all
    extractors per page; one row per (page, model)) --> answers
    (+ lineage: a groupBy over the same rows) --> join truth
    --> score UDFs --> groupBy aggregations

One page loop: the extraction kernel (`_page_kernel`) is a per-page
function on the package's record kernel (`functions.records.map_records`).
`extract_answers`, `ensemble_extract` (a `Vote` over the answers the
kernel already holds for a page) and `extract_mixed` (each page routed
by `content_kind`, the one place routing is decided) are plans over it.
Per-partition lineage is a Catalyst aggregate over the kernel's rows,
keyed by ``spark_partition_id()``; `ensemble_answers`' vote over
preloaded answer maps is another per-page function on `map_records`.

Scale notes (100 TB / 1000 executors):
- one decode per page feeds *all* extractors (the reference re-reads and
  re-decodes per model job);
- the salted url-hash repartition defuses host/page-size skew before the
  expensive Python stage (north_rule);
- answers are written partitioned by model so downstream scoring scans
  prune;
- truth joins broadcast when small, sort-merge otherwise — left to
  Catalyst/AQE.
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import EXTRACTOR_VERSION
from ..dom import parse_html
from ..encoding import decode_html
from ..extractors import EXTRACTORS, TREE_EXTRACTORS, get_extractor
from ..extractors.density import main_content_with_blocks_from_tree
from ..extractors.ensemble import majority_vote, normalize_answer
from ..functions.records import _error_message, map_records
from ..functions.udfs import rouge_lsum_udf, token_levenshtein_udf


def repartition_salted(pages: DataFrame, num_partitions: int,
                       salt: int = 0) -> DataFrame:
    """Uniform repartition on salted url hash: breaks host clustering and
    spreads giant-page tails (north_rule skew handling)."""
    return pages.repartition(
        num_partitions, F.xxhash64(F.col("url"), F.lit(salt))
    )


class Vote(NamedTuple):
    """An ensemble as one more model of `extract_answers`: the
    reference's n-gram majority vote (`extractors.ensemble.majority_vote`)
    over the ``members``' answers on the same page, with the page's
    ``plain`` render as the token universe.  The vote threshold is
    ``int(len(members) * vote_fraction)``."""

    name: str
    members: tuple[str, ...]
    weights: dict[str, int] | None = None
    vote_fraction: float = 0.66


def _model_name(model: str | Vote) -> str:
    return model.name if isinstance(model, Vote) else model


class _Page:
    """One page inside the kernel and the answers computed on it so far,
    so each model runs at most once per page whether its answer is
    emitted or only voted on.  An HTML page holds its decoded markup and
    its tree (or the message of the exception decoding or parsing it
    raised); any other page holds the one answer every model gives it
    (`_other_answer`)."""

    __slots__ = ("html", "root", "error", "other", "answers")

    def __init__(self, blob: bytes | None, content_kind: str,
                 needs_tree: bool):
        self.html = self.root = self.error = self.other = None
        self.answers: dict[str, tuple[str | None, int, str | None]] = {}
        if content_kind != "html":
            self.other = _other_answer(content_kind, blob)
            return
        try:
            self.html = decode_html(blob)
            if needs_tree:
                self.root = parse_html(self.html)
        except Exception as e:  # noqa: BLE001 — per-page isolation
            self.error = _error_message(e)


def _answer(page: _Page, model: str | Vote
            ) -> tuple[str | None, int, str | None]:
    """(plaintext, block_count, error) of one model on one page,
    memoized on the page."""
    name = _model_name(model)
    done = page.answers.get(name)
    if done is None:
        try:
            done = _compute(page, model)
        except Exception as e:  # noqa: BLE001 — per-model isolation
            done = None, 0, _error_message(e)
        page.answers[name] = done
    return done


def _compute(page: _Page, model: str | Vote
             ) -> tuple[str | None, int, str | None]:
    if page.other is not None:
        return page.other
    if isinstance(model, Vote):
        full_text, _, error = _answer(page, "plain")
        if error is not None:
            return None, 0, error
        text = majority_vote(
            full_text,
            # a failed member votes with an empty answer
            {m: normalize_answer(_answer(page, m)[0] or "")
             for m in model.members},
            weights=model.weights,
            vote_threshold=int(len(model.members) * model.vote_fraction),
        )
        return text, 0, None
    tree_fn = TREE_EXTRACTORS.get(model)
    src = page.root if tree_fn is not None else page.html
    if src is None:  # the page failed to decode or parse: one message
        return None, 0, page.error
    if model == "main_content":
        text, spans = main_content_with_blocks_from_tree(src)
        return text, len(spans), None
    text = (tree_fn(src) if tree_fn is not None
            else EXTRACTORS[model](src)) or ""
    return text, (text.count("\n") + 1 if text else 0), None


def _other_answer(content_kind: str, blob: bytes | None
                  ) -> tuple[str | None, int, str | None]:
    """The one answer of a non-HTML page, shared by every model: a PDF
    keeps its LINE structure (`pdf_structured_text`) as the HTML
    extractors keep paragraph newlines; ``text`` passes through the same
    byte decoder (gzip/BOM/charset) unparsed; ``binary`` is a counted
    skip (null plaintext, no error)."""
    if content_kind == "binary":
        return None, 0, None
    raw = blob if blob is not None else b""
    try:
        if content_kind == "pdf":
            from ..extractors.pdf_text import pdf_structured_text

            text = pdf_structured_text(raw)
        else:
            text = decode_html(raw)
    except Exception as e:  # noqa: BLE001 — per-page isolation
        return None, 0, _error_message(e)
    return text, (text.count("\n") + 1 if text else 0), None


def _page_kernel(models: list[str | Vote]):
    """The one per-page extraction kernel: ``extract(url, blob,
    content_kind)``, run on `map_records` over ``(url, html,
    content_kind)`` rows.  Each page is decoded and parsed once and each
    model runs on it at most once; ``content_kind`` (see `content_kind`)
    routes it: ``html`` runs the models, ``pdf``, ``text`` and ``binary``
    give every model the page's one `_other_answer`.  Yields one
    `_extract_pages` row per model: the answer, the page's byte count and
    that model's wall time on the page, which lineage sums."""
    specs: dict[str, str | Vote] = {}
    for model in models:
        specs.setdefault(_model_name(model), model)
    members = set()
    for model in specs.values():
        members.update((*model.members, "plain")
                       if isinstance(model, Vote) else (model,))
    for member in members:  # fail at plan-build time, not inside tasks
        get_extractor(member)
    named = list(specs.items())
    needs_tree = any(m in TREE_EXTRACTORS for m in members)

    def extract(url, blob, content_kind):
        bytes_in = len(blob) if blob is not None else 0
        page = _Page(blob, content_kind, needs_tree)
        for name, model in named:
            started = time.perf_counter_ns()
            text, blocks, error = _answer(page, model)
            yield (url, name, content_kind, text, blocks, error, bytes_in,
                   time.perf_counter_ns() - started)

    return extract


def _extract_pages(pages: DataFrame, models: list[str | Vote],
                   kinds: Column) -> DataFrame:
    """``pages`` through `_page_kernel`, each page routed by the
    ``kinds`` column: one row per (page, model).  ``error`` is the
    failure's ``"<Exception>: <message>"`` and then ``plaintext`` is
    null; ``url`` nullability follows the input."""
    schema = T.StructType(
        [
            T.StructField("url", T.StringType(),
                          pages.schema["url"].nullable),
            T.StructField("model", T.StringType(), False),
            T.StructField("content_kind", T.StringType(), False),
            T.StructField("plaintext", T.StringType(), True),
            T.StructField("block_count", T.IntegerType(), False),
            T.StructField("error", T.StringType(), True),
            T.StructField("bytes_in", T.LongType(), False),
            T.StructField("wall_ns", T.LongType(), False),
        ]
    )
    return map_records(
        pages.select("url", "html", kinds.alias("content_kind")),
        _page_kernel(models), schema,
    )


def extract_answers(
    pages: DataFrame,
    models: list[str | Vote] | None = None,
    snapshot_id: int = 0,
    with_lineage: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """pages -> answers table (url, model, plaintext, block_count, error).

    Decodes each page once and runs every requested model on it inside
    the one extraction kernel (`_page_kernel`).  Every page is read as
    HTML (a ``%PDF-`` in its first KB does not route it; that is
    `extract_mixed`'s job).  A `Vote` among ``models`` is an ensemble
    over the same page's answers.  A failed (page, model) reads
    ``plaintext=''``, ``error=True``.

    With ``with_lineage=True`` returns ``(answers, lineage)``.  The
    kernel's rows, tagged with ``spark_partition_id()`` right above the
    kernel, are PERSISTED so consuming answers and then lineage runs the
    expensive kernel ONCE (and the lineage wall times describe the same
    execution the answers came from).  Lineage is a groupBy over those
    rows, one row per (partition, model) that saw a page: ``snapshot_id,
    partition_id, model, extractor_version, docs_in, docs_out, errors,
    block_count, bytes_in, wall_ms`` (north_rule).  The cache is
    released by Spark's context cleaner once both frames are garbage
    collected; callers wanting explicit control can ``unpersist`` via
    either frame's lineage.
    """
    rows = _extract_pages(pages, models or list(EXTRACTORS), F.lit("html"))
    if with_lineage:
        rows = rows.withColumn("partition_id", F.spark_partition_id()) \
            .persist()
    answers = rows.select(
        "url", "model",
        F.coalesce("plaintext", F.lit("")).alias("plaintext"),
        "block_count",
        F.col("error").isNotNull().alias("error"),
    )
    if not with_lineage:
        return answers
    lineage = rows.groupBy("partition_id", "model").agg(
        F.count("*").alias("docs_in"),
        F.count_if(F.col("plaintext") != "").alias("docs_out"),
        F.count("error").alias("errors"),
        F.sum("block_count").alias("block_count"),
        F.sum("bytes_in").alias("bytes_in"),
        F.expr("sum(wall_ns) div 1000000").alias("wall_ms"),
    ).select(
        F.lit(snapshot_id).cast("long").alias("snapshot_id"),
        "partition_id", "model",
        F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
        "docs_in", "docs_out", "errors", "block_count", "bytes_in",
        "wall_ms",
    )
    return answers, lineage


# Reference ensemble variants (extractors.py:174-209): 'majority' votes all
# models at weight 1; 'best' restricts to a curated subset; 'weighted'
# doubles the strongest models.  Same kernel, different (models, weights,
# threshold) — with 3 member families the weighted variant uses a
# threshold of 2 so the double-weighted strong models pass alone while
# bte needs support (the reference's 9-model/threshold-5 shape scaled
# down).
ENSEMBLE_VARIANTS: dict[str, dict] = {
    "ensemble_majority": {"weights": None},
    "ensemble_best": {
        "models": ["main_content", "readability", "bte"],
        "weights": None,
    },
    "ensemble_weighted": {
        "models": ["main_content", "readability", "bte"],
        "weights": {"main_content": 2, "readability": 2, "bte": 1},
        "vote_fraction": 0.67,
    },
}


def ensemble_variant_answers(
    variant: str,
    answers: DataFrame,
    all_models: list[str],
) -> DataFrame:
    """One of the three reference ensemble variants over precomputed
    answers (majority uses every model; best/weighted use the curated
    subset with the reference's 2/1 weighting scheme)."""
    spec = ENSEMBLE_VARIANTS[variant]
    models = spec.get("models") or all_models
    return ensemble_answers(
        answers, models,
        model_name=variant, weights=spec.get("weights"),
        vote_fraction=spec.get("vote_fraction", 0.66),
    )


def ensemble_extract(
    pages: DataFrame,
    input_models: list[str],
    weights: dict[str, int] | None = None,
    vote_fraction: float = 0.66,
) -> DataFrame:
    """Fused extract+vote: when the ensemble inputs are this engine's own
    extractors (not preloaded third-party answers — that is the S11 /
    ``ensemble_answers`` case), the collect_list + join plan collapses
    into the extraction kernel's one pass: the vote is one more model
    (`Vote`) over the answers the kernel already holds for the page —
    zero shuffles, embarrassingly parallel.  Output is equal to
    ``ensemble_answers`` over ``extract_answers(pages, input_models)``
    (pinned by pytest and the driver oracle)."""
    vote = Vote("ensemble", tuple(input_models), weights, vote_fraction)
    return extract_answers(pages, [vote]).select("url", "plaintext")


def ensemble_answers(
    answers: DataFrame,
    input_models: list[str],
    model_name: str = "ensemble_majority",
    weights: dict[str, int] | None = None,
    vote_fraction: float = 0.66,
    full_text_model: str = "plain",
    urls: DataFrame | None = None,
) -> DataFrame:
    """Majority-vote ensemble as a grouped plan: per-page answer map via
    ``map_from_entries(collect_list(...))`` (replaces the reference's
    in-memory global answer cache, ensemble.py:24-37), voted page by page
    in the record kernel (`map_records`).

    The vote needs the page's full plain-text render as its token
    universe; it is taken from the ``full_text_model`` row of the SAME
    answers table — produced by the extraction pass that made the
    answers — so the ensemble's one shuffle carries rendered text only,
    never raw html bytes (VERDICT r2, What's wrong #3: re-shipping and
    re-parsing the page payload through the vote join is dead weight at
    100 TB).  For preloaded third-party answers (S11) without a plain
    render, union one in: ``extract_answers(pages, ["plain"])``.
    ``full_text_model`` rows are used pre-normalization, exactly as the
    in-kernel ``extract_plain`` call used to be; when it is not among
    ``input_models`` it contributes no vote.

    Output rows come from the answers table's url set; extraction emits
    a row per (page, model), so in-engine callers get one row per page.
    For preloaded answers whose url coverage may be PARTIAL, pass the
    page universe as ``urls`` (a url-only frame — still no page payload
    in any shuffle): pages absent from the answers table then emit ''
    instead of silently vanishing."""
    vote_threshold = int(len(input_models) * vote_fraction)
    wanted = sorted(set(input_models) | {full_text_model})
    # Dedup (model, plaintext) entries INSIDE the aggregate — preloaded
    # third-party answer sets can legally repeat a (url, model) key, and
    # map_from_entries throws DUPLICATED_MAP_KEY on the whole job
    # otherwise.  Sorting then keeping each model's first entry makes
    # the winner deterministic (min plaintext; the reference's in-memory
    # cache was last-write-wins, i.e. load-order-dependent) while the
    # plan keeps its ONE groupBy(url) shuffle.  `entries` gets its own
    # projection so CollapseProject does not inline the sort into both
    # consumers (CLAUDE.md); the filter lambda's 2nd arg is the ELEMENT
    # INDEX (0-based; element_at is 1-based, so element_at(e, i) is the
    # previous element).
    grouped = (
        answers.filter(F.col("model").isin(wanted))
        .groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("model", "plaintext"))
            ).alias("entries")
        )
    )
    e = F.col("entries")
    first_per_model = F.filter(
        e,
        lambda x, i: (i == F.lit(0))
        | (x["model"] != F.element_at(e, i)["model"]),
    )
    answer_maps = grouped.select(
        "url", F.map_from_entries(first_per_model).alias("answers")
    )
    if urls is not None:
        answer_maps = urls.select("url").distinct().join(
            answer_maps, "url", "left"
        )

    def vote(url: str, amap) -> list[tuple[str, str]]:
        try:
            answers = dict(amap or ())  # an Arrow map: (key, value) pairs
            full_text = answers.get(full_text_model) or ""
            normalized = {
                m: normalize_answer(answers.get(m) or "")
                for m in input_models
                if m in answers
            }
            text = majority_vote(
                full_text, normalized,
                weights=weights, vote_threshold=vote_threshold,
            )
        except Exception:
            text = ""
        return [(url, text)]

    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("plaintext", T.StringType(), False),
        ]
    )
    voted = map_records(answer_maps, vote, out_schema)
    return voted.select(
        "url",
        F.lit(model_name).alias("model"),
        "plaintext",
        F.lit(0).alias("block_count"),
        F.lit(False).alias("error"),
    )


def score_answers(answers: DataFrame, truth: DataFrame) -> DataFrame:
    """answers x truth (inner on url, reference eval.py:84-91) -> per-page
    scores: token-Levenshtein ratio + ROUGE-LSum struct."""
    pred = answers.select("url", "model", F.col("plaintext").alias("pred"))
    target = truth.select(
        "url", "dataset", F.col("plaintext").alias("target")
    )
    joined = pred.join(target, "url", "inner")
    rouge = rouge_lsum_udf(F.col("target"), F.col("pred"))
    return joined.select(
        "url",
        "model",
        "dataset",
        token_levenshtein_udf(F.col("target"), F.col("pred")).alias("dist"),
        rouge["prec"].alias("prec"),
        rouge["rec"].alias("rec"),
        rouge["f1"].alias("f1"),
    )


def aggregate_scores(scores: DataFrame,
                     score_cols: tuple[str, ...] = ("dist", "prec", "rec", "f1"),
                     unit_scale: int | None = None) -> DataFrame:
    """Mean + median per (model, dataset) plus the reference's `_micro`
    (all pages pooled) and `_macro` (mean of per-dataset means / median of
    per-dataset medians) pseudo-datasets (eval.py:255-274).

    ``unit_scale`` (e.g. 10**6 for 6-decimal-rounded inputs) switches the
    page-level means to EXACT integer unit sums: a double sum's value
    depends on partition order, so a mean landing near a rounding
    boundary can flip its last decimal between runs and engines — the
    CLAUDE.md oracle-float rule.  Medians are exact selections either
    way.  Macro rollups then average the 6-rounded per-dataset means
    (tiny, fixed cardinality)."""
    if unit_scale:
        # denominator counts non-NULL scores (like F.mean) so a NULL
        # row cannot silently deflate the mean; mirrored in the oracle
        # SQL as count(col).
        mean_aggs = [
            (
                F.sum(F.round(F.col(c) * unit_scale, 0).cast("long"))
                / (F.count(F.col(c)) * F.lit(float(unit_scale)))
            ).alias(f"mean_{c}")
            for c in score_cols
        ]
    else:
        mean_aggs = [F.mean(c).alias(f"mean_{c}") for c in score_cols]
    median_aggs = [F.median(c).alias(f"median_{c}") for c in score_cols]

    # per_ds is tiny (models x datasets) but its lineage is the whole
    # extract+score pipeline — cache it so the macro rollup (and the final
    # union) does not recompute upstream.  Callers aggregating more than
    # once should persist `scores` themselves.
    per_ds = scores.groupBy("model", "dataset").agg(
        *mean_aggs, *median_aggs
    ).cache()
    micro = scores.groupBy("model").agg(*mean_aggs, *median_aggs).select(
        "model", F.lit("_micro").alias("dataset"),
        *[f"mean_{c}" for c in score_cols],
        *[f"median_{c}" for c in score_cols],
    )
    macro_mean = (
        (lambda c: F.mean(F.round(F.col(f"mean_{c}"), 6)))
        if unit_scale
        else (lambda c: F.mean(F.col(f"mean_{c}")))
    )
    macro = per_ds.groupBy("model").agg(
        *[macro_mean(c).alias(f"mean_{c}") for c in score_cols],
        *[F.median(f"median_{c}").alias(f"median_{c}") for c in score_cols],
    ).select(
        "model", F.lit("_macro").alias("dataset"),
        *[f"mean_{c}" for c in score_cols],
        *[f"median_{c}" for c in score_cols],
    )
    ordered = ["model", "dataset"] + [f"mean_{c}" for c in score_cols] + [
        f"median_{c}" for c in score_cols
    ]
    return (
        per_ds.select(*ordered)
        .unionByName(micro.select(*ordered))
        .unionByName(macro.select(*ordered))
    )


MIXED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("plaintext", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


# explicit non-text content types routed to kind="binary" (plaintext
# null, NOT an error): a real crawl's images/media/archives must be
# counted and skipped, never fed to a text parser.  Conservative by
# design — anything not on this list still defaults to the HTML kernel
# (mislabeled text is common; mislabeled penguins are not).
_BINARY_CTYPE_PREFIXES = (
    "image/", "audio/", "video/", "font/",
    "application/octet-stream", "application/zip",
    "application/gzip", "application/x-gzip",
)


def content_kind(html: Column, content_type: Column) -> Column:
    """The routing of a crawled page, the only place it is decided:
    ``pdf`` when the HTTP content type names ``application/pdf`` or the
    ``%PDF-`` magic sits anywhere in the first 1024 bytes (the PDF spec
    allows that much junk before the header; `PdfDocument.from_bytes`
    trims the same prefix), so mislabeled payloads still route; ``text``
    for ``text/plain``; ``binary`` for `_BINARY_CTYPE_PREFIXES`;
    ``html`` otherwise (a null content type included)."""
    ct = F.lower(F.coalesce(content_type, F.lit("")))
    # a null html makes the sniff null, which F.when reads as false
    magic = F.contains(F.substring(html, 1, 1024), F.lit(bytearray(b"%PDF-")))
    binary = F.lit(False)
    for prefix in _BINARY_CTYPE_PREFIXES:
        binary = binary | ct.startswith(prefix)
    return (
        F.when(ct.contains("application/pdf") | magic, "pdf")
        .when(ct.startswith("text/plain"), "text")
        .when(binary, "binary")
        .otherwise("html")
    )


def extract_mixed(pages: DataFrame,
                  html_model: str = "main_content") -> DataFrame:
    """Mixed-corpus dispatcher (r7): (url, kind, plaintext, error) for a
    crawl that is not all HTML (e.g. straight off
    ``sources/warc.read_warc``).  Each page is routed by `content_kind`
    (without a ``content_type`` column only the magic sniff routes)
    through the one extraction kernel: ``html`` through ``html_model``,
    ``pdf`` through the from-scratch PDF parser with LINE structure kept
    (downstream quality/repetition stats are paragraph-sensitive),
    ``text`` straight through the byte decoder, ``binary`` to a counted
    skip (plaintext and error null).  A failed page reads plaintext null
    and error ``"<Exception>: <message>"``.  Single-pass matters at
    scale: a filter-split formulation re-evaluates the upstream lineage
    (the whole WARC ingest kernel) once per branch; here the scan and
    any upstream Python stage run exactly once and the plan stays
    shuffle-free."""
    ctype = (F.col("content_type") if "content_type" in pages.columns
             else F.lit(None).cast("string"))
    return _extract_pages(
        pages, [html_model], content_kind(F.col("html"), ctype)
    ).select("url", F.col("content_kind").alias("kind"), "plaintext", "error")
