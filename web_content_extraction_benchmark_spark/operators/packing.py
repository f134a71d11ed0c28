"""Token-aware sequence packing: assign documents to fixed-capacity
training sequences (the "corpus packing" step that turns a deduped,
filtered corpus into LLM pretraining batches).

Semantics: within a packing shard, documents are processed in ascending
id order and packed greedily — a document opens a new chunk when adding
it would exceed ``capacity``; a document larger than the capacity gets a
chunk of its own (flagged ``oversize``).  The whole assignment is a pure
function of (ids, token counts, capacity, shard count): deterministic
across retries, partitionings, and engines — the single-shard variant is
mirrored exactly by a DuckDB recursive CTE in the tests.

Scale design: packing is sequential BY NATURE (each decision depends on
the running fill), so the scale path shards the corpus by a hash of the
id (``n_shards``) and packs each shard independently inside
``applyInPandas`` — one shuffle on the shard key, sequential work bounded
per shard, boundary waste at most one partial chunk per shard (amortized
to nothing at realistic shard sizes).  Chunk ids are (shard, local
chunk), so no cross-shard coordination exists at any scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .grams import with_words
from .sampling import sample_hash

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("chunk_fill", T.LongType(), False),  # fill AFTER add
        T.StructField("oversize", T.BooleanType(), False),
    ]
)


def pack_sequences(df: DataFrame, capacity: int,
                   count_col: str = "n_tokens", id_col: str = "doc_id",
                   n_shards: int | None = None, seed: int = 0) -> DataFrame:
    """(doc_id, shard, chunk, chunk_fill, oversize) for every input row.

    ``n_shards=None`` (the default) derives the shard count from the
    cluster's default parallelism, so the scale path is what you get
    unless you ask otherwise — ``n_shards=1`` (the oracle/CTE-mirror
    mode, fully deterministic global order) routes the whole corpus
    through ONE sequential group and must be an explicit opt-in."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if n_shards is None:
        n_shards = max(1, df.sparkSession.sparkContext.defaultParallelism)
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")

    shard = (
        (sample_hash(F.col(id_col), seed) % n_shards).cast("int")
        if n_shards > 1
        else F.lit(0)
    )
    keyed = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(count_col).cast("long").alias("_tok"),
        shard.alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        ids = pdf["doc_id"].to_numpy()
        toks = pdf["_tok"].to_numpy()
        if len(toks) and toks.min() < 0:
            raise ValueError("negative token count in packing input")
        chunks, fills, oversize = [], [], []
        chunk, fill = 0, 0
        first = True
        for t in toks:
            t = int(t)
            if not first and fill + t > capacity:
                chunk += 1
                fill = 0
            first = False
            fill += t
            chunks.append(chunk)
            fills.append(fill)
            oversize.append(t > capacity)
        return pd.DataFrame(
            {
                "doc_id": ids,
                "shard": pdf["shard"].to_numpy(),
                "chunk": chunks,
                "chunk_fill": fills,
                "oversize": oversize,
            }
        )

    return keyed.groupBy("shard").applyInPandas(pack, schema=PACKED_SCHEMA)


def pack_sequences_sql(table_sql: str, capacity: int,
                       count_expr: str = "n_tokens",
                       id_expr: str = "doc_id") -> str:
    """DuckDB recursive-CTE mirror of the SINGLE-SHARD packing (linear
    recursion, one row per document — the independent-engine oracle for
    the greedy semantics)."""
    return f"""
    WITH RECURSIVE ordered AS (
        SELECT CAST({id_expr} AS BIGINT) AS doc_id,
               CAST({count_expr} AS BIGINT) AS tok,
               CAST(row_number() OVER (ORDER BY {id_expr}) AS INT) AS rn
        FROM {table_sql}
    ),
    state(rn, doc_id, tok, fill, chunk) AS (
        SELECT rn, doc_id, tok, tok, CAST(0 AS BIGINT)
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.rn, o.doc_id, o.tok,
               CASE WHEN s.fill + o.tok > {capacity} THEN o.tok
                    ELSE s.fill + o.tok END,
               CASE WHEN s.fill + o.tok > {capacity} THEN s.chunk + 1
                    ELSE s.chunk END
        FROM ordered o JOIN state s ON o.rn = s.rn + 1
    )
    SELECT doc_id, 0 AS shard, chunk, fill AS chunk_fill,
           tok > {capacity} AS oversize
    FROM state
    """


def passage_split(df: DataFrame, window: int, stride: int,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Overlapping fixed-size passages — the retrieval/RAG indexing
    prep: (id, passage_idx, passage_text, n_tokens) with ``window``
    tokens per passage and ``stride`` tokens between starts (overlap =
    window - stride).

    Start rule, chosen to be exactly mirrorable (``passages_sql``):
    starts are 0, stride, 2*stride, ... and a start s > 0 is kept only
    while ``s + (window - stride) < n`` — the tail passage may be short
    but is never fully contained in its predecessor, and every token is
    covered.  Expects SINGLE-SPACED text like the shingle operators
    (CLAUDE.md contract).  Pure Catalyst: split + one filtered
    ``sequence`` + posexplode + ``slice`` — per-row flatMap, no
    shuffle, no Python."""
    if stride < 1 or stride > window:
        raise ValueError(
            f"need 1 <= stride <= window, got {stride}/{window}")
    # the token array is projected first (grams.with_words): the
    # filter lambda reads its size instead of re-splitting the text
    # once per candidate start
    toks = with_words(df, text_col, "_toks").select(
        F.col(id_col).alias("id"), "_toks"
    )
    n = F.size("_toks")
    keep_gap = window - stride
    starts = F.filter(
        F.sequence(F.lit(0), n - 1, F.lit(stride)),
        lambda s: (s == 0) | (s + F.lit(keep_gap) < n),
    )
    staged = toks.select(
        "id", "_toks", F.posexplode(starts).alias("passage_idx", "_start"),
    )
    passage = F.array_join(
        F.slice(F.col("_toks"), F.col("_start") + 1, window), " "
    )
    return staged.select(
        "id", "passage_idx", passage.alias("passage_text"),
        F.least(
            F.lit(window), F.size("_toks") - F.col("_start")
        ).cast("int").alias("n_tokens"),
    )


def passages_sql(table_sql: str, window: int, stride: int,
                 text_expr: str = "text",
                 id_expr: str = "doc_id") -> str:
    """DuckDB mirror of ``passage_split`` (same start rule; 1-based
    inclusive list slicing vs Spark's 1-based slice(start, length) —
    the end index is clamped identically)."""
    keep_gap = window - stride
    return f"""
        WITH src AS (
            SELECT {id_expr} AS id,
                   string_split({text_expr}, ' ') AS toks
            FROM ({table_sql})
        ),
        starts AS (
            SELECT id, toks, s,
                   row_number() OVER (PARTITION BY id ORDER BY s) - 1
                       AS passage_idx
            FROM (
                SELECT id, toks,
                       unnest(generate_series(0, len(toks) - 1,
                                              {stride})) AS s
                FROM src
            )
            WHERE s = 0 OR s + {keep_gap} < len(toks)
        )
        SELECT id, CAST(passage_idx AS INT) AS passage_idx,
               array_to_string(
                   toks[s + 1 : least(s + {window}, len(toks))], ' '
               ) AS passage_text,
               CAST(least({window}, len(toks) - s) AS INT) AS n_tokens
        FROM starts
    """
