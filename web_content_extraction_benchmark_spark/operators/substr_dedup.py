"""Exact substring deduplication (ExactSubstr, Lee et al. 2022).

"Deduplicating Training Data Makes Language Models Better" removes any
substring of >= L tokens that occurs more than once in the corpus, via a
suffix array over the concatenation.  A suffix array is inherently
sequential; the Spark-first reformulation used here rests on the
standard equivalence:

    a substring of >= L tokens is duplicated  <=>  it contains an
    L-token window whose exact text occurs >= 2 times corpus-wide.

So the distributed plan is window-local and needs ONE shuffle on the
window key:

1. per doc, key every positional L-token window BEFORE the explode, so
   the occurrence list carries (key, doc_id, pos) only.  In hash mode
   the key is one xxhash64 over the window's k token hashes (tokens
   hashed once per doc — no window strings are ever materialized); in
   exact mode it is the window string from ``grams.with_word_kgrams``;
2. count window occurrences globally (multiplicity included: a window
   repeated twice INSIDE one doc is a duplicate, matching the paper's
   self-repeat semantics);
3. per doc, merge the duplicated window starts into disjoint covered
   intervals (sorted-sweep via ``F.aggregate`` — O(starts), never
   O(tokens x starts)) and drop every covered token.

Scale design:
- the only exchange carries (key, doc_id, pos).  With
  ``key_mode="hash"`` (production default) the key is an 8-byte
  xxhash64, so the shuffle is ~20 B/row regardless of window width;
  document text never enters any exchange.
- ``key_mode="exact"`` keys by the window STRING itself — collision-free
  and reproducible by any engine, which is what the DuckDB oracle row
  uses (xxhash64 has no DuckDB twin).  At 64-bit width, hash collisions
  corrupt a window decision with probability ~n_windows^2 / 2^64
  (~1e-7 at 10^9 windows) — acceptable for corpus prep, and the exact
  mode exists for anyone who disagrees.
- duplicated starts come from a partially-aggregated groupBy count over
  a lineage-truncated occurrence table plus a semi-join back (r9): the
  count-over-Window formulation this replaces had no map-side partial
  aggregation, so one corpus-wide boilerplate window would serialize
  its whole occurrence list through a single sorted task; the
  localCheckpoint keeps the gram build at ONE execution, which is why
  the groupBy plan was previously rejected.  The per-doc tail
  (interval merge + token filter) is a pure Catalyst projection, no
  Python, no second pass over the text.

Reference parity note: the reference engine (cf. its R24 dict-key dedup)
has no substring-level dedup at all; this operator exists for the
module's own 100 TB training-corpus mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .grams import with_word_kgrams

DEFAULT_WINDOW = 8  # tokens; Lee et al. use 50 BPE tokens at corpus scale


def _merge_starts(starts: Column, window: int) -> Column:
    """Sorted duplicated-window starts -> disjoint covered intervals
    [s, e] (token indices, 0-based inclusive).  Adjacent intervals are
    merged too (coverage is identical, fewer intervals for the token
    filter).  O(starts) fold; struct fields named so the consumer can
    read ``iv.s`` / ``iv.e``."""
    empty = F.array().cast("array<struct<s:int,e:int>>")

    def step(acc: Column, x: Column) -> Column:
        # F.get, not element_at(-1): ANSI mode throws on out-of-bounds
        # element_at and `&` does not guarantee short-circuiting, so the
        # empty-acc probe must be NULL-safe (NULL condition -> otherwise).
        last = F.get(acc, F.size(acc) - 1)
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(
                last["s"].alias("s"),
                F.greatest(last["e"], x + (window - 1)).alias("e"),
            )),
        )
        appended = F.concat(acc, F.array(F.struct(
            x.alias("s"), (x + (window - 1)).alias("e"),
        )))
        return F.when(
            (F.size(acc) > 0) & (x <= last["e"] + 1), extended
        ).otherwise(appended)

    return F.aggregate(starts, empty, step)


def dedup_exact_substrings(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           window: int = DEFAULT_WINDOW,
                           key_mode: str = "hash") -> DataFrame:
    """Remove every token covered by a corpus-duplicated L-token window.

    Returns one row per input doc:
      (id_col, n_dup_windows INT, n_tokens_removed INT, kept_text STRING)

    ``kept_text`` is the single-spaced join of the surviving tokens
    ('' when the whole doc is duplicated text).  Docs shorter than
    ``window`` tokens have no windows and always survive intact.
    ``key_mode``: "hash" = xxhash64 window keys (8-byte exchange, the
    production default), "exact" = the window string itself
    (collision-free; what the DuckDB oracle mirrors).
    """
    if key_mode not in ("hash", "exact"):
        raise ValueError(f"key_mode must be 'hash' or 'exact': {key_mode!r}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if key_mode == "hash":
        # token-hash chain: hash each token ONCE, then key a window by
        # one xxhash64 over its k token hashes — no window strings are
        # ever built (vs concat_ws per window: 4.2x on the occurrence
        # build at the q17 bench shape).  _th gets its own projection
        # and >1 downstream references, otherwise CollapseProject
        # inlines the token-hash transform into the window lambda and
        # re-evaluates it per window (O(tokens^2) — CLAUDE.md gotcha).
        hashed = df.select(
            F.col(id_col),
            F.transform(
                F.split(F.col(text_col), " "), lambda x: F.xxhash64(x)
            ).alias("_th"),
        )
        th = F.col("_th")
        n = F.size(th)
        idx = F.when(
            n >= window, F.sequence(F.lit(0), n - window)
        ).otherwise(F.array().cast("array<int>"))
        keys = F.transform(
            idx,
            lambda i: F.xxhash64(*[F.get(th, i + j) for j in range(window)]),
        )
        keyed = hashed.select(F.col(id_col), keys.alias("_keys"))
    else:
        keyed = with_word_kgrams(df, text_col, window, "_keys").select(
            F.col(id_col), "_keys"
        )

    # duplicated-window starts WITHOUT a hot-key straggler (r9, VERDICT
    # r8 #1): window functions get no map-side partial aggregation, so
    # the former count-over-Window plan shuffled every occurrence of a
    # key raw into one sorted task group — a corpus-wide boilerplate
    # window (10^7+ pages sharing site chrome) serializes its entire
    # occurrence list through a single task.  The replacement:
    #   1. lazily localCheckpoint the PER-DOC key arrays (one row per
    #      document, ~8 B per window in hash mode) — lineage truncation
    #      so the two consumers below do NOT each recompute the
    #      O(tokens x window) key build (the reason the Window plan was
    #      chosen in r8); checkpointing BEFORE the explode keeps the
    #      stored bytes at array payload, not per-occurrence rows;
    #   2. groupBy(key).count() over the (recomputed-cheaply) explode:
    #      partial aggregation collapses a key seen 10^7 times to ONE
    #      row per map task before the exchange, so the duplicated-key
    #      set is built skew-free;
    #   3. semi-join occ against the duplicated-key set — AQE
    #      broadcasts it at realistic duplication rates; even when it
    #      shuffles, a hash semi join STREAMS the probe side, so a hot
    #      key never has to be buffered or sorted in one task (and AQE
    #      skew-join splitting applies — it never does to a Window).
    # Planted-skew profile: tools/substr_skew_bench.py +
    # tests/test_substr_dedup.py::test_planted_hot_key_correctness.
    keyed = keyed.localCheckpoint(eager=False)
    occ = keyed.select(
        F.col(id_col), F.posexplode("_keys").alias("pos", "_k")
    )
    dup_keys = (
        occ.groupBy("_k").count()
        .filter(F.col("count") >= 2)
        .select("_k")
    )
    starts = (
        occ.join(dup_keys, ["_k"], "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_starts"))
    )

    out = df.select(id_col, F.col(text_col).alias("_text")).join(
        starts, [id_col], "left"
    )
    starts_col = F.coalesce(
        F.col("_starts"), F.array().cast("array<int>")
    )
    # merged intervals MUST be materialized in their own projection with
    # more than one downstream reference: inlined into the token-filter
    # lambda, the O(starts) merge fold re-runs PER TOKEN (the CLAUDE.md
    # CollapseProject gotcha — measured 96 s of a 97 s q17 run).  The
    # second reference is n_tokens_removed, computed as the sum of
    # merged-interval lengths (the intervals are disjoint, so this
    # equals the count of covered tokens).
    mid = out.select(
        F.col(id_col),
        F.col("_text"),
        F.size(starts_col).alias("n_dup_windows"),
        _merge_starts(starts_col, window).alias("_ivs"),
    )
    ivs = F.col("_ivs")
    kept = F.filter(
        F.split(F.col("_text"), " "),
        lambda t, i: ~F.exists(
            ivs, lambda iv: (iv["s"] <= i) & (i <= iv["e"])
        ),
    )
    removed = F.aggregate(
        ivs, F.lit(0), lambda acc, iv: acc + (iv["e"] - iv["s"] + 1)
    )
    return mid.select(
        id_col,
        "n_dup_windows",
        removed.alias("n_tokens_removed"),
        F.concat_ws(" ", kept).alias("kept_text"),
    )


def substr_dedup_sql(corpus_cte: str, window: int = DEFAULT_WINDOW) -> str:
    """DuckDB mirror of ``dedup_exact_substrings(key_mode='exact')``
    over a corpus CTE body selecting (doc_id, text).

    Mirrors the operator decision-for-decision: 1-based list slices for
    the 0-based positional windows, occurrence counts WITH multiplicity,
    and coverage as the union of [pos, pos+L-1].  ``string_agg`` skips
    NULL elements, which implements the token filter; the empty-kept
    case needs the repo-standard ``coalesce`` (DuckDB string_agg over
    zero rows is NULL where Spark ``concat_ws`` is '')."""
    L = window
    return f"""
        WITH corpus AS ({corpus_cte}),
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM corpus
        ),
        wins AS (
            -- range(0, n) is [] for n <= 0, so short docs need no guard;
            -- lateral generate_series rejects correlated bounds in DuckDB,
            -- hence the unnest(range(...)) idiom (same as the media mirror)
            SELECT doc_id, pos,
                   array_to_string(t[pos + 1 : pos + {L}], ' ') AS gram
            FROM (
                SELECT doc_id, t,
                       unnest(range(0, len(t) - {L} + 1)) AS pos
                FROM toks
            )
        ),
        dup AS (
            SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2
        ),
        starts AS (
            SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (gram)
        ),
        cov AS (
            SELECT DISTINCT doc_id, pos + o.off AS ci
            FROM starts CROSS JOIN
                 (SELECT unnest(range(0, {L})) AS off) o
        ),
        tokpos AS (
            SELECT doc_id, ti, t[ti + 1] AS tok
            FROM (
                SELECT doc_id, t, unnest(range(0, len(t))) AS ti
                FROM toks
            )
        ),
        nwin AS (
            SELECT doc_id, CAST(count(*) AS INT) AS n_dup_windows
            FROM starts GROUP BY doc_id
        )
        SELECT tp.doc_id,
               CAST(coalesce(any_value(nw.n_dup_windows), 0) AS INT)
                   AS n_dup_windows,
               CAST(count(cov.ci) AS INT) AS n_tokens_removed,
               coalesce(
                   string_agg(CASE WHEN cov.ci IS NULL THEN tp.tok END,
                              ' ' ORDER BY tp.ti),
                   '') AS kept_text
        FROM tokpos tp
        LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.ti = cov.ci
        LEFT JOIN nwin nw ON tp.doc_id = nw.doc_id
        GROUP BY tp.doc_id
    """
