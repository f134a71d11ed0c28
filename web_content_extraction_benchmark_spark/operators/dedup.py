"""Deduplication operators for web-scale corpora.

The reference only needs dict-key dedup (R24), but a 100 TB training-data
pipeline needs the full family.  Most of it is built-in JVM functions
(the SimHash kernel is a pure Catalyst expression too); Python runs in
exactly two Arrow-batched kernels: the OPH signature lattice
(``oph_signatures``) and the ``contaminated_ids`` window-key probe.

Design for scale:
- exact dedup: hash-groupBy on a digest, never on the full text (shuffle
  carries 32-byte keys, not documents);
- MinHash LSH: signatures are computed in one projection (no explode -> no
  row blow-up); candidate generation joins on (band_id, band_key) carrying
  ONLY (band, key, id) — document payloads (shingle arrays) never enter
  the band exchange; the exact-Jaccard verify re-joins shingles by id on
  the (small) candidate set only;
- n-gram Jaccard: candidate generation is an EQUI join on a log-scale
  shingle-count bucket (J >= t forces |log size ratio| <= log(1/t), so
  admissible partners sit in the same or an adjacent bucket) — never a
  non-equi/cartesian plan;
- SimHash: per-row Catalyst aggregate over the token array (no shuffle,
  no Python), md5-derived token hashes so DuckDB can mirror it bit-exactly;
- hash functions are md5-based so an independent engine (DuckDB) can
  reproduce signatures bit-for-bit — this is what makes the driver's
  oracle check meaningful.

Signature-width defaults: the 8-hash / 4-band fixture keeps the DuckDB
oracle tractable; production near-dup dedup at threshold ~0.6-0.8 should
use PROD_NUM_HASHES/PROD_BANDS (128/16 -> r=8, S-curve midpoint
(1/16)^(1/8) ~= 0.71) — `bench.py` measures both widths.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .grams import with_word_kgrams

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # 4 bands x 2 rows — oracle-fixture scale
PROD_NUM_HASHES = 128
PROD_BANDS = 16  # 16 bands x 8 rows — production default
SHINGLE_SIZE = 3
# LSH signature hash functions (see minhash_lsh_pairs)
HASH_FNS = ("md5", "xxhash64", "oph")


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, min_doc_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _expensive_lineage(df: DataFrame) -> bool:
    """True when computing ``df`` runs a Python kernel stage (a Python
    UDF, ``mapInArrow``/``mapInPandas`` or a grouped pandas function):
    such inputs are expensive to traverse twice (the keys-only dedup
    plan below scans its input once for digests and once for the kept
    rows — free for a parquet rescan, a full second kernel run for an
    extraction lineage).  The plan is read with cached data substituted:
    a persisted frame is a leaf there, so a kernel that sits only below
    a cache does not count, while one above it does."""
    try:
        patterns = getattr(
            df.sparkSession._jvm,
            "org.apache.spark.sql.catalyst.trees.TreePattern$",
        ).__getattr__("MODULE$")
        plan = df._jdf.queryExecution().withCachedData()
        return bool(plan.containsPattern(patterns.PYTHON_UDF()))
    except Exception:
        return False


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per identical text (deterministic winner).

    Keys-only plan: the LOSER set (non-minimal ids per digest) is derived
    from a (digest, id) projection — groupBy + join shuffles carry 32-byte
    keys and ids, exactly like ``exact_duplicates`` — then full rows are
    kept via ``left_anti`` against those ids.  At typical dup rates the
    loser set is a small fraction of the corpus and AQE converts the anti
    join to a broadcast, so the document payloads never enter ANY
    exchange.  A ``row_number()`` window partitioned by the digest would
    instead sort-exchange every full row; at 100 TB that is the
    difference between shuffling ~40 B/row (or nothing) and shuffling
    the corpus.

    NULL texts form one duplicate group (matching the old window
    semantics and ``exact_duplicates``' null-safe groupBy): the digest
    maps NULL to a sentinel that cannot collide with any md5 hex string,
    because an equi join on a NULL digest would never match and every
    NULL row would silently survive.

    r9: this plan traverses ``df`` twice (digest side + kept side).
    When the lineage contains a Python kernel stage (extraction — the
    q13 shape), the second traversal re-runs the whole kernel, so such
    inputs are lazily ``localCheckpoint``-ed first: the kernel runs
    once, its output is stored MEMORY_AND_DISK on executors (the
    pipeline-stage checkpoint a production run pays anyway), and both
    traversals read the stored rows.  Plain scans and inputs whose
    kernel output is already persisted (JVM-only steps over a cached
    extraction) keep the zero-copy two-scan plan.  On clusters needing fault
    tolerance of this intermediate, swap for ``checkpoint()`` against
    the job's checkpoint dir — the plan shape is identical."""
    if _expensive_lineage(df):
        df = df.localCheckpoint(eager=False)
    digest = F.when(
        F.col(text_col).isNull(), F.lit("__NULL_TEXT__")
    ).otherwise(F.md5(F.col(text_col)))
    keys = df.select(digest.alias("_th"), F.col(id_col))
    winners = keys.groupBy("_th").agg(F.min(id_col).alias("_win"))
    losers = (
        keys.join(winners, "_th")
        .filter(F.col(id_col) != F.col("_win"))
        .select(id_col)
    )
    return df.join(losers, [id_col], "left_anti")


def minhash_signature(shingles: Column,
                      num_hashes: int = DEFAULT_NUM_HASHES) -> list[Column]:
    """One md5-min per hash seed; md5 hex strings compare
    lexicographically identically in any engine, making signatures
    engine-independent (the DuckDB oracle reproduces them bit-for-bit).
    The production alternative is ``minhash_signature_fast`` (xxhash64
    base + per-seed remix) — engine-specific but semantics-neutral
    because candidates are verified by exact Jaccard."""
    def _min_hash(seed: int):
        prefix = F.lit(f"{seed}:")
        # NB: the lambda must take exactly one arg — F.transform feeds the
        # element index to a second parameter.
        return F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(prefix, s)))
        ).alias(f"mh{seed}")

    return [_min_hash(h) for h in range(num_hashes)]


def _remix(seed: int):
    """Per-seed avalanche remix of a 64-bit base hash.  NB: returns a
    one-arg lambda from a factory — binding the loop var via default args
    would give F.transform a two-arg lambda (element, INDEX)."""
    return lambda h: F.xxhash64(h, F.lit(seed))


def minhash_signature_fast(base_hashes: Column,
                           num_hashes: int) -> list[Column]:
    """Production-width signatures from ONE base hash per shingle: the
    shingle string is hashed once (xxhash64), then each of the
    ``num_hashes`` functions is a remix of that 8-byte value — at 128
    hashes this does 1 string hash + 128 fixed-width hashes per shingle
    instead of 128 string hashes."""
    return [
        F.array_min(F.transform(base_hashes, _remix(seed))).alias(f"mh{seed}")
        for seed in range(num_hashes)
    ]


def oph_signatures(rows, k: int) -> np.ndarray:
    """One-permutation-hashing signatures (Li/Owen/Zhang-style OPH with
    rotation densification) for a batch of 64-bit base-hash arrays:
    each shingle's single hash is routed to bin ``hash mod k`` and each
    bin keeps its minimum — the whole k-wide signature costs
    O(shingles) per doc instead of the remix path's O(shingles x k).
    Empty bins (docs with fewer distinct shingles than bins, or unlucky
    routing) borrow the nearest filled bin to their left, circularly —
    a deterministic densification, so equal shingle sets always produce
    equal signatures and LSH banding stays sound.  Rows with NO hashes
    keep the int64-max ``EMPTY`` sentinel in every bin.

    Fully vectorized across the batch: one np.minimum.at over a
    flattened (rows x bins) lattice + one maximum.accumulate circular
    forward-fill.  Returns an int64 array of shape (len(rows), k)."""
    n = len(rows)
    EMPTY = np.iinfo(np.int64).max
    lengths = np.fromiter((len(a) for a in rows), dtype=np.int64, count=n)
    flat = np.concatenate(
        [np.asarray(a, dtype=np.int64) for a in rows]
    ) if lengths.sum() else np.empty(0, dtype=np.int64)
    rr = np.repeat(np.arange(n, dtype=np.int64), lengths)
    sig = np.full(n * k, EMPTY, dtype=np.int64)
    # bin routing on the UNSIGNED view (pmod of a negative int64
    # hash differs between engines; unsigned is unambiguous)
    bins = (flat.astype(np.uint64) % np.uint64(k)).astype(np.int64)
    np.minimum.at(sig, rr * k + bins, flat)
    sig = sig.reshape(n, k)
    if (sig == EMPTY).any():
        # circular forward-fill from the left: tile to (n, 2k), carry
        # the last filled index forward, then read back the second half
        tiled = np.tile(sig, (1, 2))
        filled = tiled != EMPTY
        idx = np.where(filled, np.arange(2 * k), -1)
        np.maximum.accumulate(idx, axis=1, out=idx)
        take = idx[:, k:]
        # rows with NO shingles keep EMPTY (callers filter them)
        sig = np.where(
            take >= 0,
            np.take_along_axis(tiled, np.maximum(take, 0), axis=1),
            EMPTY,
        )
    return sig


def make_oph_signature_udf(num_hashes: int):
    """Arrow-batched pandas UDF over ``oph_signatures``: array<long>
    base hashes -> array<long> signature of length ``num_hashes``.
    Like the xxhash64 remix path, this estimator is engine-specific but
    semantics-neutral: candidates are verified by EXACT Jaccard, so the
    estimator only moves recall, never correctness of emitted pairs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def oph(base: pd.Series) -> pd.Series:
        if len(base) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(oph_signatures(base, num_hashes)))

    return oph


def lsh_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, key) — one row per (document, band): the banded LSH
    key space that candidate generation joins on.  Exposed on its own so
    the persisted-store incremental path (operators/incremental_dedup)
    can sign a NEW batch only and join it against previously committed
    band keys.

    Two-step selects throughout: an expression referenced by all
    num_hashes min-hash columns must be materialized in its own
    projection, or CollapseProject inlines num_hashes copies of it.
    Shingle-less docs (shorter than the shingle size) are excluded:
    their signatures would be all-null and collide with each other on
    every band key (and Jaccard is undefined for empty sets).

    ``hash_fn`` must be one of ``HASH_FNS``; anything else raises
    ``ValueError`` before a plan is built."""
    if hash_fn not in HASH_FNS:
        raise ValueError(
            f"unknown hash_fn {hash_fn!r}: expected one of {HASH_FNS}"
        )
    rows_per_band = num_hashes // bands
    shingled = with_word_kgrams(
        df, text_col, SHINGLE_SIZE, "_sh", distinct=True, nonempty=True
    ).select(F.col(id_col).alias("id"), "_sh")
    # NB (r9): the per-seed signature columns are built as SQL STRINGS
    # through one selectExpr, not as num_hashes Column trees — each
    # F.transform/F.array_min/F.xxhash64 chain costs several py4j round
    # trips plus lambda-wrapper construction, measured 1.8 s of pure
    # driver-side plan BUILDING at 128 hashes (the SQL parser does the
    # same work JVM-side in ~0.1 s).  Expressions are identical
    # (pytest-pinned old==new band keys; the md5 path stays oracled).
    if hash_fn == "oph":
        # one-permutation hashing: the whole signature in O(shingles)
        # per doc (vs O(shingles x num_hashes) for the remix paths) —
        # the production width at corpus scale
        oph = make_oph_signature_udf(num_hashes)
        sig_arr = shingled.select(
            "id",
            F.transform("_sh", lambda s: F.xxhash64(s)).alias("_hs"),
        ).select("id", oph("_hs").alias("_sig"))
        oph_bands = ", ".join(
            "concat_ws('|', transform("
            f"slice(_sig, {b * rows_per_band + 1}, {rows_per_band}), "
            "x -> cast(x as string)))"
            for b in range(bands)
        )
        return sig_arr.selectExpr(
            "id", f"posexplode(array({oph_bands})) AS (band, key)"
        )
    if hash_fn == "xxhash64":
        staged = shingled.select(
            "id",
            F.transform("_sh", lambda s: F.xxhash64(s)).alias("_hs"),
        )
        def mh(seed: int) -> str:
            return f"array_min(transform(_hs, h -> xxhash64(h, {seed})))"
    else:
        staged = shingled
        def mh(seed: int) -> str:
            return (
                f"array_min(transform(_sh, s -> md5(concat('{seed}:', s))))"
            )
    # one projection from the staged hash/shingle array straight to the
    # exploded (id, band, key) rows: the intermediate 128-column sig
    # schema made every subsequent Dataset step re-analyze a 128-wide
    # plan (and the band self-join carried it twice) — measured ~1 s of
    # pure driver-side analysis at 128/16.  The array/min terms still
    # evaluate once per row (posexplode's array argument), and _hs/_sh
    # stay materialized in their own projection (CollapseProject
    # gotcha).
    band_keys = ", ".join(
        "concat_ws('|', " + ", ".join(
            mh(b * rows_per_band + r) for r in range(rows_per_band)
        ) + ")"
        for b in range(bands)
    )
    return staged.selectExpr(
        "id", f"posexplode(array({band_keys})) AS (band, key)"
    )


def _lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct (id_a, id_b) sharing >= 1 band key.  The band self-join
    carries ONLY (band, key, id): shingle arrays and text never cross this
    exchange (the verify stage re-joins them by id on candidates only)."""
    banded = lsh_band_keys(df, text_col, id_col, num_hashes, bands, hash_fn)
    left = banded.select(F.col("id").alias("id_a"), "band", "key")
    right = banded.select(F.col("id").alias("id_b"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_jaccard(candidates: DataFrame, shingles: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs: join shingles by id (twice)."""
    sh_a = shingles.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    sh_b = shingles.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    union_size = F.size(F.array_union("sh_a", "sh_b"))
    jaccard = F.when(
        union_size > 0,
        F.size(F.array_intersect("sh_a", "sh_b")) / union_size,
    )  # both-empty pairs -> null -> filtered (Jaccard undefined)
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    jaccard_threshold: float = 0.6,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via banded MinHash.

    Plan shape: project signatures -> posexplode (band, key, id) ->
    self-join on (band, key) -> distinct id pairs -> re-join shingles by
    id -> exact-Jaccard filter.  Only ids and 32-byte band keys shuffle
    in candidate generation; shingle arrays move once, keyed by id, for
    the candidates actually verified.

    ``hash_fn``: "md5" (engine-independent, the oracle fixture),
    "xxhash64" (1 string hash + num_hashes remixes per shingle), or
    "oph" (one-permutation hashing: the whole signature in O(shingles)
    per doc — the corpus-scale default; see oph_signatures).  All
    variants verify candidates by exact Jaccard, so the choice moves
    candidate recall only, never the correctness of emitted pairs."""
    candidates = _lsh_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, hash_fn
    )
    shingles = with_word_kgrams(
        df, text_col, SHINGLE_SIZE, "sh", distinct=True
    ).select(F.col(id_col).alias("id"), "sh")
    return _verify_jaccard(candidates, shingles, jaccard_threshold)


def _log_bucket(n: Column, threshold: float) -> Column:
    """floor(log(n) / log(1/t)), rounded to 9 decimals first so that
    boundary values (log ratio exactly integral) bucket deterministically
    instead of falling either side by one ulp."""
    scale = math.log(1.0 / threshold)
    return F.floor(F.round(F.log(n.cast("double")) / F.lit(scale), 9))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.8) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via an EQUI bucket join.

    J(A,B) >= t forces t <= |A|/|B| <= 1/t, i.e. the log-scale size
    buckets of admissible partners differ by at most 1 — so the right
    side explodes into its own and both adjacent buckets and the join is
    a plain hash join on the bucket key (never cartesian / nested-loop).
    The size inequality stays as a post-join filter and exact Jaccard is
    verified by re-joining shingles on the surviving candidates only."""
    # shingle-less docs are dropped by word count (never by size(sh):
    # see with_word_kgrams' nonempty)
    shingles = with_word_kgrams(
        df, text_col, SHINGLE_SIZE, "sh", distinct=True, nonempty=True
    ).select(F.col(id_col).alias("id"), "sh")
    sized = shingles.select("id", F.size("sh").alias("n"))
    # n >= 1, so the bucket is never NULL; saying so (coalesce) lets the
    # optimizer fold the join's inferred isnotnull(bucket) away instead
    # of pushing it to the scan with the gram expression substituted
    bucket = F.coalesce(_log_bucket(F.col("n"), threshold), F.lit(0))
    a = sized.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"),
        bucket.alias("bucket"),
    )
    b = sized.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bucket"),
    )
    candidates = (
        a.join(b, "bucket")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.col("n_a") * threshold)
            & (F.col("n_b") <= F.col("n_a") / threshold)
        )
        .select("id_a", "id_b")
    )
    return _verify_jaccard(candidates, shingles, threshold)


# ---------------------------------------------------------------------------
# SimHash — pure Catalyst expression (no Python, no shuffle), md5-derived
# token hashes so DuckDB mirrors the signature bit-for-bit.
# ---------------------------------------------------------------------------

_LONG_MIN = -9223372036854775808  # bit 63 of a signed 64-bit signature


def _hex_bit(h: Column, i: Column) -> Column:
    """Bit ``i`` (LSB=0) of the 64-bit value spelled by the 16-char hex
    prefix ``h`` (= first 8 md5 bytes, big-endian): split into two 32-bit
    halves so the unsigned value fits a signed long for getbit."""
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.getbit(F.when(i < 32, lo).otherwise(hi), i % 32)


def simhash64_col(text_col: Column) -> Column:
    """64-bit SimHash over whitespace tokens, entirely JVM-side.

    Per row: token array -> one md5 per token -> per-bit +/-1 vote
    accumulation (aggregate over a 64-int array) -> sign bits packed into
    a signed long.  Matches the classic kernel (Charikar 2002) with token
    hash = first 8 md5 bytes big-endian; empty/blank text -> 0.

    Token contract (shared bit-for-bit with ``simhash64_py`` and the
    DuckDB oracle mirror): tokens are the non-empty maximal runs between
    ASCII whitespace ``[ \\t\\n\\x0b\\f\\r]`` — Java's ``\\s`` IS that
    class; the Python kernel and the DuckDB mirror spell it explicitly
    (RE2's ``\\s`` omits ``\\x0b``, and ``str.split()`` adds Unicode
    whitespace — NBSP/U+2028 stay INSIDE tokens on every engine here)."""
    tokens = F.filter(F.split(text_col, r"\s+"), lambda t: t != F.lit(""))
    hashes = F.transform(tokens, lambda t: F.substring(F.md5(t), 1, 16))
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_idx,
                lambda i: F.when(_hex_bit(h, i) == 1, 1).otherwise(-1),
            ),
            lambda a, c: a + c,
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            counts,
            bit_idx,
            lambda c, i: F.when(
                c > 0,
                F.when(i == 63, F.lit(_LONG_MIN)).otherwise(
                    F.pow(F.lit(2.0), i.cast("double")).cast("long")
                ),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    blank = F.coalesce(F.size(tokens), F.lit(0)) == 0
    return F.when(blank, F.lit(0).cast("long")).otherwise(packed)


def simhash64_py(text: str) -> int:
    """Single-threaded reference kernel (tests cross-check the Catalyst
    expression against this, like the extractor byte-identity oracles).
    Uses the same explicit ASCII-whitespace token contract as
    ``simhash64_col`` — ``str.split()`` would diverge on NBSP/U+2028."""
    import hashlib
    import re

    tokens = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
    if not tokens:
        return 0
    acc = [0] * 64
    for token in tokens:
        h = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")
        for bit in range(64):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    sig = 0
    for bit in range(64):
        if acc[bit] > 0:
            sig |= 1 << bit
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3,
                            max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on 16-bit
    chunks: two signatures within hamming<=3 share at least one of the 4
    chunks exactly (pigeonhole) -> join per chunk, then verify.

    Blank/empty documents (sig == 0) are excluded from candidate
    generation: they all hash to the same signature, so on a web-scale
    corpus with millions of empty docs every one of them would share all
    four chunks with every other — one degenerate bucket turning the
    chunk join quadratic.  Blank docs are exact duplicates of each other
    by construction; route them through exact dedup, not SimHash.

    ``max_bucket`` is the opt-in skew valve for web-scale corpora:
    NATURAL hot chunks (template boilerplate dominating one 16-bit
    slice across millions of pages) also go quadratic; with a cap,
    (chunk_id, chunk) groups larger than it are dropped from blocking.
    Recall loss is bounded by pigeonhole redundancy — a pair survives if
    ANY of its up-to-4 shared chunks stays under the cap — and exact
    copies share all four, so only genuinely hot template slices degrade.
    Default None = exact (the oracle-checked mode)."""
    sig = df.select(
        F.col(id_col).alias("id"), simhash64_col(F.col(text_col)).alias("sig")
    ).filter(F.col("sig") != 0)
    chunks = sig.select(
        "id", "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), s).bitwiseAND(F.lit(0xFFFF))
                    for s in (0, 16, 32, 48)
                ]
            )
        ).alias("chunk_id", "chunk"),
    )
    if max_bucket is not None:
        # Over-cap keys via groupBy (map-side partial aggregation — a hot
        # multi-million-row bucket never lands whole in one task, unlike a
        # Window.partitionBy count) and broadcast them into a left_anti
        # join: the valve's whole premise is that hot keys are FEW.
        hot = (
            chunks.groupBy("chunk_id", "chunk")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("chunk_id", "chunk")
        )
        chunks = chunks.join(
            F.broadcast(hot), ["chunk_id", "chunk"], "left_anti"
        )
    a = chunks.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"),
                      "chunk_id", "chunk")
    b = chunks.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"),
                      "chunk_id", "chunk")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Pair resolution: near-dup PAIRS -> clusters -> canonical winners.  The
# reference stops at pair detection; an actually deduplicated training
# corpus needs the transitive closure (A~B, B~C => drop two of three even
# when A~C is below threshold).
# ---------------------------------------------------------------------------


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a ``localCheckpoint``-ed
    DataFrame.  ``df.unpersist()`` only covers ``persist``/``cache``
    registrations — checkpoint blocks otherwise live until the JVM
    garbage-collects the RDD, which in a long-lived driver (a daemon
    appending batches to a NearDupIndex all day) accumulates storage
    memory across calls (ADVICE r6).  The DataFrame is UNREADABLE
    afterwards — only release results nobody will scan again.

    Best-effort by design: it reaches through the analyzed plan to the
    checkpointed RDD (``LogicalRDD.rdd``), which is internal API — if a
    Spark upgrade moves it, freeing degrades back to GC-eventual rather
    than failing the job."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# Graphs at or below this many (distinct, symmetrized) edges resolve on
# the driver with union-find instead of the Spark label-propagation loop:
# each Spark round costs two join+aggregate shuffles plus a checkpoint
# and a convergence-count job (~0.4-0.5 s of fixed overhead per round at
# local[32]), which dwarfs the actual work for small pair sets — the
# common case after LSH verification at moderate duplication rates.  The
# collect is BOUNDED by this threshold (~16 B/edge -> a few MB), the
# same bounded-driver-materialization pattern as the IVF codebook and
# the decontamination key set.  Web-scale pair sets exceed it and take the
# distributed path unchanged.
CC_LOCAL_EDGE_THRESHOLD = 200_000


def _components_union_find(edge_rows) -> dict:
    """Min-label union-find over collected (a, b) edge rows: returns
    {node: component} with component = min member id — exactly the
    fixpoint the distributed loop converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by label order so the root is always the min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {node: find(node) for node in parent}


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 30,
                         on_round=None) -> DataFrame:
    """(id, component) for every node in ``pairs``; component = min
    member id — the canonical representative.  Ids may be any orderable
    type (long doc ids, url strings, ...).

    Edge sets at or below ``CC_LOCAL_EDGE_THRESHOLD`` (200k) resolve
    on the driver with min-label union-find — bit-identical output,
    none of the per-round distributed overhead.  Larger graphs
    take the loop below.

    Min-label propagation with POINTER JUMPING: every node starts
    labeled with itself; each round labels flow across edges AND each
    node re-reads its current label's label (path halving), so
    convergence takes O(log diameter) rounds, not O(diameter) — a
    10^6-hop snapshot chain converges in ~20 rounds.  Each round is two
    equi-join + min-aggregate shuffles carrying (id, id) rows only;
    convergence is probed with a changed-row count (type-agnostic), and
    exhausting ``max_iterations`` without converging RAISES instead of
    returning silently split clusters (a truncated result would make
    drop_near_duplicates keep multiple 'canonicals' per cluster with no
    signal).

    Each round's labels are ``localCheckpoint``-ed: iterative plans
    otherwise NEST one round's lineage inside the next and the
    analyzer/driver heap blows up long before the data does (observed at
    ~15 rounds even on toy edges).  On a real cluster with executor
    churn, swap in reliable ``checkpoint()`` against the job's
    checkpoint dir — same plan shape, fault-tolerant storage.
    Superseded rounds' blocks (and the edge set) are freed eagerly as
    the iteration advances; the RETURNED labels DataFrame is the one
    retained checkpoint — long-lived drivers that are done scanning it
    should hand it to ``release_local_checkpoint`` (reading it after
    that raises).

    ``on_round(stats_dict)``, if given, is called after every round with
    ``{"round", "changed", "wall_sec"}`` — the hook the scale-stress
    harness uses to sample per-round shuffle volume from the Spark
    status API without the operator knowing about it.
    """
    import time as _time

    sym = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # localCheckpoint — not persist — on the edge set: persist caches
    # the DATA but leaves the full upstream lineage in the analyzed
    # plan, and every round's new query re-analyzes that tree (with a
    # deep input — candidate join over a band store over a verify over
    # ... — measured 20-40 s of driver-side re-planning PER ROUND at a
    # ~100k-edge graph whose actual jobs take <1 s).  Checkpointing
    # truncates the plan to a LogicalRDD, same as the per-round labels.
    edges = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint()

    # Small-graph fast path (r9): the edge set is already materialized
    # by the checkpoint, so its count is free; below the bounded
    # threshold resolve on the driver with min-label union-find — the
    # identical fixpoint — instead of paying ~6 Spark jobs (two
    # join+agg shuffles, a checkpoint, a convergence count) per
    # propagation round for a graph that fits in a few MB.  Kept OFF
    # when an on_round observer is attached (the stress harness samples
    # per-round shuffle metrics from the distributed loop).
    if on_round is None and edges.count() <= CC_LOCAL_EDGE_THRESHOLD:
        comp = _components_union_find(
            (r[0], r[1]) for r in edges.collect()
        )
        spark = pairs.sparkSession
        dtype = edges.schema["a"].dataType
        schema = T.StructType([
            T.StructField("id", dtype, True),
            T.StructField("component", dtype, True),
        ])
        out = spark.createDataFrame(sorted(comp.items()), schema)
        release_local_checkpoint(edges)
        return out

    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )

    for round_no in range(1, max_iterations + 1):
        round_started = _time.perf_counter()
        propagated = edges.join(labels, edges.a == labels.id).select(
            F.col("b").alias("id"), "component"
        )
        merged = (
            labels.unionByName(propagated)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component <- min(component, label(component));
        # every component value is itself a node id, so the inner join
        # is total
        hop = merged.select(
            F.col("id").alias("__cid"), F.col("component").alias("__cc")
        )
        # lazy checkpoint: the convergence count below is the job that
        # materializes (and caches) this round's labels — one Spark job
        # per round instead of two (r9; the eager form ran a dedicated
        # checkpoint job, then the count re-read the blocks)
        new_labels = (
            merged.join(hop, merged.component == F.col("__cid"))
            .select(
                "id", F.least("component", "__cc").alias("component")
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "__old"), "id"
            )
            .filter(F.col("component") != F.col("__old"))
            .count()
        )
        # the superseded round's label blocks are dead the moment the
        # changed-count lands — free them now instead of waiting for JVM
        # GC (round 1 releases the seed labels; ADVICE r6)
        release_local_checkpoint(labels)
        labels = new_labels
        if on_round is not None:
            on_round(
                {
                    "round": round_no,
                    "changed": changed,
                    "wall_sec": _time.perf_counter() - round_started,
                }
            )
        if changed == 0:
            release_local_checkpoint(edges)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds — raise max_iterations (pointer jumping needs "
        "O(log diameter) rounds, so this means a pathological graph)"
    )


def drop_near_duplicates(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical document (the min id) per near-dup cluster:
    resolve pairs to components, anti-join the non-canonical members."""
    components = connected_components(pairs)
    losers = components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Benchmark decontamination: drop training documents that leak n-grams
# of an evaluation/benchmark set (the step between dedup and packing in
# an LLM data pipeline).
# ---------------------------------------------------------------------------


def contaminated_ids(docs: DataFrame, benchmark: DataFrame,
                     k: int = SHINGLE_SIZE, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Ids of docs sharing at least one word k-gram with the benchmark.

    r9 plan — hash prefilter, exact verify (was: explode the corpus's
    gram STRINGS through a broadcast join; building ~n_tokens gram
    strings per doc was 6-8x the cost of the equivalent hash windows,
    measured 3.7 s vs 0.45 s on the q14 bench corpus):

    1. corpus side: hash each token once, key every positional k-gram
       window by one ``xxhash64`` over its k token hashes (the
       substr-dedup trick) — no gram strings are materialized;
    2. probe the broadcast distinct benchmark window keys: survivors
       are a SUPERSET of true matches (string equality implies key
       equality — no false negatives, so exactness is preserved);
    3. per surviving doc, rebuild gram strings for the SURVIVING
       POSITIONS only (positions re-attached to the doc's token array
       via an id join that AQE broadcasts at realistic leak rates) and
       verify with the exact gram-string broadcast join.  False
       positives of the 64-bit keys only cost verify work, never
       correctness.

    At realistic contamination rates the verify side is ~0 and the
    whole operator is the hash pass over a SINGLE traversal of docs
    (the probe marks surviving positions per row, so the gram strings
    for the exact verify are built in the same pass — no join back, no
    second scan).

    Size bound (unchanged in kind): the driver/executors hold the
    benchmark's distinct window keys (8 B each) plus the broadcast of
    its gram strings — ~10^5 grams (a large eval suite) is a few MB,
    benched as q14_decontam_100kgrams; it stays practical to ~10^7
    grams (~80 MB of keys on the driver plus the gram-string
    broadcast), the bound on the benchmark side's size."""
    spark = docs.sparkSession
    # benchmark side: eval slices routinely arrive behind a limit()
    # (collapsed to ONE partition — CLAUDE.md gotcha), which would run
    # the whole gram build serially; the set is small by contract, so a
    # round-robin repartition is free insurance.  The distinct gram
    # strings and their window keys are collected in ONE job: the keys
    # feed the probe, the grams the exact verify — nothing computed
    # twice and nothing persisted past the call (the broadcast holds the
    # gram strings on the driver anyway).
    bt = F.split(F.col("gram"), " ")
    bench = (
        with_word_kgrams(
            benchmark.repartition(spark.sparkContext.defaultParallelism),
            text_col, k, "gram", distinct=True, explode=True,
        )
        .select("gram")
        .distinct()
        .select(
            "gram",
            F.xxhash64(*[F.xxhash64(F.get(bt, j)) for j in range(k)])
            .alias("_h"),
        )
        .toPandas()
    )
    # bounded by the documented benchmark-set contract (8 B per
    # distinct gram; ~10^5 typical, ~80 MB at the 10^7 ceiling)
    keys_arr = np.unique(bench["_h"].to_numpy(dtype=np.int64))
    bench_grams = spark.createDataFrame(bench[["gram"]], "gram string")
    bc = spark.sparkContext.broadcast(keys_arr)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def surviving_positions(key_col: pd.Series) -> pd.Series:
        """Per doc: positions whose window key is in the benchmark key
        set (sorted-array membership, vectorized across the batch)."""
        ks = bc.value
        m = len(key_col)
        if m == 0:
            return pd.Series([], dtype=object)
        lengths = np.fromiter(
            (len(a) for a in key_col), dtype=np.int64, count=m
        )
        total = int(lengths.sum())
        if total == 0 or ks.size == 0:
            empty = np.empty(0, dtype=np.int32)
            return pd.Series([empty] * m)
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in key_col]
        )
        ins = np.searchsorted(ks, flat)
        hit = (ins < ks.size) & (ks[np.minimum(ins, ks.size - 1)] == flat)
        starts = np.concatenate(([0], np.cumsum(lengths)))
        pos_within = (
            np.arange(total, dtype=np.int64)
            - np.repeat(starts[:-1], lengths)
        ).astype(np.int32)
        out = []
        for i in range(m):
            seg = slice(starts[i], starts[i + 1])
            out.append(pos_within[seg][hit[seg]])
        return pd.Series(out)

    # corpus side, ONE traversal: token hashes -> positional window
    # keys -> Arrow probe -> gram strings for surviving positions only
    # -> exact broadcast verify.  Each derived array gets its own
    # projection (CollapseProject would otherwise inline the token-hash
    # transform into every window expression — CLAUDE.md gotcha).
    words = F.split(F.col(text_col), " ")
    s0 = docs.select(F.col(id_col).alias("id"), words.alias("_w"))
    s1 = s0.select(
        "id", "_w",
        F.transform(F.col("_w"), lambda x: F.xxhash64(x)).alias("_th"),
    )
    th = F.col("_th")
    n = F.size(th)
    idx = F.when(
        n >= k, F.sequence(F.lit(0), n - k)
    ).otherwise(F.array().cast("array<int>"))
    keys = F.transform(
        idx, lambda i: F.xxhash64(*[F.get(th, i + j) for j in range(k)])
    )
    s2 = s1.select("id", "_w", keys.alias("_wk"))
    s3 = s2.select(
        "id", "_w", surviving_positions(F.col("_wk")).alias("_sp")
    )
    cand = s3.select(
        "id",
        F.explode(
            F.transform(
                F.col("_sp"),
                lambda p: F.concat_ws(" ", F.slice(F.col("_w"), p + 1, k)),
            )
        ).alias("gram"),
    )
    return (
        cand.join(F.broadcast(bench_grams), "gram")
        .select("id")
        .distinct()
        .select(F.col("id").alias(id_col))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  k: int = SHINGLE_SIZE, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Training corpus minus benchmark-contaminated documents (left_anti
    on the contaminated id set, which broadcasts at realistic leak
    rates)."""
    bad = contaminated_ids(docs, benchmark, k=k, text_col=text_col,
                           id_col=id_col)
    return docs.join(bad, [id_col], "left_anti")
