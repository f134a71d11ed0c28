"""Incremental near-duplicate dedup against a PERSISTED signature store.

``minhash_lsh_pairs`` signatures the whole corpus every run — at the
measured ~368 s / 1M docs (OPH kernel) a 100 TB corpus can never be
re-run, only appended to.  This module is the append path: an on-disk
index (Iceberg-style snapshot tables, ``sources/snapshots.py``) holds
the committed band keys, the committed documents, and the resolved
component labels; each new batch

1. signatures ONLY the batch (the O(batch x shingles) cost center
   never touches committed docs — the Spark translation of the
   reference's resume semantics, extract.py:93-104: never recompute
   committed work);
2. candidate-joins new-vs-new AND new-vs-stored on (band, key).  The
   stored side streams through a BroadcastHashJoin against the NEW
   batch's distinct band keys (small by construction), so the store is
   scanned but never shuffled — only matching stored rows (tiny) reach
   the pair join;
3. verifies candidates by EXACT Jaccard, re-shingling only the stored
   docs that actually appear in a candidate pair (a semi join by id
   against the committed docs table — with parquet min/max stats this
   prunes to the row groups holding those ids, not a corpus re-read);
4. resolves components INCREMENTALLY: only components TOUCHED by a new
   pair re-resolve (the prior label rows of touched components are the
   prior connectivity — a star graph per component — so transitive
   merges ACROSS batches collapse correctly), and every untouched
   component's labels carry over verbatim.  This step scales with the
   affected dup subgraph, not the whole dup graph and certainly not
   the corpus;
5. commits atomically: docs + bands appended, labels replaced, each
   through the snapshot log (a crash before commit leaves the index at
   the previous snapshot — orphan parquet is invisible).

Equivalence guarantee (pytest + driver-row oracled): because the
signature functions are deterministic, the union of per-batch
candidate sets equals the from-scratch candidate set — every unordered
pair {x, y} is examined when the LATER of the two batches is added —
and verification is exact Jaccard either way, so N incremental batches
produce byte-identical labels to one from-scratch run over the union.

Scale notes for the 100 TB deployment:
- batch cost = sign(batch) + probe(store bands) + resolve(touched
  subgraph) + commit(touched label buckets).  All three tables are
  hash-BUCKETED (``n_buckets``, Iceberg's bucket partition transform
  realized by ``sources/snapshots.BucketedSnapshotTable``): bands by
  ``key``, docs by id, labels by ``component``.  A batch reads only the
  store buckets its own keys/candidate-ids hash into, and the label
  commit rewrites only buckets holding a touched or newly resolved
  component — every other bucket's files carry over into the new
  manifest at zero I/O.  Pruning is regime-dependent by construction:
  a trickle/point append whose key set covers few buckets skips most of
  the store; a 10%-of-corpus batch covers every bucket and the probe
  degenerates to the sequential columnar scan of (id, band, key) —
  ~1-2% of corpus bytes (measured slope in
  BENCH/incremental_stress_r07.jsonl).
- the broadcast of the batch's distinct band keys is bounded by
  ~bands x |batch| x ~40 B; for a 10M-doc daily batch at 16 bands
  that is a few GB — above broadcast limits, flip the join direction
  (shuffle both sides on (band, key)) which is still O(batch) + one
  store shuffle, or split the batch.
- signature plugins (r7): the store is signature-agnostic — committed
  band rows are (id, band, key-string) whatever produced them — so the
  index runs under ``signature="minhash"`` (banded MinHash-LSH keys,
  exact-Jaccard verify at ``jaccard_threshold``; the corpus-scale
  default), ``signature="simhash"`` (the four pigeonhole 16-bit chunks
  as band keys, exact-hamming verify at ``max_hamming``), or
  ``signature="embedding"`` (random-hyperplane LSH over a float-vector
  column — band = table id, key = the band's sign-bit bucket, exactly
  ``similarity.lsh_candidate_cosines`` with ``n_tables=bands`` and
  ``n_planes=num_hashes//bands`` — verified by exact cosine at
  ``jaccard_threshold``, which doubles as the cosine threshold; the
  docs table stores the vectors, so only candidate-matched stored
  vectors are re-read, same pruning as text).  Every plugin shares the
  same equality guarantee: band keys are a pure per-doc function and
  the verify is a pure per-pair function, so the union of per-batch
  candidate sets equals the from-scratch candidate set and N appends
  produce byte-identical labels to one from-scratch run.
- retention (r7): every append commits new snapshot versions, and the
  labels table REWRITES its touched buckets — a daily-append
  deployment that never expires keeps every superseded label set on
  disk forever.  ``expire(keep_last=N)`` (CLI: ``dedup expire``) drops
  manifests below the horizon and deletes the data files no retained
  manifest references (file liveness is the union over retained
  manifests, so append-carried files survive); time travel below the
  horizon raises afterwards.
- ONE writer at a time: ``add_batch`` takes an exclusive on-disk LEASE
  (``_writer.lock/`` created by atomic mkdir, holding {token, pid,
  host, heartbeat_at, ttl}).  Staleness is decidable cross-host: a
  same-host dead pid OR an expired heartbeat (default TTL 900 s) is
  swept and taken over; holders refresh the heartbeat per phase and
  FENCE before commit (a holder paused past its TTL aborts on token
  mismatch instead of interleaving with the new holder).  Two
  concurrent writers would interleave the docs -> bands -> labels
  commits; ``assert_consistent`` detects that skew after the fact, the
  lease prevents it up front.  Contract: acquisition atomicity is
  mkdir's (POSIX/NFS/HDFS); on S3-style object stores without atomic
  namespace operations, front the index with an external lock service.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.snapshots import BucketedSnapshotTable, bucket_of
from .dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    HASH_FNS,
    SHINGLE_SIZE,
    _verify_jaccard,
    connected_components,
    lsh_band_keys,
    simhash64_col,
)
from .grams import with_word_kgrams

DEFAULT_INDEX_BUCKETS = 64


class ConcurrentWriterError(RuntimeError):
    """A second ``add_batch`` while another writer holds the index."""


class NearDupIndex:
    """Persisted MinHash-LSH near-dup index: ``add_batch`` signs a new
    batch, finds its near-dup pairs against everything committed so
    far, folds them into the global component labels, and commits.

    Ids must be unique across batches (re-adding a committed id is a
    caller error; the verify stage defensively prefers the new batch's
    text for such ids, but the docs table will hold both rows)."""

    def __init__(self, path: str, *,
                 num_hashes: int = DEFAULT_NUM_HASHES,
                 bands: int = DEFAULT_BANDS,
                 jaccard_threshold: float = 0.6,
                 hash_fn: str = "md5",
                 text_col: str = "text",
                 id_col: str = "doc_id",
                 n_buckets: int = DEFAULT_INDEX_BUCKETS,
                 signature: str = "minhash",
                 max_hamming: int = 3,
                 emb_dim: int | None = None,
                 lsh_seed: int = 42):
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes ({num_hashes}) must divide into bands ({bands})"
            )
        if signature not in ("minhash", "simhash", "embedding"):
            raise ValueError(
                f"unknown signature {signature!r}: 'minhash' (banded "
                "MinHash-LSH, exact-Jaccard verify), 'simhash' (16-bit "
                "pigeonhole chunks, exact-hamming verify), or "
                "'embedding' (hyperplane-LSH over a vector column, "
                "exact-cosine verify)"
            )
        if hash_fn not in HASH_FNS:
            raise ValueError(
                f"unknown hash_fn {hash_fn!r}: expected one of {HASH_FNS}"
            )
        if signature == "embedding" and emb_dim is None:
            raise ValueError(
                "signature='embedding' needs emb_dim (the vector width "
                "— the seeded hyperplanes are drawn at that shape, so "
                "it is part of the index configuration)"
            )
        if signature == "embedding" and jaccard_threshold <= 0:
            # the zero-norm banding exclusion relies on a positive
            # cosine threshold (a zero vector's guarded cos is 0.0)
            raise ValueError(
                "embedding signature needs a positive cosine "
                f"threshold, got {jaccard_threshold}"
            )
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.jaccard_threshold = jaccard_threshold
        self.hash_fn = hash_fn
        self.text_col = text_col
        self.id_col = id_col
        # signature plugin (r7): the store layout is signature-agnostic
        # — (id, band, key-string) rows — so SimHash slots in by
        # swapping the sign and verify kernels; the config pins which
        # one built the store (mixed-signature appends would silently
        # match nothing, same failure class as a hash_fn mismatch)
        self.signature = signature
        self.max_hamming = max_hamming
        self.emb_dim = emb_dim
        self.lsh_seed = lsh_seed
        # bucket layout is part of the index (rows land in directories
        # by this hash): an index refuses a different bucket count the
        # same way it refuses a different hash_fn
        self.n_buckets = n_buckets
        # the LSH configuration is part of the INDEX, not the call:
        # band keys computed under a different hash_fn/width would
        # silently match nothing against the store, and a different
        # threshold changes which pairs exist — the config is persisted
        # by the FIRST add_batch (read-only opens never mutate the
        # index) and mismatched reopens REFUSE (review findings r6)
        meta = self._meta()
        stored = self._read_meta(path)
        if stored is not None:
            missing = sorted(set(meta) - set(stored))
            if missing:
                # every meta this format writes carries all of _meta()'s
                # keys; one without them came from a flat-layout store
                raise ValueError(
                    f"index {path} predates the bucketed on-disk format "
                    f"(its index_meta.json lacks {missing}) — its tables "
                    "cannot be read as bucketed stores.  Rebuild the "
                    "index from its source documents."
                )
            known = {k: stored[k] for k in meta}  # ignore unknown keys
            if known != meta:
                diffs = {
                    key: (stored.get(key), meta[key])
                    for key in meta
                    if stored.get(key) != meta[key]
                }
                raise ValueError(
                    f"index {path} was built with a different "
                    f"configuration (stored vs requested): {diffs} — "
                    "appends under mismatched LSH parameters would "
                    "silently miss cross-batch duplicates.  Re-open "
                    "with the stored parameters (NearDupIndex.open "
                    "loads them) or build a new index."
                )
        elif os.path.exists(
            os.path.join(path, "bands", "_snapshots", "LATEST")
        ):
            # committed tables but no meta: a lost/never-written config.
            # Treating this as fresh would silently re-stamp whatever
            # parameters this open happens to carry — refuse instead.
            raise ValueError(
                f"index {path} has committed data but no "
                "index_meta.json — its LSH configuration is unknown, "
                "and appending under guessed parameters would silently "
                "miss cross-batch duplicates.  Restore the meta file "
                "(or rebuild the index)."
            )
        self.docs_table, self.bands_table, self.labels_table = (
            BucketedSnapshotTable(os.path.join(path, name), n_buckets)
            for name in ("docs", "bands", "labels")
        )

    def _meta(self) -> dict:
        return {
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "jaccard_threshold": self.jaccard_threshold,
            "hash_fn": self.hash_fn,
            "text_col": self.text_col,
            "id_col": self.id_col,
            "n_buckets": self.n_buckets,
            "signature": self.signature,
            "max_hamming": self.max_hamming,
            "emb_dim": self.emb_dim,
            "lsh_seed": self.lsh_seed,
        }

    @staticmethod
    def meta_path(path: str) -> str:
        return os.path.join(path, "index_meta.json")

    @classmethod
    def _read_meta(cls, path: str) -> dict | None:
        if not os.path.exists(cls.meta_path(path)):
            return None
        with open(cls.meta_path(path)) as f:
            return json.load(f)

    def _commit_meta(self) -> None:
        """Persist the config atomically (temp + rename, like the
        snapshot log's LATEST pointer) the first time the index is
        MUTATED — a crash mid-write must not leave a truncated file
        that bricks every later open."""
        if self._read_meta(self.path) is not None:
            return
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as f:
            json.dump(self._meta(), f)
        os.replace(tmp, self.meta_path(self.path))

    _PARAMS = ("num_hashes", "bands", "jaccard_threshold", "hash_fn",
               "text_col", "id_col", "n_buckets", "signature",
               "max_hamming", "emb_dim", "lsh_seed")

    @classmethod
    def open(cls, path: str, fresh_defaults: dict | None = None,
             **overrides) -> "NearDupIndex":
        """Open an existing index with its PERSISTED configuration
        (overrides of value ``None`` are ignored; a non-None override
        that conflicts with the stored config raises via __init__).
        On a fresh path, ``fresh_defaults`` (if given) fill any
        parameter the caller didn't set — the single place a CLI-style
        front-end states its production shape."""
        kwargs = {k: v for k, v in overrides.items() if v is not None}
        stored = cls._read_meta(path)
        if stored is not None:
            base = {k: stored[k] for k in cls._PARAMS if k in stored}
            base.update(kwargs)
            kwargs = base
        elif fresh_defaults:
            kwargs = {**fresh_defaults, **kwargs}
        return cls(path, **kwargs)

    # -- single-writer lease -------------------------------------------
    # mkdir is the atomic acquire primitive (EEXIST on contention —
    # POSIX, NFS, HDFS); the LEASE file inside carries {token, pid,
    # host, heartbeat_at, ttl_sec} so staleness is decidable even when
    # the holder is on ANOTHER machine, where a pid probe means
    # nothing: a lease is stale when (a) same host + dead pid, or
    # (b) heartbeat older than its TTL (crashed/partitioned holder
    # anywhere).  Holders refresh the heartbeat at each add_batch
    # phase; a holder that lost its lease to a takeover (paused past
    # TTL) detects the token mismatch on its next heartbeat and aborts
    # BEFORE committing — the fencing step of a standard lease.
    # Residual contract (index_meta.json + README): acquisition
    # atomicity is mkdir's — on S3-style object stores without atomic
    # namespace ops, front the index with a real lock service.
    LEASE_TTL_SEC = 900.0

    def _lock_dir(self) -> str:
        return os.path.join(self.path, "_writer.lock")

    def _lease_path(self) -> str:
        return os.path.join(self._lock_dir(), "lease")

    @staticmethod
    def _pid_alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        return True

    def _read_lease(self) -> dict | None:
        try:
            with open(self._lease_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def _lease_is_stale(self, lease: dict) -> bool:
        import socket
        import time as _t

        hb = lease.get("heartbeat_at")
        ttl = lease.get("ttl_sec") or self.LEASE_TTL_SEC
        if isinstance(hb, (int, float)) and _t.time() - hb > ttl:
            # expired anywhere — even a same-host pid that still looks
            # alive (reused after a crash); fencing stops a paused holder
            return True
        return (lease.get("host") == socket.gethostname()
                and isinstance(lease.get("pid"), int)
                and not self._pid_alive(lease["pid"]))

    def _write_lease(self) -> None:
        import socket
        import time as _t

        lease = {
            "token": self._lease_token,
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "heartbeat_at": _t.time(),
            "ttl_sec": self.LEASE_TTL_SEC,
        }
        tmp = self._lease_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(lease, f)
        os.replace(tmp, self._lease_path())

    def _heartbeat(self) -> None:
        """Refresh the lease mid-batch; abort if another writer took it
        over (this holder was paused past the TTL) — committing on a
        lost lease would interleave with the new holder."""
        current = self._read_lease()
        if current is None or current.get("token") != self._lease_token:
            raise ConcurrentWriterError(
                f"index {self.path}: writer lease lost (taken over by "
                f"{current.get('host') if current else '<released>'}) — "
                "aborting before commit")
        self._write_lease()

    def _acquire_writer_lock(self) -> None:
        import uuid

        os.makedirs(self.path, exist_ok=True)
        lease: dict | None = None
        for attempt in range(3):
            try:
                os.mkdir(self._lock_dir())
            except FileExistsError:
                lease = self._read_lease()
                if lease is None:
                    # mid-acquire or corrupt: give the other writer a
                    # beat to land its lease, then re-check (sweeping a
                    # lock whose lease is about to appear would race)
                    import time as _t

                    _t.sleep(0.2)
                    continue
                if self._lease_is_stale(lease):
                    # expired heartbeat or dead same-host pid: sweep
                    try:
                        os.remove(self._lease_path())
                    except OSError:
                        pass
                    try:
                        os.rmdir(self._lock_dir())
                    except OSError:
                        pass  # another sweeper won the race
                    continue
                break  # live holder: contended
            else:
                self._lease_token = uuid.uuid4().hex
                self._write_lease()
                return
        holder = (f"pid {lease.get('pid')} on {lease.get('host')}"
                  if lease else "<unknown>")
        raise ConcurrentWriterError(
            f"index {self.path} is locked by writer {holder} — "
            "NearDupIndex allows ONE add_batch at a time (interleaved "
            "commits would skew the docs/bands/labels snapshot "
            "versions).  A crashed holder's lease expires after "
            f"{self.LEASE_TTL_SEC:.0f}s and is then swept automatically."
        )

    def _release_writer_lock(self) -> None:
        for name in ("lease", "lease.tmp"):
            try:
                os.remove(os.path.join(self._lock_dir(), name))
            except OSError:
                pass
        try:
            os.rmdir(self._lock_dir())
        except OSError:
            pass

    # -- consistency ---------------------------------------------------
    def assert_consistent(self) -> int:
        """Each ``add_batch`` commits once to each table in a fixed
        order (docs -> bands -> labels), so a healthy index has all
        three at the SAME snapshot version; a crash between commits
        leaves a detectable skew.  Returns the common version, or
        raises with the recovery instruction (the per-table snapshot
        logs keep every prior version, so rolling back = reading each
        table at the min common version via time travel and re-running
        the interrupted batch)."""
        versions = {
            "docs": self.docs_table._latest_version(),
            "bands": self.bands_table._latest_version(),
            "labels": self.labels_table._latest_version(),
        }
        if len(set(versions.values())) != 1:
            raise RuntimeError(
                f"index commit skew {versions}: a batch crashed between "
                f"table commits — read all tables at version "
                f"{min(versions.values())} (time travel) and re-run the "
                "interrupted batch"
            )
        return versions["docs"]

    # -- maintenance ---------------------------------------------------
    def compact(self, spark: SparkSession,
                max_files_per_bucket: int = 8,
                expire_keep_last: int | None = 1) -> dict[str, int]:
        """Compact any store bucket holding more than
        ``max_files_per_bucket`` files down to one file each.  Each
        append lands one file per touched bucket, so a daily-append
        deployment grows files/bucket — and every probe's open/task
        count — linearly with the append count; run this between
        batches (weekly at daily appends, say) to re-bound it.

        Takes the writer lock.  Returns buckets rewritten per table.
        If ANY table rewrites, the others commit a zero-I/O carryover
        snapshot so all three stay at the same version
        (``assert_consistent``'s invariant); if nothing exceeds the
        bound, nothing commits at all.

        ``expire_keep_last`` (default 1): when compaction rewrote
        anything, immediately expire snapshot history down to that many
        versions in the SAME lock hold.  The default of 1 is what
        actually reclaims the superseded files: compaction is a
        logical no-op (the post-compaction snapshot has identical
        content), so any horizon that RETAINS the pre-compaction
        version keeps its file references alive and the store
        transiently DOUBLES on disk until the next expire (the batch-5
        spike in BENCH/incremental_maint_r07.jsonl was exactly
        compact + expire(keep_last=2)).  Keeping only the compacted
        snapshot loses no logical recoverability.  Pass ``None`` to
        keep full history (time-travel auditing)."""
        self._acquire_writer_lock()
        try:
            tables = {
                "docs": self.docs_table,
                "bands": self.bands_table,
                "labels": self.labels_table,
            }
            rewritten = {
                name: table.compact_buckets(
                    spark, max_files=max_files_per_bucket
                )
                for name, table in tables.items()
            }
            if any(rewritten.values()):
                for name, table in tables.items():
                    if not rewritten[name]:
                        table.commit_carryover()
                if expire_keep_last is not None:
                    self._heartbeat()
                    self._expire_locked(expire_keep_last)
            return rewritten
        finally:
            self._release_writer_lock()

    # -- read side -----------------------------------------------------
    def labels(self, spark: SparkSession) -> DataFrame:
        """(id, component) for every doc that ever appeared in a
        verified near-dup pair; component = min member id.  Docs never
        paired carry no row (they are their own singleton component)."""
        committed = self.labels_table.read(spark)
        if committed is not None:
            return committed.select("id", "component")
        return spark.createDataFrame(
            [], "id long, component long"
        )

    def expire(self, keep_last: int = 2) -> dict[str, dict[str, int]]:
        """Retention maintenance: expire all three stores' snapshot
        history down to the newest ``keep_last`` versions and delete
        the data files (superseded label rewrites, compacted-away band
        files, crashed-write orphans) nothing retained references.  A
        daily-append deployment that never expires keeps every
        historical label set forever — the labels table alone grows
        O(appends x clustered docs) on disk.

        Takes the writer lock (expiry sweeps unreferenced files, and an
        in-flight commit's staged-but-uncommitted files look exactly
        like orphans).  Time travel below the horizon raises after
        this.  Returns per-table removal counts.  `compact` runs this
        automatically under its own lock (``expire_keep_last``), so a
        standalone call is only needed to shrink history between
        compactions."""
        self._acquire_writer_lock()
        try:
            return self._expire_locked(keep_last)
        finally:
            self._release_writer_lock()

    def _expire_locked(self, keep_last: int) -> dict[str, dict[str, int]]:
        return {
            name: table.expire_snapshots(keep_last)
            for name, table in (
                ("docs", self.docs_table),
                ("bands", self.bands_table),
                ("labels", self.labels_table),
            )
        }

    def committed_docs(self, spark: SparkSession) -> DataFrame | None:
        return self.docs_table.read(spark)

    def unique_docs(self, spark: SparkSession) -> DataFrame:
        """The deduplicated view of everything committed: one canonical
        doc (min id) per near-dup cluster."""
        docs = self.docs_table.read(spark)
        if docs is None:
            raise ValueError("empty index — add a batch first")
        losers = self.labels(spark).filter(
            F.col("id") != F.col("component")
        ).select(F.col("id").alias(self.id_col))
        return docs.join(losers, [self.id_col], "left_anti")

    def _band_rows(self, b: DataFrame) -> DataFrame:
        """(id, band, key) for one batch under the configured signature
        — the store layout both plugins share.  MinHash: banded LSH
        keys.  SimHash: the four pigeonhole 16-bit chunks as
        (chunk_id, chunk-as-string) — hamming<=3 pairs share at least
        one chunk exactly, so the identical (band, key) candidate join
        applies; sig==0 (blank) docs are excluded exactly as the
        from-scratch operator excludes them
        (``dedup.simhash_near_duplicates``: a web corpus's millions of
        empty docs would otherwise form one quadratic bucket).
        Embedding: band = hyperplane table id, key = that table's
        sign-bit bucket — the same seeded ``hyperplane_bucket_udf``
        chain as ``similarity.lsh_candidate_cosines`` (``seed + t`` per
        table), so incremental candidates equal the from-scratch
        operator's exactly."""
        if self.signature == "minhash":
            return lsh_band_keys(
                b, self.text_col, self.id_col,
                self.num_hashes, self.bands, self.hash_fn,
            )
        if self.signature == "embedding":
            from .similarity import (
                _as_double,
                hyperplane_bucket_exprs,
                norm,
            )

            n_planes = self.num_hashes // self.bands
            # zero-norm vectors excluded before banding — they all
            # hash to bucket 0 of every table (one quadratic candidate
            # bucket) and the cosine verify drops their pairs anyway
            # (guarded cos 0.0; __init__ pins threshold > 0); the
            # from-scratch operator applies the same exclusion, so
            # candidate parity holds
            src = b.select(
                F.col(self.id_col).alias("id"),
                _as_double(F.col(self.text_col)).alias("_v"),
            ).filter(norm(F.col("_v")) > 0)
            buckets = hyperplane_bucket_exprs(
                self.emb_dim, n_planes, self.bands, self.lsh_seed,
                F.col("_v"),
            )
            return src.select(
                "id",
                F.posexplode(F.array(*buckets)).alias("band", "_key_long"),
            ).select(
                "id", "band",
                F.col("_key_long").cast("string").alias("key"),
            )
        sig = b.select(
            F.col(self.id_col).alias("id"),
            simhash64_col(F.col(self.text_col)).alias("sig"),
        ).filter(F.col("sig") != 0)
        return sig.select(
            "id",
            F.posexplode(
                F.array(*[
                    F.shiftrightunsigned(F.col("sig"), s)
                    .bitwiseAND(F.lit(0xFFFF))
                    for s in (0, 16, 32, 48)
                ])
            ).alias("band", "_key_long"),
        ).select(
            "id", "band", F.col("_key_long").cast("string").alias("key")
        )

    def _feature_rows(self, src: DataFrame) -> DataFrame:
        """(id, sh) verify features: shingle set (minhash mode), the
        64-bit SimHash signature (simhash mode), or the vector with its
        norm materialized (embedding mode — one norm per ROW, so the
        verify pays one dot product per candidate pair, not three
        O(dim) aggregates).  Recomputed from the stored value column —
        the store never persists signatures, so every plugin prunes the
        committed-docs read the same way and re-signs only
        candidate-matched stored docs."""
        if self.signature == "minhash":
            return with_word_kgrams(
                src, self.text_col, SHINGLE_SIZE, "sh", distinct=True
            ).select(F.col(self.id_col).alias("id"), "sh")
        if self.signature == "embedding":
            from .similarity import _as_double, norm

            vec = _as_double(F.col(self.text_col))
            feature = F.struct(
                vec.alias("v"), norm(vec).alias("n")
            )
        else:
            feature = simhash64_col(F.col(self.text_col))
        return src.select(
            F.col(self.id_col).alias("id"), feature.alias("sh")
        )

    def _verify_cosine(self, candidates: DataFrame,
                       sigs: DataFrame) -> DataFrame:
        """Exact cosine on candidate pairs (embedding mode's analogue
        of ``_verify_jaccard``; ``jaccard_threshold`` doubles as the
        cosine threshold).  Norms come pre-materialized from
        ``_feature_rows``; the zero-norm guard inside
        ``cosine_with_norms`` keeps all-zero vectors at cos 0 (dropped
        by any positive threshold) instead of NaN."""
        from .similarity import cosine_with_norms

        sg_a = sigs.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sg_a")
        )
        sg_b = sigs.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sg_b")
        )
        cos = cosine_with_norms(
            F.col("sg_a.v"), F.col("sg_b.v"),
            F.col("sg_a.n"), F.col("sg_b.n"),
        )
        return (
            candidates.join(sg_a, "id_a")
            .join(sg_b, "id_b")
            .select("id_a", "id_b", cos.alias("cos"))
            .filter(F.col("cos") >= self.jaccard_threshold)
        )

    def _verify_hamming(self, candidates: DataFrame,
                        sigs: DataFrame) -> DataFrame:
        """Exact hamming on candidate pairs (simhash mode's analogue of
        ``_verify_jaccard``)."""
        sg_a = sigs.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sg_a")
        )
        sg_b = sigs.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sg_b")
        )
        hamming = F.bit_count(F.col("sg_a").bitwiseXOR(F.col("sg_b")))
        return (
            candidates.join(sg_a, "id_a")
            .join(sg_b, "id_b")
            .select("id_a", "id_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= self.max_hamming)
        )

    @staticmethod
    def candidate_pairs(new_bands: DataFrame,
                        stored_bands: DataFrame | None) -> DataFrame:
        """Distinct candidate (id_a, id_b): the batch's band self-join
        plus — when a store exists — the store streaming through a
        broadcast join against the batch's (small) distinct key set,
        so the store is scanned but NEVER shuffled (plan-audited in
        BENCH/PLANS.md)."""
        left = new_bands.select(F.col("id").alias("id_a"), "band", "key")
        right = new_bands.select(F.col("id").alias("id_b"), "band", "key")
        cands = (
            left.join(right, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        if stored_bands is not None:
            new_keys = new_bands.select("band", "key").distinct()
            stored_hits = stored_bands.join(
                F.broadcast(new_keys), ["band", "key"]
            )
            cross = (
                new_bands.select(
                    F.col("id").alias("_new"), "band", "key"
                )
                .join(
                    stored_hits.select(
                        F.col("id").alias("_old"), "band", "key"
                    ),
                    ["band", "key"],
                )
                .filter(F.col("_new") != F.col("_old"))
                .select(
                    F.least("_new", "_old").alias("id_a"),
                    F.greatest("_new", "_old").alias("id_b"),
                )
            )
            cands = cands.unionByName(cross)
        return cands.dropDuplicates(["id_a", "id_b"])

    # -- write side ----------------------------------------------------
    def add_batch(self, batch: DataFrame,
                  timings: dict | None = None) -> DataFrame:
        """Sign ONLY ``batch``, pair it against (batch ∪ store), merge
        components, commit.  Returns the newly verified pairs —
        (id_a, id_b, jaccard) under the minhash signature,
        (id_a, id_b, hamming) under simhash, (id_a, id_b, cos) under
        embedding — every pair involves >= 1 batch doc.
        The returned DataFrame is PERSISTED: callers that are done with
        it must ``unpersist()`` it (a daemon looping add_batch would
        otherwise accumulate one cached pair set per batch).

        Takes the single-writer lock for the whole call (see module
        docstring); a second concurrent writer raises
        ConcurrentWriterError instead of silently interleaving commits.

        Pass a dict as ``timings`` to get per-phase wall seconds
        (sign / candidates+verify / resolve / commit) — phase
        boundaries are then forced with an extra count per phase, so
        leave it None in production (the phases otherwise fuse into
        Spark's own job boundaries).  The dict also reports
        bands_buckets_read / docs_buckets_read /
        labels_buckets_rewritten out of n_buckets."""
        self._acquire_writer_lock()
        try:
            return self._add_batch_locked(batch, timings)
        finally:
            self._release_writer_lock()

    def _bucket_set(self, df: DataFrame, col: str) -> set[int]:
        """Distinct store buckets the probe keys hash into — at most
        ``n_buckets`` values, so the collect is bounded and tiny."""
        return {
            row["b"]
            for row in df.select(
                bucket_of(F.col(col), self.n_buckets).alias("b")
            ).distinct().collect()
        }

    def _add_batch_locked(self, batch: DataFrame,
                          timings: dict | None = None) -> DataFrame:
        import time as _time

        t0 = _time.perf_counter()
        spark = batch.sparkSession
        b = batch.select(
            F.col(self.id_col), F.col(self.text_col)
        ).persist()
        new_bands = self._band_rows(b).persist()
        if timings is not None:
            new_bands.count()
            timings["sign_sec"] = round(_time.perf_counter() - t0, 2)
            t0 = _time.perf_counter()

        # -- candidates: new-vs-new ∪ new-vs-stored ---------------------
        # bucket-pruned store probe: only the buckets the batch's own
        # keys hash into are opened (a trickle batch skips the rest of
        # the store at file level; a corpus-fraction batch covers every
        # bucket and this degenerates to the full sequential scan — the
        # regime note in the module docstring)
        band_buckets = self._bucket_set(new_bands, "key")
        stored_bands = self.bands_table.read_buckets(spark, band_buckets)
        if timings is not None:
            timings["bands_buckets_read"] = len(band_buckets)
            timings["n_buckets"] = self.n_buckets
        # persisted: the verify stage reads cands TWICE when a store
        # exists (as the pair list AND inside cand_ids for the old-doc
        # semi join) — unpersisted, the store scan would run twice
        cands = self.candidate_pairs(new_bands, stored_bands).persist()

        # -- exact verify (signature-specific kernel) -------------------
        sh = self._feature_rows(b)
        if self.docs_table._latest_version() == 0:
            stored_docs = None
        else:
            # prune the committed-docs read to the buckets holding a
            # candidate id — the only stored TEXT a batch ever touches
            # is the candidate-matched docs it re-shingles for the
            # exact-Jaccard verify
            cand_id_df = (
                cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct()
            )
            doc_buckets = self._bucket_set(cand_id_df, "id")
            stored_docs = self.docs_table.read_buckets(spark, doc_buckets)
            if timings is not None:
                timings["docs_buckets_read"] = len(doc_buckets)
        if stored_docs is not None:
            cand_ids = (
                cands.select(F.col("id_a").alias("id"))
                .unionByName(cands.select(F.col("id_b").alias("id")))
                .distinct()
            )
            old_needed = stored_docs.join(
                cand_ids,
                stored_docs[self.id_col] == cand_ids["id"],
                "left_semi",
            ).join(  # defensive: batch text wins for re-added ids
                b.select(self.id_col), [self.id_col], "left_anti"
            )
            sh = sh.unionByName(self._feature_rows(old_needed))
        if self.signature == "minhash":
            pairs = _verify_jaccard(
                cands, sh, self.jaccard_threshold
            ).persist()
        elif self.signature == "embedding":
            pairs = self._verify_cosine(cands, sh).persist()
        else:
            pairs = self._verify_hamming(cands, sh).persist()
        if timings is not None:
            pairs.count()
            timings["candidates_verify_sec"] = round(
                _time.perf_counter() - t0, 2
            )
            t0 = _time.perf_counter()
        self._heartbeat()  # keep the lease fresh across long phases

        # -- resolve: only components TOUCHED by a new pair ------------
        prior = self.labels_table.read(spark)
        touched = None
        if prior is None:
            write_labels = connected_components(
                pairs.select("id_a", "id_b")
            )
            # first batch: every resolved component's bucket is new
            touched_buckets = self._bucket_set(write_labels, "component")
        else:
            prior = prior.persist()
            pair_nodes = (
                pairs.select(F.col("id_a").alias("id"))
                .unionByName(pairs.select(F.col("id_b").alias("id")))
                .distinct()
            )
            # prior is re-read by the semi/anti joins below and touched
            # feeds two joins — persist both or each consumer rescans
            touched = (
                prior.join(pair_nodes, "id", "left_semi")
                .select("component")
                .distinct()
            ).persist()
            # every member of a touched component re-resolves (its
            # star edges re-enter the graph); everyone else's label
            # carries over verbatim — no cross edges can exist between
            # the two sets (an untouched node is in no new pair)
            affected = prior.join(touched, "component", "left_semi")
            edges = pairs.select("id_a", "id_b").unionByName(
                affected.select(
                    F.col("id").alias("id_a"),
                    F.col("component").alias("id_b"),
                )
            )
            resolved = connected_components(edges)
            # rewrite ONLY the buckets that hold a touched component
            # (rows leave) or a newly resolved one (rows land — a merged
            # component's min-id can hash to a bucket none of its old
            # parts lived in); every other bucket's files carry over in
            # the manifest.  The rewritten buckets must keep their
            # untouched co-resident components, read back bucket-pruned.
            # NB: a list-key join moves the key column FIRST — re-select
            # the canonical (id, component) order
            touched_buckets = self._bucket_set(
                touched, "component"
            ) | self._bucket_set(resolved, "component")
            prior_tb = self.labels_table.read_buckets(
                spark, touched_buckets
            )
            if prior_tb is None:
                write_labels = resolved
            else:
                keep = prior_tb.join(
                    touched, "component", "left_anti"
                ).select("id", "component")
                write_labels = keep.unionByName(resolved)
        if timings is not None:
            write_labels = write_labels.persist()
            write_labels.count()
            timings["resolve_sec"] = round(_time.perf_counter() - t0, 2)
            t0 = _time.perf_counter()

        # -- commit ----------------------------------------------------
        # fencing: a holder paused past the lease TTL (GC storm, long
        # stage) must detect a takeover BEFORE mutating the store
        self._heartbeat()
        self._commit_meta()  # first mutation stamps the config
        bcol = BucketedSnapshotTable.BUCKET_COL
        self.docs_table.append_bucketed(
            b.withColumn(bcol, bucket_of(F.col(self.id_col), self.n_buckets))
        )
        self.bands_table.append_bucketed(
            new_bands.withColumn(bcol, bucket_of(F.col("key"), self.n_buckets))
        )
        self.labels_table.overwrite_buckets(
            write_labels.withColumn(
                bcol, bucket_of(F.col("component"), self.n_buckets)
            ),
            touched_buckets,
        )
        if timings is not None:
            timings["labels_buckets_rewritten"] = len(touched_buckets)
            timings["commit_sec"] = round(_time.perf_counter() - t0, 2)
            write_labels.unpersist()
        if prior is not None:
            prior.unpersist()
            touched.unpersist()
        cands.unpersist()
        b.unpersist()
        new_bands.unpersist()
        return pairs
