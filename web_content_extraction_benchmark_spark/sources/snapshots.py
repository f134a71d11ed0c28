"""Iceberg-style snapshot log over Parquet: atomic commits + resume.

The sandbox ships no Iceberg/Delta jars, so commit semantics are realized
the way Iceberg itself does it — an append-only JSON manifest log next to
the data files; readers only see files named by a committed manifest.
This provides the north_rule's checkpoint/resume: a failed run leaves
orphan parquet files that no manifest references, and a restart
anti-joins the committed urls (the Spark translation of the reference's
``skip_existing`` resume, extract.py:93-104).

Layout:
    <table>/data/part-*.parquet       (written by Spark)
    <table>/_snapshots/v{N}.json      {"snapshot_id", "files", "row_count",
                                       "parent", "committed_at_ms"}
    <table>/_snapshots/LATEST         text file holding N (atomic rename)
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Snapshot:
    snapshot_id: int
    files: list[str]
    row_count: int
    parent: int | None


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.log_dir = os.path.join(path, "_snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)

    # -- log ----------------------------------------------------------
    def _latest_version(self) -> int:
        latest = os.path.join(self.log_dir, "LATEST")
        if not os.path.exists(latest):
            return 0
        with open(latest) as f:
            return int(f.read().strip() or 0)

    def current_snapshot(self) -> Snapshot | None:
        version = self._latest_version()
        if version == 0:
            return None
        with open(os.path.join(self.log_dir, f"v{version}.json")) as f:
            manifest = json.load(f)
        return Snapshot(
            snapshot_id=manifest["snapshot_id"],
            files=manifest["files"],
            row_count=manifest["row_count"],
            parent=manifest.get("parent"),
        )

    def committed_files(self) -> list[str]:
        snapshot = self.current_snapshot()
        return snapshot.files if snapshot else []

    # -- write path ----------------------------------------------------
    def _write_files(self, df: DataFrame) -> tuple[list[str], int]:
        staging = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(staging)
        new_files = [
            os.path.join(staging, name)
            for name in sorted(os.listdir(staging))
            if name.endswith(".parquet")
        ]
        spark = df.sparkSession
        new_rows = spark.read.parquet(*new_files).count() if new_files else 0
        return new_files, new_rows

    def append(self, df: DataFrame) -> Snapshot:
        """Write df as new parquet files, then commit a manifest that
        references old + new files.  Crash before the LATEST rename means
        the new files are invisible (atomic commit)."""
        new_files, new_rows = self._write_files(df)
        parent = self.current_snapshot()
        version = self._latest_version() + 1
        snapshot = Snapshot(
            snapshot_id=version,
            files=(parent.files if parent else []) + new_files,
            row_count=(parent.row_count if parent else 0) + new_rows,
            parent=parent.snapshot_id if parent else None,
        )
        return self._commit(snapshot)

    def overwrite(self, df: DataFrame) -> Snapshot:
        """Write df as new files and commit a manifest referencing ONLY
        them — Iceberg's replace/overwrite snapshot.  Prior versions
        stay readable via time travel (their files are never deleted
        here; expiry is a separate maintenance concern)."""
        new_files, new_rows = self._write_files(df)
        parent = self.current_snapshot()
        version = self._latest_version() + 1
        snapshot = Snapshot(
            snapshot_id=version,
            files=new_files,
            row_count=new_rows,
            parent=parent.snapshot_id if parent else None,
        )
        return self._commit(snapshot)

    def _commit(self, snapshot: Snapshot) -> Snapshot:
        version = snapshot.snapshot_id
        manifest_path = os.path.join(self.log_dir, f"v{version}.json")
        with open(manifest_path, "w") as f:
            json.dump(
                {
                    "snapshot_id": snapshot.snapshot_id,
                    "files": snapshot.files,
                    "row_count": snapshot.row_count,
                    "parent": snapshot.parent,
                },
                f,
            )
        # Atomic pointer flip.
        fd, tmp = tempfile.mkstemp(dir=self.log_dir)
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.log_dir, "LATEST"))
        return snapshot

    def write_uncommitted(self, df: DataFrame) -> str:
        """Simulates a crash mid-write: data lands, no manifest commit."""
        staging = os.path.join(self.data_dir, uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(staging)
        return staging

    # -- read path -----------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None
             ) -> DataFrame | None:
        """Read a committed snapshot (time travel via snapshot_id)."""
        if snapshot_id is None:
            snapshot = self.current_snapshot()
        else:
            manifest_path = os.path.join(
                self.log_dir, f"v{snapshot_id}.json"
            )
            try:
                with open(manifest_path) as f:
                    manifest = json.load(f)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot {snapshot_id} of {self.path} was expired "
                    "(or never committed) — time travel only reaches "
                    "versions retained by expire_snapshots"
                ) from None
            snapshot = Snapshot(
                manifest["snapshot_id"], manifest["files"],
                manifest["row_count"], manifest.get("parent"),
            )
        if snapshot is None or not snapshot.files:
            return None
        return spark.read.parquet(*snapshot.files)

    # -- maintenance ---------------------------------------------------
    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Retention maintenance, Iceberg's ``expireSnapshots``: keep
        the newest ``keep_last`` manifests, delete older ones, then
        delete every data file no RETAINED manifest references (a file
        can be referenced by many manifests — appends carry parents'
        files forward — so liveness is computed against the union of
        retained file lists, never a single version's).  Orphan staging
        from crashed writes (files no manifest ever committed) is swept
        by the same rule.

        Time travel to an expired version raises a clear error; the
        current snapshot is always retained (``keep_last >= 1``).

        MUST NOT run concurrently with a writer: an in-flight commit's
        just-staged files are unreferenced until its manifest lands and
        would be swept as orphans.  ``NearDupIndex.expire`` wraps this
        in the index's writer lock; standalone callers serialize
        themselves.  Returns removal counts."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        latest = self._latest_version()
        stats = {"manifests_removed": 0, "files_removed": 0}
        if latest == 0:
            return stats
        cutoff = max(1, latest - keep_last + 1)
        # Liveness is keyed on the path UNDER data/ — the trailing
        # '<staging-uuid>[/_bucket=N]/part-*.parquet' — never on the
        # recorded prefix: manifests record whatever spelling the
        # WRITER's cwd produced (relative path, absolute, symlinked),
        # and resolving that against the EXPIRER's cwd (realpath) can
        # point somewhere else entirely — every live file would then
        # classify as an orphan and the sweep would destroy the table.
        # Staging components are uuid4 hex, so the suffix is unique,
        # and no path component can itself be 'data' (uuid hex /
        # '_bucket=N' / 'part-*' only), so splitting on the LAST
        # '/data/' is unambiguous.
        def _suffix(p: str) -> str:
            return p.replace(os.sep, "/").rsplit("/data/", 1)[-1]

        retained: set[str] = set()
        for version in range(cutoff, latest + 1):
            manifest_path = os.path.join(self.log_dir, f"v{version}.json")
            if os.path.exists(manifest_path):
                with open(manifest_path) as f:
                    retained.update(
                        _suffix(p) for p in json.load(f)["files"]
                    )
        on_disk = {
            _suffix(os.path.join(root, fname))
            for root, _, files in os.walk(self.data_dir)
            for fname in files
            if fname.endswith(".parquet")
        }
        missing = retained - on_disk
        if missing:
            # a healthy table's retained manifests reference only
            # existing files; anything else means this open points at
            # the wrong/corrupt table — sweeping would compound it
            raise RuntimeError(
                f"expire_snapshots({self.path}): {len(missing)} "
                "retained manifest files not found on disk (e.g. "
                f"{sorted(missing)[:2]}) — refusing to sweep a table "
                "whose manifests and data directory disagree"
            )
        for name in os.listdir(self.log_dir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                version = int(name[1:-5])
            except ValueError:
                continue
            if version < cutoff:
                os.remove(os.path.join(self.log_dir, name))
                stats["manifests_removed"] += 1
        # bottom-up: delete unreferenced parquet, then remove any dir
        # left holding no parquet at all (write markers like _SUCCESS
        # go with their dir)
        for root, dirs, files in os.walk(self.data_dir, topdown=False):
            for fname in files:
                fpath = os.path.join(root, fname)
                if (
                    fname.endswith(".parquet")
                    and _suffix(fpath) not in retained
                ):
                    os.remove(fpath)
                    stats["files_removed"] += 1
            if root == self.data_dir:
                continue
            live = any(
                fname.endswith(".parquet")
                for _, _, fnames in os.walk(root)
                for fname in fnames
            )
            if not live:
                shutil.rmtree(root, ignore_errors=True)
        return stats


class BucketedSnapshotTable(SnapshotTable):
    """SnapshotTable whose data files are grouped into hash buckets —
    Iceberg's bucket partition transform over the same manifest log.

    Two scale properties the flat table cannot give (both exploited by
    ``operators/incremental_dedup.NearDupIndex``):

    - **bucket-pruned reads**: ``read_buckets`` opens only the files of
      the requested buckets, so a point/trickle lookup whose key set
      hashes into few buckets skips the rest of the store entirely.
      (When the probe side covers every bucket — e.g. a 10%-of-corpus
      batch — pruning degenerates to a full read by construction; the
      caller decides which regime it is in.)
    - **partial overwrite with file carryover**: ``overwrite_buckets``
      rewrites ONLY the named buckets and re-references the untouched
      buckets' existing files in the new manifest — a commit whose cost
      scales with the touched buckets' row count, not the table size.

    The writer derives each row's bucket itself (callers pass the bucket
    column already computed — one deterministic ``pmod(xxhash64(...))``
    expression shared by the write and read sides).  Manifests carry a
    ``buckets`` map (bucket -> files) alongside the flat ``files`` list,
    so every plain ``SnapshotTable`` read/time-travel path still works
    on a bucketed table.
    """

    BUCKET_COL = "_bucket"

    def __init__(self, path: str, n_buckets: int):
        if not isinstance(n_buckets, int) or n_buckets <= 0:
            raise ValueError(
                f"n_buckets must be a positive int, got {n_buckets!r}"
            )
        super().__init__(path)
        self.n_buckets = n_buckets

    # -- manifest helpers ----------------------------------------------
    def _bucket_manifest(self) -> tuple[dict[int, list[str]],
                                        dict[int, int]]:
        """(bucket -> files, bucket -> rows) of the latest snapshot.
        Raises on a flat manifest (one committed by plain
        ``SnapshotTable``): bucket membership of its files is unknown,
        so no pruned read or bucket commit can be correct on it."""
        version = self._latest_version()
        if version == 0:
            return {}, {}
        with open(os.path.join(self.log_dir, f"v{version}.json")) as f:
            manifest = json.load(f)
        raw = manifest.get("buckets")
        if raw is None:
            raise ValueError(
                f"{self.path} snapshot v{version} is a flat manifest (no "
                "bucket map) — bucket membership of its files is "
                "unknown, so bucketed reads and commits refuse it"
            )
        rows = manifest.get("bucket_rows", {})
        return (
            {int(b): files for b, files in raw.items()},
            {int(b): n for b, n in rows.items()},
        )

    def _write_bucketed_files(
        self, df: DataFrame
    ) -> tuple[dict[int, list[str]], dict[int, int]]:
        """Write df partitioned by BUCKET_COL; return files and row
        counts per bucket (the bucket column itself becomes a directory
        name, not a stored column — reads re-derive it from the shared
        ``bucket_of`` expression).  The count pass touches only the
        newly staged files, never the committed store."""
        staging = os.path.join(self.data_dir, uuid.uuid4().hex)
        # Repartition on the bucket column first so each commit lands
        # exactly ONE file per touched bucket.  A bare partitionBy
        # fans every upstream partition across every bucket directory
        # — O(partitions x buckets) files per commit — and since
        # append/overwrite manifests carry prior files forward, the
        # store's file count (and every later probe's task count)
        # grows per append: the r7 stress smoke measured the bands
        # probe at 9k+ tasks over ~1.2k stored docs after 3 appends.
        # Cost: write parallelism capped at n_buckets tasks (hash
        # partitioning maps each bucket value to one partition);
        # size n_buckets >= cores for big-batch deployments.
        (df.repartition(self.n_buckets, F.col(self.BUCKET_COL))
         .write.mode("overwrite").partitionBy(self.BUCKET_COL)
         .parquet(staging))
        per_bucket: dict[int, list[str]] = {}
        for name in sorted(os.listdir(staging)):
            if not name.startswith(f"{self.BUCKET_COL}="):
                continue
            bucket = int(name.split("=", 1)[1])
            bdir = os.path.join(staging, name)
            files = [
                os.path.join(bdir, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            ]
            if files:
                per_bucket[bucket] = files
        if not per_bucket:
            return {}, {}
        spark = df.sparkSession
        counts = {
            row[self.BUCKET_COL]: row["n"]
            for row in spark.read.option("basePath", staging)
            .parquet(staging)
            .groupBy(self.BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return per_bucket, {b: int(counts.get(b, 0)) for b in per_bucket}

    def _commit_buckets(self, bucket_files: dict[int, list[str]],
                        bucket_rows: dict[int, int]) -> Snapshot:
        parent = self.current_snapshot()
        version = self._latest_version() + 1
        flat = [f for b in sorted(bucket_files) for f in bucket_files[b]]
        total = sum(bucket_rows.values())
        manifest_path = os.path.join(self.log_dir, f"v{version}.json")
        with open(manifest_path, "w") as f:
            json.dump(
                {
                    "snapshot_id": version,
                    "files": flat,
                    "row_count": total,
                    "parent": parent.snapshot_id if parent else None,
                    "buckets": {str(b): fs
                                for b, fs in bucket_files.items()},
                    "bucket_rows": {str(b): n
                                    for b, n in bucket_rows.items()},
                },
                f,
            )
        fd, tmp = tempfile.mkstemp(dir=self.log_dir)
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.log_dir, "LATEST"))
        return Snapshot(version, flat, total,
                        parent.snapshot_id if parent else None)

    # -- write path ----------------------------------------------------
    def append_bucketed(self, df: DataFrame) -> Snapshot:
        """Append rows (df must carry BUCKET_COL); new files join the
        per-bucket file lists of the parent manifest."""
        files, rows = self._bucket_manifest()  # a flat one refuses first
        new_files, new_rows = self._write_bucketed_files(df)
        merged_files = {b: list(fs) for b, fs in files.items()}
        merged_rows = dict(rows)
        for bucket, fs in new_files.items():
            merged_files.setdefault(bucket, []).extend(fs)
            merged_rows[bucket] = merged_rows.get(bucket, 0) \
                + new_rows[bucket]
        return self._commit_buckets(merged_files, merged_rows)

    def overwrite_buckets(self, df: DataFrame,
                          touched: set[int]) -> Snapshot:
        """Replace ONLY the ``touched`` buckets with df's rows (df must
        carry BUCKET_COL and contain rows ONLY for touched buckets);
        every other bucket's files carry over into the new manifest
        untouched — a commit whose write AND bookkeeping cost scale with
        the touched buckets' row count, not the table size (carried
        buckets' row counts come from the parent manifest, no re-scan)."""
        files, rows = self._bucket_manifest()
        new_files, new_rows = self._write_bucketed_files(df)
        stray = set(new_files) - set(touched)
        if stray:
            raise ValueError(
                f"overwrite_buckets: df contains rows for buckets "
                f"{sorted(stray)} not in the touched set — the commit "
                "would silently drop their prior rows"
            )
        merged_files = {b: fs for b, fs in files.items()
                        if b not in touched}
        merged_rows = {b: rows.get(b, 0) for b in merged_files}
        for bucket, fs in new_files.items():
            merged_files[bucket] = fs
            merged_rows[bucket] = new_rows[bucket]
        return self._commit_buckets(merged_files, merged_rows)

    # -- read path -----------------------------------------------------
    def read_buckets(self, spark: SparkSession,
                     buckets: set[int]) -> DataFrame | None:
        """Read only the requested buckets' files (None = empty table)."""
        bucket_map, _ = self._bucket_manifest()
        files = [f for b in sorted(buckets) for f in bucket_map.get(b, [])]
        if not files:
            return None
        return spark.read.parquet(*files)

    # -- maintenance ---------------------------------------------------
    def bucket_file_counts(self) -> dict[int, int]:
        """Files per bucket of the latest snapshot."""
        files, _ = self._bucket_manifest()
        return {b: len(fs) for b, fs in files.items()}

    def commit_carryover(self) -> Snapshot:
        """Commit a new snapshot referencing exactly the current
        files — a version bump with zero I/O.  Used to keep sibling
        tables' snapshot versions aligned when only some of them had
        work to do (``NearDupIndex.assert_consistent`` pins the
        same-version invariant)."""
        files, rows = self._bucket_manifest()
        return self._commit_buckets(files, rows)

    def compact_buckets(self, spark: SparkSession,
                        max_files: int = 1) -> int:
        """Rewrite every bucket holding more than ``max_files`` files
        into one file each and commit a snapshot; buckets at or under
        the bound carry over untouched.  Returns the number of buckets
        rewritten (0 = nothing committed).

        This is the daily-append maintenance op: each append adds one
        file per touched bucket, so without compaction files/bucket —
        and every later probe's task/open count — grows with the
        APPEND COUNT rather than the data volume."""
        files, rows = self._bucket_manifest()
        to_compact = {b for b, fs in files.items()
                      if len(fs) > max_files}
        if not to_compact:
            return 0
        # One read per bucket (bounded by n_buckets), stamped with its
        # literal bucket id — no key column needed, the manifest IS
        # the bucket membership.
        df = None
        for bucket in sorted(to_compact):
            part = spark.read.parquet(*files[bucket]).withColumn(
                self.BUCKET_COL, F.lit(bucket).cast("int")
            )
            df = part if df is None else df.unionByName(part)
        self.overwrite_buckets(df, to_compact)
        return len(to_compact)


def bucket_of(col, n_buckets: int):
    """The shared bucket expression: ``pmod(xxhash64(col), n_buckets)``.
    Write side stamps it as the partition column; read side applies it
    to the probe keys to compute which buckets to open.  One definition
    so the two can never drift."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def remaining_pages(pages: DataFrame, answers_table: SnapshotTable,
                    model: str | None = None) -> DataFrame:
    """Resume: drop pages whose url is already in the committed answers
    snapshot (left-anti join — reference R3, extract.py:93-104)."""
    done = answers_table.read(pages.sparkSession)
    if done is None:
        return pages
    if model is not None:
        done = done.filter(F.col("model") == model)
    return pages.join(done.select("url"), "url", "left_anti")
