"""Snapshot-log commit semantics + checkpoint/resume (north_rule)."""

from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.plans.pipeline import extract_answers
from web_content_extraction_benchmark_spark.sources.pages import synthesize_pages
from web_content_extraction_benchmark_spark.sources.snapshots import (
    SnapshotTable,
    remaining_pages,
)


def test_append_commit_read(spark, sf_dir, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = table.append(docs.filter(F.col("doc_id") < 100))
    assert s1.snapshot_id == 1
    assert table.read(spark).count() == 100
    s2 = table.append(docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)))
    assert s2.snapshot_id == 2
    assert table.read(spark).count() == 150
    # time travel
    assert table.read(spark, snapshot_id=1).count() == 100


def test_uncommitted_files_invisible(spark, sf_dir, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    table.append(docs.filter(F.col("doc_id") < 10))
    # crash-before-commit: parquet lands, manifest does not
    table.write_uncommitted(docs.filter(F.col("doc_id") >= 10))
    assert table.read(spark).count() == 10


def test_resume_no_duplicates_no_missing(spark, sf_dir, tmp_path):
    """Kill-and-restart: first run commits a partial answers snapshot,
    then crashes mid-write; the restart anti-joins committed urls and
    finishes.  No url may be duplicated or missing."""
    pages = synthesize_pages(spark, sf_dir).cache()
    n_total = pages.count()
    answers_table = SnapshotTable(str(tmp_path / "answers"))

    # run 1: process ~40% of pages, commit, then 'crash' mid-second-batch
    first = pages.filter(F.col("doc_id") % 5 < 2)
    answers_table.append(extract_answers(first, ["main_content"]))
    answers_table.write_uncommitted(
        extract_answers(pages.filter(F.col("doc_id") % 5 == 2), ["main_content"])
    )

    # restart: resume from last committed snapshot
    todo = remaining_pages(pages, answers_table, model="main_content")
    assert todo.count() == pages.filter(F.col("doc_id") % 5 >= 2).count()
    answers_table.append(extract_answers(todo, ["main_content"]))

    final = answers_table.read(spark)
    assert final.count() == n_total
    assert final.select("url").distinct().count() == n_total
    # and the merged result is still byte-identical to gold
    joined = final.alias("a").join(
        pages.select("url", "gold").alias("p"), "url"
    )
    assert joined.filter(F.expr("a.plaintext != p.gold")).count() == 0


def test_bucketed_snapshot_table_append_read_overwrite(spark, tmp_path):
    """BucketedSnapshotTable: per-bucket manifests, pruned reads, and
    partial overwrite with file carryover + stray-bucket refusal."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from web_content_extraction_benchmark_spark.sources.snapshots import (
        BucketedSnapshotTable,
        bucket_of,
    )

    t = BucketedSnapshotTable(str(tmp_path / "bt"), n_buckets=8)
    bcol = BucketedSnapshotTable.BUCKET_COL
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).withColumn(bcol, bucket_of(F.col("id"), 8))
    t.append_bucketed(df)
    files, rows = t._bucket_manifest()
    assert set(files) == set(range(8)) and sum(rows.values()) == 200
    # flat read sees everything, schema has NO bucket column
    full = t.read(spark)
    assert full.count() == 200 and bcol not in full.columns
    # pruned read opens only the requested buckets' files
    pruned = t.read_buckets(spark, {3})
    assert all(f"{bcol}=3/" in f for f in pruned.inputFiles())
    want_b3 = {r.id for r in full.withColumn(bcol, bucket_of(F.col("id"), 8))
               .filter(F.col(bcol) == 3).collect()}
    assert {r.id for r in pruned.collect()} == want_b3

    # append again: bucket file lists grow, counts accumulate
    t.append_bucketed(df.limit(0))  # empty append = version bump only
    assert t.read(spark).count() == 200

    # partial overwrite: replace bucket 3 only, everything else carries
    before, _ = t._bucket_manifest()
    repl = spark.createDataFrame(
        [(r, -1) for r in sorted(want_b3)], "id long, v long"
    ).withColumn(bcol, bucket_of(F.col("id"), 8))
    t.overwrite_buckets(repl, {3})
    after, after_rows = t._bucket_manifest()
    assert after[4] == before[4]  # untouched bucket: same file paths
    assert after[3] != before[3]
    got = t.read(spark)
    assert got.filter(F.col("v") == -1).count() == len(want_b3)
    assert got.count() == 200
    assert sum(after_rows.values()) == 200  # bookkeeping, no re-scan

    # stray-bucket refusal: rows outside the touched set are an error
    with _pytest.raises(ValueError, match="not in the touched set"):
        t.overwrite_buckets(df, {3})


def test_bucketed_table_refuses_flat_manifest(spark, tmp_path):
    """A table whose latest manifest was committed flat (plain
    SnapshotTable, no bucket map) is refused by every bucketed
    operation — a pruned read would miss rows and a bucket commit would
    drop them — and none of them commits anything."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from web_content_extraction_benchmark_spark.sources.snapshots import (
        BucketedSnapshotTable,
        SnapshotTable,
        bucket_of,
    )

    path = str(tmp_path / "flat")
    flat = SnapshotTable(path)
    flat.append(spark.range(10))
    bt = BucketedSnapshotTable(path, n_buckets=4)
    df = spark.range(20).withColumn(
        BucketedSnapshotTable.BUCKET_COL, bucket_of(F.col("id"), 4)
    )
    everything = {0, 1, 2, 3}
    for op in (
        lambda: bt.read_buckets(spark, everything),
        lambda: bt.append_bucketed(df),
        lambda: bt.overwrite_buckets(df, everything),
        lambda: bt.compact_buckets(spark),
    ):
        with _pytest.raises(ValueError, match="flat manifest"):
            op()
    assert bt._latest_version() == 1  # nothing committed
    assert flat.read(spark).count() == 10


def test_bucketed_write_lands_one_file_per_bucket_and_compacts(
    spark, tmp_path
):
    """Each commit writes exactly one file per touched bucket (the
    repartition-by-bucket write shape — without it file count grows
    O(partitions x buckets) per commit), and compact_buckets re-bounds
    files/bucket after a run of appends without changing the data."""
    from pyspark.sql import functions as F

    from web_content_extraction_benchmark_spark.sources.snapshots import (
        BucketedSnapshotTable,
        bucket_of,
    )

    t = BucketedSnapshotTable(str(tmp_path / "ct"), n_buckets=4)
    bcol = BucketedSnapshotTable.BUCKET_COL

    def mk(lo, hi):
        # 16 upstream partitions: the pre-fix shape would write up to
        # 16 files per bucket per commit
        return (
            spark.range(lo, hi, 1, 16)
            .select(F.col("id"), (F.col("id") * 3).alias("v"))
            .withColumn(bcol, bucket_of(F.col("id"), 4))
        )

    for k in range(3):
        t.append_bucketed(mk(k * 100, (k + 1) * 100))
    counts = t.bucket_file_counts()
    assert counts == {b: 3 for b in range(4)}, counts  # 1/bucket/commit

    before = {(r.id, r.v) for r in t.read(spark).collect()}
    v_before = t._latest_version()
    assert t.compact_buckets(spark, max_files=1) == 4
    assert t.bucket_file_counts() == {b: 1 for b in range(4)}
    assert t._latest_version() == v_before + 1
    after = {(r.id, r.v) for r in t.read(spark).collect()}
    assert after == before and len(after) == 300
    # under the bound: nothing rewritten, nothing committed
    assert t.compact_buckets(spark, max_files=1) == 0
    assert t._latest_version() == v_before + 1
    # carryover: version bump, same files
    files_now, _ = t._bucket_manifest()
    t.commit_carryover()
    assert t._latest_version() == v_before + 2
    files_after, _ = t._bucket_manifest()
    assert files_after == files_now


def test_expire_snapshots_drops_history_and_unreferenced_files(
    spark, tmp_path
):
    """expire_snapshots: retained reads intact, below-horizon manifests
    and THEIR now-unreferenced data files gone, crashed-write orphans
    swept, expired time travel raises a clear error."""
    import os

    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 5).select(F.col("id").alias("x")))
    t.append(spark.range(5, 8).select(F.col("id").alias("x")))
    # v3 overwrite: v1/v2's files become unreferenced once expired
    t.overwrite(spark.range(100, 103).select(F.col("id").alias("x")))
    orphan = t.write_uncommitted(
        spark.range(0, 3).select(F.col("id").alias("x"))
    )
    stats = t.expire_snapshots(keep_last=1)
    assert stats["manifests_removed"] == 2
    assert stats["files_removed"] > 0
    assert sorted(r.x for r in t.read(spark).collect()) == [100, 101, 102]
    assert not os.path.exists(orphan)
    with pytest.raises(ValueError, match="expired"):
        t.read(spark, snapshot_id=1)
    # idempotent: a second expire has nothing left to remove
    again = t.expire_snapshots(keep_last=1)
    assert again == {"manifests_removed": 0, "files_removed": 0}


def test_expire_keeps_files_carried_into_retained_manifests(
    spark, tmp_path
):
    """Liveness is the union over RETAINED manifests: an append-chain
    table's newest manifest references every prior append's files, so
    expiring the old manifests must delete nothing."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 4).select(F.col("id").alias("x")))
    t.append(spark.range(4, 6).select(F.col("id").alias("x")))
    stats = t.expire_snapshots(keep_last=1)
    assert stats["manifests_removed"] == 1
    assert stats["files_removed"] == 0
    assert sorted(r.x for r in t.read(spark).collect()) == list(range(6))


def test_expire_bucketed_reclaims_compacted_files(spark, tmp_path):
    """On a bucketed table, compaction supersedes the pre-compaction
    files but cannot delete them (older manifests still reference
    them); expire is the step that actually reclaims the disk, and the
    pruned-read path still works afterwards."""
    import os

    from web_content_extraction_benchmark_spark.sources.snapshots import (
        BucketedSnapshotTable,
        bucket_of,
    )

    bt = BucketedSnapshotTable(str(tmp_path / "bt"), 4)
    bcol = BucketedSnapshotTable.BUCKET_COL
    for lo in (0, 20, 40):
        df = spark.range(lo, lo + 10).select(F.col("id").alias("k"))
        bt.append_bucketed(df.withColumn(bcol, bucket_of(F.col("k"), 4)))
    assert max(bt.bucket_file_counts().values()) == 3
    assert bt.compact_buckets(spark, max_files=1) > 0

    def parquet_on_disk():
        return sum(
            1
            for _, _, files in os.walk(bt.data_dir)
            for f in files
            if f.endswith(".parquet")
        )

    before = parquet_on_disk()
    stats = bt.expire_snapshots(keep_last=1)
    assert stats["files_removed"] > 0
    assert parquet_on_disk() == before - stats["files_removed"]
    assert max(bt.bucket_file_counts().values()) == 1
    got = {
        r.k
        for r in bt.read_buckets(spark, set(range(4))).collect()
    }
    assert got == set(range(0, 10)) | set(range(20, 30)) | set(range(40, 50))


def test_expire_survives_mixed_path_spellings(spark, tmp_path):
    """Deletion safety: a table WRITTEN via one path spelling and
    EXPIRED via another (relative vs absolute — manifests record the
    writer's spelling verbatim) must still recognize its live files;
    a raw string compare would orphan-classify the whole table."""
    import os

    abs_dir = str(tmp_path / "t")
    t = SnapshotTable(abs_dir)
    t.append(spark.range(0, 4).select(F.col("id").alias("x")))
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        t_rel = SnapshotTable("t")  # same table, relative spelling
        stats = t_rel.expire_snapshots(keep_last=1)
    finally:
        os.chdir(cwd)
    assert stats["files_removed"] == 0
    assert sorted(r.x for r in t.read(spark).collect()) == [0, 1, 2, 3]


def test_expire_safe_when_manifest_prefix_is_foreign(spark, tmp_path):
    """The DANGEROUS direction: manifests whose recorded file paths
    carry a DIFFERENT prefix spelling than the expirer's open (a
    writer's relative-cwd or symlinked spelling).  Suffix-keyed
    liveness must keep every live file; prefix/realpath-keyed liveness
    would resolve the recorded paths against the expirer's cwd,
    classify everything as orphans, and delete the table."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 4).select(F.col("id").alias("x")))

    def parquet_on_disk():
        return sum(
            1
            for _, _, files in os.walk(t.data_dir)
            for f in files
            if f.endswith(".parquet")
        )

    n_live = parquet_on_disk()
    manifest_path = os.path.join(t.log_dir, "v1.json")
    manifest = json.load(open(manifest_path))
    # rewrite the recorded prefix to the writer's foreign spelling:
    # 'rel/t/data/<suffix>' — unresolvable from this process's cwd
    manifest["files"] = [
        "rel/t/data/" + p.split("/data/", 1)[1] for p in manifest["files"]
    ]
    json.dump(manifest, open(manifest_path, "w"))
    stats = t.expire_snapshots(keep_last=1)
    assert stats["files_removed"] == 0
    assert parquet_on_disk() == n_live


def test_expire_refuses_when_manifests_and_data_disagree(spark, tmp_path):
    """A retained manifest referencing files absent from data/ marks a
    corrupt (or mis-pointed) table: expire must refuse to sweep rather
    than compound the damage."""
    import os

    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 4).select(F.col("id").alias("x")))
    victim = t.committed_files()[0]
    os.remove(victim)
    with pytest.raises(RuntimeError, match="disagree"):
        t.expire_snapshots(keep_last=1)
