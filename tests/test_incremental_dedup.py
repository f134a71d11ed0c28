"""Incremental near-dup dedup (operators/incremental_dedup.py): N
batches against the persisted signature store must produce labels
byte-identical to one from-scratch run over the union — including
cross-batch transitive merges — with atomic snapshot commits."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from web_content_extraction_benchmark_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)
from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
    NearDupIndex,
)


@pytest.fixture()
def index_path():
    path = tempfile.mkdtemp(prefix="wceb_neardup_index_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _chain_corpus(spark, sf_dir, mod=20):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter((F.col("doc_id") % mod == 0) & F.col("text").isNotNull())
    )

    def prefix(frac, tag):
        words = F.split("text", " ")
        cut = F.floor(F.size(words) * frac).cast("int")
        return docs.select(
            (-(F.col("doc_id") * 2 + tag)).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 1, cut)).alias("text"),
        )

    return docs, prefix(0.9, 1).unionByName(prefix(0.81, 2))


def _labels_set(df):
    return {(r[0], r[1]) for r in df.collect()}


def _scratch_labels(corpus, threshold, hash_fn="md5", bands=4):
    pairs = minhash_lsh_pairs(
        corpus, jaccard_threshold=threshold, hash_fn=hash_fn, bands=bands
    )
    return connected_components(pairs.select("id_a", "id_b"))


@pytest.mark.parametrize("hash_fn", ["md5", "oph"])
def test_two_batches_equal_from_scratch(spark, sf_dir, index_path, hash_fn):
    base, mutants = _chain_corpus(spark, sf_dir)
    idx = NearDupIndex(
        index_path + "/" + hash_fn, jaccard_threshold=0.6, hash_fn=hash_fn
    )
    p1 = idx.add_batch(base)
    p2 = idx.add_batch(mutants)
    got = _labels_set(idx.labels(spark).select("id", "component"))
    want = _labels_set(
        _scratch_labels(
            base.unionByName(mutants), 0.6, hash_fn
        ).select("id", "component")
    )
    assert got == want and len(want) > 50
    # batch-2 pairs all involve a batch-2 (negative) id
    assert p2.filter(
        (F.col("id_a") >= 0) & (F.col("id_b") >= 0)
    ).count() == 0
    # within-batch pairs existed in batch 1 only if base self-sims occur;
    # cross-batch pairs must exist (the mutants pair with their bases)
    assert p2.count() > 0
    p1.unpersist()
    p2.unpersist()


def test_cross_batch_transitive_merge(spark, index_path):
    """A bridge doc in batch 3 links one cluster committed in batch 1
    with another committed in batch 2: all five docs must collapse to
    ONE component — the case a per-batch (non-incremental) dedup
    cannot see."""
    w = [f"w{i}" for i in range(40)]
    a = " ".join(w[:20])
    a2 = " ".join(w[:18])
    b = " ".join(w[20:40])
    b2 = " ".join(w[20:38])
    bridge = " ".join(w[8:32])
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # 8 bands x 1 row: the bridge pairs sit at J ~ 0.33, so candidate
    # recall needs single-hash bands (deterministic either way — md5 —
    # but 2-row bands would deterministically MISS moderate-J pairs)
    idx = NearDupIndex(index_path, jaccard_threshold=0.25, bands=8)
    idx.add_batch(mk([(1, a), (2, a2)]))
    idx.add_batch(mk([(3, b), (4, b2)]))
    mid = idx.labels(spark)
    assert {r.component for r in mid.collect()} == {1, 3}  # two clusters
    idx.add_batch(mk([(5, bridge)]))
    final = _labels_set(idx.labels(spark))
    assert final == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}
    # from-scratch equivalence on the union
    union = mk([(1, a), (2, a2), (3, b), (4, b2), (5, bridge)])
    assert final == _labels_set(_scratch_labels(union, 0.25, bands=8))


def test_no_pair_batch_and_unique_docs(spark, index_path):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6)
    idx.add_batch(mk([(1, "alpha beta gamma delta epsilon"),
                      (2, "one two three four five six")]))
    assert idx.labels(spark).count() == 0
    assert idx.unique_docs(spark).count() == 2
    # a later batch duplicating doc 1 shrinks the unique view
    idx.add_batch(mk([(3, "alpha beta gamma delta epsilon")]))
    uniq = {r.doc_id for r in idx.unique_docs(spark).select("doc_id").collect()}
    assert uniq == {1, 2}


def test_commits_are_snapshots_with_time_travel(spark, index_path):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, bands=8)
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx.add_batch(mk([(1, common + " lambda")]))
    idx.add_batch(mk([(2, common + " mu")]))
    # labels table: v1 (batch 1, no pairs) is still readable; v2 holds
    # the pair-resolved labels (replace semantics, not append)
    v1 = idx.labels_table.read(spark, snapshot_id=1)
    assert v1 is None or v1.count() == 0
    assert _labels_set(idx.labels(spark)) == {(1, 1), (2, 1)}
    # docs table accumulated both batches via append
    assert idx.committed_docs(spark).count() == 2


def test_assert_consistent_detects_commit_skew(spark, index_path):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6)
    idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")]))
    assert idx.assert_consistent() == 1
    # simulate a crash after the docs commit of batch 2: docs moves to
    # v2, bands/labels stay at v1
    idx.docs_table.append(mk([(9, "one two three four five")]))
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="commit skew"):
        idx.assert_consistent()


def test_meta_lifecycle_guards(spark, index_path):
    """Config-persistence edges (review r6): read-only opens never
    stamp a meta file; committed tables WITHOUT a meta refuse (the
    config is unknown — guessing would silently miss duplicates);
    unknown stored keys are tolerated by open()."""
    import json
    import os

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # 1. constructing (a read-only open) writes NO meta
    idx = NearDupIndex(index_path, jaccard_threshold=0.6)
    assert not os.path.exists(NearDupIndex.meta_path(index_path))
    # 2. the first MUTATION stamps it
    idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")]))
    assert os.path.exists(NearDupIndex.meta_path(index_path))
    # 3. a future-version meta with extra keys still opens fine
    meta = json.load(open(NearDupIndex.meta_path(index_path)))
    meta["format_version"] = 99
    json.dump(meta, open(NearDupIndex.meta_path(index_path), "w"))
    idx2 = NearDupIndex.open(index_path)
    assert idx2.jaccard_threshold == 0.6
    # 4. committed tables with a LOST meta refuse outright
    os.remove(NearDupIndex.meta_path(index_path))
    with pytest.raises(ValueError, match="no\\s+index_meta"):
        NearDupIndex(index_path)
    # 5. and open() with fresh_defaults must NOT resurrect it as fresh
    with pytest.raises(ValueError, match="no\\s+index_meta"):
        NearDupIndex.open(index_path, fresh_defaults={"hash_fn": "oph"})


def test_unknown_hash_fn_raises(spark, index_path):
    """A misspelled or retired hash_fn must raise, not silently fall
    through to the md5 band keys — both on the LSH entry point and on
    an index, including one whose stored meta names the retired value."""
    import json

    from web_content_extraction_benchmark_spark.operators.dedup import (
        lsh_band_keys,
    )

    docs = spark.createDataFrame([(1, "alpha beta gamma delta")],
                                 "doc_id long, text string")
    for bad in ("xxhash", "oph_sql"):
        with pytest.raises(ValueError, match="unknown hash_fn"):
            lsh_band_keys(docs, hash_fn=bad)
        with pytest.raises(ValueError, match="unknown hash_fn"):
            NearDupIndex(index_path, hash_fn=bad)
    meta = NearDupIndex(index_path, hash_fn="oph")._meta()
    meta["hash_fn"] = "oph_sql"
    with open(NearDupIndex.meta_path(index_path), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="unknown hash_fn 'oph_sql'"):
        NearDupIndex.open(index_path)


# -- round 7: bucketed store layout, writer lock, multi-batch fuzz ------


def test_bucketed_store_pruned_reads(spark, index_path):
    """The bands/docs stores are hash-bucketed: a trickle batch whose
    keys hash into few buckets must open ONLY those buckets' files —
    the file-level pruning the flat r6 layout could not do."""
    from web_content_extraction_benchmark_spark.sources.snapshots import (
        bucket_of,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    words = [f"tok{i}" for i in range(60)]
    batch1 = mk([
        (i, " ".join(words[i % 12:(i % 12) + 9])) for i in range(1, 31)
    ])
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, bands=4,
                       n_buckets=64)
    idx.add_batch(batch1).unpersist()
    files_by_bucket, _ = idx.bands_table._bucket_manifest()
    assert len(files_by_bucket) > 8  # batch 1 spread over many buckets

    # one-doc batch: <= 4 band keys -> <= 4 buckets read
    t = {}
    idx.add_batch(mk([(99, " ".join(words[3:12]))]), timings=t).unpersist()
    assert 1 <= t["bands_buckets_read"] <= 4
    assert t["bands_buckets_read"] < len(files_by_bucket)
    assert t["n_buckets"] == 64

    # file-level: a pruned read's input files come ONLY from the
    # requested buckets' directories
    some_bucket = next(iter(files_by_bucket))
    pruned = idx.bands_table.read_buckets(spark, {some_bucket})
    got_files = set(pruned.inputFiles())
    assert got_files  # non-empty
    for f in got_files:
        assert f"_bucket={some_bucket}/" in f
    # and the full read sees strictly more files
    assert len(set(idx.bands_table.read(spark).inputFiles())) > len(got_files)


def test_bucketed_label_commit_carries_untouched_files(spark, index_path):
    """A batch touching one cluster rewrites only the buckets holding a
    touched/newly-resolved component; every other label bucket's FILES
    carry over verbatim into the new manifest (no read, no rewrite)."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    words = [f"tok{i}" for i in range(80)]
    # 12 disjoint 2-doc clusters (ids 2k, 2k+1 share a 10-word text)
    rows = []
    for k in range(12):
        text = " ".join(words[6 * k:6 * k + 10])
        rows += [(2 * k + 1, text), (2 * k + 2, text + " extra")]
    idx = NearDupIndex(index_path, jaccard_threshold=0.5, bands=8,
                       n_buckets=64)
    idx.add_batch(mk(rows)).unpersist()
    before_files, before_rows = idx.labels_table._bucket_manifest()
    assert len(before_files) >= 6  # clusters spread over buckets

    # batch 2: one more member of cluster k=0 only
    t = {}
    idx.add_batch(
        mk([(1000, " ".join(words[0:10]))]), timings=t
    ).unpersist()
    after_files, after_rows = idx.labels_table._bucket_manifest()
    rewritten = {
        b for b in after_files
        if before_files.get(b) != after_files[b]
    }
    carried = {
        b for b in after_files
        if before_files.get(b) == after_files[b]
    }
    assert t["labels_buckets_rewritten"] <= 2  # old + new component home
    assert len(rewritten) <= 2
    assert len(carried) >= len(before_files) - 2  # everything else carried
    # and the logical label set is still exactly right
    got = _labels_set(idx.labels(spark))
    union = mk(rows + [(1000, " ".join(words[0:10]))])
    want = _labels_set(_scratch_labels(union, 0.5, bands=8))
    assert got == want


def test_concurrent_writer_raises_and_stale_lock_sweeps(spark, index_path):
    """ONE writer at a time: a live same-host holder with a fresh
    heartbeat raises ConcurrentWriterError; the same lease with an
    EXPIRED heartbeat is stale even though its pid looks alive (a pid
    reused after a crash must not lock the index forever); a lease left
    by a crashed (dead-pid) same-host writer is swept and the batch
    proceeds."""
    import json
    import os
    import socket
    import subprocess
    import time

    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        ConcurrentWriterError,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6)

    def lease(pid: int, heartbeat_at: float) -> dict:
        return {"token": "other-token", "pid": pid,
                "host": socket.gethostname(),
                "heartbeat_at": heartbeat_at, "ttl_sec": idx.LEASE_TTL_SEC}

    def plant(pid: int) -> None:
        os.makedirs(idx._lock_dir(), exist_ok=True)
        with open(idx._lease_path(), "w") as f:
            json.dump(lease(pid, time.time()), f)

    # live holder: this very process, fresh heartbeat
    plant(os.getpid())
    with pytest.raises(ConcurrentWriterError, match="locked by writer"):
        idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")]))
    # same host, live pid, heartbeat two TTLs old: stale
    assert idx._lease_is_stale(
        lease(os.getpid(), time.time() - 2 * idx.LEASE_TTL_SEC)
    )
    # stale holder: a process that has already exited
    proc = subprocess.Popen(["true"])
    proc.wait()
    assert idx._lease_is_stale(lease(proc.pid, time.time()))
    # a bare pid file (no lease) is not a lock format this index
    # reads: even a dead pid stays refused, never swept
    os.remove(idx._lease_path())
    with open(os.path.join(idx._lock_dir(), "pid"), "w") as f:
        f.write(str(proc.pid))
    with pytest.raises(ConcurrentWriterError, match="<unknown>"):
        idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")]))
    os.remove(os.path.join(idx._lock_dir(), "pid"))
    plant(proc.pid)
    idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")])).unpersist()
    assert idx.committed_docs(spark).count() == 1
    assert not os.path.exists(idx._lock_dir())  # released after commit


def test_lease_cross_host_ttl_and_fencing(spark, index_path):
    """r8 object-store-aware lease: a FOREIGN-host lease (pid probes
    mean nothing there) is honored while its heartbeat is fresh,
    taken over once the TTL expires; and a holder whose lease was
    taken over aborts on its next heartbeat (fencing) instead of
    committing."""
    import json
    import os
    import time

    from web_content_extraction_benchmark_spark.operators.incremental_dedup import (
        ConcurrentWriterError,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6)

    def plant(heartbeat_at: float) -> None:
        os.makedirs(idx._lock_dir(), exist_ok=True)
        with open(idx._lease_path(), "w") as f:
            json.dump({"token": "remote-token", "pid": 1,
                       "host": "some-other-machine",
                       "heartbeat_at": heartbeat_at,
                       "ttl_sec": idx.LEASE_TTL_SEC}, f)

    # fresh foreign lease: refuse, even though pid 1 is "alive" locally
    plant(time.time())
    with pytest.raises(ConcurrentWriterError, match="some-other-machine"):
        idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")]))
    # expired foreign lease: stale-takeover, batch proceeds
    plant(time.time() - 2 * idx.LEASE_TTL_SEC)
    idx.add_batch(mk([(1, "alpha beta gamma delta epsilon")])).unpersist()
    assert idx.committed_docs(spark).count() == 1
    assert not os.path.exists(idx._lock_dir())

    # fencing: holder acquires, then a takeover swaps the token — the
    # holder's next heartbeat must raise, never refresh over it
    idx._acquire_writer_lock()
    try:
        with open(idx._lease_path()) as f:
            assert json.load(f)["token"] == idx._lease_token
        plant(time.time())  # simulated takeover by another writer
        with pytest.raises(ConcurrentWriterError, match="lease lost"):
            idx._heartbeat()
    finally:
        idx._release_writer_lock()


def test_compact_auto_expire_reclaims_superseded_files(spark, index_path):
    """compact()'s default auto-expire (keep_last=1 — the compacted
    snapshot is logically identical to the pre-compaction one) must not
    leave the superseded files behind (the r7 transient 2x disk spike):
    after maintenance the live parquet count DROPS, and labels stay
    byte-identical."""
    import os

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    words = [f"tok{i}" for i in range(40)]
    idx = NearDupIndex(index_path, jaccard_threshold=0.5, bands=8,
                       n_buckets=4)
    all_rows = []
    for b in range(6):  # 6 appends -> multiple files per bucket
        rows = [(b * 10 + i, " ".join(words[i:i + 12]))
                for i in range(4)]
        all_rows += rows
        idx.add_batch(mk(rows)).unpersist()
    before_labels = _labels_set(idx.labels(spark))

    def store_bytes() -> int:
        total = 0
        for root, _, files in os.walk(index_path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total

    def parquet_files() -> int:
        return sum(f.endswith(".parquet")
                   for root, _, fs in os.walk(index_path) for f in fs)

    files_before = parquet_files()
    bytes_before = store_bytes()
    rewritten = idx.compact(spark, max_files_per_bucket=2)
    assert any(rewritten.values())
    assert store_bytes() < 1.5 * bytes_before  # no 2x residue
    # superseded pre-compaction files reclaimed in the same call:
    # the live file count DROPS and no >=2x byte residue remains
    assert parquet_files() < files_before
    assert _labels_set(idx.labels(spark)) == before_labels
    union = mk(all_rows)
    want = _labels_set(_scratch_labels(union, 0.5, bands=8))
    assert _labels_set(idx.labels(spark)) == want


def test_meta_predating_bucketed_format_refuses(spark, index_path):
    """A stored meta missing any configuration key (n_buckets, or the
    signature plugin's keys) was written before the bucketed on-disk
    format: both constructors refuse it instead of guessing defaults,
    and restoring the key reopens the index unchanged."""
    import json

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, bands=8)
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx.add_batch(mk([(1, common + " lambda")])).unpersist()
    full = json.load(open(NearDupIndex.meta_path(index_path)))
    for key in ("n_buckets", "signature"):
        meta = {k: v for k, v in full.items() if k != key}
        json.dump(meta, open(NearDupIndex.meta_path(index_path), "w"))
        with pytest.raises(ValueError, match="predates"):
            NearDupIndex(index_path, jaccard_threshold=0.6, bands=8)
        with pytest.raises(ValueError, match="predates"):
            NearDupIndex.open(index_path)
    json.dump(full, open(NearDupIndex.meta_path(index_path), "w"))
    reopened = NearDupIndex.open(index_path)
    assert reopened.n_buckets == full["n_buckets"]
    reopened.add_batch(mk([(2, common + " mu")])).unpersist()
    assert _labels_set(reopened.labels(spark)) == {(1, 1), (2, 1)}


def test_multi_batch_fuzz_equals_scratch(spark, sf_dir, index_path):
    """Verdict r6 #6: N>=5 seeded random batches — after EVERY append
    the index labels equal a from-scratch run over the union so far
    (order-dependence bugs the two-batch case cannot catch)."""
    base, mutants = _chain_corpus(spark, sf_dir, mod=40)
    corpus = base.unionByName(mutants).withColumn(
        "_b", F.pmod(F.xxhash64("doc_id", F.lit(20260817)), F.lit(5))
    ).persist()
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, bands=4)
    seen = None
    for i in range(5):
        part = corpus.filter(F.col("_b") == i).drop("_b")
        idx.add_batch(part).unpersist()
        seen = part if seen is None else seen.unionByName(part)
        got = _labels_set(idx.labels(spark))
        want = _labels_set(_scratch_labels(seen, 0.6))
        assert got == want, f"labels diverged after batch {i + 1}"
    assert len(got) > 20  # the fuzz actually exercised merges
    corpus.unpersist()


def test_compact_preserves_labels_and_version_alignment(
    spark, sf_dir, index_path
):
    """compact() re-bounds files/bucket across all three tables,
    keeps their snapshot versions aligned (assert_consistent), leaves
    labels identical, and later appends still equal from-scratch."""
    base, mutants = _chain_corpus(spark, sf_dir, mod=40)
    corpus = base.unionByName(mutants).withColumn(
        "_b", F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(4))
    ).persist()
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, bands=4,
                       n_buckets=8)
    seen = None
    for i in range(3):
        part = corpus.filter(F.col("_b") == i).drop("_b")
        idx.add_batch(part).unpersist()
        seen = part if seen is None else seen.unionByName(part)
    assert max(idx.bands_table.bucket_file_counts().values()) == 3
    before = _labels_set(idx.labels(spark))
    v0 = idx.assert_consistent()

    rewritten = idx.compact(spark, max_files_per_bucket=1)
    assert rewritten["docs"] > 0 and rewritten["bands"] > 0
    # all three advanced together even if labels had nothing to do
    assert idx.assert_consistent() == v0 + 1
    assert max(idx.bands_table.bucket_file_counts().values()) == 1
    assert _labels_set(idx.labels(spark)) == before

    # a post-compaction append still equals from-scratch
    part = corpus.filter(F.col("_b") == 3).drop("_b")
    idx.add_batch(part).unpersist()
    seen = seen.unionByName(part)
    assert _labels_set(idx.labels(spark)) == _labels_set(
        _scratch_labels(seen, 0.6)
    )
    # idempotent: already bounded -> no commit anywhere
    assert idx.compact(spark, max_files_per_bucket=8) == {
        "docs": 0, "bands": 0, "labels": 0
    }
    assert idx.assert_consistent() == v0 + 2
    # the bucketed layout is the only one: no flat option value
    fresh = tempfile.mkdtemp(prefix="wceb_flat_")
    try:
        with pytest.raises(ValueError, match="n_buckets must be"):
            NearDupIndex(fresh, n_buckets=None)
    finally:
        shutil.rmtree(fresh, ignore_errors=True)
    corpus.unpersist()


def test_simhash_signature_index_equals_scratch(spark, sf_dir, index_path):
    """Verdict r6 #7: the signature plugin — a SimHash-configured index
    appended in 3 batches must label-match the from-scratch
    simhash_near_duplicates + connected_components run over the union
    after EVERY append (cross-batch hamming pairs included), and the
    persisted config must refuse a mismatched (minhash) reopen."""
    from web_content_extraction_benchmark_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter((F.col("doc_id") % 10 == 0) & F.col("text").isNotNull())
    )
    # planted near-dups: drop ONE trailing word (hamming-small votes);
    # mutants in the negative namespace, spread across batches
    words = F.split("text", " ")
    mutants = docs.select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(words, 1, F.size(words) - 1)
        ).alias("text"),
    )
    corpus = docs.unionByName(mutants).withColumn(
        "_b", F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(3))
    ).persist()

    idx = NearDupIndex(index_path, signature="simhash", max_hamming=3,
                       n_buckets=8)
    seen = None
    for i in range(3):
        part = corpus.filter(F.col("_b") == i).drop("_b")
        pairs = idx.add_batch(part)
        assert pairs.columns == ["id_a", "id_b", "hamming"]
        pairs.unpersist()
        seen = part if seen is None else seen.unionByName(part)
        got = _labels_set(idx.labels(spark))
        want = _labels_set(
            connected_components(
                simhash_near_duplicates(seen, max_hamming=3)
                .select("id_a", "id_b")
            )
        )
        assert got == want, f"labels diverged after batch {i + 1}"
    assert len(got) > 10  # the planted mutants actually paired
    # config pinning: a minhash reopen of a simhash store refuses
    with pytest.raises(ValueError, match="different\\s+configuration"):
        NearDupIndex(index_path, n_buckets=8)
    # open() restores the persisted signature config
    reopened = NearDupIndex.open(index_path)
    assert reopened.signature == "simhash"
    assert reopened.max_hamming == 3
    corpus.unpersist()


def test_embedding_signature_index_equals_scratch(spark, sf_dir, index_path):
    """The third signature plugin: an embedding-configured index
    appended in 3 batches must label-match the from-scratch
    embedding_near_duplicates + connected_components run over the union
    after EVERY append (the index's hyperplane bands reuse the exact
    seeded UDF chain of similarity.lsh_candidate_cosines, so the
    candidate sets — and after exact-cosine verify, the labels — are
    identical), and the persisted config must refuse mismatched
    reopens."""
    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 3 == 0)
    )
    # planted identical copies (cos exactly 1.0, in every LSH bucket of
    # their original) in a disjoint id range, spread across batches
    copies = emb.filter(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies).withColumn(
        "_b", F.pmod(F.xxhash64("vec_id", F.lit(5)), F.lit(3))
    ).persist()

    idx = NearDupIndex(
        index_path, signature="embedding", emb_dim=64,
        num_hashes=48, bands=4, jaccard_threshold=0.999,
        id_col="vec_id", text_col="embedding", n_buckets=8,
    )
    seen = None
    for i in range(3):
        part = corpus.filter(F.col("_b") == i).drop("_b")
        pairs = idx.add_batch(part)
        assert pairs.columns == ["id_a", "id_b", "cos"]
        pairs.unpersist()
        seen = part if seen is None else seen.unionByName(part)
        got = _labels_set(idx.labels(spark))
        want = _labels_set(
            connected_components(
                embedding_near_duplicates(
                    seen, threshold=0.999, dim=64,
                    n_planes=12, n_tables=4, seed=42,
                    id_col="vec_id", vec_col="embedding",
                ).select("id_a", "id_b")
            )
        )
        assert got == want, f"labels diverged after batch {i + 1}"
    assert len(got) > 10  # the planted copies actually paired
    # the deduplicated view keeps one canonical row per planted pair
    dedup_ids = {r.vec_id for r in idx.unique_docs(spark).collect()}
    assert all(v < 100_000 for v in dedup_ids)
    # config pinning: emb_dim is part of the index; open() restores it
    with pytest.raises(ValueError, match="different\\s+configuration"):
        NearDupIndex(index_path, signature="embedding", emb_dim=32,
                     num_hashes=48, bands=4, jaccard_threshold=0.999,
                     id_col="vec_id", text_col="embedding", n_buckets=8)
    reopened = NearDupIndex.open(index_path)
    assert reopened.signature == "embedding"
    assert reopened.emb_dim == 64
    # a fresh embedding index without emb_dim refuses up front
    with pytest.raises(ValueError, match="emb_dim"):
        NearDupIndex(index_path + "_fresh", signature="embedding")
    corpus.unpersist()


def test_index_expire_reclaims_history_preserves_labels(
    spark, sf_dir, index_path
):
    """NearDupIndex.expire: after N appends the labels table holds one
    full rewrite per batch — expiry drops the history, reclaims files,
    and changes NOTHING the index computes (labels identical before and
    after, and a further append still equals from-scratch)."""
    import os

    base, mutants = _chain_corpus(spark, sf_dir)
    idx = NearDupIndex(index_path, jaccard_threshold=0.6, n_buckets=8)
    idx.add_batch(base).unpersist()
    idx.add_batch(mutants.filter(F.col("doc_id") % 2 == 0)).unpersist()
    before = _labels_set(idx.labels(spark))

    def parquet_on_disk():
        return sum(
            1
            for _, _, files in os.walk(index_path)
            for f in files
            if f.endswith(".parquet")
        )

    n_before = parquet_on_disk()
    stats = idx.expire(keep_last=1)
    assert set(stats) == {"docs", "bands", "labels"}
    # batch-1's full label set was superseded by batch-2's rewrite of
    # every touched bucket — expiry must actually reclaim files
    assert stats["labels"]["files_removed"] > 0
    assert parquet_on_disk() < n_before
    assert idx.assert_consistent() == 2
    assert _labels_set(idx.labels(spark)) == before
    # below-horizon time travel is gone, current version readable
    with pytest.raises(ValueError, match="expired"):
        idx.labels_table.read(spark, snapshot_id=1)
    # the index still appends and still equals from-scratch
    rest = mutants.filter(F.col("doc_id") % 2 != 0)
    idx.add_batch(rest).unpersist()
    want = _labels_set(
        _scratch_labels(base.unionByName(mutants), 0.6)
    )
    assert _labels_set(idx.labels(spark)) == want


def test_embedding_zero_vectors_excluded_from_banding(spark, index_path):
    """Zero-norm vectors (failed encoder outputs) must not enter the
    band store — they would all share bucket 0 of every hyperplane
    table (one quadratic candidate bucket whose pairs the cosine
    verify drops anyway).  Labels must still equal from-scratch on a
    corpus CONTAINING zero vectors, and a non-positive cosine
    threshold (which would break the exclusion argument) refuses."""
    import numpy as np

    from web_content_extraction_benchmark_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(30)]
    rows += [(100 + i, [0.0] * 8) for i in range(10)]    # zero vectors
    rows += [(200 + i, rows[i][1]) for i in range(5)]    # exact copies
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = NearDupIndex(
        index_path, signature="embedding", emb_dim=8,
        num_hashes=16, bands=2, jaccard_threshold=0.999,
        id_col="vec_id", text_col="embedding", n_buckets=4,
    )
    banded_ids = {r.id for r in idx._band_rows(df).select("id").collect()}
    assert banded_ids and all(not (100 <= i < 110) for i in banded_ids)
    idx.add_batch(df.filter("vec_id < 100")).unpersist()
    idx.add_batch(df.filter("vec_id >= 100")).unpersist()
    got = _labels_set(idx.labels(spark))
    want = _labels_set(
        connected_components(
            embedding_near_duplicates(
                df, threshold=0.999, dim=8, n_planes=8, n_tables=2,
                seed=42, id_col="vec_id", vec_col="embedding",
            ).select("id_a", "id_b")
        )
    )
    assert got == want and len(got) == 10  # the 5 copy pairs clustered
    with pytest.raises(ValueError, match="positive"):
        NearDupIndex(index_path + "_bad", signature="embedding",
                     emb_dim=8, jaccard_threshold=0.0)
