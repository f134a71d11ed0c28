"""Driver-contract invariants (CLAUDE.md 50-query cap rule)."""


def test_exactly_fifty_queries_all_oracled():
    """The driver checks at most 50 queries per round: the dict must hold
    EXACTLY 50 entries (fold, don't append) and every entry must carry a
    DuckDB oracle (round-3 state: zero rows-only)."""
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == 50, f"{len(q)} queries — fold to keep the driver cap"
    missing = [name for name in q if name not in o]
    assert not missing, f"queries without oracles: {missing}"
    orphans = [name for name in o if name not in q]
    assert not orphans, f"oracles without queries: {orphans}"


def test_queries_and_oracles_are_pure_builders():
    """queries()/oracle_sql() must build without a SparkSession (the
    driver may construct them before creating one)."""
    import __spark_entry__ as entry

    assert all(callable(fn) for fn in entry.queries().values())
    assert all(
        isinstance(sql, str) and sql.strip()
        for sql in entry.oracle_sql().values()
    )


def test_deployment_zip_is_fresh(tmp_path):
    """The spark-submit artifact built by `tools/make_pyfiles.py` must
    contain every current package module WITH current content — a
    packager that skips or mangles a module silently deploys old code.
    The zip is built fresh here, so the test needs no untracked build
    output.  CRC comparison catches altered modules, not just missing
    ones."""
    import os
    import pathlib
    import subprocess
    import sys
    import zipfile
    import zlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    out = tmp_path / "w.zip"
    subprocess.run(
        [sys.executable, str(repo / "tools" / "make_pyfiles.py"), str(out)],
        check=True, capture_output=True,
    )
    with zipfile.ZipFile(out) as zf:
        crcs = {info.filename: info.CRC for info in zf.infolist()}
    pkg = repo / "web_content_extraction_benchmark_spark"
    for path in pkg.rglob("*.py"):
        rel = os.path.relpath(path, repo)
        assert rel in crcs, f"deployment zip misses {rel}"
        assert zlib.crc32(path.read_bytes()) == crcs[rel], (
            f"deployment zip holds a different {rel}"
        )


def test_scratch_dir_keepalive_touches_own_dirs():
    """_scratch_dir refreshes the mtime of every dir owned by THIS pid
    on each call (ADVICE r5): a session active past the 24h age cap
    keeps its lazily-read scratch alive, while leftovers from dead pids
    still age out."""
    import os
    import shutil
    import time

    import __spark_entry__ as entry

    first = entry._scratch_dir("wceb_keepalive_test_")
    try:
        old = time.time() - 30 * 3600  # past the 24h pid-protected cap
        os.utime(first, (old, old))
        second = entry._scratch_dir("wceb_keepalive_test_")
        try:
            # the sweep in the second call must NOT have deleted the
            # first dir (alive owner + keepalive touch), and its mtime
            # must be fresh again
            assert os.path.isdir(first)
            assert time.time() - os.path.getmtime(first) < 3600
        finally:
            shutil.rmtree(second, ignore_errors=True)
    finally:
        shutil.rmtree(first, ignore_errors=True)


def test_raw_tree_cache_rebuilds_when_a_writer_changes(
        sf_dir, tmp_path, monkeypatch):
    """The fixture trees cached under RAW_TREE_ROOT are keyed by the
    writer code too: an edited ``synthesize_*_tree`` must regenerate
    its tree, not serve the files the old writer left."""
    import os

    import __spark_entry__ as entry
    from web_content_extraction_benchmark_spark.sources import (
        pages,
        raw_datasets,
    )

    assert {os.path.basename(p) for p in pages.FIXTURE_WRITERS} >= {
        "pages.py", "raw_datasets.py", "warc.py", "pdf_synth.py"}
    writer = tmp_path / "writer.py"
    writer.write_text("VERSION = 1\n")
    monkeypatch.setattr(pages, "FIXTURE_WRITERS", (str(writer),))
    monkeypatch.setattr(entry, "RAW_TREE_ROOT", str(tmp_path / "raw"))
    writes = []

    def synthesize(sf, out):
        writes.append(out)
        os.makedirs(out, exist_ok=True)

    monkeypatch.setattr(raw_datasets, "synthesize_l3s_tree", synthesize)
    out = entry._raw_tree(sf_dir, "l3s")
    assert entry._raw_tree(sf_dir, "l3s") == out
    assert writes == [out]
    writer.write_text("VERSION = 2\n")
    assert entry._raw_tree(sf_dir, "l3s") == out
    assert writes == [out, out]
