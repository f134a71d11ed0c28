"""WARC container ingest (sources/warc.py): writer/reader round trip,
HTTP framing arms, corruption handling, and byte-lockstep with the
synthetic pages table."""

from datetime import datetime, timezone

import gzip
import random
import pytest

from web_content_extraction_benchmark_spark.sources import warc as W

TS = datetime(2023, 3, 4, 5, 6, 7, tzinfo=timezone.utc)


def _pages(n: int = 3, chunked_every: int = 2):
    return [
        {
            "url": f"https://h{i}.example/src/{i}",
            "ts": TS,
            "body": (f"<html><body>doc {i} " + "x" * (i * 700)
                     + "</body></html>").encode(),
            "chunked": i % chunked_every == 1,
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("member_gzip", [True, False])
def test_write_read_roundtrip(tmp_path, member_gzip):
    pages = _pages(4)
    path = str(tmp_path / ("a.warc.gz" if member_gzip else "a.warc"))
    assert W.write_warc_gz(path, pages, member_gzip=member_gzip) == 4
    recs = list(W.iter_warc_records(open(path, "rb").read()))
    kinds = [h["warc-type"] for h, _ in recs]
    assert kinds == ["warcinfo"] + ["request", "response"] * 4
    responses = [(h, p) for h, p in recs if h["warc-type"] == "response"]
    for (h, payload), pg in zip(responses, pages):
        status, hh, body = W.parse_http_response(payload)
        assert status == 200
        assert body == pg["body"]
        assert h["warc-target-uri"] == pg["url"]
        assert h["warc-date"] == "2023-03-04T05:06:07Z"
        framing = hh.get("transfer-encoding", "")
        assert ("chunked" in framing) == pg["chunked"]


def test_single_member_gzip_with_many_records(tmp_path):
    """CC convention is member-per-record, but the spec also allows one
    gzip member holding the whole file — the reader must drain multiple
    records per member."""
    path = str(tmp_path / "a.warc")
    W.write_warc_gz(path, _pages(3), member_gzip=False)
    blob = gzip.compress(open(path, "rb").read())
    recs = list(W.iter_warc_records(blob))
    assert [h["warc-type"] for h, _ in recs] == \
        ["warcinfo"] + ["request", "response"] * 3


def test_record_spanning_gzip_members():
    """A record split across two gzip members (concatenated stream
    written by a non-CC tool) must still parse."""
    rec = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "u")],
        W.build_http_response(b"<html>hi</html>"),
    )
    mid = len(rec) // 2
    blob = gzip.compress(rec[:mid]) + gzip.compress(rec[mid:])
    recs = list(W.iter_warc_records(blob))
    assert len(recs) == 1
    _, payload = recs[0]
    assert W.parse_http_response(payload)[2] == b"<html>hi</html>"


def test_dechunk_and_malformed_framing():
    body = b"hello world " * 200
    resp = W.build_http_response(body, chunked=True)
    assert W.parse_http_response(resp)[2] == body
    with pytest.raises(W.WarcError):
        W._dechunk(b"zz\r\nhello")  # bad size token
    with pytest.raises(W.WarcError):
        W._dechunk(b"5\r\nhello\r\n")  # missing terminator
    with pytest.raises(W.WarcError):
        W.parse_http_response(b"not http at all\r\n\r\nbody")


@pytest.mark.parametrize("payload", [
    b"HTTP/1.1 abc OK\r\nContent-Length: 2\r\n\r\nhi",
    b"HTTP/1.1 200 OK\r\nContent-Length: zz\r\n\r\nhi",
])
def test_http_framing_faults_raise_warc_error(payload):
    """A non-numeric status code or Content-Length is invalid HTTP
    framing: a classified WarcError, not a bare int() ValueError."""
    with pytest.raises(W.WarcError):
        W.parse_http_response(payload)


@pytest.mark.parametrize("length", ["-3", "1_0", "+2", " 2x", "\u00b2"])
def test_http_content_length_must_be_decimal_digits(length):
    """int() alone reads "-3" (a phantom body: ``body[:-3]``), "1_0"
    and "+2"; only ASCII decimal digits frame a body."""
    payload = (b"HTTP/1.1 200 OK\r\nContent-Length: "
               + length.encode("latin-1") + b"\r\n\r\nhello")
    with pytest.raises(W.WarcError):
        W.parse_http_response(payload)


@pytest.mark.parametrize("size", [b"+3", b"0x3", b"-0", b"1_0", b""])
def test_chunk_size_must_be_hex_digits(size):
    with pytest.raises(W.WarcError):
        W._dechunk(size + b"\r\nhel\r\n0\r\n\r\n")


def _raw_record(uri: str, length: str, payload: bytes) -> bytes:
    return (b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
            + uri.encode() + b"\r\nContent-Length: " + length.encode()
            + b"\r\n\r\n" + payload + b"\r\n\r\n")


@pytest.mark.parametrize("length", ["-50", "+5", "5_0", ""])
def test_warc_content_length_must_be_decimal_digits(length):
    """A signed or garbled WARC Content-Length is a framing fault: a
    "-50" record used to be yielded with an empty payload before the
    next record failed to frame."""
    rec = _raw_record("u", length, b"x" * 50)
    yielded = []
    with pytest.raises(W.WarcError):
        for record in W.iter_warc_records(rec + rec):
            yielded.append(record)
    assert yielded == []


def test_read_warc_skip_keeps_no_phantom_record(spark, tmp_path):
    """errors='skip' keeps the records before a negative Content-Length
    and none at or after it (the empty payload it used to slice failed
    HTTP parsing, so no phantom page ever reached this frame)."""
    http = W.build_http_response(b"<html>ok</html>")
    good = _raw_record("https://a.example/1", str(len(http)), http)
    bad = _raw_record("https://a.example/2", "-50", http)
    (tmp_path / "f.warc").write_bytes(good + bad + good)
    got = W.read_warc(spark, str(tmp_path), errors="skip").collect()
    assert [r["url"] for r in got] == ["https://a.example/1"]


@pytest.mark.parametrize("date,want", [
    ("2023-01-01T00:00:00Z", datetime(2023, 1, 1)),
    ("2023-01-01T00:00:00.1Z", datetime(2023, 1, 1, 0, 0, 0, 100000)),
    ("2023-01-01T00:00:00.123456Z", datetime(2023, 1, 1, 0, 0, 0, 123456)),
    # Spark timestamps hold microseconds: digits past the sixth drop
    ("2023-01-01T00:00:00.123456789Z", datetime(2023, 1, 1, 0, 0, 0, 123456)),
    ("2023-01-01T00:00:00.Z", None),
    ("2023-01-01T00:00:00.1234567890Z", None),
    ("2023-01-01T00:00:00.12a4Z", None),
    ("2023-01-01T00:00:00.123", None),
    ("not a date", None),
])
def test_warc_date_fractional_seconds(date, want):
    """WARC/1.1 allows 1-9 fractional second digits in WARC-Date."""
    assert W._warc_ts({"warc-date": date}) == want


def test_truncated_and_corrupt_input():
    rec = W._warc_record([("WARC-Type", "response")], b"x" * 100)
    with pytest.raises(W.WarcError):
        list(W.iter_warc_records(rec[:50]))  # truncated plain record
    with pytest.raises(W.WarcError):
        list(W.iter_warc_records(b"\x1f\x8b" + b"\x00" * 30))  # bad gzip
    with pytest.raises(W.WarcError):
        list(W.iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\n"))  # not WARC


def test_gzip_path_tolerates_inter_record_whitespace():
    """Spec-valid files may pad CRLFs between records; the gzip drain
    must skip them exactly like the plain path (r8 advisory fix)."""
    rec = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "u")],
        W.build_http_response(b"<html>hi</html>"),
    )
    # extra ws inside one member AND between members
    blob = (gzip.compress(rec + b"\r\n\r\n" + rec)
            + gzip.compress(b"\r\n" + rec))
    assert len(list(W.iter_warc_records(blob))) == 3


def test_chunk_fed_iterator_matches_in_memory(tmp_path):
    """iter_warc_records_chunks over tiny file chunks == the in-memory
    reader, for both framings — the path-streamed kernel's contract."""
    for gz in (True, False):
        path = str(tmp_path / ("c.warc.gz" if gz else "c.warc"))
        W.write_warc_gz(path, _pages(4), member_gzip=gz)
        raw = open(path, "rb").read()
        whole = [(h, bytes(p)) for h, p in W.iter_warc_records(raw)]
        chunked = [(h, bytes(p)) for h, p in W.iter_warc_records_chunks(
            W._file_chunks(path, chunk_size=113))]
        assert whole == chunked


def test_header_continuation_lines():
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"X-Long: part one\r\n  and two\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    (headers, payload), = list(W.iter_warc_records(rec))
    assert headers["x-long"] == "part one and two"
    assert payload == b"hi"


def test_read_warc_lockstep_with_pages_table(spark, sf_dir, tmp_path):
    """read_warc over the synthesized tree must agree row-for-row with
    synthesize_pages on (url, warc_ts, html bytes) for the fixture
    docs — WARC framing is byte-transparent."""
    from web_content_extraction_benchmark_spark.sources.pages import (
        synthesize_pages,
    )

    n = W.synthesize_warc_tree(sf_dir, str(tmp_path))
    df = W.read_warc(spark, str(tmp_path))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan

    got = {r["url"]: r for r in df.collect()}
    assert len(got) == n
    pages = synthesize_pages(spark, sf_dir).filter(
        "doc_id % 7 = 0 AND doc_id % 101 != 0"
    ).select("url", "warc_ts", "html").collect()
    assert len(pages) == n
    for row in pages:
        w = got[row["url"]]
        assert bytes(w["html"]) == bytes(row["html"]), row["url"]
        assert w["warc_ts"] == row["warc_ts"], row["url"]
        assert w["http_status"] == 200
        assert w["content_type"].startswith("text/html")


def test_wet_sink_roundtrip(spark, sf_dir, tmp_path):
    """answers -> WET-style conversion records -> read back: plaintext
    and url survive byte-identically; one file per partition."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_answers,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        synthesize_pages,
    )

    pages = synthesize_pages(spark, sf_dir).filter("doc_id % 31 = 0") \
        .select("url", "warc_ts", "html").repartition(3)
    answers = extract_answers(pages, ["main_content"]) \
        .join(pages.select("url", "warc_ts"), "url") \
        .select("url", "plaintext", "warc_ts")
    want = {r["url"]: r for r in answers.collect()}

    out = str(tmp_path / "wet")
    manifest = W.write_wet(answers, out)
    assert sum(m["n_records"] for m in manifest) == len(want)
    assert len(manifest) == 3  # one file per partition

    got = {r["url"]: r for r in W.read_wet(spark, out).collect()}
    assert set(got) == set(want)
    for url, row in want.items():
        assert got[url]["plaintext"] == row["plaintext"]
        assert got[url]["warc_ts"] == row["warc_ts"]


def test_read_warc_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming ingest over a WARC drop directory == batch read, with
    files arriving across micro-batches (maxFilesPerTrigger=1) and the
    same extraction kernel running stateless in append mode."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_answers,
    )

    n = W.synthesize_warc_tree(sf_dir, str(tmp_path))
    batch = {
        (r["url"], r["plaintext"])
        for r in extract_answers(
            W.read_warc(spark, str(tmp_path)), ["main_content"]
        ).collect()
    }
    assert len(batch) == n

    stream = extract_answers(
        W.read_warc_stream(spark, str(tmp_path)), ["main_content"]
    )
    assert stream.isStreaming
    query = (
        stream.writeStream.format("memory").queryName("warc_stream")
        .outputMode("append").start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    got = {
        (r["url"], r["plaintext"])
        for r in spark.sql(
            "SELECT url, plaintext FROM warc_stream").collect()
    }
    assert got == batch


def test_warc_stream_restart_resumes_without_reingest(spark, tmp_path):
    """Drop-directory ingest across a RESTART: phase 1 processes the
    first file into a parquet sink, phase 2 restarts the same
    checkpoint after a second file lands — the union equals one batch
    read, with no re-ingested (duplicated) phase-1 rows.  Needs the
    parquet sink: memory-sink queries cannot recover a checkpoint."""
    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    W.write_warc_gz(str(drop / "day1.warc.gz"), _pages(3))

    def run_once(name: str) -> None:
        q = (
            W.read_warc_stream(spark, str(drop))
            .selectExpr("url", "cast(html as string) AS body")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("warc_restart_p1")
    more = [{"url": f"https://h9.example/src/{i}", "ts": TS,
             "body": f"<html>late {i}</html>".encode()}
            for i in range(2)]
    W.write_warc_gz(str(drop / "day2.warc.gz"), more)
    run_once("warc_restart_p2")

    got = [(r["url"], r["body"]) for r in spark.read.parquet(out).collect()]
    assert len(got) == len(set(got)) == 5  # no duplicates across restart
    want = {(r["url"], bytes(r["html"]).decode())
            for r in W.read_warc(spark, str(drop)).collect()}
    assert set(got) == want


def test_read_warc_skip_errors_isolates_damaged_files(spark, tmp_path):
    """errors='skip' drops a damaged file's unread remainder but keeps
    every other file; strict mode (the oracle posture) raises."""
    W.write_warc_gz(str(tmp_path / "good.warc.gz"), _pages(3))
    (tmp_path / "bad.warc.gz").write_bytes(b"\x1f\x8b" + b"\x00" * 40)

    good = W.read_warc(spark, str(tmp_path), errors="skip").collect()
    assert {r["url"] for r in good} == {p["url"] for p in _pages(3)}

    with pytest.raises(Exception, match="gzip member"):
        W.read_warc(spark, str(tmp_path), errors="strict").count()

    with pytest.raises(ValueError):
        W.read_warc(spark, str(tmp_path), errors="maybe")


def test_mixed_crawl_routes_html_and_pdf(spark, tmp_path):
    """A mixed WARC (text/html + application/pdf responses, one PDF
    mislabeled as html to force the magic-sniff fallback, one with a
    spec-allowed junk prefix before %PDF-) ingested and dispatched by
    extract_mixed: every page routes to the right parser and
    round-trips its text WITH line structure (pdf_structured_text)."""
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        extract_mixed,
    )
    from web_content_extraction_benchmark_spark.sources.pdf_synth import (
        encode_pdf,
        pdf_layout_params,
    )
    from web_content_extraction_benchmark_spark.plans.pipeline import (
        EXTRACTORS,
    )
    from web_content_extraction_benchmark_spark.sources.pages import (
        build_page_html,
    )

    def structured(doc_id: int, text: str) -> str:
        wpl = pdf_layout_params(doc_id)["wpl"]
        w = text.split()
        return "\n".join(" ".join(w[i:i + wpl])
                         for i in range(0, len(w), wpl))

    pages, want = [], {}
    for i in range(6):
        url = f"https://h/x/{i}"
        if i % 2 == 0:
            body = build_page_html(i + 2, f"src{i}", "alpha beta gamma")
            pages.append({"url": url, "ts": TS,
                          "body": body.encode("utf-8")})
            want[url] = ("html", EXTRACTORS["main_content"](body))
        else:
            text = f"pdf doc {i} delta epsilon"
            body = encode_pdf(i, text)
            if i == 5:
                # spec allows up to 1024 junk bytes before the header:
                # the sniff and the parser must both tolerate it
                body = b"\r\n<!-- proxy banner -->\r\n" + body
            pages.append({
                "url": url, "ts": TS, "body": body,
                # i==3,5 mislabeled as html -> magic sniff must catch
                "content_type": ("application/pdf" if i == 1
                                 else "text/html"),
            })
            want[url] = ("pdf", structured(i, text))
    # r8 routes: text/plain passthrough and binary counted-skip
    pages.append({"url": "https://h/x/plain", "ts": TS,
                  "body": b"just words no markup",
                  "content_type": "text/plain; charset=utf-8"})
    want["https://h/x/plain"] = ("text", "just words no markup")
    pages.append({"url": "https://h/x/img", "ts": TS,
                  "body": b"\x89PNG\r\n\x1a\n" + b"\x00" * 32,
                  "content_type": "image/png"})
    want["https://h/x/img"] = ("binary", None)
    W.write_warc_gz(str(tmp_path / "mixed.warc.gz"), pages)

    out = extract_mixed(W.read_warc(spark, str(tmp_path)))
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    # single-pass dispatch: one routing kernel over one ingest kernel,
    # no Exchange, no Union re-running the container walk per branch
    assert "Exchange" not in plan and "Union" not in plan
    tree = plan.split("\n\n")[0]  # the operator tree section
    assert tree.count("MapInPandas") == 0
    assert tree.count("MapInArrow") == 2  # the ingest + extraction kernels
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == 8
    for url, (kind, text) in want.items():
        assert rows[url]["kind"] == kind, url
        assert rows[url]["plaintext"] == text, url
        assert rows[url]["error"] is None


def test_payload_digest_verification(spark, tmp_path):
    """WARC-Payload-Digest (sha1/base32, the CC convention): written by
    both sinks, verified on ingest into the digest_ok column — True on
    intact records, False on a corrupted body, null when absent or a
    foreign algorithm."""
    W.write_warc_gz(str(tmp_path / "a.warc.gz"), _pages(2))
    # plant one record with a WRONG digest and one with none
    bad = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "https://h/bad"),
         ("WARC-Payload-Digest",
          "sha1:AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"),
         ("Content-Type", "application/http; msgtype=response")],
        W.build_http_response(b"<html>tampered</html>"),
    )
    plain = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "https://h/plain"),
         ("Content-Type", "application/http; msgtype=response")],
        W.build_http_response(b"<html>no digest</html>"),
    )
    (tmp_path / "b.warc.gz").write_bytes(
        gzip.compress(bad, mtime=0) + gzip.compress(plain, mtime=0))

    rows = {r["url"]: r for r in W.read_warc(spark, str(tmp_path)).collect()}
    for p in _pages(2):
        assert rows[p["url"]]["digest_ok"] is True, p["url"]
    assert rows["https://h/bad"]["digest_ok"] is False
    assert rows["https://h/plain"]["digest_ok"] is None
    # pure helper surface
    assert W.payload_digest(b"x").startswith("sha1:")


def test_read_warc_ignores_crashed_sink_temp_files(spark, tmp_path):
    """A killed write_warc attempt leaves part-*.warc.gz.inprogress-N;
    the readers must never ingest it as data (it is an uncommitted,
    possibly torn file that still matches the *.warc* glob)."""
    W.write_warc_gz(str(tmp_path / "good.warc.gz"), _pages(2))
    full = (tmp_path / "good.warc.gz").read_bytes()
    (tmp_path / "part-00001.warc.gz.inprogress-7").write_bytes(
        full[:len(full) // 2])  # torn mid-write
    rows = W.read_warc(spark, str(tmp_path)).collect()
    assert {r["url"] for r in rows} == {p["url"] for p in _pages(2)}


def test_read_warc_skips_revisit_and_metadata_records(spark, tmp_path):
    """Real CC crawls interleave revisit (dedup pointer, headers-only
    payload) and metadata records with responses; ingest must yield
    exactly the response rows and never try to HTTP-parse the others."""
    resp = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "https://h/r/1"),
         ("WARC-Date", "2023-03-04T05:06:07Z"),
         ("Content-Type", "application/http; msgtype=response")],
        W.build_http_response(b"<html>real</html>"),
    )
    revisit = W._warc_record(
        [("WARC-Type", "revisit"), ("WARC-Target-URI", "https://h/r/2"),
         ("WARC-Profile",
          "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
         ("WARC-Refers-To", "<urn:wceb:orig>")],
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
    )
    meta = W._warc_record(
        [("WARC-Type", "metadata"), ("WARC-Target-URI", "https://h/r/1"),
         ("Content-Type", "application/warc-fields")],
        b"fetchTimeMs: 120\r\n",
    )
    resource = W._warc_record(
        [("WARC-Type", "resource"), ("WARC-Target-URI", "https://h/r/3")],
        b"raw resource bytes, not an http message",
    )
    blob = b"".join(gzip.compress(r, mtime=0)
                    for r in (revisit, resp, meta, resource))
    (tmp_path / "cc.warc.gz").write_bytes(blob)

    rows = W.read_warc(spark, str(tmp_path)).collect()
    assert [(r["url"], bytes(r["html"])) for r in rows] == [
        ("https://h/r/1", b"<html>real</html>")
    ]


def test_cdxj_index_random_access(spark, sf_dir, tmp_path):
    """write_warc(cdxj=True) -> read_cdxj -> fetch_warc_record closes
    the loop: every index row's (filename, offset, length) must land on
    exactly its record, the payload must re-digest to the indexed sha1,
    and per-file lines must be (surt, ts)-sorted."""
    import os

    from pyspark.sql import functions as F

    from web_content_extraction_benchmark_spark.sources.pages import (
        synthesize_pages,
    )

    out = str(tmp_path / "warc")
    pages = synthesize_pages(spark, sf_dir).filter(
        F.col("doc_id") % 29 == 0
    ).repartition(3).select(
        "url",
        F.lit(TS).cast("timestamp").alias("warc_ts"),
        "html",
    )
    n_pages = pages.count()
    manifest = W.write_warc(pages, out, cdxj=True)
    assert sum(m["n_records"] for m in manifest) == n_pages
    assert len([p for p in os.listdir(out) if p.endswith(".cdxj")]) == 3

    idx = W.read_cdxj(spark, out)
    rows = idx.collect()
    assert len(rows) == n_pages
    # surt is the real sort key of the canonical url (reversed host)
    assert all(r.surt.split(")")[0].startswith("example,") for r in rows)
    # per-file lines sorted by (surt, ts)
    for p in os.listdir(out):
        if p.endswith(".cdxj"):
            lines = open(os.path.join(out, p)).read().splitlines()
            assert lines == sorted(lines)
    # random access: every indexed record fetches, parses, re-digests
    for r in rows:
        headers, status, body = W.fetch_warc_record(
            out, r.filename, r.offset, r.length
        )
        assert status == 200
        assert headers["warc-target-uri"] == r.url
        assert W.payload_digest(body) == r.digest
    # offsets are strictly increasing and disjoint within a file
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r.filename, []).append((r.offset, r.length))
    for spans in by_file.values():
        spans.sort()
        for (o1, l1), (o2, _) in zip(spans, spans[1:]):
            assert o1 + l1 <= o2


def test_redirect_records_expose_location(spark, tmp_path):
    """3xx rows carry the Location header in redirect_to (the hop a
    crawler schedules next); 200 rows carry null."""
    pages = _pages(2) + [{
        "url": "https://h9.example/old",
        "ts": TS,
        "body": b"",
        "status": 301,
        "location": "https://h9.example/new",
    }]
    path = str(tmp_path / "r.warc.gz")
    W.write_warc_gz(path, pages)
    rows = {r.url: r for r in W.read_warc(spark, str(tmp_path)).collect()}
    moved = rows["https://h9.example/old"]
    assert moved.http_status == 301
    assert moved.redirect_to == "https://h9.example/new"
    assert moved.html == b""
    for i in range(2):
        ok = rows[f"https://h{i}.example/src/{i}"]
        assert ok.http_status == 200 and ok.redirect_to is None


def test_sink_digest_dedup_writes_revisits(spark, tmp_path):
    """dedup_by_digest: repeated payloads become revisit records (CC
    storage dedup) — the reader's skip-by-type then yields exactly the
    first instance of each payload."""
    from pyspark.sql import functions as F

    rows = [
        ("https://h.example/a1", b"<html>same body</html>"),
        ("https://h.example/a2", b"<html>same body</html>"),   # dup
        ("https://h.example/b1", b"<html>other body</html>"),
        ("https://h.example/a3", b"<html>same body</html>"),   # dup
    ]
    out = str(tmp_path / "dedup")
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(
        1
    ).select(
        "url", F.lit(TS).cast("timestamp").alias("warc_ts"), "html")
    manifest = W.write_warc(df, out, dedup_by_digest=True)
    assert sum(m["n_records"] for m in manifest) == 2
    assert sum(m["n_revisits"] for m in manifest) == 2
    got = {r.url: r for r in W.read_warc(spark, out).collect()}
    assert set(got) == {"https://h.example/a1", "https://h.example/b1"}
    assert all(r.digest_ok for r in got.values())
    # without dedup all four are full responses
    out2 = str(tmp_path / "plain")
    manifest2 = W.write_warc(df, out2)
    assert sum(m["n_records"] for m in manifest2) == 4
    assert sum(m["n_revisits"] for m in manifest2) == 0


# Seeded fuzz of chunk-fed WARC framing: random record sets under random
# gzip member groupings, inter-record whitespace, chunked/plain HTTP
# framing and every chunk size from 1 byte up — the reader must recover
# the exact (headers, payload) sequence or raise WarcError, never
# mis-frame silently.
def _random_records(rng: random.Random) -> list[tuple[str, bytes]]:
    recs = []
    for i in range(rng.randrange(1, 8)):
        body = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 900)))
        recs.append((f"https://f{i}.example/{i}",
                     W.build_http_response(
                         body, chunked=rng.random() < 0.4)))
    return recs


def _pack(rng: random.Random, raw_records: list[bytes]) -> bytes:
    """Random container shape: plain vs gzip, member-per-record vs
    grouped members vs one member, optional inter-record CRLF pad."""
    pad = b"\r\n" * rng.randrange(0, 3)
    blob = pad.join(raw_records) + (b"\r\n" if rng.random() < 0.5 else b"")
    if rng.random() < 0.3:
        return blob  # plain .warc
    if rng.random() < 0.5:
        return b"".join(gzip.compress(r + pad, mtime=0)
                        for r in raw_records)
    # random member grouping
    out = b""
    i = 0
    while i < len(raw_records):
        j = min(len(raw_records), i + rng.randrange(1, 4))
        out += gzip.compress(pad.join(raw_records[i:j]), mtime=0)
        i = j
    return out


def test_fuzz_warc_chunk_framing_roundtrip():
    for seed in range(60):
        rng = random.Random(seed)
        recs = _random_records(rng)
        raws = [
            W._warc_record(
                [("WARC-Type", "response"), ("WARC-Target-URI", url),
                 ("WARC-Payload-Digest", W.payload_digest(
                     W.parse_http_response(payload)[2]))],
                payload)
            for url, payload in recs
        ]
        blob = _pack(rng, raws)
        chunk = rng.choice([1, 3, 17, 256, 1 << 14, 1 << 22])
        got = list(W.iter_warc_records_chunks(
            memoryview(blob)[i:i + chunk]
            for i in range(0, len(blob), chunk)))
        assert len(got) == len(recs), (seed, chunk)
        for (url, payload), (h, pl) in zip(recs, got):
            assert h["warc-target-uri"] == url
            status, hh, body = W.parse_http_response(pl)
            assert status == 200
            assert W._check_digest(h, body) is True, (seed, url)


def test_fuzz_warc_truncation_always_raises():
    """Any strict prefix that cuts a record mid-way must raise
    WarcError (plain) or WarcError (gzip member/record) — never
    silently yield a torn record as complete."""
    rng = random.Random(99)
    rec = W._warc_record(
        [("WARC-Type", "response"), ("WARC-Target-URI", "u")],
        W.build_http_response(b"x" * 500))
    for blob in (rec, gzip.compress(rec, mtime=0)):
        for _ in range(40):
            cut = rng.randrange(10, len(blob) - 1)
            with pytest.raises(W.WarcError):
                list(W.iter_warc_records(blob[:cut]))
