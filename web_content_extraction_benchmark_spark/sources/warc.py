"""WARC ingestion: Common-Crawl-style ``.warc.gz`` -> pages table.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages"; the table's upstream on a real cluster is Common Crawl's WARC
container (ISO 28500).  The reference repo starts from pre-extracted
HTML trees and has no WARC code, so this module is built from the
public WARC 1.0 / ISO 28500 spec and the Common Crawl conventions:

- one gzip MEMBER per record (what makes ``.warc.gz`` seekable by
  byte offset and lets a reader bound memory to one record);
- records: ``warcinfo`` (file header), ``request``/``response`` pairs;
- the response payload is a raw HTTP/1.1 message — status line,
  headers, body — with ``Content-Length`` or chunked transfer
  encoding, both of which `parse_http_response` handles.

Reader shape at 100 TB: WARC files are ~1 GB and gzip is not
block-splittable, so the unit of parallelism is the FILE (100 TB ≈
10^5 files ≫ executor count).  `read_warc` scans PATHS ONLY (the
``binaryFile`` source with the ``content`` column pruned away) and
the per-file function ``open()``s each file inside the record kernel
(`functions.records.map_records`), feeding the member walk in bounded
chunks — executor memory really is O(chunk + largest record), never
O(file): the raw ~1 GB blob neither sits in the JVM nor crosses Arrow
into Python, and Spark's 2 GB binary-column cap does not apply.  No shuffle anywhere: scan -> per-file map.
The two writers, `write_wet` and `write_warc`, keep their own
``mapInPandas`` loops: each writes one file per partition and emits one
manifest row for it, which is not a per-record map.

Byte-lockstep with the synthetic pages table: `synthesize_warc_tree`
wraps exactly the bytes `sources/pages.py` puts in the ``html``
column (``encode_page_html``), so ``read_warc(...)`` and
``synthesize_pages(...)`` agree row-for-row on (url, warc_ts, html) —
pinned by tests/test_warc.py."""

from __future__ import annotations

import gzip
import zlib
from datetime import datetime, timezone
from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.records import map_records

CRLF = b"\r\n"
_WS_BYTES = frozenset(b" \t\r\n")

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("content_type", T.StringType(), True),
        # Location header verbatim (3xx hops — a real crawl stores the
        # redirect response and schedules the target; null otherwise)
        T.StructField("redirect_to", T.StringType(), True),
        T.StructField("warc_file", T.StringType(), True),
        # WARC-Payload-Digest check: True/False when the record carries
        # a sha1 digest (CC convention), null when absent — lets a
        # pipeline quarantine silently-corrupted records instead of
        # feeding them to extraction
        T.StructField("digest_ok", T.BooleanType(), True),
    ]
)


def payload_digest(body: bytes) -> str:
    """Common-Crawl-style ``WARC-Payload-Digest`` value: sha1 of the
    (transfer-decoded) HTTP payload, base32 per RFC 4648."""
    import base64
    import hashlib

    return "sha1:" + base64.b32encode(
        hashlib.sha1(body).digest()).decode("ascii")


def _check_digest(headers: dict[str, str], body: bytes) -> bool | None:
    want = headers.get("warc-payload-digest")
    if not want:
        return None
    algo, _, val = want.partition(":")
    if algo.lower() != "sha1" or not val:
        return None  # foreign algorithm: no verdict, not a failure
    return payload_digest(body) == f"sha1:{val.upper()}"


class WarcError(ValueError):
    """Raised on structurally invalid WARC/HTTP input."""


# ---------------------------------------------------------------------------
# Record-level writer
# ---------------------------------------------------------------------------


def _warc_record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = b"WARC/1.0" + CRLF
    for k, v in headers:
        head += f"{k}: {v}".encode("latin-1") + CRLF
    head += f"Content-Length: {len(payload)}".encode() + CRLF + CRLF
    return head + payload + CRLF + CRLF


def _chunked(body: bytes, chunk: int = 512) -> bytes:
    out = bytearray()
    for i in range(0, len(body), chunk):
        piece = body[i:i + chunk]
        out += f"{len(piece):x}".encode() + CRLF + piece + CRLF
    out += b"0" + CRLF + CRLF
    return bytes(out)


def build_http_response(body: bytes, *, charset: str = "utf-8",
                        chunked: bool = False, status: int = 200,
                        content_type: str | None = None,
                        location: str | None = None) -> bytes:
    """A raw HTTP/1.1 response message around ``body`` (the WARC
    response payload).  ``chunked`` switches the framing arm;
    ``content_type`` overrides the text/html default (e.g.
    ``application/pdf`` rows in a mixed crawl); ``location`` adds the
    redirect header a 3xx row carries."""
    reason = {200: "OK", 301: "Moved Permanently", 302: "Found",
              307: "Temporary Redirect",
              404: "Not Found"}.get(status, "OK")
    ctype = content_type or f"text/html; charset={charset}"
    lines = [f"HTTP/1.1 {status} {reason}",
             f"Content-Type: {ctype}"]
    if location is not None:
        lines.append(f"Location: {location}")
    if chunked:
        lines.append("Transfer-Encoding: chunked")
        payload = _chunked(body)
    else:
        lines.append(f"Content-Length: {len(body)}")
        payload = body
    head = CRLF.join(ln.encode("latin-1") for ln in lines) + CRLF + CRLF
    return head + payload


def _iso(ts: datetime) -> str:
    return ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(tag: str) -> str:
    return f"<urn:wceb:{tag}>"


def write_warc_gz(path: str, pages: list[dict],
                  member_gzip: bool = True) -> int:
    """Write one ``.warc.gz`` (or plain ``.warc``): a warcinfo record
    followed by a request+response pair per page.  ``pages`` rows carry
    ``url``, ``ts`` (datetime), ``body`` (bytes), optional ``chunked``.
    Each record is its own gzip member (Common Crawl convention)."""
    records = [
        _warc_record(
            [("WARC-Type", "warcinfo"),
             ("WARC-Date", _iso(datetime.now(timezone.utc))
              if not pages else _iso(pages[0]["ts"])),
             ("WARC-Record-ID", _record_id("warcinfo")),
             ("Content-Type", "application/warc-fields")],
            b"software: wceb-spark synthetic crawler\r\n",
        )
    ]
    for p in pages:
        records.append(_warc_record(
            [("WARC-Type", "request"),
             ("WARC-Target-URI", p["url"]),
             ("WARC-Date", _iso(p["ts"])),
             ("WARC-Record-ID", _record_id(p["url"] + ":req")),
             ("Content-Type", "application/http; msgtype=request")],
            f"GET {p['url']} HTTP/1.1\r\nHost: x\r\n\r\n".encode(),
        ))
        records.append(_warc_record(
            [("WARC-Type", "response"),
             ("WARC-Target-URI", p["url"]),
             ("WARC-Date", _iso(p["ts"])),
             ("WARC-Record-ID", _record_id(p["url"] + ":resp")),
             ("WARC-Payload-Digest", payload_digest(p["body"])),
             ("Content-Type", "application/http; msgtype=response")],
            build_http_response(p["body"],
                                chunked=bool(p.get("chunked")),
                                content_type=p.get("content_type"),
                                status=p.get("status", 200),
                                location=p.get("location")),
        ))
    with open(path, "wb") as f:
        if member_gzip:
            for rec in records:
                f.write(gzip.compress(rec, compresslevel=1, mtime=0))
        else:
            for rec in records:
                f.write(rec)
    return len(pages)


def synthesize_warc_tree(sf_dir: str, out_dir: str, mod: int = 7,
                         pages_per_file: int = 16) -> int:
    """Fixture docs -> ``crawl-{k}.warc.gz`` files.  Page bodies are the
    EXACT bytes of the pages table's ``html`` column (encode_page_html:
    gzip %103 rows, BOM %107 rows), so WARC ingest and parquet synthesis
    stay byte-lockstepped.  ``doc_id % 3 == 1`` responses use chunked
    transfer encoding; every 5th file is a plain uncompressed .warc."""
    import os

    from .pages import EPOCH_2023, build_page_html, encode_page_html, url_for
    from .raw_datasets import _fixture_docs

    os.makedirs(out_dir, exist_ok=True)
    docs = list(_fixture_docs(sf_dir, mod))
    n = 0
    for k, start in enumerate(range(0, len(docs), pages_per_file)):
        batch = []
        for doc_id, source, text in docs[start:start + pages_per_file]:
            ts = (EPOCH_2023
                  + pd.Timedelta(seconds=doc_id % 4_000_000_000))
            batch.append({
                "url": url_for(doc_id, source),
                "ts": ts.to_pydatetime().replace(tzinfo=timezone.utc),
                "body": encode_page_html(
                    doc_id, build_page_html(doc_id, source, text)),
                "chunked": doc_id % 3 == 1,
            })
        plain = k % 5 == 4
        name = f"crawl-{k:05d}.warc" + ("" if plain else ".gz")
        n += write_warc_gz(os.path.join(out_dir, name), batch,
                           member_gzip=not plain)
    return n


# ---------------------------------------------------------------------------
# Record-level reader (pure)
# ---------------------------------------------------------------------------


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    last: str | None = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        k, _, v = line.partition(b":")
        last = k.strip().decode("latin-1").lower()
        headers[last] = v.strip().decode("latin-1")
    return headers


def _decimal_length(value: str, what: str) -> int:
    """A Content-Length value: ASCII decimal digits only.  ``int()``
    alone also takes a sign, underscores and non-ASCII digits, and a
    negative length would slice a phantom body."""
    if not (value.isascii() and value.isdigit()):
        raise WarcError(f"{what} {value[:30]!r}")
    return int(value)


def _take_record(buf: bytes, pos: int) -> tuple[dict, bytes, int] | None:
    """Parse one WARC record at ``pos``; returns (headers, payload,
    next_pos) or None if ``buf`` holds no complete record yet."""
    head_end = buf.find(b"\r\n\r\n", pos)
    if head_end == -1:
        return None
    head = buf[pos:head_end]
    if not head.startswith(b"WARC/"):
        raise WarcError(
            f"record at {pos} does not start with WARC/: {head[:20]!r}")
    headers = _parse_headers(buf[pos + head.find(b"\r\n") + 2:head_end])
    length = _decimal_length(headers.get("content-length", ""),
                             f"record at {pos}: bad Content-Length")
    body_start = head_end + 4
    next_pos = body_start + length + 4  # payload + CRLF CRLF
    if len(buf) < next_pos:
        return None
    return headers, buf[body_start:body_start + length], next_pos


def _gzip_chunk_stream(chunks: Iterator) -> Iterator[bytes]:
    """Decompressed chunks from a (possibly multi-member) gzip stream
    fed as compressed chunks.  Members are walked one decompressobj at
    a time; the feed size resets small per member and ramps up
    geometrically so that member-per-record crawl files never memcpy
    the remaining tail per member (``unused_data`` — which IS a copy —
    stays one small feed), while giant members reach full chunk size."""
    d = zlib.decompressobj(wbits=31)
    started = False
    feed = 1 << 14
    mv = memoryview(b"")
    off = 0
    consumed_total = 0
    while True:
        if d.eof:
            d = zlib.decompressobj(wbits=31)
            started = False
            feed = 1 << 14
        if off >= len(mv):
            nxt = next(chunks, None)
            if nxt is None:
                if started and not d.eof:
                    raise WarcError(
                        f"truncated gzip member near byte {consumed_total}")
                return
            mv = nxt if isinstance(nxt, memoryview) else memoryview(nxt)
            off = 0
            continue
        take = mv[off:off + feed]
        try:
            out = d.decompress(take)
        except zlib.error as e:
            raise WarcError(
                f"gzip member near byte {consumed_total}: {e}") from e
        started = True
        advanced = len(take) - len(d.unused_data)
        off += advanced
        consumed_total += advanced
        feed = min(feed * 4, 1 << 22)
        if out:
            yield out


def _drain_records(chunks: Iterator) -> Iterator[tuple[dict, bytes]]:
    """Complete WARC records off a stream of (decompressed) chunks.
    The buffer holds at most one in-flight record plus one chunk:
    ``bytearray +=`` appends without recopying the tail, and the
    consumed prefix is deleted after each chunk's drain.  Inter-record
    whitespace is tolerated (spec-valid files pad with CRLFs)."""
    buf = bytearray()

    def drain(final: bool) -> None:
        pos = 0
        n = len(buf)
        while True:
            while pos < n and buf[pos] in _WS_BYTES:
                pos += 1
            if pos >= n:
                break
            got = _take_record(buf, pos)
            if got is None:
                if final:
                    raise WarcError(f"truncated record at {pos}")
                break
            headers, payload, pos = got
            yield headers, bytes(payload)
        del buf[:pos]

    for chunk in chunks:
        buf += chunk
        yield from drain(final=False)
    yield from drain(final=True)


def iter_warc_records_chunks(chunks: Iterator) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc-headers, payload) from an iterator of byte chunks —
    a ``.warc`` or ``.warc.gz`` stream without ever materializing the
    file.  This is the kernel entry point for path-streamed reads:
    peak memory is one chunk plus one in-flight record."""
    it = iter(chunks)
    # accumulate until the 2-byte gzip magic is decidable (a
    # pathological 1-byte first chunk must not defeat the sniff)
    head = bytearray()
    for c in it:
        head += c
        if len(head) >= 2:
            break
    if not head:
        return
    from itertools import chain

    full = chain([bytes(head)], it)
    if head[:2] == b"\x1f\x8b":
        yield from _drain_records(_gzip_chunk_stream(full))
    else:
        yield from _drain_records(full)


def _file_chunks(path: str, chunk_size: int = 1 << 20) -> Iterator[bytes]:
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk_size)
            if not b:
                return
            yield b


def _local_path(uri: str) -> str:
    """Spark file-source path (``file:/x/y`` URI or bare path) -> an
    ``open()``-able local path.  Path-streamed reads deliberately trade
    the JVM's Hadoop filesystem layer for O(chunk) memory; non-local
    schemes need a POSIX mount (fuse/NFS) or the parquet ingest path."""
    if ":" not in uri.split("/", 1)[0]:
        return uri  # bare path, no scheme
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    if p.scheme not in ("", "file"):
        raise WarcError(
            f"unsupported filesystem scheme {p.scheme!r} for path-streamed "
            "WARC read (local/file paths only — mount object stores or "
            "ingest via parquet)")
    return unquote((p.netloc or "") + p.path)


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc-headers, payload) from an in-memory ``.warc`` /
    ``.warc.gz`` byte string — same machinery as the path-streamed
    reader, fed from a memoryview in bounded slices."""
    view = memoryview(raw)
    yield from iter_warc_records_chunks(
        view[i:i + (1 << 20)] for i in range(0, len(raw), 1 << 20))


_HEX_DIGITS = b"0123456789abcdefABCDEF"


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol == -1:
            raise WarcError("truncated chunked body")
        size_tok = body[pos:eol].split(b";")[0].strip()
        # hex digits only: int(_, 16) also takes a sign, "0x" and "_"
        if not size_tok or size_tok.strip(_HEX_DIGITS):
            raise WarcError(f"bad chunk size {size_tok[:30]!r}")
        size = int(size_tok, 16)
        if size == 0:
            return bytes(out)
        start = eol + 2
        out += body[start:start + size]
        pos = start + size + 2  # skip chunk CRLF


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, lowercase headers, body) from a raw HTTP response;
    handles Content-Length framing and chunked transfer encoding."""
    head_end = payload.find(b"\r\n\r\n")
    if head_end == -1:
        raise WarcError("http response without header terminator")
    head = payload[:head_end]
    status_line, _, header_block = head.partition(b"\r\n")
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise WarcError(f"bad status line {status_line[:30]!r}")
    try:
        status = int(parts[1])
    except ValueError as e:
        raise WarcError(f"bad status code {parts[1][:30]!r}") from e
    headers = _parse_headers(header_block)
    body = payload[head_end + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    elif "content-length" in headers:
        body = body[:_decimal_length(headers["content-length"],
                                     "bad http Content-Length")]
    return status, headers, body


def _warc_ts(headers: dict[str, str]) -> datetime | None:
    """``WARC-Date`` as a naive UTC datetime; None when absent or
    malformed.  WARC/1.1 allows 1-9 fractional second digits; Spark
    timestamps hold microseconds, so digits past the sixth are dropped."""
    v = headers.get("warc-date")
    if not v:
        return None
    whole, dot, frac = v.partition(".")
    try:
        if not dot:
            return datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ")
        digits = frac[:-1]
        if not (frac.endswith("Z") and len(digits) <= 9
                and digits.isdigit()):
            return None
        return datetime.strptime(f"{whole}.{digits[:6]}",
                                 "%Y-%m-%dT%H:%M:%S.%f")
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# Spark face
# ---------------------------------------------------------------------------


def _records(path: str, warc_type: str) -> Iterator[tuple[dict, bytes]]:
    """(warc headers, payload) of each ``warc_type`` record in the file
    at ``path``.  Other record types a real crawl carries (warcinfo,
    request, and the CC dedup types revisit / metadata / resource, whose
    payloads would mis-frame as responses) are skipped, and so is a
    crashed sink attempt's ``.inprogress-`` temp file: never committed,
    it must not be ingested as data."""
    if ".inprogress-" in path:
        return
    for headers, payload in iter_warc_records_chunks(
            _file_chunks(_local_path(path))):
        if headers.get("warc-type") == warc_type:
            yield headers, payload


def _warc_pages(path: str, errors: str = "strict") -> Iterator[tuple]:
    """`WARC_PAGES_SCHEMA` rows of one WARC file's responses."""
    try:
        for headers, payload in _records(path, "response"):
            status, http_headers, body = parse_http_response(payload)
            yield (headers.get("warc-target-uri"), _warc_ts(headers), body,
                   status, http_headers.get("content-type"),
                   http_headers.get("location"), path,
                   _check_digest(headers, body))
    except Exception:
        # errors="skip": records already yielded from this file are
        # kept; the rest of the file is dropped — one damaged file in a
        # 10^5-file crawl must not kill the job
        if errors != "skip":
            raise


def read_warc(spark: SparkSession, path: str,
              glob: str = "*.warc*", errors: str = "strict") -> DataFrame:
    """``.warc`` / ``.warc.gz`` directory -> `WARC_PAGES_SCHEMA` rows
    (url, warc_ts, html, http_status, content_type, redirect_to,
    warc_file, digest_ok).  One file = one task (gzip is not
    block-splittable; Common Crawl parallelism comes from file count);
    rows stream out of the record kernel in bounded Arrow batches.

    The scan carries PATHS ONLY (the ``binaryFile`` source with
    ``content`` pruned); `_warc_pages` streams each file through
    ``open()`` in 1 MB chunks, so per-task memory is O(chunk + largest
    record) — a real ~1 GB compressed crawl file never materializes in
    the JVM, never crosses Arrow, and is not subject to the 2 GB
    binary-column cap.

    ``errors``: "strict" (default — a malformed file fails the task;
    what the byte-identity oracles want) or "skip" (a malformed file
    contributes the records parsed before the damage and is otherwise
    dropped — the corpus-scale posture).

    Small-file note: files below ``spark.sql.files.maxPartitionBytes``
    are packed several-per-task; real ~1 GB crawl files are file==task
    under the default.  For many-small-file layouts lower that conf to
    the file size to restore full parallelism."""
    if errors not in ("strict", "skip"):
        raise ValueError(f"errors must be strict|skip, got {errors!r}")
    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", glob).load(path) \
        .select("path")
    return map_records(files, partial(_warc_pages, errors=errors),
                       WARC_PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# WET-style sink (WARC conversion records)
# ---------------------------------------------------------------------------


def write_wet(df: DataFrame, out_dir: str) -> list[dict]:
    """Extraction results -> Common-Crawl-WET-style files: one
    ``part-{partition:05d}.warc.wet.gz`` per input partition, each a
    warcinfo record plus one ``conversion`` record (text/plain payload)
    per row.  Executor-side streaming writes — no driver collection,
    no shuffle; file count == partition count, the WET convention.

    ``df`` needs (url, plaintext) and optionally warc_ts.  Returns the
    manifest [{path, n_records}] (one small row per partition).

    Commit protocol: each task creates ``out_dir`` itself (the driver
    cannot see every executor's filesystem), writes to an
    attempt-suffixed temp name, and renames into place only on success
    — a retried or speculative attempt never leaves a torn
    ``part-{pid}`` behind, and the rename is atomic on POSIX."""
    import os

    from pyspark import TaskContext

    has_ts = "warc_ts" in df.columns
    cols = ["url", "plaintext"] + (["warc_ts"] if has_ts else [])

    def write_partition(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        tmp = f"{path}.inprogress-{ctx.taskAttemptId()}"
        n = 0
        with open(tmp, "wb") as f:
            f.write(gzip.compress(_warc_record(
                [("WARC-Type", "warcinfo"),
                 ("WARC-Record-ID", _record_id(f"wet:{pid}")),
                 ("Content-Type", "application/warc-fields")],
                b"format: WET-style conversion of extracted text\r\n",
            ), compresslevel=1, mtime=0))
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    body = (row.plaintext or "").encode("utf-8")
                    headers = [
                        ("WARC-Type", "conversion"),
                        ("WARC-Target-URI", row.url),
                        ("WARC-Record-ID", _record_id(row.url + ":wet")),
                        ("Content-Type", "text/plain"),
                    ]
                    if has_ts and pd.notna(row.warc_ts):
                        headers.insert(2, ("WARC-Date", _iso(
                            row.warc_ts.to_pydatetime().replace(
                                tzinfo=timezone.utc))))
                    f.write(gzip.compress(_warc_record(headers, body),
                                          compresslevel=1, mtime=0))
                    n += 1
        os.replace(tmp, path)
        yield pd.DataFrame({"path": [path], "n_records": [n]})

    manifest_schema = T.StructType([
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
    ])
    return [r.asDict() for r in
            df.select(*cols).mapInPandas(
                write_partition, schema=manifest_schema).collect()]


def read_wet(spark: SparkSession, path: str,
             glob: str = "*.warc.wet*") -> DataFrame:
    """WET-style directory -> (url, warc_ts, plaintext)."""

    def texts(fpath: str) -> Iterator[tuple]:
        for headers, payload in _records(fpath, "conversion"):
            yield (headers.get("warc-target-uri"), _warc_ts(headers),
                   payload.decode("utf-8"))

    schema = T.StructType([
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("plaintext", T.StringType(), True),
    ])
    files = spark.read.format("binaryFile").option("pathGlobFilter", glob) \
        .load(path).select("path")
    return map_records(files, texts, schema)


def write_warc(df: DataFrame, out_dir: str,
               chunked_every: int = 3, cdxj: bool = False,
               dedup_by_digest: bool = False) -> list[dict]:
    """Pages -> ``part-{partition:05d}.warc.gz`` response records
    (member-per-record gzip), executor-side like `write_wet` — the
    scalable way to materialize a Common-Crawl-style corpus (the
    driver-side `synthesize_warc_tree` is for small fixtures).  Every
    ``chunked_every``-th record uses chunked transfer framing so a
    volume read exercises the dechunk path.  ``df`` needs
    (url, warc_ts, html); returns the per-partition manifest.  Same
    task-side commit protocol as `write_wet` (makedirs in the task,
    temp name + rename on success).

    ``cdxj=True`` also writes a ``part-{partition:05d}.cdxj`` sidecar
    per WARC file — the standard crawl-index format (pywb/OpenWayback):
    one line per record, ``<surt-key> <ts14> <json>`` with the json
    carrying url, sha1 payload digest, byte ``offset`` and compressed
    member ``length`` in ``filename`` — what makes a .warc.gz random-
    access (seek offset, read length, gunzip ONE member) without
    touching the rest of the file.  Lines are sorted by (key, ts), so a
    global index is a merge, not a re-sort.  The SURT key is computed
    JVM-side by ``operators.urls.surt_key`` (the single implementation
    the oracle pins — no Python twin to drift).

    ``dedup_by_digest=True`` writes the Common-Crawl storage dedup: a
    repeated payload (same sha1) within a file becomes a ``revisit``
    record (WARC-Profile identical-payload-digest, zero-length block,
    WARC-Payload-Digest naming the stored copy) instead of a second
    full response — the capture event is preserved, the bytes are
    stored once.  The seen-set is per FILE (the local form of CC's
    CDX-backed dedup); `read_warc` skips revisit records by type, so a
    round trip yields exactly the first instance of each payload.
    Revisit records are not CDXJ-indexed (only fetchable full
    responses are)."""
    import json as _json
    import os

    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from ..operators.urls import surt_key

    def write_partition(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        fname = os.path.basename(path)
        tmp = f"{path}.inprogress-{ctx.taskAttemptId()}"
        n = 0
        n_revisits = 0
        seen_digests: set[str] = set()
        index: list[tuple[str, str, str]] = []
        with open(tmp, "wb") as f:
            f.write(gzip.compress(_warc_record(
                [("WARC-Type", "warcinfo"),
                 ("WARC-Record-ID", _record_id(f"warc:{pid}")),
                 ("Content-Type", "application/warc-fields")],
                b"software: wceb-spark synthetic crawler\r\n",
            ), compresslevel=1, mtime=0))
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    headers = [
                        ("WARC-Type", "response"),
                        ("WARC-Target-URI", row.url),
                        ("WARC-Record-ID", _record_id(row.url + ":resp")),
                        ("Content-Type",
                         "application/http; msgtype=response"),
                    ]
                    ts14 = "19700101000000"
                    if pd.notna(row.warc_ts):
                        dt = row.warc_ts.to_pydatetime().replace(
                            tzinfo=timezone.utc)
                        headers.insert(2, ("WARC-Date", _iso(dt)))
                        ts14 = dt.strftime("%Y%m%d%H%M%S")
                    body = bytes(row.html) if row.html is not None else b""
                    digest = payload_digest(body)
                    if dedup_by_digest and digest in seen_digests:
                        headers[0] = ("WARC-Type", "revisit")
                        headers.append(
                            ("WARC-Profile",
                             "http://netpreserve.org/warc/1.0/revisit/"
                             "identical-payload-digest"))
                        headers.append(("WARC-Payload-Digest", digest))
                        f.write(gzip.compress(
                            _warc_record(headers, b""),
                            compresslevel=1, mtime=0))
                        n_revisits += 1
                        continue
                    seen_digests.add(digest)
                    headers.append(("WARC-Payload-Digest", digest))
                    # the index row derives mime/status from the SAME
                    # values passed to the response builder (ADVICE r8:
                    # hardcoded index literals would silently drift if
                    # this writer ever gains the status/location
                    # passthrough write_warc_gz has)
                    rec_status, rec_mime = 200, "text/html"
                    member = gzip.compress(_warc_record(
                        headers,
                        build_http_response(
                            body, chunked=n % chunked_every == 1,
                            status=rec_status,
                            content_type=f"{rec_mime}; charset=utf-8"),
                    ), compresslevel=1, mtime=0)
                    if cdxj:
                        # a SURT key containing whitespace would shift
                        # the space-delimited ts/json fields on read —
                        # fall back to '-' like the null case (ADVICE
                        # r8; raw-space URLs produce such keys)
                        key = row.cdx_surt or "-"
                        if len(key.split()) != 1:
                            key = "-"
                        index.append((key, ts14, _json.dumps(
                            {"url": row.url, "digest": digest,
                             "mime": rec_mime, "status": str(rec_status),
                             "offset": f.tell(), "length": len(member),
                             "filename": fname},
                            sort_keys=True, separators=(",", ":"))))
                    f.write(member)
                    n += 1
        os.replace(tmp, path)
        if cdxj:
            ipath = os.path.join(out_dir, f"part-{pid:05d}.cdxj")
            itmp = f"{ipath}.inprogress-{ctx.taskAttemptId()}"
            with open(itmp, "w", encoding="utf-8") as g:
                for key, ts14, blob in sorted(index):
                    g.write(f"{key} {ts14} {blob}\n")
            os.replace(itmp, ipath)
        yield pd.DataFrame({"path": [path], "n_records": [n],
                            "n_revisits": [n_revisits]})

    manifest_schema = T.StructType([
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_revisits", T.LongType(), False),
    ])
    cols = [F.col("url"), F.col("warc_ts"), F.col("html")]
    if cdxj:
        cols.append(surt_key(F.col("url")).alias("cdx_surt"))
    return [r.asDict() for r in
            df.select(*cols).mapInPandas(
                write_partition, schema=manifest_schema).collect()]


CDXJ_SCHEMA = T.StructType([
    T.StructField("surt", T.StringType(), True),
    T.StructField("ts", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("mime", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("offset", T.LongType(), True),
    T.StructField("length", T.LongType(), True),
    T.StructField("filename", T.StringType(), True),
])


def read_cdxj(spark: SparkSession, path: str) -> DataFrame:
    """``.cdxj`` sidecars -> index DataFrame (CDXJ_SCHEMA).  Pure
    Catalyst: a text scan, two token extracts, one ``from_json`` — the
    100 TB shape is a line-parallel parse of ~10^5 small index files,
    then any lookup is a filter on ``surt`` (prefix-range for a whole
    domain) that prunes to (filename, offset, length) triples before a
    single record is fetched."""
    from pyspark.sql import functions as F

    json_schema = T.StructType([
        T.StructField("url", T.StringType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("filename", T.StringType(), True),
    ])
    lines = spark.read.text(f"{path}/*.cdxj")
    parsed = lines.select(
        F.regexp_extract("value", r"^(\S+) ", 1).alias("surt"),
        F.regexp_extract("value", r"^\S+ (\S+) ", 1).alias("ts"),
        F.from_json(
            F.regexp_extract("value", r"^\S+ \S+ (.*)$", 1), json_schema
        ).alias("j"),
    )
    return parsed.select(
        "surt", "ts", "j.url", "j.digest", "j.mime", "j.status",
        "j.offset", "j.length", "j.filename",
    )


def fetch_warc_record(out_dir: str, filename: str, offset: int,
                      length: int) -> tuple[dict[str, str], int, bytes]:
    """Random access via a CDXJ row: seek ``offset``, read ``length``
    bytes (ONE gzip member), and parse it -> (warc headers, http
    status, payload body).  This is the wayback-style replay path: at
    100 TB the index filter narrows to a handful of (file, offset)
    pairs and each fetch touches only its member's bytes."""
    import os

    with open(os.path.join(out_dir, filename), "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    got = _take_record(raw, 0)
    if got is None:
        raise WarcError(f"no record at {filename}:{offset}")
    headers, payload, _ = got
    status, _http_headers, body = parse_http_response(payload)
    return headers, status, body


def read_warc_stream(spark: SparkSession, path: str,
                     glob: str = "*.warc*",
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming twin of `read_warc`: a continuously-crawled WARC drop
    directory as a Structured Streaming file source.  Stateless map, so
    downstream extraction runs in append mode with no watermark; each
    micro-batch is whole files (the WARC unit of work).  Like the batch
    twin, the scan carries paths only and the kernel streams chunks."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
        .select("path")
    )
    return map_records(files, _warc_pages, WARC_PAGES_SCHEMA)


def synthesize_mixed_warc_tree(sf_dir: str, out_dir: str,
                               mod: int = 7,
                               pages_per_file: int = 16) -> int:
    """Fixture docs as a MIXED crawl — the extract_mixed dispatcher's
    oracle input:

    - ``doc_id % 4 < 2``: real PDF payloads; half of THOSE
      (``doc_id % 8 >= 4``) MISLABELED text/html so the %PDF- magic
      sniff is part of the oracle gate, not just pytest;
    - ``doc_id % 8 == 2``: ``text/plain`` responses carrying the raw
      text bytes (the passthrough route, r8);
    - ``doc_id % 8 == 7``: ``image/png`` binary responses (the counted
      skip route, r8 — plaintext must be NULL with NO error);
    - everything else: the standard HTML page bytes.

    Lockstep: the oracle arm mirrors exactly these predicates —
    wpl-line-joined ``text`` for pdf, verbatim ``text`` for plain,
    NULL for binary, GOLD_SQL for html."""
    import os

    from .pages import EPOCH_2023, build_page_html, encode_page_html, url_for
    from .pdf_synth import encode_pdf
    from .raw_datasets import _fixture_docs

    os.makedirs(out_dir, exist_ok=True)
    docs = list(_fixture_docs(sf_dir, mod))
    n = 0
    for k, start in enumerate(range(0, len(docs), pages_per_file)):
        batch = []
        for doc_id, source, text in docs[start:start + pages_per_file]:
            ts = (EPOCH_2023
                  + pd.Timedelta(seconds=doc_id % 4_000_000_000))
            is_pdf = doc_id % 4 < 2
            if is_pdf:
                body = encode_pdf(doc_id, text)
                ctype = ("application/pdf" if doc_id % 8 < 4 else None)
            elif doc_id % 8 == 2:
                body = text.encode("utf-8")
                ctype = "text/plain; charset=utf-8"
            elif doc_id % 8 == 7:
                body = (b"\x89PNG\r\n\x1a\n"
                        + doc_id.to_bytes(8, "big") * 4)
                ctype = "image/png"
            else:
                body = encode_page_html(
                    doc_id, build_page_html(doc_id, source, text))
                ctype = None
            batch.append({
                "url": url_for(doc_id, source),
                "ts": ts.to_pydatetime().replace(tzinfo=timezone.utc),
                "body": body,
                "content_type": ctype,
                "chunked": doc_id % 3 == 1,
            })
        n += write_warc_gz(
            os.path.join(out_dir, f"crawl-{k:05d}.warc.gz"), batch)
    return n
