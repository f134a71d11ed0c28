"""Bytes -> text decoding for the ``html: binary`` input column.

Re-expresses the reference's file decode path
(/root/reference/src/extraction_benchmark/dataset_readers.py:114-132):
auto-gunzip, encoding detection on a bounded probe, and decode with
['utf-8', 'cp1252'] fallbacks.  The sandbox has no chardet/resiliparse, so
detection is a deterministic heuristic: BOM first, then an HTML
``<meta charset=...>`` sniff over the first 100 kB, then the fallback list.
"""

from __future__ import annotations

import codecs
import gzip
import re
import zlib

PROBE_BYTES = 100 * 1024  # same probe budget as the reference (100 kB)

_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)

# BOM-CONSUMING codec names: 'utf-16'/'utf-32' read the BOM to pick
# endianness and strip it, like 'utf-8-sig' — the explicit -le/-be
# codecs would keep U+FEFF as the first character of every document
# (it is not \\s, so it pollutes tokens, counts, and emitted bytes).
_BOMS = (
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32"),
    (codecs.BOM_UTF32_BE, "utf-32"),
    (codecs.BOM_UTF16_LE, "utf-16"),
    (codecs.BOM_UTF16_BE, "utf-16"),
)

_GZIP_MAGIC = b"\x1f\x8b"


def maybe_gunzip(raw: bytes) -> bytes:
    """Transparently decompress gzip payloads (magic-byte sniff)."""
    if raw[:2] == _GZIP_MAGIC:
        try:
            return gzip.decompress(raw)
        except (OSError, EOFError, zlib.error):
            # truncated members raise EOFError and corrupt deflate
            # streams zlib.error — neither is an OSError, and an escape
            # here would fail the whole Spark task for one bad document
            return raw
    return raw


def sniff_encoding(raw: bytes) -> str | None:
    """BOM, then meta-charset probe over the head of the document."""
    for bom, name in _BOMS:
        if raw.startswith(bom):
            return name
    match = _META_CHARSET.search(raw[:PROBE_BYTES])
    if match:
        name = match.group(1).decode("ascii", "ignore").lower()
        try:
            codecs.lookup(name)
            return name
        except LookupError:
            return None
    return None


def decode_html(raw: bytes | None, fixed_encoding: str | None = None) -> str:
    """Decode raw page bytes to text.

    Order: gunzip -> fixed/sniffed encoding -> utf-8 -> cp1252 (which cannot
    fail: every byte maps).  Mirrors the fallback chain of the reference's
    ``_read_file`` without its third-party detectors.
    """
    if not raw:
        return ""
    raw = maybe_gunzip(raw)
    candidates: list[str] = []
    if fixed_encoding:
        candidates.append(fixed_encoding)
    else:
        sniffed = sniff_encoding(raw)
        if sniffed:
            candidates.append(sniffed)
    candidates += ["utf-8", "cp1252"]
    for enc in candidates:
        try:
            return raw.decode(enc)
        except (UnicodeError, LookupError):
            # UnicodeError, not just UnicodeDecodeError: a sniffed name
            # can resolve to a codec that refuses every input
            # (codecs.lookup("undefined") succeeds, decoding raises)
            continue
    return raw.decode("utf-8", errors="replace")
