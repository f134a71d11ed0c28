"""Seeded adversarial fuzz for the round-8 surfaces (pure Python —
no Spark session needed, so the case counts can be high):

- chunk-fed WARC framing: random record sets under random gzip
  member groupings, inter-record whitespace, chunked/plain HTTP
  framing, and EVERY chunk size from pathological (1 byte) up — the
  reader must recover the exact (headers, payload) sequence or raise
  WarcError, never mis-frame silently;
- LZW codec: encoder/decoder exact inverses across width growth and
  table reset, on both random and highly compressible inputs;
- PDF 1.5: random texts through random doc_id arms (xref streams,
  ObjStm, predictors, fonts, filters) must round-trip the word
  sequence byte-identically; random single-byte corruptions must
  either still parse or raise PdfError — never hang, never crash
  with a non-PdfError from the public entry point.
"""

import gzip
import random

import pytest

from web_content_extraction_benchmark_spark.extractors import pdf_text as P
from web_content_extraction_benchmark_spark.sources import pdf_synth as S
from web_content_extraction_benchmark_spark.sources import warc as W


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


def test_fuzz_lzw_roundtrip():
    rng = random.Random(7)
    for _ in range(40):
        n = rng.randrange(0, 30_000)
        if rng.random() < 0.5:
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = bytes(rng.choice(b"aab cc\n") for _ in range(n))
        assert P.lzw_decode(S.lzw_encode(data)) == data


def test_fuzz_pdf_arm_roundtrip_and_corruption():
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa 0 1 42 999").split()
    rng = random.Random(11)
    for case in range(50):
        doc_id = rng.randrange(0, 800)
        text = " ".join(rng.choice(vocab)
                        for _ in range(rng.randrange(1, 120)))
        payload = S.encode_pdf(doc_id, text)
        assert P.pdf_plaintext(payload) == text, (case, doc_id)
        # single-byte corruption: parse or a ValueError-family error
        # (PdfError subclasses it; the Spark kernel catches per-row
        # regardless) — never a hang, recursion blowup, or an
        # exception from outside that family
        b = bytearray(payload)
        pos = rng.randrange(len(b))
        b[pos] = (b[pos] + 1 + rng.randrange(255)) & 0xFF
        try:
            P.pdf_plaintext(bytes(b))
        except ValueError:
            pass
        except RecursionError:
            pytest.fail(f"recursion blowup at case {case}")
    # Trailing whitespace or a trailing comment at end of input must end
    # the token stream, not backtrack into a phantom token.
    lex = P._Lexer(b"ET\n")
    toks = []
    while (tok := lex.next_token()) is not None:
        toks.append(tok)
    assert toks == ["ET"]
    for content in (b"BT (hi) Tj ET\n% c'", b"BT (hi) Tj ET\n% c ("):
        assert [r.text for r in P.interpret_text(content)] == ["hi"]
