"""PDF text + layout extraction (extractors/pdf_text.py) against the
deterministic writer (sources/pdf_synth.py).

The writer/parser pair is NOT config-shared: the parser sees only the
bytes, so every green round trip certifies the whole chain — xref,
FlateDecode, content-stream text operators, column/line clustering,
reading order."""

import random
import zlib

import pytest

from web_content_extraction_benchmark_spark.extractors import pdf_text as P
from web_content_extraction_benchmark_spark.sources import pdf_synth as W

VOCAB = ("query scan merge window filter hash column batch table group "
         "order vector stream row value line").split()


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def test_roundtrip_all_arms():
    """doc_ids 0..119 sweep every layout/encoding arm combination
    (cols x flate x style x hex/split/indirect = lcm 60); the extracted
    word sequence must be byte-identical."""
    rng = random.Random(7)
    for doc_id in range(120):
        text = _text(rng, rng.randrange(1, 130))
        payload = W.encode_pdf(doc_id, text)
        assert P.pdf_plaintext(payload) == " ".join(text.split()), (
            doc_id, W.pdf_layout_params(doc_id))


def test_layout_stats_match_closed_form():
    rng = random.Random(11)
    for doc_id in range(0, 120, 7):
        text = _text(rng, rng.randrange(1, 130))
        payload = W.encode_pdf(doc_id, text)
        n_pages, blocks = P.pdf_parse(payload)
        want = W.expected_pdf_stats(doc_id, text)
        got = {
            "n_pages": n_pages,
            "n_lines": sum(len(b.lines) for b in blocks),
            "n_blocks": len(blocks),
            "n_columns": max((b.column for b in blocks), default=-1) + 1,
        }
        assert got == want, (doc_id, W.pdf_layout_params(doc_id))


def test_two_column_reading_order_is_column_major():
    """Column 1 must be read completely before column 2 even though the
    columns interleave in y — the core layout-parse property."""
    doc_id = 21  # cols=2 (21%2=1), style 1, flate
    words = [f"w{i:03d}" for i in range(40)]
    payload = W.encode_pdf(doc_id, " ".join(words))
    assert P.pdf_plaintext(payload) == " ".join(words)
    blocks = P.pdf_blocks(payload)
    assert max(b.column for b in blocks) == 1
    first_page = [b for b in blocks if b.page == 0]
    assert [b.column for b in first_page] == sorted(
        b.column for b in first_page)


def test_empty_text_yields_one_blank_page():
    payload = W.encode_pdf(8, "")
    n_pages, blocks = P.pdf_parse(payload)
    assert n_pages == 1 and blocks == []
    assert P.pdf_plaintext(payload) == ""


def test_multi_page_nested_kids():
    """3+ pages force intermediate /Pages nodes; DFS must preserve
    document order."""
    doc_id = 0  # cols=1, lines_per_col=4 -> 1 col x 4 lines x wpl 3
    words = [f"w{i:03d}" for i in range(90)]  # 30 lines -> 8 pages
    payload = W.encode_pdf(doc_id, " ".join(words))
    n_pages, _ = P.pdf_parse(payload)
    assert n_pages == 8
    assert P.pdf_plaintext(payload) == " ".join(words)


def test_xref_repair_fallback():
    """A corrupted startxref must fall back to the N-G-obj scan and
    still extract identical text."""
    payload = W.encode_pdf(13, _text(random.Random(1), 40))
    good = P.pdf_plaintext(payload)
    broken = payload.replace(b"startxref", b"stortxref")
    assert P.pdf_plaintext(broken) == good
    # and a wrong offset (points mid-file, not at an xref table)
    import re
    broken2 = re.sub(rb"startxref\s+\d+", b"startxref\n17", payload)
    assert P.pdf_plaintext(broken2) == good


def test_string_escapes_octal_and_hex():
    """Literal-string escape handling: \\( \\) \\\\ , octal, named
    escapes, line continuation; hex strings with odd digit count."""
    content = (rb"BT /F1 10 Tf 1 0 0 1 36 700 Tm "
               rb"(a\(b\)c\\d \101 \net) Tj "
               rb"1 0 0 1 36 686 Tm <616263> Tj "
               rb"1 0 0 1 36 672 Tm <61626> Tj ET")
    runs = P.interpret_text(content)
    assert runs[0].text == "a(b)c\\d A \net"
    assert runs[1].text == "abc"
    assert runs[2].text == "ab`"  # odd hex digit pads with 0


def test_literal_string_nested_parens_and_continuation():
    content = b"BT (outer (inner) tail) Tj (no\\\nbreak) Tj ET"
    runs = P.interpret_text(content)
    assert runs[0].text == "outer (inner) tail"
    assert runs[1].text == "nobreak"


def test_tj_gap_heuristic_word_split():
    content = (b"BT /F1 10 Tf 1 0 0 1 36 700 Tm "
               b"[(foo) -278 (bar) -20 (baz)] TJ ET")
    runs = P.interpret_text(content)
    # -278 splits words, -20 is intra-word kerning
    assert runs[0].text == "foo barbaz"


def test_td_tl_tstar_and_quote_ops():
    content = (b"BT /F1 10 Tf 1 0 0 1 50 700 Tm 0 -12 TD (l1) Tj "
               b"(l2) ' T* (l3) Tj ET")
    runs = P.interpret_text(content)
    assert [(r.text, r.y) for r in runs] == [
        ("l1", 688.0), ("l2", 676.0), ("l3", 664.0)]


def test_malformed_inputs_raise_pdferror():
    with pytest.raises(P.PdfError):
        P.pdf_plaintext(b"not a pdf at all")
    with pytest.raises(P.PdfError):
        P.pdf_plaintext(b"%PDF-1.4\ngarbage with no objects")
    # valid header, flate stream truncated -> PdfError from the filter
    payload = bytearray(W.encode_pdf(1, "alpha beta gamma delta"))
    pos = payload.find(b"stream\n") + len(b"stream\n")
    payload[pos:pos + 8] = b"\x00" * 8
    with pytest.raises((P.PdfError, zlib.error)):
        P.pdf_plaintext(bytes(payload))


def test_indirect_length_and_content_array():
    """doc_id % 5 == 2 splits content into an array of two streams;
    doc_id % 4 == 2 stores /Length indirectly — both must parse."""
    for doc_id in (2, 22, 42):  # 2: both arms; 22/42: split-content
        text = _text(random.Random(doc_id), 60)
        assert P.pdf_plaintext(W.encode_pdf(doc_id, text)) == text


def test_extract_pdf_spark_kernel(spark, tmp_path):
    """Spark face: binaryFile scan -> mapInPandas kernel; one bad file
    lands in the error column instead of failing the job, and the plan
    has no Exchange (pure per-file map)."""
    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        read_binary_dir,
    )

    rng = random.Random(3)
    texts = {}
    for doc_id in range(6):
        text = _text(rng, 30 + doc_id)
        texts[str(doc_id)] = text
        (tmp_path / f"{doc_id}.pdf").write_bytes(W.encode_pdf(doc_id, text))
    (tmp_path / "broken.pdf").write_bytes(b"%PDF-1.4\nnope")

    df = P.extract_pdf(read_binary_dir(spark, str(tmp_path), glob="*.pdf"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan
    rows = {r["source"]: r for r in df.collect()}
    assert rows["broken"]["plaintext"] is None
    assert "PdfError" in rows["broken"]["error"]
    for doc_id, text in texts.items():
        assert rows[doc_id]["plaintext"] == text
        assert rows[doc_id]["error"] is None


def test_incremental_update_prev_chain():
    """A PDF saved with an incremental update (appended object + new
    xref whose trailer /Prev points at the original table) must serve
    the UPDATED object and keep everything else — PDF update
    semantics."""
    import re as _re

    base = W.encode_pdf(1, "alpha beta gamma delta epsilon zeta")
    assert P.pdf_plaintext(base) == "alpha beta gamma delta epsilon zeta"

    # find the first content-stream object number (has /Length) and the
    # original xref offset
    doc = P.PdfDocument.from_bytes(base)
    page = doc.pages()[0]
    content_ref = page["/Contents"]
    num = (content_ref[0] if isinstance(content_ref, list)
           else content_ref).num
    old_xref = int(_re.search(rb"startxref\s+(\d+)", base[-256:]).group(1))

    new_ops = b"BT /F1 10 Tf 1 0 0 1 36 700 Tm (patched words) Tj ET"
    update = bytearray(base)
    obj_off = len(update)
    update += (f"{num} 0 obj\n<< /Length {len(new_ops)} >>\nstream\n"
               .encode() + new_ops + b"\nendstream\nendobj\n")
    new_xref = len(update)
    update += (f"xref\n{num} 1\n{obj_off:010d} 00000 n \n"
               f"trailer\n<< /Size {num + 1} /Root 1 0 R "
               f"/Prev {old_xref} >>\nstartxref\n{new_xref}\n%%EOF\n"
               ).encode()

    assert P.pdf_plaintext(bytes(update)) == "patched words"
    # cyclic /Prev must error out, not loop (repair scan then recovers
    # the newest same-numbered object by file order)
    cyclic = bytes(update).replace(
        f"/Prev {old_xref}".encode(), f"/Prev {new_xref}".encode())
    assert P.pdf_plaintext(cyclic) == "patched words"


def test_jittered_baselines_never_duplicate_runs():
    """A run within LINE_TOL_PT of TWO surviving baselines (sub-point
    jitter: superscripts, mixed fonts) must be emitted exactly once —
    exclusive nearest-baseline assignment, not per-baseline capture."""
    runs = [
        P.Run(36.0, 10.0, "alpha", 10.0),
        P.Run(80.0, 9.5, "beta", 10.0),   # within 1.0 of both baselines
        P.Run(36.0, 8.9, "gamma", 10.0),
    ]
    blocks = P.layout_pages([runs])
    words = [w for b in blocks for ln in b.lines for w in ln.split()]
    assert words == ["alpha", "beta", "gamma"]


# ---------------------------------------------------------------------------
# r8 surface: filters, fonts, encryption, update semantics
# ---------------------------------------------------------------------------


def _lzw_cases(seed: int, count: int, size, alphabet: bytes):
    """Seeded LZW payloads: half uniform random bytes, half drawn from a
    small alphabet (long repeats grow the table to its reset)."""
    rng = random.Random(seed)
    for _ in range(count):
        n = size(rng)
        if rng.random() < 0.5:
            yield bytes(rng.randrange(256) for _ in range(n))
        else:
            yield bytes(rng.choice(alphabet) for _ in range(n))


def test_lzw_codec_roundtrip_fuzz():
    """Writer LZW encoder and parser decoder are exact inverses across
    width growth (9->12 bits) and the 12-bit table reset: 20 cases at
    fixed sizes up to 60 kB (seed 42).  A code beyond the table raises
    PdfError."""
    for data in _lzw_cases(42, 20, lambda rng: rng.choice(
            [0, 1, 17, 800, 5000, 60000]), b"abcab "):
        assert P.lzw_decode(W.lzw_encode(data)) == data, len(data)
    with pytest.raises(P.PdfError):
        P.lzw_decode(b"\xff\xff\xff\xff")  # code beyond table


def test_fuzz_lzw_roundtrip():
    """The same round trip over 40 cases at uniform sizes below 30 kB
    (seed 7)."""
    for data in _lzw_cases(7, 40, lambda rng: rng.randrange(0, 30_000),
                           b"aab cc\n"):
        assert P.lzw_decode(W.lzw_encode(data)) == data, len(data)


def test_ascii_hex_codec():
    for data in (b"", b"\x00\xff", bytes(range(256))):
        assert P.ascii_hex_decode(W.ascii_hex_encode(data)) == data
    assert P.ascii_hex_decode(b"4 86\n9>junk after eod") == b"Hi"
    assert P.ascii_hex_decode(b"48f>") == b"H\xf0"  # odd digit pads 0


def test_encoding_arms_roundtrip():
    """The doc_id % 11 arms: ASCIIHex / LZW streams, /Differences
    fonts, 1-byte and 2-byte (CID) ToUnicode CMaps — every one must
    invert to the exact word sequence."""
    rng = random.Random(5)
    for base in (0, 1, 2, 3, 4, 5, 6):
        for doc_id in (base, base + 11, base + 44):
            text = _text(rng, rng.randrange(5, 90))
            p = W.pdf_layout_params(doc_id)
            payload = W.encode_pdf(doc_id, text)
            assert P.pdf_plaintext(payload) == text, (doc_id, p)
            # the arm actually engaged (bytes differ from plain latin-1)
            # — only checkable on 1.4 files; under the pdf15 arm the
            # font dict lives inside the compressed ObjStm
            if (p["font_enc"] or p["stream_filter"]) and not p["pdf15"]:
                plain_marker = text.split()[0].encode()
                if p["font_enc"] == "diff":
                    assert b"/Differences" in payload
                elif p["font_enc"] in ("cmap1", "cmap2"):
                    assert b"/ToUnicode" in payload and \
                        b"beginbfrange" in payload or b"beginbfchar" in payload
                if p["stream_filter"] == "lzw":
                    assert b"/LZWDecode" in payload
                elif p["stream_filter"] == "ahx":
                    assert b"/ASCIIHexDecode" in payload
                del plain_marker


def test_cmap_parse_all_three_forms():
    """bfchar, incrementing bfrange, and array-form bfrange."""
    cmap = b"""
    /CIDInit /ProcSet findresource begin
    begincmap
    1 begincodespacerange
    <00> <ff>
    endcodespacerange
    2 beginbfrange
    <41> <43> <0061>
    <50> <51> [<0078> <0079>]
    endbfrange
    1 beginbfchar
    <20> <0020>
    endbfchar
    endcmap end
    """
    code_len, m = P.parse_cmap(cmap)
    assert code_len == 1
    assert m[0x41] == "a" and m[0x43] == "c"
    assert m[0x50] == "x" and m[0x51] == "y"
    assert m[0x20] == " "
    # 2-byte codespace
    code_len2, m2 = P.parse_cmap(
        b"1 begincodespacerange <0000> <ffff> endcodespacerange\n"
        b"1 beginbfchar <0141> <0041> endbfchar")
    assert code_len2 == 2 and m2[0x0141] == "A"


def test_glyph_names():
    assert P._glyph_char("space") == " "
    assert P._glyph_char("nine") == "9"
    assert P._glyph_char("q") == "q"
    assert P._glyph_char("uni0042") == "B"
    assert P._glyph_char("nonsenseglyph") == "\N{REPLACEMENT CHARACTER}"


def test_encrypted_pdf_typed_error(spark, tmp_path):
    """Trailer /Encrypt -> PdfEncryptedError, detected on BOTH the
    xref path and the repair-scan path, and surfaced as one typed
    error row by the Spark kernel."""
    text = "secret words here"
    enc = W.encode_pdf(14, text, encrypted=True)
    with pytest.raises(P.PdfEncryptedError):
        P.pdf_plaintext(enc)
    # xref damaged: the repair scan must still refuse, not garble
    with pytest.raises(P.PdfEncryptedError):
        P.pdf_plaintext(enc.replace(b"xref\n0 ", b"xrEf\n0 ", 1))

    from web_content_extraction_benchmark_spark.sources.raw_datasets import (
        read_binary_dir,
    )

    (tmp_path / "enc.pdf").write_bytes(enc)
    (tmp_path / "ok.pdf").write_bytes(W.encode_pdf(7, text))
    rows = {r["source"]: r for r in P.extract_pdf(
        read_binary_dir(spark, str(tmp_path), glob="*.pdf")).collect()}
    assert rows["ok"]["plaintext"] == text
    assert rows["enc"]["plaintext"] is None
    assert rows["enc"]["error"].startswith("PdfEncryptedError")


def test_xref_free_entry_tombstones_deleted_object():
    """An incremental update that FREES an object must not resurrect
    it from the older section (PDF deletion semantics)."""
    base = W.encode_pdf(8, "alpha beta gamma delta epsilon zeta")
    prev = base.rfind(b"\nxref\n") + 1
    upd = base + (
        b"xref\n0 1\n0000000000 65535 f \n4 1\n0000000000 00001 f \n"
        b"trailer\n<< /Size 99 /Root 1 0 R /Prev "
        + str(prev).encode() + b" >>\n"
        b"startxref\n" + str(len(base)).encode() + b"\n%%EOF\n"
    )
    doc = P.PdfDocument._from_xref(upd)
    assert 4 not in doc.offsets  # freed, not inherited from /Prev
    with pytest.raises(P.PdfError, match="object 4"):
        P.pdf_plaintext(upd)


def test_junk_prefix_before_header():
    """Spec allows up to 1024 junk bytes before %PDF-; offsets are
    relative to the header."""
    text = "alpha beta gamma delta"
    payload = b"HTTP noise\r\n\r\n" + b"x" * 64 + W.encode_pdf(7, text)
    assert P.pdf_plaintext(payload) == text
    with pytest.raises(P.PdfError, match="missing %PDF header"):
        P.pdf_plaintext(b"y" * 2000 + W.encode_pdf(7, text))


def test_structured_text_keeps_line_breaks():
    """pdf_structured_text = reading-order lines joined with newline —
    what extract_mixed feeds paragraph-sensitive downstream stats."""
    text = " ".join(f"w{i}" for i in range(11))
    for doc_id in (0, 7, 33, 5):
        wpl = W.pdf_layout_params(doc_id)["wpl"]
        words = text.split()
        want = "\n".join(" ".join(words[i:i + wpl])
                         for i in range(0, len(words), wpl))
        assert P.pdf_structured_text(W.encode_pdf(doc_id, text)) == want


def test_resources_inherited_from_pages_node():
    """/Resources on an ancestor /Pages node (spec-inheritable) must
    reach the page's font lookup: a handcrafted file whose PAGE has no
    /Resources of its own, strings shifted +1 and mapped back by an
    inherited /Differences font."""
    ops = b"BT /F1 10 Tf 1 0 0 1 36 700 Tm (ifmmp!xpsme) Tj ET"
    diffs = " ".join(
        f"{ord(c) + 1} /{W._glyph_name(c)}" for c in sorted("helo wrd"))
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 "
        b"/Resources << /Font << /F1 3 0 R >> >> >>\nendobj\n"
        + (f"3 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding "
           f"<< /Differences [ {diffs} ] >> >>\nendobj\n").encode()
        + b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 5 0 R >>\nendobj\n"
        + (f"5 0 obj\n<< /Length {len(ops)} >>\nstream\n").encode()
        + ops + b"\nendstream\nendobj\n"
    )
    # no xref at all: the repair scan builds the object map, then
    # pages() must carry /Resources down from the /Pages node
    assert P.pdf_plaintext(body) == "hello world"


def test_pdf15_xref_stream_and_objstm_roundtrip():
    """PDF-1.5 arm (doc_id % 13 in {1,5,9}): object-stream packing +
    cross-reference STREAM (W [1 4 2], type-2 entries, PNG Predictor 12
    on half the arm) must parse to the same text; the file carries no
    classic trailer at all."""
    rng = random.Random(15)
    seen_pred = seen_plain = 0
    for doc_id in (1, 5, 9, 14, 27, 35, 40, 53, 61, 66, 79, 87, 92):
        p = W.pdf_layout_params(doc_id)
        assert p["pdf15"], doc_id
        text = _text(rng, rng.randrange(5, 100))
        payload = W.encode_pdf(doc_id, text)
        assert payload.startswith(b"%PDF-1.5")
        assert b"/ObjStm" in payload and b"trailer" not in payload
        if b"/Predictor 12" in payload:
            seen_pred += 1
        else:
            seen_plain += 1
        assert P.pdf_plaintext(payload) == text, (doc_id, p)
    assert seen_pred and seen_plain  # both xref encodings exercised


def test_png_predictor_codec():
    rng = random.Random(3)
    rows = [bytes(rng.randrange(256) for _ in range(7)) for _ in range(40)]
    enc = W.png_up_encode(rows)
    assert P.png_predictor_decode(enc, columns=7) == b"".join(rows)
    # all five PNG filter types decode (hand-built tiny cases)
    raw = bytes([0, 5, 5, 5])  # None row
    assert P.png_predictor_decode(raw, columns=3) == b"\x05\x05\x05"
    sub = bytes([1, 10, 5, 5])  # Sub: 10, 15, 20
    assert P.png_predictor_decode(sub, columns=3) == bytes([10, 15, 20])
    with pytest.raises(P.PdfError):
        P.png_predictor_decode(bytes([9, 1, 1, 1]), columns=3)


def test_pdf15_encrypted_and_repair_paths():
    """Encryption detection when the trailer lives in the xref stream
    dict (both intact and damaged-xref paths), and the ObjStm-exploding
    repair scan when the xref stream itself is corrupted."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    enc = W.encode_pdf(14, text, encrypted=True)  # 14 % 13 == 1
    with pytest.raises(P.PdfEncryptedError):
        P.pdf_plaintext(enc)
    with pytest.raises(P.PdfEncryptedError):
        P.pdf_plaintext(enc.replace(b"startxref", b"stxrtxref"))
    doc = W.encode_pdf(27, text)
    assert P.pdf_plaintext(
        doc.replace(b"/Type /XRef", b"/Type /Xrif")) == text


def test_hybrid_xrefstm_trailer():
    """A classic table trailer naming /XRefStm (hybrid-reference file)
    must pull the stream's entries in with precedence."""
    import re as _re

    text = "words in a hybrid reference file spanning lines"
    base = W.encode_pdf(27, text)
    xref_pos = int(_re.search(rb"startxref\s+(\d+)", base[-64:]).group(1))
    hybrid = base + (
        b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size 1 /Root 1 0 R /XRefStm "
        + str(xref_pos).encode() + b" >>\n"
        b"startxref\n" + str(len(base)).encode() + b"\n%%EOF\n")
    assert P.pdf_plaintext(hybrid) == text


def test_ctm_group_composes_into_text_placement():
    """r8 CTM arm (doc_id % 9 == 4): page content wrapped in a
    `q <dx> <dy> cm ... Q` group with pre-shifted Tm coordinates —
    the parser must compose Tm x CTM or columns/lines scramble."""
    import re as _re

    text = " ".join(f"w{i}" for i in range(40))
    for doc_id in (4, 13, 22, 31, 49):
        assert W.pdf_layout_params(doc_id)["ctm_shift"], doc_id
        payload = W.encode_pdf(doc_id, text)
        assert P.pdf_plaintext(payload) == text, doc_id
    # the group is load-bearing: stripping the cm moves every run
    doc = P.PdfDocument.from_bytes(W.encode_pdf(4, text))
    content = doc.page_content(doc.pages()[0])
    assert content.startswith(b"q 1 0 0 1 ") and content.endswith(b"Q")
    stripped = _re.sub(rb"q 1 0 0 1 [\d.]+ -?[\d.]+ cm\n", b"", content)
    good = {(r.x, r.y) for r in P.interpret_text(content)}
    bad = {(r.x, r.y) for r in P.interpret_text(stripped)}
    assert good != bad
    # q/Q restore: text after Q is placed under the OUTER (identity) CTM
    runs = P.interpret_text(
        b"q 1 0 0 1 100 50 cm BT /F1 9 Tf 1 0 0 1 0 0 Tm (in) Tj ET Q "
        b"BT /F1 9 Tf 1 0 0 1 0 0 Tm (out) Tj ET")
    assert (runs[0].x, runs[0].y) == (100.0, 50.0)
    assert (runs[1].x, runs[1].y) == (0.0, 0.0)
    # nested q/q/Q/Q
    runs = P.interpret_text(
        b"q 1 0 0 1 10 0 cm q 1 0 0 1 0 5 cm "
        b"BT (a) Tj ET Q BT (b) Tj ET Q")
    assert (runs[0].x, runs[0].y) == (10.0, 5.0)
    assert (runs[1].x, runs[1].y) == (10.0, 0.0)


def test_rotated_pages_cluster_in_display_orientation():
    """r8 /Rotate arm: the attribute (INHERITED from the /Pages root)
    says how a viewer turns the page; layout clustering must happen in
    that display orientation.  90/180/270 all round-trip, and for the
    witness docs ignoring /Rotate demonstrably scrambles the words."""
    text = " ".join(f"w{i:02d}" for i in range(30))
    for doc_id in (20, 54, 14, 48, 10, 44):  # 90/90/180/180/270/270
        p = W.pdf_layout_params(doc_id)
        assert p["rotate"] in (90, 180, 270), doc_id
        payload = W.encode_pdf(doc_id, text)
        assert P.pdf_plaintext(payload) == text, (doc_id, p)
        doc = P.PdfDocument.from_bytes(payload)
        page = doc.pages()[0]
        # inherited, not on the page object itself in the raw bytes
        assert doc.resolve(page.get("/Rotate")) == p["rotate"]
    # load-bearing: same docs parsed WITHOUT honoring /Rotate scramble
    scrambled = 0
    for doc_id in (20, 54, 14, 48, 10, 44):
        doc = P.PdfDocument.from_bytes(W.encode_pdf(doc_id, text))
        page = doc.pages()[0]
        runs = P.interpret_text(doc.page_content(page),
                                doc.page_fonts(page))
        bad = " ".join(w for b in P.layout_pages([runs])
                       for ln in b.lines for w in ln.split())
        scrambled += bad != text
    assert scrambled >= 4  # most witness shapes must actually depend on it
    # unrotate math is exact per quadrant
    r = P.Run(10.0, 20.0, "t", 9.0)
    assert P._unrotate_runs([r], 90, (0, 0, 612, 792))[0].x == 20.0
    assert P._unrotate_runs([r], 180, (0, 0, 612, 792))[0].x == 602.0
    assert P._unrotate_runs([r], 270, (0, 0, 612, 792))[0].x == 772.0
    with pytest.raises(P.PdfError):
        P._unrotate_runs([r], 45, (0, 0, 612, 792))


# Seeded fuzz: random texts through random doc_id arms round-trip, and
# single-byte corruptions parse or raise a ValueError-family error.
def test_fuzz_pdf_arm_roundtrip_and_corruption():
    vocab = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa 0 1 42 999").split()
    rng = random.Random(11)
    for case in range(50):
        doc_id = rng.randrange(0, 800)
        text = " ".join(rng.choice(vocab)
                        for _ in range(rng.randrange(1, 120)))
        payload = W.encode_pdf(doc_id, text)
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
