"""From-scratch PDF text + layout extraction (stdlib only).

The north rule names "PDF/layout parse" alongside HTML boilerplate
stripping as a core pipeline capability; the reference repo has no PDF
code at all, so this module is judged against the PDF 1.4 subset it
declares, not against a reference file.  Everything here is implemented
from the public PDF spec (ISO 32000-1 / Adobe PDF 1.4 reference):

- **Lexer** (`_Lexer`): PDF tokens — numbers, names, literal strings
  (nested parens, ``\\``-escapes incl. octal and line continuations),
  hex strings, dicts ``<< >>``, arrays, comments, keywords.
- **Object layer** (`PdfDocument`): startxref -> xref section chain ->
  trailer ``/Root``.  Sections are classic tables OR PDF-1.5
  cross-reference STREAMS (``/Type /XRef``: binary /W rows decoded
  through their filters + PNG/TIFF ``/Predictor``s, type-2 entries
  resolving through ``/Type /ObjStm`` OBJECT streams, hybrid
  ``/XRefStm`` trailers honored with stream precedence).  Indirect
  references resolve with cycle guards; stream payloads take (possibly
  indirect) ``/Length`` and chained filters — ``/FlateDecode`` (zlib),
  ``/LZWDecode`` (the spec's variable-width 9-12 bit MSB-first LZW
  with EarlyChange), ``/ASCIIHexDecode``.  A damaged or missing xref
  falls back to a whole-file ``N G obj`` scan (exploding ObjStm
  containers when the catalog hides inside one), the standard repair
  strategy of real readers.  Encrypted files (trailer ``/Encrypt``,
  table or stream form) raise the typed `PdfEncryptedError` — one
  error ROW downstream, never a garbled one.
- **Fonts / text decoding**: ``Tf`` selects the page-resource font
  (``/Resources`` inherited down the page tree per spec); each font
  decodes its show-strings via, in precedence order, its ``/ToUnicode``
  CMap (``bfchar``/``bfrange``, 1- or 2-byte codes — the latter is the
  Identity-H CID shape), its ``/Encoding`` ``/Differences`` array over
  an Adobe-Glyph-List subset, or the PDFDocEncoding≈latin-1 fallback.
- **Page tree**: DFS over ``/Pages`` ``/Kids`` (arbitrary nesting),
  per-page ``/Contents`` as a single stream or an array of streams
  (concatenated with a whitespace boundary, per spec).
- **Content interpreter** (`_TextState`): the text-object operators
  ``BT ET Tf TL Td TD Tm T* Tj ' TJ`` with the standard text-state
  semantics (translation-only matrices are what the corpus uses; the
  full matrix is tracked).  ``TJ`` kerning numbers more negative than
  ``TJ_WORD_GAP`` are treated as inter-word space — the width-heuristic
  word detection that pdfminer/pdftotext apply, made deterministic.
- **Layout reconstruction** (`layout_pages`): text runs are clustered
  into columns by a 1-D gap split over run x-origins, into lines by
  y within a column, then emitted in reading order (leftmost column
  first, top to bottom) — the "layout parse" step.  Each (page,
  column) becomes a block span with line/word counts and a bbox.

Like every extractor in this repo (see ``extractors/baseline.py``),
``pdf_plaintext`` is a pure ``bytes -> str`` function used both as the
single-threaded oracle in tests and inside the Arrow-batched Spark
kernel (`extract_pdf`), so byte identity between the two sides holds
by construction.  Scale shape: a per-row pure function on the record
kernel (`functions.records.map_records`) — no shuffle, no driver state,
linear in input bytes.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.records import _error_message, map_records

# TJ kerning threshold (thousandths of an em): adjustments at or below
# this emit an inter-word space.  Typical space widths are ~250-300;
# intra-word kerning corrections are tens of units.
TJ_WORD_GAP = -180.0

# Column split: a gap between sorted run x-origins wider than this (in
# points) starts a new column.  Words within a justified column sit
# tens of points apart; column gutters on a US-Letter page are >> 60.
COLUMN_GAP_PT = 60.0

# Lines: runs whose y-origins differ by less than this belong to the
# same baseline.
LINE_TOL_PT = 1.0

_WS = frozenset(b"\x00\t\n\x0c\r ")
_DELIM = frozenset(b"()<>[]{}/%")
# One compiled alternation classifies every token in a single C-level
# match (the fast-parser pattern this repo already uses for HTML):
# per-token Python dispatch, not algorithmic work, dominates a
# token-at-a-time lexer.  Group order matters — '<<' before '<'.
# Literal/hex strings need stateful scanning (nesting, escapes), so
# their openers just route to the manual scanners.
# Whitespace/comments are a NON-CAPTURING PREFIX of every token match
# (r9): the former ws ALTERNATIVE made next_token match twice per token
# (~870 regex calls per bench PDF, half of them pure ws skips) plus a
# lastgroup string compare per token.  One prefixed match consumes the
# same byte runs; token branches that re-lex from the token start
# (literal/hex strings, #-escaped names) use m.start(m.lastindex) — the
# GROUP start — because m.start() now points at the skipped ws.
# The trailing ``eof`` alternative stops the prefix from backtracking at
# end of input: without it, trailing ws or a trailing comment gives back
# its last byte to ``other`` (or a ``(`` inside the comment to ``lit``)
# and lexes a phantom token.
_MASTER_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*"
    rb"(?:(?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<delim><<|>>|[\[\]{}])"
    rb"|(?P<kw>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb"|(?P<lit>\()"
    rb"|(?P<hex><)"
    rb"|(?P<other>.)"
    rb"|(?P<eof>\Z))",
    re.DOTALL,
)


class PdfError(ValueError):
    """Raised on structurally invalid PDF input."""


class PdfEncryptedError(PdfError):
    """Raised on encrypted files (trailer ``/Encrypt``): decryption is
    out of scope, and the typed error lets a corpus pipeline count /
    route encrypted documents instead of emitting garbled text."""


@dataclass
class Ref:
    num: int
    gen: int

    def __hash__(self) -> int:  # usable as dict key
        return hash((self.num, self.gen))


@dataclass
class Stream:
    """A stream object: its dict plus the raw (still encoded) bytes."""

    dict: dict
    raw: bytes


class _Lexer:
    """Tokenizer over the raw PDF byte buffer.

    ``next_token`` returns one of: float/int, bytes (string literal,
    already unescaped), str starting with '/' (name), the markers
    '<<', '>>', '[', ']', or a bare keyword str ('obj', 'endobj',
    'stream', 'R', 'true', ...).  Comments are skipped."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _name(self) -> str:
        buf, n = self.buf, len(self.buf)
        self.pos += 1  # consume '/'
        out = []
        while self.pos < n:
            c = buf[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # '#xx' hex escape
                out.append(int(buf[self.pos + 1:self.pos + 3], 16))
                self.pos += 3
            else:
                out.append(c)
                self.pos += 1
        return "/" + bytes(out).decode("latin-1")

    def _literal_string(self) -> bytes:
        buf, n = self.buf, len(self.buf)
        self.pos += 1  # consume '('
        depth = 1
        out = bytearray()
        while self.pos < n:
            c = buf[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = buf[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                                0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    oct_digits = bytearray([e])
                    self.pos += 1
                    while (len(oct_digits) < 3 and self.pos < n
                           and 0x30 <= buf[self.pos] <= 0x37):
                        oct_digits.append(buf[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and buf[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: emit the char itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise PdfError("unterminated literal string")

    def _hex_string(self) -> bytes:
        end = self.buf.find(b">", self.pos)
        if end == -1:
            raise PdfError("unterminated hex string")
        hex_digits = re.sub(rb"\s+", b"", self.buf[self.pos + 1:end])
        self.pos = end + 1
        if len(hex_digits) % 2:
            hex_digits += b"0"  # spec: odd final digit pads with 0
        try:
            return bytes.fromhex(hex_digits.decode("ascii"))
        except (ValueError, UnicodeDecodeError) as e:
            raise PdfError(f"bad hex string: {e}") from e

    def next_token(self):
        m = _MASTER_RE.match(self.buf, self.pos)
        if m is None:
            return None
        kind = m.lastgroup
        idx = m.lastindex
        self.pos = m.end()
        if kind == "num":
            tok = m.group(idx)
            return float(tok) if b"." in tok else int(tok)
        if kind == "kw":
            return m.group(idx).decode("latin-1")
        if kind == "name":
            raw = m.group(idx)
            if b"#" in raw:  # rare: #xx hex escapes in the name
                self.pos = m.start(idx)
                return self._name()
            return raw.decode("latin-1")
        if kind == "lit":
            self.pos = m.start(idx)
            return self._literal_string()
        if kind == "hex":
            self.pos = m.start(idx)
            return self._hex_string()
        if kind == "eof":
            return None
        # delim ('<<' '>>' '[' ']' '{' '}') or a stray byte
        return m.group(idx).decode("latin-1")


def _parse_value(lex: _Lexer, tok):
    """One object value starting at ``tok`` (arrays/dicts recurse).
    ``N G R`` indirect references are folded by the caller via
    `_fold_refs` because they need two-token lookahead."""
    if tok == "<<":
        d: dict = {}
        items: list = []
        while True:
            t = lex.next_token()
            if t == ">>":
                break
            if t is None:
                raise PdfError("unterminated dictionary")
            items.append(_parse_value(lex, t))
        items = _fold_refs(items)
        if len(items) % 2:
            raise PdfError("dictionary with odd item count")
        for k, v in zip(items[::2], items[1::2]):
            if not isinstance(k, str) or not k.startswith("/"):
                raise PdfError(f"non-name dictionary key: {k!r}")
            d[k] = v
        return d
    if tok == "[":
        arr: list = []
        while True:
            t = lex.next_token()
            if t == "]":
                return _fold_refs(arr)
            if t is None:
                raise PdfError("unterminated array")
            arr.append(_parse_value(lex, t))
    if tok == "true":
        return True
    if tok == "false":
        return False
    if tok == "null":
        return None
    return tok


def _fold_refs(items: list) -> list:
    """Collapse ``int int 'R'`` triples into `Ref` objects in place."""
    out: list = []
    for it in items:
        if (it == "R" and len(out) >= 2
                and isinstance(out[-1], int) and isinstance(out[-2], int)):
            gen = out.pop()
            num = out.pop()
            out.append(Ref(num, gen))
        else:
            out.append(it)
    return out


# ---------------------------------------------------------------------------
# Stream filters
# ---------------------------------------------------------------------------


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode (ISO 32000-1 §7.4.4): MSB-first variable-width
    codes starting at 9 bits, growing to 12; code 256 clears the
    table, 257 is EOD.  ``early_change=1`` (the default) widens the
    code size one entry EARLY — the quirk that distinguishes PDF/TIFF
    LZW from GIF."""
    CLEAR, EOD = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise PdfError(f"LZW: invalid code {code}")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)  # EOD-less streams end at input exhaustion


def ascii_hex_decode(data: bytes) -> bytes:
    """PDF ASCIIHexDecode: whitespace-tolerant hex pairs, terminated
    by ``>``; an odd final digit is padded with 0."""
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    digits = re.sub(rb"\s+", b"", data)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfError(f"ASCIIHexDecode: {e}") from e


def png_predictor_decode(data: bytes, columns: int, colors: int = 1,
                         bpc: int = 8) -> bytes:
    """Undo PNG row predictors (/Predictor >= 10 — the near-universal
    /DecodeParms of real xref streams): each row is one filter-type
    byte then ``columns`` filtered bytes; types None/Sub/Up/Average/
    Paeth per the PNG spec, with bpp-byte left neighbors."""
    bpp = max(1, colors * bpc // 8)
    row_len = columns * colors * bpc // 8
    out = bytearray()
    prev = bytearray(row_len)
    pos = 0
    n = len(data)
    while pos < n:
        ft = data[pos]
        pos += 1
        row = bytearray(data[pos:pos + row_len])
        pos += row_len
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise PdfError(f"PNG predictor: bad filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _apply_predictor(data: bytes, parm: dict) -> bytes:
    pred = int(parm.get("/Predictor", 1) or 1)
    if pred <= 1:
        return data
    columns = int(parm.get("/Columns", 1) or 1)
    colors = int(parm.get("/Colors", 1) or 1)
    bpc = int(parm.get("/BitsPerComponent", 8) or 8)
    if pred >= 10:
        return png_predictor_decode(data, columns, colors, bpc)
    if pred == 2:  # TIFF horizontal differencing (8-bit path)
        bpp = max(1, colors * bpc // 8)
        row_len = columns * colors * bpc // 8
        out = bytearray(data)
        for r in range(0, len(out), row_len):
            for i in range(r + bpp, min(r + row_len, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    raise PdfError(f"unsupported /Predictor {pred}")


def _apply_filters(sdict: dict, raw: bytes, resolve) -> bytes:
    """Decode one stream's filter chain.  ``resolve`` maps possibly-
    indirect values (PdfDocument passes its resolver; the xref-stream
    bootstrap, which runs before any xref exists, passes identity)."""
    filt = resolve(sdict.get("/Filter"))
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    parms = resolve(sdict.get("/DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, parm in zip(filters, parms):
        parm = resolve(parm)
        if f == "/FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise PdfError(f"FlateDecode failed: {e}") from e
            if isinstance(parm, dict):
                data = _apply_predictor(data, parm)
        elif f == "/LZWDecode":
            ec = 1
            if isinstance(parm, dict):
                ec = int(resolve(parm.get("/EarlyChange", 1)))
            data = lzw_decode(data, early_change=ec)
            if isinstance(parm, dict):
                data = _apply_predictor(data, parm)
        elif f == "/ASCIIHexDecode":
            data = ascii_hex_decode(data)
        else:
            raise PdfError(f"unsupported filter {f}")
    return data


# line-anchored: repair-scan matches must start a line, which filters
# most same-shaped byte runs inside compressed stream payloads
_OBJ_RE = re.compile(rb"(?m)^(\d+)[ \t]+(\d+)[ \t]+obj\b")


class PdfDocument:
    """Parsed object layer of one PDF file."""

    def __init__(self, buf: bytes, offsets: dict[int, int], trailer: dict):
        self.buf = buf
        self.offsets = offsets
        self.trailer = trailer
        self._cache: dict[int, object] = {}

    # -- construction -----------------------------------------------------

    @classmethod
    def from_bytes(cls, buf: bytes) -> "PdfDocument":
        if not buf.startswith(b"%PDF-"):
            # spec (ISO 32000-1 §7.5.2 note / Acrobat behavior): up to
            # 1024 bytes of junk may precede the header; offsets are
            # then relative to the header, so trim the prefix
            at = buf.find(b"%PDF-", 0, 1024 + 5)
            if at == -1:
                raise PdfError("missing %PDF header")
            buf = buf[at:]
        try:
            return cls._from_xref(buf)
        except PdfEncryptedError:
            raise  # encryption is a verdict, not damage — never "repair"
        except ValueError:
            # PdfError subclasses ValueError, and the lexer's
            # bytes.fromhex / int(...) raise bare ValueError on corrupt
            # hex strings — every xref-side parse failure must reach
            # the repair scan
            return cls._from_scan(buf)

    @classmethod
    def _from_xref(cls, buf: bytes) -> "PdfDocument":
        """Follow startxref, then the trailer ``/Prev`` chain of an
        incrementally-updated file (newest section first, so updated
        objects shadow their originals — the PDF update semantics).
        Sections are classic ``xref`` TABLES or PDF-1.5 cross-reference
        STREAMS (/Type /XRef: binary /W-field rows, type 2 entries
        pointing into object streams); hybrid files' table trailers
        name an /XRefStm whose entries take precedence over the table
        of the same update (spec §7.5.8.4)."""
        tail = buf[-256:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("no startxref")
        offsets: dict[int, object] = {}
        # an object number decided by a NEWER section — whether live
        # (updated) or free (deleted) — must not be resurrected from an
        # older section's entry: free tombstones, never falls through
        decided: set[int] = set()

        def apply(entries: dict[int, object]) -> None:
            for num, val in entries.items():
                if num in decided:
                    continue  # newest section parsed first wins
                decided.add(num)
                if val is not None:
                    offsets[num] = val

        trailer: dict | None = None
        xref_pos: int | None = int(m.group(1))
        seen: set[int] = set()
        while xref_pos is not None:
            if xref_pos in seen:
                raise PdfError("cyclic /Prev xref chain")
            seen.add(xref_pos)
            if xref_pos >= len(buf):
                raise PdfError("xref offset beyond EOF")
            lex = _Lexer(buf, xref_pos)
            first_tok = lex.next_token()
            if first_tok == "xref":
                entries, tdict = cls._parse_xref_table(lex)
                xstm = tdict.get("/XRefStm")
                if isinstance(xstm, (int, float)):  # hybrid-reference
                    stm_entries, _ = cls._parse_xref_stream(buf, int(xstm))
                    apply(stm_entries)
                apply(entries)
            elif isinstance(first_tok, int):
                entries, tdict = cls._parse_xref_stream(buf, xref_pos)
                apply(entries)
            else:
                raise PdfError("offset does not point at an xref section")
            if trailer is None:
                trailer = tdict
            prev = tdict.get("/Prev")
            xref_pos = int(prev) if isinstance(prev, (int, float)) else None
        if trailer is None or "/Root" not in trailer:
            raise PdfError("trailer without /Root")
        if "/Encrypt" in trailer:
            raise PdfEncryptedError(
                "encrypted PDF (trailer /Encrypt): decryption unsupported")
        return cls(buf, offsets, trailer)

    @staticmethod
    def _parse_xref_table(lex: "_Lexer") -> tuple[dict, dict]:
        """One classic xref table at the lexer position (``xref``
        keyword already consumed) -> ({num: offset | None-if-free},
        trailer dict)."""
        entries: dict[int, object] = {}
        while True:
            first = lex.next_token()
            if first == "trailer":
                break
            count = lex.next_token()
            if not isinstance(first, int) or not isinstance(count, int):
                raise PdfError("malformed xref subsection header")
            for i in range(count):
                off = lex.next_token()
                lex.next_token()  # generation (unused)
                kind = lex.next_token()
                if kind == "n":
                    if not isinstance(off, int):
                        raise PdfError("malformed xref offset")
                    entries[first + i] = off
                elif kind == "f":
                    entries[first + i] = None
                else:
                    raise PdfError("malformed xref entry")
        tdict = _parse_value(lex, lex.next_token())
        if not isinstance(tdict, dict):
            raise PdfError("malformed trailer")
        return entries, tdict

    @staticmethod
    def _parse_xref_stream(buf: bytes, pos: int) -> tuple[dict, dict]:
        """A PDF-1.5 cross-reference STREAM at ``pos`` -> ({num:
        offset | ('objstm', container, idx) | None-if-free}, its dict,
        which doubles as the trailer).  The stream bootstraps the xref
        itself, so /Length and filter params must be direct values
        (what every writer emits)."""
        lex = _Lexer(buf, pos)
        header = [lex.next_token(), lex.next_token(), lex.next_token()]
        if not isinstance(header[0], int) or header[2] != "obj":
            raise PdfError(f"xref stream at {pos}: bad object header")
        val = _parse_value(lex, lex.next_token())
        if not isinstance(val, dict) or val.get("/Type") != "/XRef":
            raise PdfError(f"object at {pos} is not an xref stream")
        if lex.next_token() != "stream":
            raise PdfError("xref stream without stream data")
        p = lex.pos
        if buf[p:p + 2] == b"\r\n":
            p += 2
        elif buf[p:p + 1] in (b"\n", b"\r"):
            p += 1
        length = val.get("/Length")
        if not isinstance(length, int):
            raise PdfError("xref stream /Length must be direct")
        data = _apply_filters(val, buf[p:p + length], lambda v: v)
        w = val.get("/W")
        size = val.get("/Size")
        if (not isinstance(w, list) or not all(
                isinstance(x, int) for x in w) or len(w) < 3
                or not isinstance(size, int)):
            raise PdfError("xref stream missing /W or /Size")
        index = val.get("/Index") or [0, size]
        if not isinstance(index, list) or not all(
                isinstance(x, int) for x in index):
            raise PdfError("xref stream: malformed /Index")
        row_len = sum(w)
        entries: dict[int, object] = {}
        di = 0
        for k in range(0, len(index) - 1, 2):
            start, count = index[k], index[k + 1]
            for i in range(count):
                row = data[di:di + row_len]
                if len(row) < row_len:
                    raise PdfError("xref stream data truncated")
                di += row_len
                fields = []
                q = 0
                for width in w:
                    fields.append(
                        int.from_bytes(row[q:q + width], "big")
                        if width else None)
                    q += width
                etype = fields[0] if w[0] else 1  # W[0]=0 defaults type 1
                num = start + i
                if etype == 1:
                    entries[num] = fields[1]
                elif etype == 2:
                    entries[num] = ("objstm", fields[1], fields[2])
                else:  # 0 (free) or unknown types (spec: treat as free)
                    entries[num] = None
        return entries, val

    @classmethod
    def _from_scan(cls, buf: bytes) -> "PdfDocument":
        """Repair path: index every line-anchored ``N G obj`` in the
        file (anchoring skips most same-shaped byte runs inside
        compressed stream payloads), keep EARLIER same-numbered
        positions as fallbacks, then find the catalog by type.  Latest
        position wins first (incremental-update semantics); if parsing
        it fails — e.g. a stream payload that happened to contain an
        anchored ``N G obj`` — `object` retries the earlier ones."""
        # an encrypted file with a damaged xref must still be detected,
        # not "repaired" into garbled output: any parseable trailer
        # dict carrying /Encrypt is the verdict
        for tm in re.finditer(rb"trailer\b", buf):
            try:
                lex = _Lexer(buf, tm.end())
                tdict = _parse_value(lex, lex.next_token())
            except ValueError:
                continue
            if isinstance(tdict, dict) and "/Encrypt" in tdict:
                raise PdfEncryptedError(
                    "encrypted PDF (trailer /Encrypt): "
                    "decryption unsupported")
        candidates: dict[int, list[int]] = {}
        for m in _OBJ_RE.finditer(buf):
            candidates.setdefault(int(m.group(1)), []).append(m.start())
        doc = cls(buf, {num: offs[-1] for num, offs in candidates.items()},
                  {})
        doc._fallbacks = {num: offs[:-1] for num, offs in
                          candidates.items() if len(offs) > 1}
        def find_catalog() -> int | None:
            for num in list(doc.offsets):
                try:
                    obj = doc.object(num)
                except PdfError:
                    continue
                if isinstance(obj, dict) and obj.get("/Type") == "/Catalog":
                    return num
                # a 1.5 file keeps its trailer in the xref STREAM dict
                # (no 'trailer' keyword for the sweep above to find)
                d = obj.dict if isinstance(obj, Stream) else obj
                if isinstance(d, dict) and d.get("/Type") == "/XRef" \
                        and "/Encrypt" in d:
                    raise PdfEncryptedError(
                        "encrypted PDF (trailer /Encrypt): "
                        "decryption unsupported")
            return None

        cat = find_catalog()
        if cat is None:
            # PDF-1.5 file with a damaged xref: the catalog usually
            # lives INSIDE an object stream — explode every /ObjStm
            # container found top-level and index its members
            for num in list(doc.offsets):
                try:
                    obj = doc.object(num)
                    if not (isinstance(obj, Stream)
                            and obj.dict.get("/Type") == "/ObjStm"):
                        continue
                    pairs, _, _ = doc._load_objstm(num)
                except PdfError:
                    continue
                for idx, (on, _off) in enumerate(pairs):
                    doc.offsets.setdefault(on, ("objstm", num, idx))
            cat = find_catalog()
        if cat is None:
            raise PdfError("no /Catalog object found")
        doc.trailer = {"/Root": Ref(cat, 0)}
        return doc

    # -- object access ----------------------------------------------------

    def object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num not in self.offsets:
            raise PdfError(f"object {num} not in xref")
        while True:
            entry = self.offsets[num]
            try:
                if isinstance(entry, tuple):  # ('objstm', container, idx)
                    val = self._objstm_object(num, entry[1], entry[2])
                else:
                    val = self._parse_object_at(num, entry)
                break
            except PdfError:
                fallbacks = getattr(self, "_fallbacks", {}).get(num)
                if not fallbacks:
                    raise
                self.offsets[num] = fallbacks.pop()
        self._cache[num] = val
        return val

    def _load_objstm(self, stm_num: int) -> tuple[list, bytes, int]:
        """Decode one /Type /ObjStm container: ([(objnum, offset)...],
        decoded bytes, /First).  Cached per container — every member
        lookup after the first is an in-memory slice."""
        cache = getattr(self, "_objstm_cache", None)
        if cache is None:
            cache = self._objstm_cache = {}
        if stm_num in cache:
            return cache[stm_num]
        loading = getattr(self, "_objstm_loading", None)
        if loading is None:
            loading = self._objstm_loading = set()
        if stm_num in loading:
            raise PdfError(f"object stream {stm_num} contains itself")
        loading.add(stm_num)
        try:
            stm = self.object(stm_num)
            if not isinstance(stm, Stream) or \
                    self.resolve(stm.dict.get("/Type")) != "/ObjStm":
                raise PdfError(f"object {stm_num} is not an object stream")
            n = self.resolve(stm.dict.get("/N"))
            first = self.resolve(stm.dict.get("/First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise PdfError(f"object stream {stm_num}: bad /N //First")
            data = self.stream_data(stm)
            lex = _Lexer(data)
            pairs = []
            for _ in range(n):
                on = lex.next_token()
                off = lex.next_token()
                if not isinstance(on, int) or not isinstance(off, int):
                    raise PdfError(
                        f"object stream {stm_num}: bad pair table")
                pairs.append((on, off))
            cache[stm_num] = (pairs, data, first)
            return cache[stm_num]
        finally:
            loading.discard(stm_num)

    def _objstm_object(self, num: int, stm_num: int, idx: int):
        pairs, data, first = self._load_objstm(stm_num)
        if 0 <= idx < len(pairs) and pairs[idx][0] == num:
            off = pairs[idx][1]
        else:  # tolerate off-by-one writers: search the pair table
            for on, off in pairs:
                if on == num:
                    break
            else:
                raise PdfError(
                    f"object {num} not found in object stream {stm_num}")
        lex = _Lexer(data, first + off)
        return _parse_value(lex, lex.next_token())

    def _parse_object_at(self, num: int, offset: int):
        if not isinstance(offset, int) or not 0 <= offset < len(self.buf):
            raise PdfError(f"object {num}: bad xref offset {offset!r}")
        lex = _Lexer(self.buf, offset)
        header = [lex.next_token(), lex.next_token(), lex.next_token()]
        if header[0] != num or header[2] != "obj":
            raise PdfError(f"object {num}: bad header {header!r}")
        tok = lex.next_token()
        val = _parse_value(lex, tok)
        nxt = lex.next_token()
        if nxt == "stream":
            # spec: 'stream' is followed by CRLF or LF, then raw data
            p = lex.pos
            if self.buf[p:p + 2] == b"\r\n":
                p += 2
            elif self.buf[p:p + 1] in (b"\n", b"\r"):
                p += 1
            length = self.resolve(val.get("/Length"))
            if not isinstance(length, int):
                raise PdfError(f"object {num}: bad /Length")
            val = Stream(val, self.buf[p:p + length])
        return val

    def resolve(self, v):
        seen = 0
        while isinstance(v, Ref):
            v = self.object(v.num)
            seen += 1
            if seen > 32:
                raise PdfError("reference cycle")
        return v

    def stream_data(self, s: Stream) -> bytes:
        return _apply_filters(s.dict, s.raw, self.resolve)

    # -- page tree ---------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("/Root"))
        if not isinstance(root, dict):
            raise PdfError("bad /Root")
        out: list[dict] = []
        # inheritable page-tree attributes (spec table 30): a /Page
        # without one uses the nearest ancestor's
        INHERIT = ("/Resources", "/Rotate", "/MediaBox")
        stack: list[tuple[object, dict]] = [(root.get("/Pages"), {})]
        guard = 0
        while stack:
            guard += 1
            if guard > 100_000:
                raise PdfError("page tree too deep / cyclic")
            ref, inherited = stack.pop()
            node = self.resolve(ref)
            if not isinstance(node, dict):
                raise PdfError("bad page-tree node")
            carried = {k: node.get(k, inherited.get(k)) for k in INHERIT
                       if k in node or k in inherited}
            if node.get("/Type") == "/Page":
                missing = {k: v for k, v in carried.items()
                           if k not in node and v is not None}
                if missing:
                    node = {**node, **missing}
                out.append(node)
            else:  # /Pages: push kids in reverse for document order
                kids = self.resolve(node.get("/Kids")) or []
                for kid in reversed(kids):
                    stack.append((kid, carried))
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("/Contents"))
        if contents is None:
            return b""
        parts = contents if isinstance(contents, list) else [contents]
        chunks = []
        for p in parts:
            s = self.resolve(p)
            if not isinstance(s, Stream):
                raise PdfError("/Contents entry is not a stream")
            chunks.append(self.stream_data(s))
        # spec: multiple content streams behave as one with whitespace
        # boundaries between them
        return b"\n".join(chunks)

    # -- fonts ---------------------------------------------------------

    def _build_font(self, fdict: dict) -> Font:
        tu = self.resolve(fdict.get("/ToUnicode"))
        if isinstance(tu, Stream):
            return Font(cmap=parse_cmap(self.stream_data(tu)))
        enc = self.resolve(fdict.get("/Encoding"))
        base = "latin-1"
        diffs: dict[int, str] | None = None
        if isinstance(enc, str):
            base = "cp1252" if enc == "/WinAnsiEncoding" else "latin-1"
        elif isinstance(enc, dict):
            if enc.get("/BaseEncoding") == "/WinAnsiEncoding":
                base = "cp1252"
            darr = self.resolve(enc.get("/Differences"))
            if isinstance(darr, list):
                diffs = {}
                code = 0
                for item in darr:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str) and item.startswith("/"):
                        diffs[code] = _glyph_char(item[1:])
                        code += 1
                    else:
                        raise PdfError(
                            f"bad /Differences item {item!r}")
        return Font(diff=diffs, base=base)

    def page_fonts(self, page: dict) -> dict[str, Font]:
        """Font-resource name (``/F1`` ...) -> `Font` decoder for one
        page; empty when the page declares no fonts (the interpreter
        then falls back to PDFDocEncoding)."""
        res = self.resolve(page.get("/Resources"))
        if not isinstance(res, dict):
            return {}
        fdict = self.resolve(res.get("/Font"))
        if not isinstance(fdict, dict):
            return {}
        out: dict[str, Font] = {}
        for name, ref in fdict.items():
            fd = self.resolve(ref)
            if isinstance(fd, dict):
                out[name] = self._build_font(fd)
        return out


# ---------------------------------------------------------------------------
# Fonts: ToUnicode CMaps, /Differences encodings, glyph names
# ---------------------------------------------------------------------------

# Adobe Glyph List subset covering printable ASCII — what /Differences
# arrays of Latin simple fonts reference.  Letters map to themselves
# (AGL: /a -> U+0061 etc.); ``uniXXXX`` names are handled in
# `_glyph_char`.  sources/pdf_synth.py's Differences arm writes names
# from this same table (lockstep).
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}
for _c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL[_c] = _c
del _c


def _glyph_char(name: str) -> str:
    """Glyph name (no leading slash) -> character: AGL subset, then
    ``uniXXXX`` / ``uXXXX[XX]``, else U+FFFD (deterministic unknown)."""
    got = _AGL.get(name)
    if got is not None:
        return got
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    if name.startswith("u") and len(name) in (5, 7):
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            pass
    return "�"


def _utf16be(raw: bytes) -> str:
    try:
        return raw.decode("utf-16-be")
    except UnicodeDecodeError as e:
        raise PdfError(f"bad UTF-16BE in CMap: {e}") from e


def parse_cmap(data: bytes) -> tuple[int, dict[int, str]]:
    """Parse a ToUnicode CMap stream: (code byte-length, code ->
    unicode string).  Handles ``bfchar`` pairs and ``bfrange`` triples
    (both the incrementing-destination and explicit-array forms); the
    code length comes from the first ``codespacerange`` entry (1 byte
    for simple fonts, 2 for Identity-H-style CID fonts)."""
    lex = _Lexer(data)
    code_len = 1
    mapping: dict[int, str] = {}
    while True:
        tok = lex.next_token()
        if tok is None:
            break
        if tok == "begincodespacerange":
            lo = lex.next_token()
            if isinstance(lo, bytes) and lo:
                code_len = len(lo)
            while tok is not None and tok != "endcodespacerange":
                tok = lex.next_token()
        elif tok == "beginbfchar":
            while True:
                src = lex.next_token()
                if src is None or src == "endbfchar":
                    break
                dst = lex.next_token()
                if not isinstance(src, bytes) or not isinstance(dst, bytes):
                    raise PdfError("malformed bfchar entry")
                mapping[int.from_bytes(src, "big")] = _utf16be(dst)
        elif tok == "beginbfrange":
            while True:
                lo = lex.next_token()
                if lo is None or lo == "endbfrange":
                    break
                hi = lex.next_token()
                dst = lex.next_token()
                if dst == "[":
                    dst = _parse_value(lex, "[")
                if not isinstance(lo, bytes) or not isinstance(hi, bytes):
                    raise PdfError("malformed bfrange entry")
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                if isinstance(dst, list):
                    if len(dst) != hi_i - lo_i + 1:
                        raise PdfError("bfrange array length mismatch")
                    for k, d in enumerate(dst):
                        mapping[lo_i + k] = _utf16be(d)
                elif isinstance(dst, bytes):
                    base = int.from_bytes(dst, "big")
                    width = len(dst)
                    for k in range(hi_i - lo_i + 1):
                        mapping[lo_i + k] = _utf16be(
                            (base + k).to_bytes(width, "big"))
                else:
                    raise PdfError("malformed bfrange destination")
    return code_len, mapping


@dataclass
class Font:
    """One page-resource font's string-decoding behavior.  Precedence:
    ToUnicode CMap > /Differences over the base encoding > base
    encoding alone (PDFDocEncoding≈latin-1, or cp1252 for
    /WinAnsiEncoding)."""

    cmap: tuple[int, dict[int, str]] | None = None
    diff: dict[int, str] | None = None
    base: str = "latin-1"

    def decode(self, raw: bytes) -> str:
        if self.cmap is not None:
            code_len, m = self.cmap
            out: list[str] = []
            for i in range(0, len(raw), code_len):
                chunk = raw[i:i + code_len]
                got = m.get(int.from_bytes(chunk, "big"))
                out.append(got if got is not None
                           else chunk.decode(self.base, "replace"))
            return "".join(out)
        if self.diff is not None:
            diff = self.diff
            return "".join(
                diff.get(b) or bytes([b]).decode(self.base, "replace")
                for b in raw)
        if self.base == "latin-1":
            return raw.decode("latin-1")
        return raw.decode(self.base, "replace")


_DEFAULT_FONT = Font()


# ---------------------------------------------------------------------------
# Content-stream text interpreter
# ---------------------------------------------------------------------------


@dataclass
class Run:
    """One positioned text-showing operation."""

    x: float
    y: float
    text: str
    font_size: float


_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m1: tuple, m2: tuple) -> tuple:
    """PDF matrix composition m1 x m2 for (a b c d e f) row matrices
    — a point maps as p x m1 x m2."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2,
    )


@dataclass
class _TextState:
    # full text/line matrices (a b c d e f); the corpus only exercises
    # translations but the composition rules are the general ones.
    # ctm is the graphics-state CTM (cm operator, q/Q stack): device
    # position = text point x Tm x CTM — ignoring it misplaces any
    # text inside a transformed group, which real writers emit freely
    tm: tuple = _IDENTITY
    tlm: tuple = _IDENTITY
    ctm: tuple = _IDENTITY
    leading: float = 0.0
    font_size: float = 0.0

    def set_tm(self, a, b, c, d, e, f) -> None:
        self.tm = self.tlm = (float(a), float(b), float(c),
                              float(d), float(e), float(f))

    def td(self, tx: float, ty: float) -> None:
        a, b, c, d, e, f = self.tlm
        self.tlm = (a, b, c, d,
                    tx * a + ty * c + e,
                    tx * b + ty * d + f)
        self.tm = self.tlm

    def concat_ctm(self, m: tuple) -> None:
        self.ctm = _mat_mul(m, self.ctm)

    def origin(self) -> tuple[float, float]:
        trm = _mat_mul(self.tm, self.ctm)
        return trm[4], trm[5]




def interpret_text(content: bytes,
                   fonts: dict[str, Font] | None = None) -> list[Run]:
    """Run the text operators of one page's content stream; return
    positioned text runs.  The graphics-state operators that MOVE text
    are honored — ``cm`` composes into the CTM and ``q``/``Q``
    save/restore it (show positions are text-point x Tm x CTM) — all
    other graphics operators are ignored.  ``fonts`` (from
    `PdfDocument.page_fonts`) supplies per-font string decoding;
    absent or unknown fonts fall back to PDFDocEncoding≈latin-1."""
    lex = _Lexer(content)
    stack: list = []
    gs_stack: list[tuple] = []  # q/Q saves of the CTM
    st = _TextState()
    runs: list[Run] = []
    fonts = fonts or {}
    font = _DEFAULT_FONT

    def show_text(s: str) -> None:
        x, y = st.origin()
        runs.append(Run(x, y, s, st.font_size))

    def show(raw: bytes) -> None:
        show_text(font.decode(raw))

    while True:
        tok = lex.next_token()
        if tok is None:
            break
        if tok == "[":
            arr = []
            while True:
                t = lex.next_token()
                if t == "]" or t is None:
                    break
                arr.append(t)
            stack.append(arr)
            continue
        if tok == "<<":  # inline dict (e.g. BDC properties): parse, push
            stack.append(_parse_value(lex, tok))
            continue
        if isinstance(tok, (int, float, bytes)) or (
                isinstance(tok, str) and tok.startswith("/")):
            stack.append(tok)
            continue
        # tok is an operator keyword
        try:
            if tok == "BT":
                st.set_tm(1, 0, 0, 1, 0, 0)
            elif tok == "ET":
                pass
            elif tok == "cm":
                st.concat_ctm(tuple(float(v) for v in stack[-6:]))
            elif tok == "q":
                gs_stack.append(st.ctm)
            elif tok == "Q":
                if gs_stack:
                    st.ctm = gs_stack.pop()
            elif tok == "Tf":
                st.font_size = float(stack[-1])
                if len(stack) >= 2 and isinstance(stack[-2], str):
                    font = fonts.get(stack[-2], _DEFAULT_FONT)
            elif tok == "TL":
                st.leading = float(stack[-1])
            elif tok == "Td":
                st.td(float(stack[-2]), float(stack[-1]))
            elif tok == "TD":
                st.leading = -float(stack[-1])
                st.td(float(stack[-2]), float(stack[-1]))
            elif tok == "Tm":
                st.set_tm(*[float(v) for v in stack[-6:]])
            elif tok == "T*":
                st.td(0.0, -st.leading)
            elif tok == "Tj":
                show(stack[-1])
            elif tok == "'":
                st.td(0.0, -st.leading)
                show(stack[-1])
            elif tok == '"':
                st.td(0.0, -st.leading)
                show(stack[-1])
            elif tok == "TJ":
                arr = stack[-1]
                parts: list[str] = []
                for el in arr:
                    if isinstance(el, bytes):
                        parts.append(font.decode(el))
                    elif isinstance(el, (int, float)):
                        if float(el) <= TJ_WORD_GAP:
                            parts.append(" ")
                show_text("".join(parts))
        except (IndexError, TypeError, ValueError) as e:
            raise PdfError(f"bad operand stack for {tok}: {e}") from e
        stack.clear()
    return runs


# ---------------------------------------------------------------------------
# Layout reconstruction
# ---------------------------------------------------------------------------


@dataclass
class Block:
    """One (page, column) text block in reading order."""

    page: int
    column: int
    lines: list[str] = field(default_factory=list)
    x: float = 0.0
    y_top: float = 0.0
    y_bottom: float = 0.0

    @property
    def n_words(self) -> int:
        return sum(len(ln.split()) for ln in self.lines)


def _split_columns(xs: list[float]) -> list[float]:
    """1-D gap clustering over run x-origins: returns the sorted left
    edges of each detected column."""
    if not xs:
        return []
    xs = sorted(set(xs))
    edges = [xs[0]]
    for prev, cur in zip(xs, xs[1:]):
        if cur - prev > COLUMN_GAP_PT:
            edges.append(cur)
    return edges


def layout_pages(pages_runs: list[list[Run]]) -> list[Block]:
    """Cluster runs into (page, column, line) structure and emit blocks
    in reading order: page order, then leftmost column first, then top
    to bottom within a column."""
    blocks: list[Block] = []
    for pno, runs in enumerate(pages_runs):
        runs = [r for r in runs if r.text.strip()]
        if not runs:
            continue
        edges = _split_columns([r.x for r in runs])

        def col_of(x: float) -> int:
            c = 0
            for i, e in enumerate(edges):
                if x >= e - 1e-6:
                    c = i
            return c

        by_col: dict[int, list[Run]] = {}
        for r in runs:
            by_col.setdefault(col_of(r.x), []).append(r)
        for cno in sorted(by_col):
            col_runs = by_col[cno]
            # group by baseline y (tolerance LINE_TOL_PT)
            ys = sorted({round(r.y, 3) for r in col_runs}, reverse=True)
            lines_y: list[float] = []
            for y in ys:
                if not lines_y or abs(lines_y[-1] - y) > LINE_TOL_PT:
                    lines_y.append(y)
            # EXCLUSIVE nearest-baseline assignment: a run with
            # sub-point jitter can sit within tolerance of two
            # baselines, and emitting it on both duplicates its words
            per_line: dict[int, list[Run]] = {}
            for r in col_runs:
                li = min(range(len(lines_y)),
                         key=lambda i: abs(lines_y[i] - r.y))
                per_line.setdefault(li, []).append(r)
            block = Block(page=pno, column=cno, x=edges[cno],
                          y_top=max(r.y for r in col_runs),
                          y_bottom=min(r.y for r in col_runs))
            for li in range(len(lines_y)):
                on_line = sorted(per_line.get(li, ()), key=lambda r: r.x)
                if not on_line:
                    continue
                text = " ".join(r.text for r in on_line)
                block.lines.append(" ".join(text.split()))
            blocks.append(block)
    return blocks


# ---------------------------------------------------------------------------
# Public pure functions (oracle side == kernel side)
# ---------------------------------------------------------------------------


def _unrotate_runs(runs: list[Run], rot: int, media) -> list[Run]:
    """Map device positions into READING orientation for a /Rotate-d
    page (the attribute says how a viewer turns the page for display;
    text is laid out to be read AFTER that turn, so layout clustering
    must happen in display space).  /Rotate 90 (cw display turn):
    (x, y) -> (y, W - x); 180: (W - x, H - y); 270: (H - y, x)."""
    rot = rot % 360
    if rot == 0 or not runs:
        return runs
    x0, y0, x1, y1 = (float(v) for v in media)
    w, h = x1 - x0, y1 - y0
    out = []
    for r in runs:
        x, y = r.x - x0, r.y - y0
        if rot == 90:
            u, v = y, w - x
        elif rot == 180:
            u, v = w - x, h - y
        elif rot == 270:
            u, v = h - y, x
        else:
            raise PdfError(f"/Rotate must be a multiple of 90, got {rot}")
        out.append(Run(u, v, r.text, r.font_size))
    return out


_DEFAULT_MEDIABOX = (0.0, 0.0, 612.0, 792.0)


def pdf_parse(payload: bytes) -> tuple[int, list[Block]]:
    """(page count from the page tree, layout blocks)."""
    doc = PdfDocument.from_bytes(payload)
    pages = doc.pages()
    pages_runs = []
    for p in pages:
        runs = interpret_text(doc.page_content(p), doc.page_fonts(p))
        rot = doc.resolve(p.get("/Rotate")) or 0
        if rot:
            media = doc.resolve(p.get("/MediaBox")) or _DEFAULT_MEDIABOX
            if not isinstance(media, (list, tuple)) or len(media) != 4:
                raise PdfError("bad /MediaBox")
            runs = _unrotate_runs(runs, int(rot), media)
        pages_runs.append(runs)
    return len(pages), layout_pages(pages_runs)


def pdf_blocks(payload: bytes) -> list[Block]:
    return pdf_parse(payload)[1]


def pdf_plaintext(payload: bytes) -> str:
    """Extracted main text in reading order, single-space normalized —
    the byte-identity surface for the oracle."""
    words: list[str] = []
    for b in pdf_blocks(payload):
        for ln in b.lines:
            words.extend(ln.split())
    return " ".join(words)


def pdf_structured_text(payload: bytes) -> str:
    """Reading-order text with LINE STRUCTURE kept (one ``\\n`` per
    layout line) — what a mixed-corpus pipeline feeds downstream
    quality/repetition stats, which are paragraph-sensitive; the HTML
    extractors keep their paragraph newlines the same way.  Block
    boundaries always fall on line boundaries, so this equals the
    newline-join of all lines in reading order."""
    return "\n".join(ln for b in pdf_blocks(payload) for ln in b.lines)


# ---------------------------------------------------------------------------
# Spark kernel
# ---------------------------------------------------------------------------


PDF_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("plaintext", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("n_columns", T.IntegerType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _pdf_rows(source: str, payload: bytes | None) -> list[tuple]:
    try:
        n_pages, blocks = pdf_parse(bytes(payload))
    except Exception as e:  # noqa: BLE001 — per-row isolation: a
        # malformed payload (PdfError, zlib.error, recursion bombs, codec
        # errors) becomes an error ROW; one bad document must not kill a
        # corpus-scale task
        return [(source, None, None, None, None, None, _error_message(e))]
    words = [w for b in blocks for ln in b.lines for w in ln.split()]
    return [(source, " ".join(words), n_pages,
             max((b.column for b in blocks), default=-1) + 1,
             len(blocks), sum(len(b.lines) for b in blocks), None)]


def extract_pdf(df: DataFrame) -> DataFrame:
    """(source, content:binary) -> text + layout stats.  Arrow-batched
    per-row kernel: no shuffle, scales with input splits."""
    return map_records(df.select("source", "content"), _pdf_rows,
                       PDF_EXTRACT_SCHEMA)
