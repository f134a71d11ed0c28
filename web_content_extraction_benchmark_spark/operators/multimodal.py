"""Multimodal columns: opaque binary payloads + typed metadata, with
REAL stdlib-only decoders for the self-describing formats.

- **image/BMP**: full header + 24-bit uncompressed pixel decode
  (``decode_bmp`` — struct header parse, bottom-up padded rows, numpy
  channel statistics).
- **audio/WAV**: RIFF/fmt/data chunk walk + PCM16 sample decode
  (``decode_wav`` — numpy mean/RMS/zero-crossing/peak).
- **video/AVI**: RIFF AVI container walk (hdrl/strl headers + movi
  frame list) with uncompressed bottom-up DIB frames (``decode_avi`` —
  per-frame channel means + frame-delta motion statistics).  Compressed
  codecs (h264 etc.) are out of scope — no codec library ships in this
  sandbox; on a production cluster that branch is where pyav plugs into
  the same mapInPandas kernel.

The distributed machinery — schemas, Arrow batch shapes, partitioning,
UDF signatures — is identical for all three kinds; the driver query's
DuckDB oracle checks the decoded features against closed-form mirrors
of the synthetic payloads (the payload generators write two-color
stripe bitmaps, square waves, and drifting-stripe AVI frames whose
channel means, RMS, zero-crossing rate, and motion deltas have exact
integer-arithmetic formulas)."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.records import map_records

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 6  # [dim1, dim2, stat1, stat2, stat3, stat4] per kind

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


# ---------------------------------------------------------------------------
# Real decoders (stdlib struct + numpy only)
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> (h, w, 3) uint8 RGB array.

    Parses BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B), honors the
    pixel-data offset, 4-byte row padding, and bottom-up row order.
    Raises ValueError on anything that is not a 24-bit BI_RGB bitmap."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_offset = struct.unpack_from("<I", payload, 10)[0]
    # height is SIGNED: negative means top-down row order
    header_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if header_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("only 24-bit uncompressed BMP is supported")
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    if pix_offset < 14 + header_size:
        # an offset pointing back into the headers would silently decode
        # header bytes as pixels
        raise ValueError("BMP pixel offset inside headers")
    bottom_up = height > 0
    h = abs(int(height))
    row_size = (3 * width + 3) // 4 * 4
    if len(payload) < pix_offset + row_size * h:
        raise ValueError("truncated BMP pixel data")
    rows = (
        np.frombuffer(payload, dtype=np.uint8, count=row_size * h,
                      offset=pix_offset)
        .reshape(h, row_size)[:, : 3 * width]
        .reshape(h, width, 3)
    )
    if bottom_up:
        rows = rows[::-1]
    # BMP stores BGR
    return rows[:, :, ::-1]


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """PCM16 mono WAV -> (sample_rate, float64 samples in [-1, 1)).

    Walks the RIFF chunk list (fmt / data, skipping unknown chunks).
    Raises ValueError for non-PCM16 content."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    sample_rate = None
    data = None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            # a declared-but-truncated chunk must fail the decode-cleanly-
            # or-ValueError contract, not leak struct.error
            if len(body) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt, channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only PCM16 mono WAV is supported")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    return int(sample_rate), samples


def decode_avi(payload: bytes) -> tuple[float, np.ndarray]:
    """Uncompressed-DIB AVI -> (fps, (n_frames, h, w, 3) uint8 RGB).

    Walks the RIFF 'AVI ' chunk tree: LIST hdrl (avih main header, strl
    stream header + BITMAPINFOHEADER format) and LIST movi ('00db'
    uncompressed frames; bottom-up BGR rows padded to 4 bytes, same DIB
    layout as BMP pixel data).  Raises ValueError for anything that is
    not a 24-bit BI_RGB 'vids' stream."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise ValueError("not an AVI payload")

    def chunks(buf: bytes, pos: int, end: int):
        while pos + 8 <= end:
            cid = buf[pos:pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            if pos + 8 + size > end:
                raise ValueError("truncated AVI chunk")
            yield cid, pos + 8, size
            pos += 8 + size + (size & 1)  # chunks are word-aligned

    width = height = None
    rate = scale = None
    frames: list[bytes] = []
    for cid, body, size in chunks(payload, 12, len(payload)):
        if cid != b"LIST":
            continue
        list_type = payload[body:body + 4]
        if list_type == b"hdrl":
            for cid2, body2, size2 in chunks(payload, body + 4, body + size):
                if cid2 == b"LIST" and payload[body2:body2 + 4] == b"strl":
                    for cid3, body3, size3 in chunks(
                        payload, body2 + 4, body2 + size2
                    ):
                        if cid3 == b"strh":
                            if size3 < 32:
                                raise ValueError("truncated AVI strh")
                            if payload[body3:body3 + 4] != b"vids":
                                raise ValueError(
                                    "only a single 'vids' stream is supported"
                                )
                            scale, rate = struct.unpack_from(
                                "<II", payload, body3 + 20
                            )
                        elif cid3 == b"strf":
                            if size3 < 40:
                                raise ValueError("truncated AVI strf")
                            _, width, height, planes, bpp = struct.unpack_from(
                                "<IiiHH", payload, body3
                            )
                            compression = struct.unpack_from(
                                "<I", payload, body3 + 16
                            )[0]
                            if planes != 1 or bpp != 24 or compression != 0:
                                raise ValueError(
                                    "only 24-bit uncompressed DIB frames "
                                    "are supported"
                                )
        elif list_type == b"movi":
            for cid2, body2, size2 in chunks(payload, body + 4, body + size):
                if cid2[2:4] in (b"db", b"dc"):
                    frames.append(payload[body2:body2 + size2])
    if width is None or rate is None:
        raise ValueError("missing AVI strh/strf headers")
    if width <= 0 or height == 0 or scale == 0:
        raise ValueError("degenerate AVI dimensions")
    bottom_up = height > 0
    h = abs(int(height))
    row_size = (3 * width + 3) // 4 * 4
    decoded = []
    for frame in frames:
        if len(frame) < row_size * h:
            raise ValueError("truncated AVI frame data")
        px = (
            np.frombuffer(frame, dtype=np.uint8, count=row_size * h)
            .reshape(h, row_size)[:, : 3 * width]
            .reshape(h, width, 3)
        )
        if bottom_up:
            px = px[::-1]
        decoded.append(px[:, :, ::-1])  # DIB stores BGR
    if not decoded:
        raise ValueError("AVI has no frames")
    return float(rate) / float(scale), np.stack(decoded)


def bmp_features(payload: bytes) -> list[float]:
    """[width, height, mean_r, mean_g, mean_b, mean_rgb].  Channel sums
    over uint8 pixels are exact integers in float64, so the means are
    bit-reproducible by the closed-form DuckDB mirror."""
    px = decode_bmp(payload)
    h, w = px.shape[0], px.shape[1]
    sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    n = float(h * w)
    mr, mg, mb = (float(s) / n for s in sums)
    return [float(w), float(h), mr, mg, mb, (mr + mg + mb) / 3.0]


def wav_features(payload: bytes) -> list[float]:
    """[sample_rate, n_samples, mean, rms, zcr, peak]."""
    rate, s = decode_wav(payload)
    n = s.shape[0]
    if n == 0:
        return [float(rate), 0.0, 0.0, 0.0, 0.0, 0.0]
    mean = float(s.sum() / n)
    rms = float(np.sqrt((s * s).sum() / n))
    zcr = (
        float((s[1:] * s[:-1] < 0).sum() / (n - 1)) if n > 1 else 0.0
    )
    return [float(rate), float(n), mean, rms, zcr, float(np.abs(s).max())]


def avi_features(payload: bytes) -> list[float]:
    """[width, height, n_frames, mean_rgb, motion_mean, motion_max].

    mean_rgb pools every frame/pixel/channel; motion is the mean
    absolute pixel-channel delta between consecutive frames (mean over
    pairs computed as ONE integer-sum division so the closed-form
    DuckDB mirror reproduces it bit-for-bit; motion_max divides each
    pair's integer sum once)."""
    _, frames = decode_avi(payload)
    n, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    cells = float(h * w * 3)
    total = int(frames.sum(dtype=np.int64))
    mean_rgb = total / (n * cells)
    if n < 2:
        return [float(w), float(h), float(n), mean_rgb, 0.0, 0.0]
    deltas = np.abs(
        frames[1:].astype(np.int64) - frames[:-1].astype(np.int64)
    )
    pair_sums = deltas.reshape(n - 1, -1).sum(axis=1)
    motion_mean = float(pair_sums.sum()) / ((n - 1) * cells)
    motion_max = float(pair_sums.max()) / cells
    return [float(w), float(h), float(n), mean_rgb, motion_mean, motion_max]


def real_decode(payload: bytes, kind: str):
    """Decode a payload with the real kernel for its kind.

    image (BMP), audio (PCM16 WAV), and video (uncompressed-DIB AVI)
    are fully implemented stdlib-only; on a production cluster the
    video branch is where a codec library (pyav) would slot in for
    compressed streams."""
    if kind == "image":
        return decode_bmp(payload)
    if kind == "audio":
        return decode_wav(payload)
    if kind == "video":
        return decode_avi(payload)
    raise ValueError(f"unknown media kind {kind!r}")


def media_feature_vector(payload: bytes | None, kind: str) -> list[float]:
    if payload is None:
        return [0.0] * FEATURE_DIM
    if kind == "image":
        return bmp_features(payload)
    if kind == "audio":
        return wav_features(payload)
    return avi_features(payload)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Payload binary -> feature vector, one media row at a time on the
    record kernel (`functions.records.map_records`).

    The payload column is isolated to this one stage; input batch ROW
    COUNT is governed by the session's Arrow batch size
    (``spark.sql.execution.arrow.maxRecordsPerBatch``, settable through
    ``get_spark(extra_conf=...)``) — size it to ~256 MB / p99_payload
    for MB-scale media.  All three kinds decode for real (BMP / PCM16 WAV /
    uncompressed-DIB AVI)."""
    def features(media_id, kind: str, payload: bytes | None) -> list[tuple]:
        return [(media_id, kind, len(payload) if payload is not None else 0,
                 media_feature_vector(payload, kind))]

    return map_records(media.select("media_id", "kind", "payload"),
                       features, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic synthetic payload writers (real bytes, closed-form stats)
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, c1: tuple[int, int, int],
               c2: tuple[int, int, int]) -> bytes:
    """24-bit bottom-up BMP with vertical stripes: even columns c1, odd
    columns c2 (RGB tuples).  Channel mean = (n_even*c1 + n_odd*c2)/w."""
    row_size = (3 * width + 3) // 4 * 4
    pix = bytearray()
    row = bytearray()
    for x in range(width):
        r, g, b = c1 if x % 2 == 0 else c2
        row += bytes((b, g, r))  # BGR on disk
    row += b"\x00" * (row_size - len(row))
    for _ in range(height):
        pix += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pix), 2835, 2835,
        0, 0,
    )
    return bytes(header + pix)


def encode_wav(sample_rate: int, n_samples: int, amplitude: int,
               half_period: int) -> bytes:
    """PCM16 mono WAV square wave: blocks of ``half_period`` samples at
    +amplitude alternating with -amplitude.  With n_samples a multiple
    of the full period: mean = 0, rms = peak = amplitude/32768, and
    zcr = (n/half_period - 1)/(n - 1)."""
    idx = np.arange(n_samples)
    samples = np.where((idx // half_period) % 2 == 0, amplitude, -amplitude)
    data = samples.astype("<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate,
            sample_rate * 2, 2, 16,
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def encode_avi(width: int, height: int, frame_colors: list[tuple],
               fps: int) -> bytes:
    """Uncompressed-DIB AVI: one '00db' frame per (c1, c2) pair in
    ``frame_colors``, each a vertical-stripe DIB (even columns c1, odd
    columns c2, RGB tuples) — the video analog of ``encode_bmp``'s
    stripe bitmaps, with per-frame color drift supplying closed-form
    motion statistics."""
    row_size = (3 * width + 3) // 4 * 4
    frames = []
    for c1, c2 in frame_colors:
        row = bytearray()
        for x in range(width):
            r, g, b = c1 if x % 2 == 0 else c2
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (row_size - len(row))
        frames.append(bytes(row) * height)
    frame_size = row_size * height
    n = len(frames)

    avih = struct.pack(
        "<4sI14I", b"avih", 56,
        1_000_000 // fps, frame_size * fps, 0, 0, n, 0, 1, frame_size,
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4sI4s4sIHHIIIIIIII4H", b"strh", 56, b"vids", b"DIB ",
        0, 0, 0, 0, 1, fps, 0, n, frame_size, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<4sIIiiHHIIiiII", b"strf", 40, 40, width, height, 1, 24, 0,
        frame_size, 2835, 2835, 0, 0,
    )
    strl = b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl" + strh + strf
    hdrl = b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl" + avih + strl
    movi_body = b"".join(
        struct.pack("<4sI", b"00db", frame_size) + f for f in frames
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthetic_media_params(i: int) -> dict:
    """Per-row payload parameters — the single source of truth for both
    the Python writers and the DuckDB closed-form oracle in
    ``__spark_entry__`` (keep in lockstep)."""
    kind = ["image", "audio", "video"][i % 3]
    if kind == "image":
        return {
            "kind": kind,
            "width": 8 + i % 9,
            "height": 6 + i % 7,
            "c1": ((37 * i) % 256, (59 * i) % 256, (83 * i) % 256),
            "c2": ((101 * i) % 256, (131 * i) % 256, (151 * i) % 256),
        }
    if kind == "audio":
        return {
            "kind": kind,
            "sample_rate": 8000 + 1000 * (i % 5),
            "half_period": 1 + i % 4,
            "n_periods": 20 + i % 10,
            "amplitude": 1000 + 37 * i,
        }
    return {
        "kind": kind,
        "width": 6 + i % 7,
        "height": 4 + i % 5,
        "n_frames": 2 + i % 4,
        "fps": 10 + i % 6,
        # frame f stripe colors (per-frame drift => closed-form motion)
        "frame_colors": [
            (
                ((37 * i + 11 * f) % 256, (59 * i + 13 * f) % 256,
                 (83 * i + 17 * f) % 256),
                ((101 * i + 19 * f) % 256, (131 * i + 23 * f) % 256,
                 (151 * i + 29 * f) % 256),
            )
            for f in range(2 + i % 4)
        ],
    }


def synthesize_media(spark, n_rows: int = 64) -> DataFrame:
    """Deterministic media table: REAL BMP/WAV/AVI payloads."""
    rows = []
    for i in range(n_rows):
        p = synthetic_media_params(i)
        kind = p["kind"]
        if kind == "image":
            payload = encode_bmp(p["width"], p["height"], p["c1"], p["c2"])
            meta = {"width": p["width"], "height": p["height"],
                    "sample_rate": None, "duration_ms": None, "codec": "bmp"}
        elif kind == "audio":
            n = 2 * p["half_period"] * p["n_periods"]
            payload = encode_wav(
                p["sample_rate"], n, p["amplitude"], p["half_period"]
            )
            meta = {"width": None, "height": None,
                    "sample_rate": p["sample_rate"],
                    "duration_ms": int(1000 * n / p["sample_rate"]),
                    "codec": "pcm16"}
        else:
            payload = encode_avi(
                p["width"], p["height"], p["frame_colors"], p["fps"]
            )
            meta = {"width": p["width"], "height": p["height"],
                    "sample_rate": None,
                    "duration_ms": int(1000 * p["n_frames"] / p["fps"]),
                    "codec": "dib"}
        rows.append((i, f"https://media.example/{kind}/{i}", kind, payload,
                     meta))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
