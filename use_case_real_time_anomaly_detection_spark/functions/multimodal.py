"""Multimodal payload plumbing: image / video / generic binary columns.

The image column is REAL end-to-end for the lossless formats this
container can decode with the stdlib: PNG (zlib inflate + pure-numpy
scanline unfiltering, all five filter types, color types
gray/RGB/palette/gray-alpha/RGBA at bit depth 8) and uncompressed
24-bit BMP — both encoder and decoder live here, so sources/synth.py
can render real payload bytes and the engine proves decoded pixels ==
generated pixels bit-for-bit (the image analog of the audio column's
PCM/μ-law path in functions/audio.py). The VIDEO column is real too:
an AVI (RIFF) muxer + demuxer for uncompressed 24-bit DIB frames, so
video_frames demuxes real container bytes and re-emits sampled frames
as standalone BMP image payloads. Codecs that need external libraries
(JPEG images, mp4 video) stay stubbed behind the registries and raise
NotImplementedError.

Pattern for any modality at 100 TB: binary column + typed metadata
columns, per-item kernels run through ONE zero-copy Arrow pass
(functions/payload.map_payloads; bounded memory via
spark.sql.execution.arrow.maxRecordsPerBatch), outputs as flat typed
columns so downstream rules stay JVM-side. Only the 1→N fan-out
(video_frames) keeps its own batch loop.
"""

from __future__ import annotations

import struct
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# PNG — RFC 2083 subset: bit depth 8, no interlace; color types 0 (gray),
# 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); all five scanline
# filters on decode. Pure stdlib zlib + numpy: no external codec library.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Forward filter (encoder side), per PNG spec §6."""
    cur = row.astype(np.int16)
    left = np.zeros_like(cur)
    left[bpp:] = cur[:-bpp]
    up = prev.astype(np.int16)
    upleft = np.zeros_like(up)
    upleft[bpp:] = up[:-bpp]
    if ftype == 0:
        out = cur
    elif ftype == 1:
        out = cur - left
    elif ftype == 2:
        out = cur - up
    elif ftype == 3:
        out = cur - ((left + up) >> 1)
    elif ftype == 4:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        out = cur - pred
    else:
        raise ValueError(f"bad png filter type {ftype}")
    return (out & 0xFF).astype(np.uint8)


def png_encode(img: np.ndarray, *, filter_type: int = 0, level: int = 6) -> bytes:
    """Encode (H, W[, C]) uint8 → PNG bytes. C ∈ {1, 2, 3, 4} maps to
    color types 0/4/2/6. One filter type for all rows (0 is the fast
    round-trip default; 1–4 exist so tests can exercise every decoder
    unfilter branch against independently filtered bytes)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c
    prev = np.zeros(w * c, dtype=np.uint8)
    parts = []
    for y in range(h):
        row = img[y].reshape(-1)
        parts.append(bytes([filter_type]))
        parts.append(_png_filter_row(filter_type, row, prev, bpp).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(parts), level))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(payload: bytes) -> np.ndarray:
    """Decode PNG bytes → (H, W, C) uint8. CRC-checked chunk walk, zlib
    inflate, numpy unfiltering (Up/Sub vectorized — Sub is a per-lane
    mod-256 cumulative sum; Average/Paeth have a true left recursion and
    run per-byte). Raises ValueError with a stable message taxonomy
    (bad signature / truncated chunk / bad crc / unsupported ...) so
    decode-failure notes are deterministic."""
    payload = bytes(payload)
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("bad png signature")
    pos = 8
    w = h = depth = color = None
    plte: np.ndarray | None = None
    idat: list[bytes] = []
    seen_iend = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data_end = pos + 8 + length
        if data_end + 4 > len(payload):
            raise ValueError("truncated chunk")
        data = payload[pos + 8 : data_end]
        (crc,) = struct.unpack_from(">I", payload, data_end)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad crc in {ctype.decode('latin1', 'replace')}")
        pos = data_end + 4
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(">IIBBBBB", data)
            if comp != 0 or filt != 0:
                raise ValueError("unsupported png compression/filter method")
            if inter != 0:
                raise ValueError("unsupported png interlace")
            if depth != 8:
                raise ValueError(f"unsupported png bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported png color type {color}")
        elif ctype == b"PLTE":
            if len(data) % 3 != 0:
                raise ValueError("bad plte length")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks: skipped
    if w is None:
        raise ValueError("missing ihdr")
    if not seen_iend:
        raise ValueError("truncated chunk")  # ran off the buffer pre-IEND
    if not idat:
        raise ValueError("missing idat")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"bad idat stream: {exc}") from exc
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("idat length mismatch")
    rawm = np.frombuffer(raw, np.uint8).reshape(h, 1 + stride)
    ftypes = rawm[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint16)
    bpp = ch
    for y in range(h):
        ft = int(ftypes[y])
        cur = rawm[y, 1:].astype(np.uint16)
        if ft == 0:
            rec = cur
        elif ft == 2:  # Up: fully vectorized
            rec = (cur + prev) & 0xFF
        elif ft == 1:  # Sub: per-channel-lane cumulative sum mod 256
            rec = cur.reshape(-1, bpp).cumsum(axis=0, dtype=np.uint64) & 0xFF
            rec = rec.reshape(-1).astype(np.uint16)
        elif ft in (3, 4):  # Average / Paeth: true left recursion
            rec = np.zeros(stride, dtype=np.uint16)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ft == 3:
                    rec[x] = (int(cur[x]) + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    if pa <= pb and pa <= pc:
                        pr = a
                    elif pb <= pc:
                        pr = b
                    else:
                        pr = c
                    rec[x] = (int(cur[x]) + pr) & 0xFF
        else:
            raise ValueError(f"bad png filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    img = out.reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("palette image without plte")
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        img = plte[idx]
    return np.ascontiguousarray(img)


# ---------------------------------------------------------------------------
# BMP — uncompressed 24-bit BI_RGB (BITMAPINFOHEADER), bottom-up or
# top-down, 4-byte row padding. Stored BGR; decoded to (H, W, 3) RGB.
# ---------------------------------------------------------------------------


def bmp_encode(img: np.ndarray) -> bytes:
    """Encode (H, W[, C]) uint8 → 24-bit uncompressed BMP (bottom-up).
    Gray broadcasts to 3 channels; alpha is dropped."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    elif img.shape[2] == 4:
        img = img[:, :, :3]
    if img.shape[2] != 3:
        raise ValueError(f"bmp_encode: unsupported channel count {img.shape[2]}")
    h, w, _ = img.shape
    rowsz = (w * 3 + 3) & ~3
    pad = b"\x00" * (rowsz - w * 3)
    bgr = img[:, :, ::-1]
    body = b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + body


def bmp_decode(payload: bytes) -> np.ndarray:
    """Decode 24-bit uncompressed BMP bytes → (H, W, 3) uint8 RGB.
    Stable ValueError taxonomy, mirroring png_decode."""
    payload = bytes(payload)
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("bad bmp signature")
    (off,) = struct.unpack_from("<I", payload, 10)
    hsize, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hsize < 40:
        raise ValueError("unsupported bmp header")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported bmp: bpp={bpp} compression={comp}")
    bottom_up = h > 0
    h = abs(h)
    if w < 1 or h < 1:
        raise ValueError("bad bmp dimensions")
    rowsz = (w * 3 + 3) & ~3
    if len(payload) < off + rowsz * h:
        raise ValueError("truncated bmp body")
    buf = np.frombuffer(payload, np.uint8, count=rowsz * h, offset=off).reshape(
        h, rowsz
    )
    img = buf[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("item_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("decode_error", StringType()),
    ]
)


def _fake_image_decode(payload: bytes) -> np.ndarray:
    """Deterministic fake: payload bytes reshaped as a tiny 8×8 gray image
    (test stand-in so the batching/schema path is exercised end-to-end)."""
    arr = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8, 1)


# kernel registry: lossless stdlib-decodable codecs are REAL; lossy
# codecs needing external libraries raise until one is wired in
def _unsupported(name: str) -> Callable[[bytes], np.ndarray]:
    def _raise(_: bytes) -> np.ndarray:
        raise NotImplementedError(
            f"{name} decoding requires an image codec library not present "
            "in this environment; register a kernel in IMAGE_DECODERS"
        )

    return _raise


IMAGE_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "fake:gray8x8": _fake_image_decode,
    "png": png_decode,
    "bmp": bmp_decode,
    "jpeg": _unsupported("jpeg"),
}


def check_image(payload, codec: str):
    """Single-image decode + features; the kernel shared by the
    image_features operator, the fused ImageDecodeRule pass below, and
    the oracle twin in sources/synth.py (same function over the same
    bytes ⇒ bit-identical feature doubles and error strings on both
    sides — the audio column's check_clip precedent).

    Returns (ok, err, width, height, channels, mean_luma)."""
    try:
        dec = IMAGE_DECODERS.get(codec)
        if dec is None:
            raise ValueError(f"no decoder for {codec!r}")
        if payload is None:
            raise ValueError("null payload")
        img = dec(bytes(payload))
        return (
            True,
            None,
            int(img.shape[1]),
            int(img.shape[0]),
            int(img.shape[2]),
            float(img.mean()),
        )
    except Exception as exc:  # decode failures are data, not crashes
        return False, str(exc)[:120], None, None, None, None


def with_image_checks(df: DataFrame, rule, *, key_col: str = "clip_id") -> DataFrame:
    """Append __img_ok / __img_err / __img_w / __img_h / __img_luma and
    DROP the payload column (downstream of the check nothing needs the
    pixels) — the image twin of functions/audio.with_audio_checks, and
    the same zero-copy `map_payloads` pass: binary payloads reach numpy
    as buffer slices, never as materialized Python bytes-per-row."""
    from .payload import map_payloads

    def kernel(payload, codec):
        ok, err, w, h, _c, luma = check_image(payload, codec)
        return ok, err, w, h, luma

    return map_payloads(
        df,
        rule.bytes_column,
        [rule.codec_column],
        kernel,
        [
            StructField("__img_ok", BooleanType()),
            StructField("__img_err", StringType()),
            StructField("__img_w", IntegerType()),
            StructField("__img_h", IntegerType()),
            StructField("__img_luma", DoubleType()),
        ],
    )


def image_features(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    bytes_col: str = "payload",
    codec_col: str = "codec",
) -> DataFrame:
    """Decode + feature-extract images in one `map_payloads` pass.
    Decode failures are rows, not exceptions."""
    from .payload import map_payloads

    def kernel(payload, codec):
        _ok, err, w, h, c, luma = check_image(payload, codec)
        return w, h, c, luma, err

    src = df.select(F.col(id_col).alias("item_id"), bytes_col, codec_col)
    return map_payloads(
        src, bytes_col, [codec_col], kernel, IMAGE_FEATURES_SCHEMA.fields[1:]
    ).select(*IMAGE_FEATURES_SCHEMA.fieldNames())


# ---------------------------------------------------------------------------
# AVI — RIFF container with uncompressed 24-bit DIB video frames ('DIB '
# handler, BI_RGB). Pure stdlib struct + numpy: the video column's real
# path, same discipline as PNG/BMP above (encoder + decoder both live
# here so synth can render real container bytes and the engine proves
# demuxed frames == generated frames bit-for-bit).
# ---------------------------------------------------------------------------


def _dib_encode_frame(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → raw bottom-up BGR DIB rows, 4-byte padded
    (the pixel payload of one '00db' chunk — a BMP body without headers)."""
    h, w, _ = img.shape
    rowsz = (w * 3 + 3) & ~3
    pad = b"\x00" * (rowsz - w * 3)
    bgr = img[:, :, ::-1]
    return b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))


def _dib_decode_frame(
    data: bytes, w: int, h: int, *, topdown: bool = False
) -> np.ndarray:
    rowsz = (w * 3 + 3) & ~3
    if len(data) != rowsz * h:
        raise ValueError("avi frame size mismatch")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(h, rowsz)
    bgr = arr[:, : w * 3].reshape(h, w, 3)
    if not topdown:  # positive biHeight = bottom-up row order
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()


def avi_encode(frames: list, *, fps: int = 10) -> bytes:
    """Encode equal-shaped uint8 frames → AVI (RIFF) with uncompressed
    24-bit DIB '00db' chunks and an idx1 index. Gray frames broadcast
    to RGB; alpha is dropped (bmp_encode's channel policy)."""
    norm = []
    for f in frames:
        f = np.ascontiguousarray(f, dtype=np.uint8)
        if f.ndim == 2:
            f = f[:, :, None]
        if f.shape[2] == 1:
            f = np.repeat(f, 3, axis=2)
        elif f.shape[2] == 4:
            f = f[:, :, :3]
        if f.shape[2] != 3:
            raise ValueError(f"avi_encode: unsupported channel count {f.shape[2]}")
        norm.append(f)
    if not norm:
        raise ValueError("avi_encode: need at least one frame")
    h, w, _ = norm[0].shape
    if any(f.shape != (h, w, 3) for f in norm):
        raise ValueError("avi_encode: frames must share one shape")
    bodies = [_dib_encode_frame(f) for f in norm]
    frame_sz = len(bodies[0])

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) % 2 else b""
        )

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    avih = struct.pack(
        "<10I4I",
        1_000_000 // fps, frame_sz * fps, 0, 0x10,  # AVIF_HASINDEX
        len(bodies), 0, 1, frame_sz, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIII4H",
            0, 0, 0, 0, 1, fps, 0, len(bodies), frame_sz, 0, 0,
            0, 0, w, h,
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz, 2835, 2835, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_items = [chunk(b"00db", b) for b in bodies]
    movi = lst(b"movi", b"".join(movi_items))
    # idx1 offsets are relative to the 'movi' fourcc position
    idx, off = [], 4
    for it in movi_items:
        idx.append(b"00db" + struct.pack("<III", 0x10, off, len(it) - 8))
        off += len(it)
    idx1 = chunk(b"idx1", b"".join(idx))
    payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size); word-aligned walk
    with the truncation taxonomy."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated avi chunk")
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > end:
            raise ValueError("truncated avi chunk")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size % 2)


def avi_demux(payload: bytes) -> tuple[int, int, list]:
    """Decode AVI bytes → (width, height, [frame (H, W, 3) uint8 ...]).
    Stable ValueError taxonomy, mirroring png_decode/bmp_decode."""
    data = bytes(payload)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("bad riff signature")
    (riff_sz,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_sz)
    w = h = None
    topdown = False
    frames: list = []
    saw_movi = False
    for fourcc, p, size in _riff_chunks(data, 12, end):
        if fourcc != b"LIST":
            continue
        kind = data[p : p + 4]
        if kind == b"hdrl":
            for f2, p2, s2 in _riff_chunks(data, p + 4, p + size):
                if f2 == b"LIST" and data[p2 : p2 + 4] == b"strl":
                    for f3, p3, s3 in _riff_chunks(data, p2 + 4, p2 + s2):
                        if f3 == b"strf" and s3 >= 40:
                            _, bw, bh, _, bpp, comp = struct.unpack_from(
                                "<IiiHHI", data, p3
                            )
                            if comp != 0 or bpp != 24:
                                raise ValueError("unsupported avi compression")
                            # negative biHeight = top-down row order
                            # (spec-valid, common from Windows encoders)
                            w, h, topdown = bw, abs(bh), bh < 0
        elif kind == b"movi":
            saw_movi = True
            if w is None:
                raise ValueError("missing avi headers")
            for f2, p2, s2 in _riff_chunks(data, p + 4, p + size):
                if f2 in (b"00db", b"00dc"):
                    frames.append(
                        _dib_decode_frame(
                            data[p2 : p2 + s2], w, h, topdown=topdown
                        )
                    )
    if w is None or not saw_movi:
        raise ValueError("missing avi headers")
    return w, h, frames


def _unsupported_video(name: str) -> Callable[[bytes], tuple]:
    def _raise(_: bytes) -> tuple:
        raise NotImplementedError(
            f"{name} demuxing requires a media library not present in this "
            "environment; register a demuxer in VIDEO_DEMUXERS"
        )

    return _raise


def _fake_video_demux(payload: bytes) -> tuple[int, int, list]:
    """Deterministic fake: 256-byte windows reshaped as 16×16 gray frames
    (the plumbing stand-in, kept for schema/batching tests)."""
    data = bytes(payload)
    n = max(1, len(data) // 256)
    frames = [
        np.frombuffer(data[i * 256 : (i + 1) * 256].ljust(256, b"\0"), np.uint8)
        .reshape(16, 16, 1)
        for i in range(n)
    ]
    return 16, 16, frames


VIDEO_DEMUXERS: dict[str, Callable[[bytes], tuple]] = {
    "fake:frames256": _fake_video_demux,
    "avi": avi_demux,
    "mp4": _unsupported_video("mp4"),
}


# ---------------------------------------------------------------------------
# Perceptual image fingerprint (dHash) + banded near-dup blocking — the
# image member of the dedup family (text: minhash/simhash, audio:
# band-energy blocking). Pixel-based, so it survives re-encoding across
# codecs (PNG↔BMP of the same pixels → identical fingerprint), which no
# byte-level hash can.
# ---------------------------------------------------------------------------

DHASH_BITS = 63  # top bit masked off: value stays non-negative in
# signed int64 on BOTH engines, so band shifts/masks behave identically
DHASH_BANDS, DHASH_BAND_BITS = 9, 7  # 9 bands × 7 bits = 63; pigeonhole:
# any pair with hamming ≤ 8 shares at least one unchanged band


def image_dhash_value(img: np.ndarray) -> int:
    """Difference hash of a decoded image: gray → area block-mean to an
    8×9 grid → horizontal neighbor comparisons → 63-bit integer.
    Deterministic numpy throughout (the oracle twin runs this SAME
    function over the same bytes)."""
    if img.ndim == 3:
        gray = img.astype(np.float64).mean(axis=2)
    else:
        gray = img.astype(np.float64)
    h, w = gray.shape
    if h < 8 or w < 9:
        raise ValueError(f"image too small for dhash ({w}x{h})")
    re_ = np.linspace(0, h, 9).astype(int)
    ce = np.linspace(0, w, 10).astype(int)
    cells = np.array(
        [
            [gray[re_[i]:re_[i + 1], ce[j]:ce[j + 1]].mean() for j in range(9)]
            for i in range(8)
        ]
    )
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()
    v = 0
    for b in bits[:DHASH_BITS]:
        v = (v << 1) | int(b)
    return v


IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("item_id", StringType()),
        StructField("dhash", LongType()),
        StructField("decode_error", StringType()),
    ]
)


def image_dhash(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    bytes_col: str = "payload",
    codec_col: str = "codec",
) -> DataFrame:
    """Decode + fingerprint images in one `map_payloads` pass. Decode
    failures are rows (NULL dhash + the stable error string), not
    exceptions."""
    from .payload import map_payloads

    def kernel(payload, codec):
        try:
            dec = IMAGE_DECODERS.get(codec)
            if dec is None:
                raise ValueError(f"no decoder for {codec!r}")
            return image_dhash_value(dec(bytes(payload))), None
        except Exception as exc:
            return None, str(exc)[:120]

    src = df.select(F.col(id_col).alias("item_id"), bytes_col, codec_col)
    return map_payloads(
        src, bytes_col, [codec_col], kernel, IMAGE_DHASH_SCHEMA.fields[1:]
    ).select(*IMAGE_DHASH_SCHEMA.fieldNames())


def image_dup_pairs(
    fingerprints: DataFrame,
    *,
    max_hamming: int = 6,
    id_col: str = "item_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate image pairs by banded dHash blocking:
    ``dedup.hamming_band_pairs`` over the 63-bit dHash cut into
    DHASH_BANDS slices of DHASH_BAND_BITS bits. The pigeonhole bound
    guarantees every pair with hamming < DHASH_BANDS shares a slice, so
    max_hamming <= DHASH_BANDS - 1 has perfect recall; the frame that
    shuffles carries (id, hash, band) longs only — never pixels.
    Returns (id_a, id_b, hamming), id_a < id_b, each pair once."""
    from .dedup import hamming_band_pairs

    if not (0 <= max_hamming <= DHASH_BANDS - 1):
        raise ValueError(
            f"max_hamming must be in [0, {DHASH_BANDS - 1}] for guaranteed "
            f"recall with {DHASH_BANDS} bands, got {max_hamming}"
        )
    return hamming_band_pairs(
        fingerprints.filter(F.col(hash_col).isNotNull()),
        id_col=id_col,
        hash_col=hash_col,
        n_bands=DHASH_BANDS,
        band_bits=DHASH_BAND_BITS,
        max_hamming=max_hamming,
    )


def check_video(payload, codec: str):
    """Single-container demux check; the kernel shared by the fused
    VideoDecodeRule pass below and the oracle twin in sources/synth.py
    (same function over the same bytes ⇒ bit-identical error strings —
    the check_image/check_clip precedent).

    Returns (ok, err, width, height, n_frames)."""
    try:
        demux = VIDEO_DEMUXERS.get(codec)
        if demux is None:
            raise ValueError(f"no demuxer for {codec!r}")
        if payload is None:
            raise ValueError("null payload")
        w, h, frames = demux(bytes(payload))
        return True, None, int(w), int(h), len(frames)
    except Exception as exc:  # demux failures are data, not crashes
        return False, str(exc)[:120], None, None, None


def with_video_checks(df: DataFrame, rule, *, key_col: str = "clip_id") -> DataFrame:
    """Append __vid_ok / __vid_err / __vid_w / __vid_h / __vid_frames and
    DROP the payload column — the video member of the fused payload-rule
    family (with_audio_checks / with_image_checks): one zero-copy
    `map_payloads` pass, payloads reach the demuxer as buffer slices, and
    everything downstream flows narrow rows."""
    from .payload import map_payloads

    return map_payloads(
        df,
        rule.bytes_column,
        [rule.codec_column],
        check_video,
        [
            StructField("__vid_ok", BooleanType()),
            StructField("__vid_err", StringType()),
            StructField("__vid_w", IntegerType()),
            StructField("__vid_h", IntegerType()),
            StructField("__vid_frames", IntegerType()),
        ],
    )


VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("item_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("frame", BinaryType()),
        StructField("demux_error", StringType()),
    ]
)


def video_frames(
    df: DataFrame,
    *,
    every_n: int = 1,
    id_col: str = "item_id",
    bytes_col: str = "payload",
    codec_col: str = "codec",
) -> DataFrame:
    """Real video demux + 1-in-N frame sampling: one container row fans
    out to (item_id, frame_idx, width, height, mean_luma, frame,
    demux_error) rows — sampled frames re-encoded as standalone BMP
    payloads, so the output column IS an image column (image_features /
    ImageDecodeRule compose directly downstream). Demux failure yields
    ONE row with NULL frame fields and the stable error string (same
    taxonomy contract as check_image). mapInPandas because of the 1→N
    fan-out; memory bounded by arrow batch size × frames-per-item."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, payload, codec in zip(b[id_col], b[bytes_col], b[codec_col]):
                try:
                    demux = VIDEO_DEMUXERS.get(codec)
                    if demux is None:
                        raise ValueError(f"unknown video codec {codec!r}")
                    if payload is None:
                        raise ValueError("null payload")
                    w, h, frames = demux(bytes(payload))
                    if not frames:
                        # a headers-only container must stay accountable:
                        # one error row, not a silently vanished item
                        raise ValueError("no frames in container")
                    for i in range(0, len(frames), every_n):
                        rows.append(
                            {
                                "item_id": iid,
                                "frame_idx": i,
                                "width": w,
                                "height": h,
                                "mean_luma": float(frames[i].mean()),
                                "frame": bmp_encode(frames[i]),
                                "demux_error": None,
                            }
                        )
                except (ValueError, NotImplementedError) as exc:
                    rows.append(
                        {
                            "item_id": iid,
                            "frame_idx": None,
                            "width": None,
                            "height": None,
                            "mean_luma": None,
                            "frame": None,
                            "demux_error": str(exc),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAMES_SCHEMA])

    return df.select(id_col, bytes_col, codec_col).mapInPandas(
        run, VIDEO_FRAMES_SCHEMA
    )
