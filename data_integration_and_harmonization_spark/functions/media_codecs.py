"""Stdlib+numpy media codecs for the multimodal operators.

This environment ships no codec library (PIL/opencv/ffmpeg), so the
engine implements the formats its multimodal operators need directly
from their published specifications. :data:`FORMATS` (at the end of
this module) declares each of the 14 sniffed formats once: its magic
bytes, its modality, and which of the decoders below serve it — a
content tier (frames or PCM samples), a metadata tier, a duration.
The first codecs (later sections add BMP, MJPEG-in-AVI, MPEG-1 audio
Layers I/II and the container metadata walks):

- PNG  (W3C PNG spec / RFC 2083): zlib-compressed filtered scanlines.
  Supported: bit depth 8, color types 0/2/3/4/6, non-interlaced.
- GIF  (GIF89a specification): LZW-compressed palette frames.
  Supported: global/local color tables, multi-frame, non-interlaced.
- JPEG (ITU-T T.81 + JFIF): baseline sequential DCT, Huffman coding.
  Supported: SOF0/SOF1, 8-bit, 1/3 components, sampling factors to
  2x2, DRI/RSTn; progressive and arithmetic raise (PIL rescue path).
- WAV  (RIFF/PCM): the stdlib ``wave`` module for 8/16-bit PCM, a
  RIFF walk for 24/32-bit PCM, IEEE float and WAVE_FORMAT_EXTENSIBLE.
- Y4M  (YUV4MPEG2, mjpegtools yuv4mpeg(5)): uncompressed planar
  video. Supported: progressive, Cmono / C420* / C444.

Decoding is per-payload Python — the right cost model here, because
the operators call these inside Arrow-batched ``mapInPandas`` where
the parallelism unit is the batch, not the byte. These spec-level
codecs are CANONICAL for decode (the PNG and JPEG rows try them
first — deterministic, dependency-free, covered by the
spec-derived oracle); :func:`try_pil_decode` is only the rescue path
for format variants outside the supported subset, when PIL happens
to be importable.

Encoders exist so tests and fixtures can synthesize real media
without any external dependency (PNG filter-0 rows; GIF with a
literal LZW stream; WAV via ``wave``).
"""

from __future__ import annotations

import io
import struct
import zlib
from collections.abc import Callable
from typing import NamedTuple

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
GIF_MAGICS = (b"GIF87a", b"GIF89a")

# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# ---------------------------------------------------------------- PNG


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> (H, W, C) uint8 array.

    Implements chunk walk, zlib inflate, and scanline unfiltering per
    the spec. Filters 0 (none) and 2 (up) are fully vectorized; 1
    (sub) uses a per-lane cumulative sum (mod-256 addition chain); 3
    (average) and 4 (Paeth) depend on the left-neighbor RECONSTRUCTED
    pixel, so they walk pixels left-to-right vectorizing across
    channels.
    """
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    plte = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color}")
    ch = _PNG_CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, row = int(filters[y]), data[y]
        if f == 0:
            rec = row
        elif f == 1:  # sub: additive chain per pixel lane
            rec = np.cumsum(row.reshape(w, ch), axis=0).reshape(stride)
        elif f == 2:  # up
            rec = row + prev
        elif f == 3:  # average
            rec = np.empty(stride, dtype=np.int32)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(w):
                s = slice(x * ch, (x + 1) * ch)
                left = (row[s] + ((left + (prev[s] & 0xFF)) >> 1)) & 0xFF
                rec[s] = left
        elif f == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int32)
            left = np.zeros(ch, dtype=np.int32)
            ul = np.zeros(ch, dtype=np.int32)
            for x in range(w):
                s = slice(x * ch, (x + 1) * ch)
                up = prev[s] & 0xFF
                p = left + up - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
                )
                left = (row[s] + pred) & 0xFF
                rec[s] = left
                ul = up
        else:
            raise ValueError(f"bad PNG filter {f}")
        rec = rec & 0xFF
        out[y] = rec
        prev = rec
    img = out.astype(np.uint8).reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise ValueError("paletted PNG missing PLTE")
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """(H, W) or (H, W, C) uint8 -> PNG bytes (filter 0, one IDAT)."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    scan = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * ch)], axis=1
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resample — deterministic, no interpolation
    ambiguity across platforms (pixel centers, the classic formula)."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return img[ys][:, xs]


# ---------------------------------------------------------------- GIF


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-variant LZW: variable code width (LSB-first bit packing),
    clear/end codes, 12-bit dictionary cap."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    table: list[list[int]] = []

    def reset() -> int:
        table.clear()
        table.extend([[i] for i in range(clear)] + [[], []])
        return min_code_size + 1

    width = reset()
    acc = bits = 0
    prev: list[int] | None = None
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                width = reset()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + [entry[0]])
            else:  # the KwKwK case
                entry = prev + [prev[0]]
                table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (dict-based, emits clear code first)."""
    clear = 1 << min_code_size
    end = clear + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    out = bytearray()
    acc = bits = 0

    def emit(code: int) -> None:
        nonlocal acc, bits
        acc |= code << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8

    emit(clear)
    seq: tuple[int, ...] = ()
    for idx in indices:
        cand = seq + (idx,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == (1 << 12) + 1:  # table full: clear + restart
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = (idx,)
    if seq:
        emit(table[seq])
    emit(end)
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def decode_gif(payload: bytes) -> list[np.ndarray]:
    """GIF -> list of full-canvas (H, W, 3) uint8 frames.

    Each image descriptor is decoded and composed onto the logical
    screen at its (left, top) rect — frame k is the canvas state after
    drawing image k (disposal methods beyond draw-over are not
    modeled; fixtures don't use them)."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None:
        canvas[:, :] = gct[payload[11]]  # background color index
    frames: list[np.ndarray] = []
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += payload[pos] + 1
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, iw, ih = struct.unpack("<HHHH", payload[pos : pos + 8])
        ipacked = payload[pos + 8]
        pos += 9
        table = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(-1, 3)
            pos += 3 * n
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if table is None:
            raise ValueError("GIF image with no color table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            size = payload[pos]
            data.extend(payload[pos + 1 : pos + 1 + size])
            pos += size + 1
        pos += 1
        idx = _lzw_decode(bytes(data), min_code)
        if len(idx) < iw * ih:
            raise ValueError("GIF frame pixel data truncated")
        rect = table[np.asarray(idx[: iw * ih], dtype=np.int32)].reshape(ih, iw, 3)
        canvas[top : top + ih, left : left + iw] = rect
        frames.append(canvas.copy())
    return frames


def encode_gif(
    frames: list[np.ndarray], delays: list[int] | None = None
) -> bytes:
    """List of (H, W, 3) uint8 frames (same size, <=256 distinct colors
    across all frames) -> animated GIF89a bytes. ``delays`` (per-frame
    centiseconds) emits a Graphic Control Extension before each image
    descriptor — the spec's presentation-timing block."""
    if not frames:
        raise ValueError("need at least one frame")
    if delays is not None and len(delays) != len(frames):
        raise ValueError("delays must match frames 1:1")
    h, w = frames[0].shape[:2]
    flat = np.concatenate([f.reshape(-1, 3) for f in frames])
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("encode_gif supports <=256 distinct colors")
    # pad palette to a power of two >= 2
    bits = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    padded = np.zeros((1 << bits, 3), dtype=np.uint8)
    padded[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT flag+size, bg=0, aspect=0
    out += padded.tobytes()
    n_px = h * w
    min_code = max(2, bits)
    for k in range(len(frames)):
        idx = inverse[k * n_px : (k + 1) * n_px].tolist()
        if delays is not None:
            # GCE: size 4, no disposal/transparency, LE delay
            out += b"\x21\xf9\x04\x00" + struct.pack("<H", delays[k]) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(min_code)
        data = _lzw_encode(idx, min_code)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------- WAV


def _wav_view(payload: bytes) -> tuple[int, np.ndarray, Callable[[np.ndarray], np.ndarray]]:
    """The WAV header and chunk walk, converting no sample:
    (sample_rate, a zero-copy (n_samples, n_channels)-leading view of
    the stored samples, the function that scales that view to float64
    in [-1, 1]).

    8/16-bit integer PCM rides the stdlib ``wave`` module; everything
    the stdlib rejects falls back to a direct RIFF chunk walk
    (:func:`_wav_riff_view`) covering 24/32-bit integer PCM, 32/64
    -bit IEEE float (format tag 3), and WAVE_FORMAT_EXTENSIBLE
    (0xFFFE, real tag from the SubFormat GUID) — the widths ML audio
    corpora actually contain (r13: a float32 WAV previously
    quarantined out of the content tier)."""
    import wave

    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            rate = wf.getframerate()
            ch = wf.getnchannels()
            width = wf.getsampwidth()
            raw = wf.readframes(wf.getnframes())
        if width == 2:
            return rate, np.frombuffer(raw, dtype="<i2").reshape(-1, ch), _pcm16
        if width == 1:
            return rate, np.frombuffer(raw, dtype=np.uint8).reshape(-1, ch), _pcm8
        return _wav_riff_view(payload)
    except (wave.Error, EOFError):
        # the stdlib raises bare EOFError on truncated chunk headers
        # (fuzz find, r13); the RIFF walk re-raises torn payloads as
        # the documented ValueError quarantine type
        return _wav_riff_view(payload)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV -> (sample_rate, (n_samples, n_channels) float64 in [-1, 1]),
    every format :func:`_wav_view` walks."""
    rate, view, to_float = _wav_view(payload)
    return rate, to_float(view)


def _pcm16(v: np.ndarray) -> np.ndarray:
    return v.astype(np.float64) / 32768.0


def _pcm8(v: np.ndarray) -> np.ndarray:  # 8-bit WAV is unsigned
    return (v.astype(np.float64) - 128.0) / 128.0


def _pcm24(v: np.ndarray) -> np.ndarray:  # (..., 3) little-endian bytes
    x = v[..., 0].astype(np.int64) | (v[..., 1].astype(np.int64) << 8) | (
        v[..., 2].astype(np.int64) << 16
    )
    return (((x ^ 0x800000) - 0x800000).astype(np.float64)) / float(1 << 23)


# (format tag, bits) -> (numpy sample layout, scale to float64)
_RIFF_SAMPLES: dict[tuple[int, int], tuple[str, Callable[[np.ndarray], np.ndarray]]] = {
    (3, 32): ("<f4", lambda v: v.astype(np.float64)),
    (3, 64): ("<f8", lambda v: v.astype(np.float64)),
    (1, 24): ("u1", _pcm24),
    (1, 32): ("<i4", lambda v: v.astype(np.float64) / float(1 << 31)),
    # torn header made the stdlib bail but the layout is plain PCM
    (1, 16): ("<i2", _pcm16),
    (1, 8): ("u1", _pcm8),
}


def _wav_riff_view(payload: bytes) -> tuple[int, np.ndarray, Callable[[np.ndarray], np.ndarray]]:
    """Direct RIFF/WAVE walk for the formats the stdlib rejects:
    PCM 24/32-bit, IEEE float 32/64-bit, and the EXTENSIBLE wrapper.
    Trailing partial samples and frames are dropped. Raises ValueError
    on non-WAV or unsupported format tags."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    n = len(data)
    fmt = raw = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks pad to even
    if fmt is None or raw is None or len(fmt) < 16:
        raise ValueError("missing fmt/data chunk")
    tag, ch, rate, _bps, _align, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag == 0xFFFE and len(fmt) >= 26:  # EXTENSIBLE: real tag in GUID
        tag = struct.unpack("<H", fmt[24:26])[0]
    if ch < 1:
        raise ValueError("zero-channel WAV")
    if (tag, bits) not in _RIFF_SAMPLES:
        raise ValueError(f"unsupported WAV format tag {tag} / {bits} bits")
    layout, to_float = _RIFF_SAMPLES[tag, bits]
    width = bits // 8
    flat = np.frombuffer(raw[: len(raw) // width * width], dtype=layout)
    if width == 3:  # 24-bit: one row of 3 bytes per sample
        flat = flat.reshape(-1, 3)
    usable = len(flat) // ch * ch
    return rate, flat[:usable].reshape(-1, ch, *flat.shape[1:]), to_float


def encode_wav_ext(
    rate: int, samples: np.ndarray, kind: str = "float32"
) -> bytes:
    """Fixture writer for the extended-width WAV family
    (:func:`_wav_riff_view`): ``kind`` in float32 | float64 |
    pcm24 | pcm32."""
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    ch = arr.shape[1]
    if kind == "float32":
        tag, bits, raw = 3, 32, arr.astype("<f4").tobytes()
    elif kind == "float64":
        tag, bits, raw = 3, 64, arr.astype("<f8").tobytes()
    elif kind == "pcm24":
        x = np.clip(np.round(arr * (1 << 23)), -(1 << 23), (1 << 23) - 1)
        x = x.astype(np.int64).flatten() & 0xFFFFFF
        b = np.empty((len(x), 3), dtype=np.uint8)
        b[:, 0] = x & 0xFF
        b[:, 1] = (x >> 8) & 0xFF
        b[:, 2] = (x >> 16) & 0xFF
        tag, bits, raw = 1, 24, b.tobytes()
    elif kind == "pcm32":
        x = np.clip(np.round(arr * (1 << 31)), -(1 << 31), (1 << 31) - 1)
        tag, bits, raw = 1, 32, x.astype("<i4").tobytes()
    else:
        raise ValueError(f"unknown kind {kind!r}")
    align = ch * bits // 8
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * align, align, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(rate: int, samples: np.ndarray) -> bytes:
    """(n, ch) float in [-1, 1] -> 16-bit PCM WAV bytes."""
    import wave

    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    pcm = np.clip(np.round(arr * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(arr.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


# --------------------------------------------------------------- JPEG
#
# Baseline sequential DCT per the public ITU-T T.81 spec (+ JFIF
# colorspace): the dominant format of web-scale multimodal corpora,
# which the decode family was incomplete without (r9 verdict item 5).
# Decoder: SOF0 baseline, 8-bit, 1- or 3-component, Huffman entropy
# coding, chroma sampling factors up to 2x2, DRI/RSTn restart
# intervals. Encoder: 4:4:4 (no subsampling), Annex K quantization
# and Huffman tables, IJG-style quality scaling — enough to
# synthesize real test payloads without PIL. Progressive (SOF2),
# arithmetic coding, and 12-bit precision raise ValueError (the PIL
# rescue path covers them when PIL exists).

# zigzag scan order (T.81 figure A.6): index i holds the raster
# position of the i-th zigzag coefficient
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])

# Annex K.1 / K.2 base quantization tables (zigzag order below is
# raster order here; they are emitted in zigzag order)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Annex K.3 standard Huffman tables: (BITS counts per code length
# 1..16, HUFFVAL symbol list)
_H_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_H_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None].astype(np.float64)
    n = np.arange(8)[None, :].astype(np.float64)
    m = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    m[0, :] = np.sqrt(1.0 / 8.0)
    return m


_DCT_M = _dct_matrix()


def _huff_encode_table(bits, values):
    """(BITS, HUFFVAL) -> {symbol: (code, length)} canonical codes."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _huff_decode_table(bits, values):
    """(BITS, HUFFVAL) -> {(length, code): symbol}."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = values[i]
            code += 1
            i += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (T.81 F.1.2.3 restart)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(
    wr: _BitWriter, coefs: np.ndarray, pred: int, dc_tbl, ac_tbl
) -> int:
    """One quantized 8x8 block (zigzag int array) -> bitstream; returns
    the new DC predictor."""
    dc = int(coefs[0])
    diff = dc - pred
    t = _category(diff)
    code, ln = dc_tbl[t]
    wr.write(code, ln)
    if t:
        wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if coefs[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(coefs[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]  # ZRL
            wr.write(code, ln)
            run -= 16
        t = _category(v)
        code, ln = ac_tbl[(run << 4) | t]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if last_nz != 63:
        code, ln = ac_tbl[0x00]  # EOB
        wr.write(code, ln)
    return dc


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H, W[, C]) uint8 -> baseline JFIF bytes (Annex K tables, IJG
    quality scaling). C in {1, 3}; 4-channel input drops alpha (JPEG
    has no alpha). ``subsampling`` '444' or '420' (2x2-averaged
    chroma, the dominant web form); ``restart_interval`` > 0 emits
    DRI + RSTn every that many MCUs — both exist chiefly so the
    decoder's subsampled-MCU and restart paths are testable without
    external fixtures."""
    arr = np.asarray(img, dtype=np.float64)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] == 4:
        arr = arr[:, :, :3]
    if arr.shape[2] == 2:
        arr = arr[:, :, :1]
    h, w, c = arr.shape
    if c == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        planes = [arr[..., 0]]
    sub = subsampling == "420" and c == 3
    # per-component (h, v) sampling factors
    factors = [(2, 2), (1, 1), (1, 1)] if sub else [(1, 1)] * c
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)

    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qt = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)
        qt.append(t)

    enc_dc = [_huff_encode_table(*_H_DC_LUMA), _huff_encode_table(*_H_DC_CHROMA)]
    enc_ac = [_huff_encode_table(*_H_AC_LUMA), _huff_encode_table(*_H_AC_CHROMA)]

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = []
    for ci, p in enumerate(planes):
        fh, fv = factors[ci]
        if sub and ci > 0:
            # 2x2 chroma averaging after edge-padding to even dims
            eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
            pe = np.empty((eh, ew), dtype=np.float64)
            pe[:h, :w] = p
            pe[h:, :w] = p[h - 1 : h, :]
            pe[:, w:] = pe[:, w - 1 : w]
            p = pe.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
        ph_, pw_ = mcuy * fv * 8, mcux * fh * 8
        pp = np.empty((ph_, pw_), dtype=np.float64)
        sh, sw = p.shape
        pp[:sh, :sw] = p
        pp[sh:, :sw] = p[sh - 1 : sh, :]  # edge replication
        pp[:, sw:] = pp[:, sw - 1 : sw]
        padded.append(pp - 128.0)

    wr = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            wr.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, pp in enumerate(padded):
            fh, fv = factors[ci]
            tsel = 0 if ci == 0 else 1
            for v in range(fv):
                for hs in range(fh):
                    y0 = (my * fv + v) * 8
                    x0 = (mx * fh + hs) * 8
                    blk = pp[y0 : y0 + 8, x0 : x0 + 8]
                    coef = _DCT_M @ blk @ _DCT_M.T
                    qz = np.round(coef / qt[tsel]).astype(np.int64)
                    # reshape(-1)[_ZIGZAG][j] = raster coefficient at
                    # the j-th zigzag position — T.81's emit order
                    preds[ci] = _encode_block(
                        wr, qz.reshape(-1)[_ZIGZAG], preds[ci],
                        enc_dc[tsel], enc_ac[tsel],
                    )
    scan = wr.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid in range(2 if c == 3 else 1):
        zz = qt[tid].reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz
    comp = b"".join(
        bytes([ci + 1, (factors[ci][0] << 4) | factors[ci][1], 0 if ci == 0 else 1])
        for ci in range(c)
    )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * c, 8, h, w, c) + comp
    tables = [(0x00, _H_DC_LUMA), (0x10, _H_AC_LUMA)]
    if c == 3:
        tables += [(0x01, _H_DC_CHROMA), (0x11, _H_AC_CHROMA)]
    for tc, (bits, values) in tables:
        seg = bytes([tc]) + bytes(bits) + bytes(values)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos_comp = b"".join(
        bytes([ci + 1, 0x00 if ci == 0 else 0x11]) for ci in range(c)
    )
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * c) + bytes([c]) + sos_comp + bytes([0, 63, 0])
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Entropy-segment reader: unstuffs FF 00, stops at any marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos < len(d):
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    return
                # a real marker: feed 1-bits (decoder will stop at it)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
            self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
            return
        self.acc = (self.acc << 8) | 0xFF  # past end: pad
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Drop partial byte, skip the next marker, return its code."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and d[self.pos + 1] not in (0x00, 0xFF):
                code = d[self.pos + 1]
                self.pos += 2
                return code
            self.pos += 1
        return 0xD9


def _decode_huff(rd: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rd.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF/JPEG -> (H, W, C) uint8 (C = 1 or 3, RGB).

    Supports SOF0 (baseline sequential DCT, 8-bit), Huffman coding,
    sampling factors up to 2, DRI/RSTn restart intervals. Progressive
    / arithmetic / 12-bit raise ValueError.
    """
    d = payload
    if d[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos < len(d):
        if d[pos] != 0xFF:
            pos += 1
            continue
        marker = d[pos + 1]
        if marker == 0xFF:
            # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede
            # a marker — skip them (real encoders emit these; treating
            # the fill as a marker would consume a garbage length)
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG has no scan data")
        seglen = struct.unpack(">H", d[pos : pos + 2])[0]
        seg = d[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq == 0:
                    vals = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                else:
                    vals = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = vals
                qts[tq] = t.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                values = list(seg[i + 17 : i + 17 + n])
                (ac_tabs if tc else dc_tabs)[th] = _huff_decode_table(bits, values)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 (both Huffman sequential)
            prec, fh, fw, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci], seg[7 + 3 * ci], seg[8 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker == 0xC2:
            raise ValueError("progressive JPEG not supported (use PIL rescue path)")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type SOF{marker & 0xF}")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            sel = {}
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                sel[cs] = (tt >> 4, tt & 0xF)
            return _decode_scan(
                d, pos + seglen, frame, sel, qts, dc_tabs, ac_tabs,
                restart_interval,
            )
        pos += seglen
    raise ValueError("JPEG truncated before SOS")


def _decode_scan(
    d, pos, frame, sel, qts, dc_tabs, ac_tabs, restart_interval
) -> np.ndarray:
    fh, fw, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        )
    rd = _BitReader(d, pos)
    preds = [0] * len(comps)
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            code = rd.align_to_marker()
            if not (0xD0 <= code <= 0xD7):
                raise ValueError("missing JPEG restart marker")
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(comps):
            td, ta = sel[c["id"]]
            qt = qts[c["tq"]]
            for v in range(c["v"]):
                for hsub in range(c["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    t = _decode_huff(rd, dc_tabs[td])
                    diff = _extend(rd.read_bits(t), t) if t else 0
                    preds[ci] += diff
                    zz[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = _decode_huff(rd, ac_tabs[ta])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index overflow")
                        zz[k] = _extend(rd.read_bits(s), s)
                        k += 1
                    blk = np.zeros(64, dtype=np.float64)
                    blk[_ZIGZAG] = zz * qt.reshape(-1)[_ZIGZAG]
                    px = _DCT_M.T @ blk.reshape(8, 8) @ _DCT_M + 128.0
                    y0 = (my * c["v"] + v) * 8
                    x0 = (mx * c["h"] + hsub) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
    # upsample subsampled planes to full frame size (replication)
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:fh, :fw])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------------- PIL preference


def try_pil_decode(payload: bytes) -> np.ndarray | None:
    """Decode an image payload with PIL when it's importable — the
    RESCUE path for variants the spec codec doesn't cover (interlaced
    PNG, 16-bit depth, exotic modes); None when PIL is absent or
    fails. Native band counts (L/LA/RGB/RGBA) are preserved so the
    features match what :func:`decode_png` would produce for the same
    pixel layout; other modes normalize to RGB."""
    try:
        from PIL import Image
    except ImportError:
        return None
    try:
        with Image.open(io.BytesIO(payload)) as im:
            if im.mode not in ("L", "LA", "RGB", "RGBA"):
                im = im.convert("RGB")
            return np.asarray(im)
    except Exception:
        return None


# ---------------------------------------------------------------- Y4M
#
# YUV4MPEG2 — the public uncompressed video interchange format
# (mjpegtools yuv4mpeg(5)): an ASCII stream header carrying geometry /
# frame-rate / colorspace tags, then per frame an ASCII `FRAME` marker
# followed by raw planar YCbCr. It is the standard codec-free way to
# move video between tools (ffmpeg, x264, mjpegtools all speak it),
# which makes it the right spec-level "video" for an engine whose
# container ships no codec library: real geometry, real frame rate,
# real plane math — no entropy coding to re-implement. Supported
# subset: progressive (`Ip` or absent), `Cmono` (luma only),
# `C420jpeg`/`C420mpeg2`/`C420paldv` (2x2-subsampled chroma; the three
# tags differ only in chroma SITING, which plane extraction ignores),
# and `C444`. Interlaced streams and other colorspaces raise.

Y4M_MAGIC = b"YUV4MPEG2 "


def _parse_y4m_tags(line: bytes) -> dict[str, bytes]:
    tags: dict[str, bytes] = {}
    for tok in line.split(b" "):
        if tok:
            tags[tok[:1].decode("ascii")] = tok[1:]
    return tags


def _y4m_walk(payload: bytes) -> tuple[float, int, int, int, list[int]]:
    """The Y4M stream header and FRAME-marker walk, touching no pixel:
    (fps, w, h, chroma_div, byte offset of each frame's planes).
    ``chroma_div`` is 0 for mono, else the chroma subsampling factor.
    Raises ValueError on anything :func:`decode_y4m` cannot decode."""
    if payload[: len(Y4M_MAGIC)] != Y4M_MAGIC:
        raise ValueError("not a YUV4MPEG2 stream")
    nl = payload.index(b"\n")
    tags = _parse_y4m_tags(payload[len(Y4M_MAGIC) - 1 : nl])
    if "W" not in tags or "H" not in tags:
        raise ValueError("Y4M header missing W/H")
    w, h = int(tags["W"]), int(tags["H"])
    if tags.get("I", b"p") not in (b"p", b"?"):
        raise ValueError("interlaced Y4M unsupported")
    num, _, den = tags.get("F", b"25:1").partition(b":")
    fps = int(num) / int(den or b"1")
    cs = tags.get("C", b"420jpeg").decode("ascii")
    if cs == "mono":
        chroma_div = 0
    elif cs in ("420jpeg", "420mpeg2", "420paldv", "420"):
        if w % 2 or h % 2:
            raise ValueError("C420 requires even geometry")
        chroma_div = 2
    elif cs == "444":
        chroma_div = 1
    else:
        raise ValueError(f"unsupported Y4M colorspace C{cs}")
    y_len = w * h
    c_len = 0 if chroma_div == 0 else (w // chroma_div) * (h // chroma_div)
    offsets: list[int] = []
    pos = nl + 1
    n = len(payload)
    while pos < n:
        fnl = payload.index(b"\n", pos)
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        pos = fnl + 1
        end = pos + y_len + 2 * c_len
        if end > n:
            raise ValueError("truncated Y4M frame")
        offsets.append(pos)
        pos = end
    return fps, w, h, chroma_div, offsets


def decode_y4m(payload: bytes) -> tuple[float, list[np.ndarray]]:
    """Y4M -> (fps, frames). Frames are uint8 arrays: (h, w) for mono,
    (h, w, 3) YCbCr for subsampled/full chroma (chroma planes
    nearest-upsampled to luma geometry — exact for chroma constant
    within each 2x2 site, the fixture regime). Values are YCbCr as
    stored; no RGB conversion (features read the Y plane directly)."""
    fps, w, h, chroma_div, offsets = _y4m_walk(payload)
    y_len = w * h
    frames: list[np.ndarray] = []
    for pos in offsets:
        yp = np.frombuffer(payload, dtype=np.uint8, count=y_len, offset=pos).reshape(h, w)
        if chroma_div == 0:
            frames.append(yp.copy())
            continue
        ch, cw = h // chroma_div, w // chroma_div
        cb, cr = (
            np.frombuffer(
                payload, dtype=np.uint8, count=ch * cw, offset=pos + y_len + k * ch * cw
            ).reshape(ch, cw)
            for k in (0, 1)
        )
        if chroma_div > 1:  # nearest upsample to luma geometry
            cb = np.repeat(np.repeat(cb, chroma_div, 0), chroma_div, 1)
            cr = np.repeat(np.repeat(cr, chroma_div, 0), chroma_div, 1)
        frames.append(np.stack([yp, cb, cr], axis=2))
    return fps, frames


def encode_y4m(
    frames: list[np.ndarray], fps: tuple[int, int] = (25, 1)
) -> bytes:
    """Frames -> Y4M bytes. 2-D uint8 frames write `Cmono`; (h, w, 3)
    YCbCr frames write `C420jpeg` (chroma 2x2 box-mean subsampled —
    lossless round-trip when chroma is constant per 2x2 site). All
    frames must share one geometry; C420 needs even dims."""
    if not frames:
        raise ValueError("need at least one frame")
    f0 = np.asarray(frames[0])
    color = f0.ndim == 3
    h, w = f0.shape[:2]
    cs = b"C420jpeg" if color else b"Cmono"
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 %s\n" % (w, h, fps[0], fps[1], cs)]
    for fr in frames:
        a = np.asarray(fr, dtype=np.uint8)
        if a.shape[:2] != (h, w) or (a.ndim == 3) != color:
            raise ValueError("frame geometry mismatch")
        out.append(b"FRAME\n")
        if not color:
            out.append(a.tobytes())
        else:
            if h % 2 or w % 2:
                raise ValueError("C420 requires even geometry")
            out.append(a[:, :, 0].tobytes())
            for p in (1, 2):
                c = a[:, :, p].astype(np.uint16)
                sub = (c[0::2, 0::2] + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2] + 2) // 4
                out.append(sub.astype(np.uint8).tobytes())
    return b"".join(out)


def gif_frame_delays(payload: bytes) -> list[int]:
    """Per-frame delays in centiseconds from the Graphic Control
    Extension preceding each image descriptor (GIF89a spec block
    0x21/0xF9: packed byte, 2-byte little-endian delay, transparent
    index). Frames without a GCE report 0 — the spec's own default.
    Presentation metadata only: :func:`decode_gif` ignores it, the
    video features use it to derive a nominal fps for animations."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
    delays: list[int] = []
    pending = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:
            break
        if block == 0x21:
            label = payload[pos]
            pos += 1
            if label == 0xF9 and payload[pos] >= 3:
                pending = struct.unpack(
                    "<H", payload[pos + 2 : pos + 4]
                )[0]
            while payload[pos]:
                pos += payload[pos] + 1
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        delays.append(pending)
        pending = 0  # a GCE governs only the next image
        left, top, iw, ih = struct.unpack("<HHHH", payload[pos : pos + 8])
        ipacked = payload[pos + 8]
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
        pos += 1  # LZW min code size
        while payload[pos]:
            pos += payload[pos] + 1
        pos += 1
    return delays


# ------------------------------------------------------- perceptual hash


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash of a decoded image — the standard
    public pHash recipe (Zauner, "Implementation and Benchmarking of
    Perceptual Image Hash Functions", 2010; same shape as the
    imagehash library's ``phash``):

    1. luma plane (BT.601 ``0.299 R + 0.587 G + 0.114 B`` for color,
       the channel itself for grayscale);
    2. nearest-neighbor resample to 32x32 (:func:`resize_nearest` —
       deterministic integer index map, no interpolation ambiguity);
    3. 2-D DCT-II, keeping only the top-left 8x8 LOW-FREQUENCY block
       (computed directly as ``D @ g @ D.T`` with the 8x32 cosine
       matrix — never materializes the full 32x32 spectrum);
    4. threshold each of the 64 coefficients against their MEDIAN:
       bit ``u*8+v`` is set iff ``coef[u][v] > median``.

    Coefficients are rounded to 6 decimals BEFORE the median compare:
    analytically-zero coefficients (separable gradients, constant
    blocks) come out of float matmul as ~1e-11 noise whose SIGN is
    platform-dependent — rounding lands them on exactly 0.0, making
    the hash stable across BLAS builds and reproducible by the
    engine's SQL oracles, which recompute the same sums in DuckDB.

    Returns a SIGNED 64-bit int (bit 63 wraps negative) so the value
    round-trips through Spark's LongType unchanged. The hash survives
    re-encoding (PNG vs JPEG quality shifts move pixels slightly but
    barely move the low-frequency band) — pair it with the banded
    Hamming self-join for image near-dup at corpus scale.
    """
    g = resize_nearest(_bt601_luma(img), 32, 32)
    y = np.arange(32, dtype=np.float64)[None, :]
    u = np.arange(8, dtype=np.float64)[:, None]
    d = np.cos(np.pi * (2.0 * y + 1.0) * u / 64.0)  # 8x32 cosine rows
    block = np.round(d @ g @ d.T, 6)  # 8x8 low band, platform-stable
    return _median_bits64(block)  # pos = u*8 + v


def _bt601_luma(f: np.ndarray) -> np.ndarray:
    """Luma plane of a decoded frame as float64: BT.601
    ``0.299 R + 0.587 G + 0.114 B`` for color, the first channel of a
    gray or gray+alpha frame, a 2-D frame itself."""
    if f.ndim == 2:
        return f.astype(np.float64)
    if f.shape[2] < 3:
        return f[:, :, 0].astype(np.float64)
    return (
        0.299 * f[:, :, 0].astype(np.float64)
        + 0.587 * f[:, :, 1].astype(np.float64)
        + 0.114 * f[:, :, 2].astype(np.float64)
    )


def _median_bits64(grid: np.ndarray) -> int:
    """Signed 64-bit hash of a 64-cell grid: bit i (row-major) is set
    iff cell i exceeds the grid's median; bit 63 wraps negative so the
    value round-trips through Spark's LongType unchanged."""
    med = float(np.median(grid))
    h = 0
    for i, b in enumerate((grid > med).flatten()):
        if b:
            h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h


# ------------------------------------------------------ MP4 / ISO-BMFF
#
# Box-structure metadata only, from the public ISO/IEC 14496-12
# grammar: a file is a sequence of [size:u32][type:4cc][payload]
# boxes (size 1 -> u64 largesize follows; size 0 -> to end of file),
# containers nest the same grammar. Duration / fps / geometry / codec
# come from mvhd, tkhd, mdhd, hdlr, stsd and stts WITHOUT touching a
# media frame — full H.264/AAC decode is out of scope (and
# unnecessary: curation triage wants the envelope, not the pixels).

_MP4_CONTAINERS = frozenset((b"moov", b"trak", b"mdia", b"minf", b"stbl"))


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in
    data[start:end], per the 14496-12 size grammar."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        btype = data[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box header")
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            payload = pos + 16
        elif size == 0:
            size = end - pos
        if size < payload - pos or pos + size > end:
            raise ValueError(f"box {btype!r} overruns its container")
        yield btype, payload, pos + size
        pos += size


def _mp4_fullbox(data: bytes, start: int) -> tuple[int, int]:
    """(version, first-content offset) of a FullBox payload."""
    return data[start], start + 4


def parse_mp4_meta(payload: bytes) -> dict:
    """Container metadata of an ISO-BMFF (MP4/MOV/M4A) payload:

    ``{'brand', 'timescale', 'duration', 'duration_sec',
    'tracks': [{'track_id', 'handler', 'codec', 'timescale',
    'duration', 'n_samples', 'fps', 'width', 'height'}]}``

    - movie duration from ``mvhd`` (version 0 u32 / version 1 u64
      fields per spec);
    - per track: geometry from ``tkhd`` (width/height are 16.16
      fixed-point), media timescale/duration from ``mdhd``, the
      handler fourcc from ``hdlr`` ('vide'/'soun'), the sample-entry
      codec fourcc from ``stsd``, and the sample count from ``stts``
      run-lengths;
    - ``fps = timescale * n_samples / media duration`` — exactly the
      stts arithmetic, no frame decode (None for non-video or
      zero-duration tracks).

    Raises ValueError on payloads that violate the box grammar."""
    if not _is_mp4(payload):
        raise ValueError("not an ISO-BMFF payload")
    data = bytes(payload)
    meta: dict = {"brand": None, "timescale": None, "duration": None, "tracks": []}

    def walk(start: int, end: int, track: dict | None) -> None:
        for btype, p, q in _mp4_boxes(data, start, end):
            if btype == b"ftyp":
                meta["brand"] = data[p : p + 4].decode("latin-1")
            elif btype == b"mvhd":
                ver, c = _mp4_fullbox(data, p)
                if ver == 1:
                    meta["timescale"] = struct.unpack(">I", data[c + 16 : c + 20])[0]
                    meta["duration"] = struct.unpack(">Q", data[c + 20 : c + 28])[0]
                else:
                    meta["timescale"] = struct.unpack(">I", data[c + 8 : c + 12])[0]
                    meta["duration"] = struct.unpack(">I", data[c + 12 : c + 16])[0]
            elif btype == b"trak":
                t = {
                    "track_id": None,
                    "handler": None,
                    "codec": None,
                    "timescale": None,
                    "duration": None,
                    "n_samples": None,
                    "fps": None,
                    "width": None,
                    "height": None,
                }
                meta["tracks"].append(t)
                walk(p, q, t)
            elif btype == b"tkhd" and track is not None:
                ver, c = _mp4_fullbox(data, p)
                track["track_id"] = struct.unpack(
                    ">I", data[c + (16 if ver == 1 else 8) : c + (20 if ver == 1 else 12)]
                )[0]
                # width/height: the LAST 8 bytes of the box, 16.16 fixed
                w, h = struct.unpack(">II", data[q - 8 : q])
                track["width"] = w / 65536.0
                track["height"] = h / 65536.0
            elif btype == b"mdhd" and track is not None:
                ver, c = _mp4_fullbox(data, p)
                if ver == 1:
                    track["timescale"] = struct.unpack(">I", data[c + 16 : c + 20])[0]
                    track["duration"] = struct.unpack(">Q", data[c + 20 : c + 28])[0]
                else:
                    track["timescale"] = struct.unpack(">I", data[c + 8 : c + 12])[0]
                    track["duration"] = struct.unpack(">I", data[c + 12 : c + 16])[0]
            elif btype == b"hdlr" and track is not None:
                _, c = _mp4_fullbox(data, p)
                track["handler"] = data[c + 4 : c + 8].decode("latin-1")
            elif btype == b"stsd" and track is not None:
                _, c = _mp4_fullbox(data, p)
                if struct.unpack(">I", data[c : c + 4])[0] >= 1:
                    track["codec"] = data[c + 8 : c + 12].decode("latin-1")
            elif btype == b"stts" and track is not None:
                _, c = _mp4_fullbox(data, p)
                n_entries = struct.unpack(">I", data[c : c + 4])[0]
                total = 0
                for i in range(n_entries):
                    total += struct.unpack(">I", data[c + 4 + 8 * i : c + 8 + 8 * i])[0]
                track["n_samples"] = total
            elif btype in _MP4_CONTAINERS:
                walk(p, q, track)

    walk(0, len(data), None)
    ts, dur = meta["timescale"], meta["duration"]
    meta["duration_sec"] = (dur / ts) if ts else None
    for t in meta["tracks"]:
        if (
            t["handler"] == "vide"
            and t["n_samples"]
            and t["timescale"]
            and t["duration"]
        ):
            t["fps"] = t["timescale"] * t["n_samples"] / t["duration"]
    return meta


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mp4_meta(
    width: int,
    height: int,
    n_frames: int,
    timescale: int = 30000,
    frame_delta: int = 1001,
    codec: bytes = b"avc1",
    with_audio: bool = False,
) -> bytes:
    """Minimal spec-shaped ISO-BMFF fixture: ftyp + moov(mvhd +
    trak(tkhd + mdia(mdhd + hdlr + minf(vmhd + dinf/dref +
    stbl(stsd + stts + stsc + stsz + stco))))) + empty mdat. The
    sample tables carry real run-lengths (one stts run of
    ``n_frames x frame_delta``) but reference no media bytes — the
    metadata-parsing analogue of the engine's other synthetic
    fixtures, with every derived quantity a closed form:
    ``fps = timescale/frame_delta``, media duration =
    ``n_frames * frame_delta``. ``with_audio`` appends a second,
    'soun'-handler mp4a track so multi-track walks are testable."""
    media_dur = n_frames * frame_delta
    movie_ts = 1000
    movie_dur = (media_dur * movie_ts + timescale - 1) // timescale
    unity = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)

    def mvhd() -> bytes:
        return _mp4_box(
            b"mvhd",
            struct.pack(">I", 0)  # version 0 + flags
            + struct.pack(">IIII", 0, 0, movie_ts, movie_dur)
            + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, rsvd
            + b"\x00" * 8
            + unity
            + b"\x00" * 24
            + struct.pack(">I", 3),  # next_track_ID
        )

    def tkhd(track_id: int, w: int, h: int) -> bytes:
        return _mp4_box(
            b"tkhd",
            struct.pack(">I", 3)  # version 0, flags: enabled|in-movie
            + struct.pack(">IIII", 0, 0, track_id, 0)
            + struct.pack(">I", movie_dur)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0x0100 if w == 0 else 0, 0)
            + unity
            + struct.pack(">II", w << 16, h << 16),
        )

    def mdhd() -> bytes:
        return _mp4_box(
            b"mdhd",
            struct.pack(">I", 0)
            + struct.pack(">IIII", 0, 0, timescale, media_dur)
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )

    def hdlr(handler: bytes, name: bytes) -> bytes:
        return _mp4_box(
            b"hdlr",
            struct.pack(">I", 0) + b"\x00" * 4 + handler + b"\x00" * 12 + name + b"\x00",
        )

    def stbl(entry: bytes) -> bytes:
        stsd = _mp4_box(b"stsd", struct.pack(">II", 0, 1) + entry)
        stts = _mp4_box(
            b"stts", struct.pack(">IIII", 0, 1, n_frames, frame_delta)
        )
        stsc = _mp4_box(b"stsc", struct.pack(">II", 0, 0))
        stsz = _mp4_box(b"stsz", struct.pack(">III", 0, 0, n_frames))
        stco = _mp4_box(b"stco", struct.pack(">II", 0, 0))
        return _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)

    def visual_entry() -> bytes:
        body = (
            b"\x00" * 6
            + struct.pack(">H", 1)  # data_reference_index
            + b"\x00" * 16
            + struct.pack(">HH", width, height)
            + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
            + b"\x00" * 4
            + struct.pack(">H", 1)  # frame_count
            + b"\x00" * 32  # compressorname
            + struct.pack(">Hh", 24, -1)  # depth, pre_defined
        )
        return _mp4_box(codec, body)

    def audio_entry() -> bytes:
        body = (
            b"\x00" * 6
            + struct.pack(">H", 1)
            + b"\x00" * 8
            + struct.pack(">HHI", 2, 16, 0)  # channels, samplesize
            + struct.pack(">I", 44100 << 16)
        )
        return _mp4_box(b"mp4a", body)

    dref = _mp4_box(
        b"dinf",
        _mp4_box(
            b"dref",
            struct.pack(">II", 0, 1) + _mp4_box(b"url ", struct.pack(">I", 1)),
        ),
    )
    vmhd = _mp4_box(b"vmhd", struct.pack(">I", 1) + b"\x00" * 8)
    smhd = _mp4_box(b"smhd", struct.pack(">I", 0) + b"\x00" * 4)
    v_trak = _mp4_box(
        b"trak",
        tkhd(1, width, height)
        + _mp4_box(
            b"mdia",
            mdhd()
            + hdlr(b"vide", b"VideoHandler")
            + _mp4_box(b"minf", vmhd + dref + stbl(visual_entry())),
        ),
    )
    traks = v_trak
    if with_audio:
        traks += _mp4_box(
            b"trak",
            tkhd(2, 0, 0)
            + _mp4_box(
                b"mdia",
                mdhd()
                + hdlr(b"soun", b"SoundHandler")
                + _mp4_box(b"minf", smhd + dref + stbl(audio_entry())),
            ),
        )
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp42")
    return ftyp + _mp4_box(b"moov", mvhd() + traks) + _mp4_box(b"mdat", b"")


# ------------------------------------------------------------ MP3
#
# Frame-header metadata only, from the public MPEG audio framing
# (ISO/IEC 11172-3 / 13818-3): an MP3 is a sequence of frames, each
# led by a 32-bit header (11-bit sync, version, layer, bitrate index,
# sample-rate index, padding, channel mode). Duration / rate /
# bitrate / channel layout come from walking the headers WITHOUT
# decoding a single granule — the audio sibling of the MP4 box walk.

_MP3_BITRATES = {
    # kbps by (version_group, layer): version_group 1 = MPEG1,
    # 2 = MPEG2/2.5 (they share tables)
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _id3v2_size(payload: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 when absent): 10-byte
    header + syncsafe 28-bit size."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return 0
    s = payload[6:10]
    if any(b & 0x80 for b in s):
        return 0  # not syncsafe: not a valid tag
    size = 10 + ((s[0] << 21) | (s[1] << 14) | (s[2] << 7) | s[3])
    if payload[5] & 0x10:
        size += 10  # footer flag (ID3v2.4 §3.1): footer is NOT counted
    return size


def _mp3_frame(payload: bytes, pos: int) -> tuple[int, int, int, int, int] | None:
    """(frame_bytes, samples_per_frame, sample_rate, bitrate_kbps,
    channels) for the frame header at ``pos``, or None when the four
    bytes there aren't a valid header."""
    if pos + 4 > len(payload):
        return None
    h = struct.unpack(">I", payload[pos : pos + 4])[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    ver_bits = (h >> 19) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=reserved
    layer_bits = (h >> 17) & 3  # 3=Layer I, 2=Layer II, 1=Layer III
    if ver_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits
    vgroup = 1 if ver_bits == 3 else 2
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format/bad bitrate or reserved rate
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx]
    rate = _MP3_RATES[ver_bits][sr_idx]
    padding = (h >> 9) & 1
    channels = 1 if ((h >> 6) & 3) == 3 else 2
    if layer == 1:
        samples = 384
        size = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        samples = 1152 if (vgroup == 1 or layer == 2) else 576
        size = samples // 8 * bitrate * 1000 // rate + padding
    return size, samples, rate, bitrate, channels


def parse_mp3_meta(payload: bytes) -> dict:
    """Stream metadata of an MP3 payload by walking frame headers:

    ``{'n_frames', 'sample_rate', 'channels', 'duration_sec',
    'bitrate_kbps', 'vbr'}``

    - duration = sum of per-frame ``samples/rate`` (exact for both
      CBR and VBR — no byte-length estimate);
    - bitrate_kbps = the constant rate for CBR, the duration-weighted
      mean rounded to 3 decimals for VBR (``vbr`` flags which);
    - a leading ID3v2 tag is skipped by its syncsafe size; trailing
      garbage/ID3v1 ends the walk at the first non-frame position.

    Raises ValueError when no valid frame exists."""
    data = bytes(payload)
    pos = _id3v2_size(data)
    n = len(data)
    n_frames = 0
    total_samples = 0
    rates: set[int] = set()
    bitrates: set[int] = set()
    channels = None
    dur = 0.0
    weighted_kbps = 0.0
    while pos < n:
        fr = _mp3_frame(data, pos)
        if fr is None:
            break
        size, samples, rate, kbps, ch = fr
        if size <= 4 or pos + size > n:
            break
        n_frames += 1
        total_samples += samples
        rates.add(rate)
        bitrates.add(kbps)
        channels = ch if channels is None else channels
        fdur = samples / rate
        dur += fdur
        weighted_kbps += kbps * fdur
        pos += size
    if n_frames == 0:
        raise ValueError("no MPEG audio frame found")
    vbr = len(bitrates) > 1
    return {
        "n_frames": n_frames,
        "sample_rate": rates.pop() if len(rates) == 1 else None,
        "channels": channels,
        "duration_sec": round(dur, 9),
        "bitrate_kbps": (
            bitrates.pop() if not vbr else round(weighted_kbps / dur, 3)
        ),
        "vbr": vbr,
    }


def encode_mp3_meta(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    with_id3: bool = False,
) -> bytes:
    """Minimal spec-shaped MPEG-1 Layer III CBR fixture: ``n_frames``
    valid frame headers with zero-filled payloads (metadata-only, the
    MP4 fixture's audio sibling) and optionally a leading ID3v2 tag.
    Every derived quantity is a closed form: frame size =
    ``1152/8 * bitrate / rate`` (no padding), duration =
    ``n_frames * 1152 / rate``."""
    br_idx = _MP3_BITRATES[(1, 3)].index(bitrate_kbps)
    sr_idx = _MP3_RATES[3].index(sample_rate)
    h = (
        (0x7FF << 21)
        | (3 << 19)  # MPEG1
        | (1 << 17)  # Layer III
        | (1 << 16)  # no CRC
        | (br_idx << 12)
        | (sr_idx << 10)
        | (0 << 9)  # no padding
        | (0 << 6)  # stereo
    )
    size = 1152 // 8 * bitrate_kbps * 1000 // sample_rate
    frame = struct.pack(">I", h) + b"\x00" * (size - 4)
    tag = b""
    if with_id3:
        body = b"engine fixture"
        # syncsafe size
        L = len(body)
        tag = b"ID3\x04\x00\x00" + bytes(
            [(L >> 21) & 0x7F, (L >> 14) & 0x7F, (L >> 7) & 0x7F, L & 0x7F]
        ) + body
    return tag + frame * n_frames


# ----------------------------------------------------------- WebP
#
# Container metadata only, from the public WebP container + bitstream
# specs (RIFF grammar; VP8 key-frame header per RFC 6386 §9.1; VP8L
# stream header; VP8X extended-format chunk). Geometry and layout
# flags without entropy decode — the image sibling of the MP4/MP3
# metadata tiers (full VP8 decode is out of scope, and triage wants
# the envelope).


def parse_webp_meta(payload: bytes) -> dict:
    """``{'variant', 'width', 'height', 'has_alpha', 'has_anim'}`` of
    a WebP payload by walking its RIFF chunks:

    - ``VP8 `` (lossy): 3-byte frame tag (keyframe bit must be 0),
      the 9D 01 2A start code, then 14-bit width/height;
    - ``VP8L`` (lossless): the 0x2F signature byte, then width-1 /
      height-1 in 14 bits each, alpha in bit 28;
    - ``VP8X`` (extended): feature flags byte + 24-bit canvas
      width-1 / height-1 (alpha/animation from the flags; the first
      frame chunk is not consulted — canvas IS the display geometry).

    Raises ValueError on non-WebP or malformed headers."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        fourcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = pos + 8
        if fourcc == b"VP8 ":
            if data[body + 3 : body + 6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 key-frame start code")
            tag = data[body] | (data[body + 1] << 8) | (data[body + 2] << 16)
            if tag & 1:
                raise ValueError("VP8 first frame is not a key frame")
            w = struct.unpack("<H", data[body + 6 : body + 8])[0] & 0x3FFF
            h = struct.unpack("<H", data[body + 8 : body + 10])[0] & 0x3FFF
            return {
                "variant": "vp8",
                "width": w,
                "height": h,
                "has_alpha": False,
                "has_anim": False,
            }
        if fourcc == b"VP8L":
            if data[body] != 0x2F:
                raise ValueError("bad VP8L signature")
            bits = struct.unpack("<I", data[body + 1 : body + 5])[0]
            return {
                "variant": "vp8l",
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "has_alpha": bool((bits >> 28) & 1),
                "has_anim": False,
            }
        if fourcc == b"VP8X":
            flags = data[body]
            w = 1 + (data[body + 4] | (data[body + 5] << 8) | (data[body + 6] << 16))
            h = 1 + (data[body + 7] | (data[body + 8] << 8) | (data[body + 9] << 16))
            return {
                "variant": "vp8x",
                "width": w,
                "height": h,
                "has_alpha": bool(flags & 0x10),
                "has_anim": bool(flags & 0x02),
            }
        pos = body + size + (size & 1)  # RIFF chunks pad to even
    raise ValueError("no VP8/VP8L/VP8X chunk found")


def encode_webp_meta(
    width: int,
    height: int,
    variant: str = "vp8",
    has_alpha: bool = False,
    has_anim: bool = False,
) -> bytes:
    """Minimal spec-shaped WebP fixture: a RIFF/WEBP container whose
    first chunk carries a valid header of the requested ``variant``
    (geometry + flags) over a zero-filled body — metadata-only, the
    image sibling of ``encode_mp4_meta``/``encode_mp3_meta``."""
    if variant == "vp8":
        body = (
            b"\x00\x00\x00"  # key frame tag (keyframe bit 0)
            + b"\x9d\x01\x2a"
            + struct.pack("<HH", width & 0x3FFF, height & 0x3FFF)
            + b"\x00" * 16
        )
        chunk_id = b"VP8 "
    elif variant == "vp8l":
        bits = (width - 1) | ((height - 1) << 14) | (int(has_alpha) << 28)
        body = b"\x2f" + struct.pack("<I", bits) + b"\x00" * 8
        chunk_id = b"VP8L"
    elif variant == "vp8x":
        flags = (0x10 if has_alpha else 0) | (0x02 if has_anim else 0)
        body = (
            bytes([flags])
            + b"\x00\x00\x00"
            + struct.pack("<I", width - 1)[:3]
            + struct.pack("<I", height - 1)[:3]
        )
        chunk_id = b"VP8X"
    else:
        raise ValueError(f"unknown WebP variant {variant!r}")
    chunk = chunk_id + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def audio_simhash64(
    payload: bytes, n_bands: int = 8, n_buckets: int = 8, frame: int = 256
) -> int | None:
    """64-bit spectral fingerprint of a WAV payload — the audio leg of
    the perceptual near-dup family (a simplified variant of the
    band-energy fingerprints in Haitsma & Kalker, "A Highly Robust
    Audio Fingerprinting System", 2002: they threshold band-energy
    DIFFERENCES per frame; this thresholds band energies against the
    clip-global median, trading some robustness for a closed-form
    oracle and a fixed 64-bit signature):

    1. mono mix, split into ``n_buckets`` equal time segments;
    2. per segment: non-overlapping ``frame``-sample windows, rFFT
       power, energy per linear band (:func:`band_power`, the binning
       ``audio_band_features`` shares) — an ``n_buckets x n_bands``
       cell energy grid;
    3. cells rounded to 3 decimals (quantization-noise cells — the
       int16 round-trip leaves ~1e-6 of leakage energy per cell —
       land on exactly 0.0; the same platform-stability move as
       :func:`phash64`, one scale coarser because FFT leakage is
       bigger than DCT matmul noise), bit ``bucket*n_bands + band``
       set iff the cell exceeds the median of all 64 cells.

    Invariant under uniform amplitude scaling (all cells scale
    together, the median with them). None for payloads without PCM
    samples (no WAV) or clips shorter than one frame per segment. Returns a SIGNED 64-bit
    int for Spark LongType, like :func:`phash64`."""

    def grid_hash(row, pcm):
        mono = pcm[1].mean(axis=1)
        seg = len(mono) // n_buckets
        if seg < frame:
            return None
        cells = np.array(
            [band_power(mono[b * seg : (b + 1) * seg], n_bands, frame) for b in range(n_buckets)]
        )
        return _median_bits64(np.round(cells, 3))

    return media_lookup(payload, samples=grid_hash)


def band_power(x: np.ndarray, n_bands: int, frame: int) -> np.ndarray:
    """Energy per linear frequency band of signal ``x`` cut into
    ``frame``-sample windows (hop = frame, a partial tail window
    dropped): rFFT power, bin b of ``frame//2 + 1`` summed into band
    ``min(b * n_bands // (frame//2 + 1), n_bands - 1)``."""
    m = (len(x) // frame) * frame
    power = np.abs(np.fft.rfft(x[:m].reshape(-1, frame), axis=1)) ** 2
    n_bins = frame // 2 + 1
    band_of = np.minimum(np.arange(n_bins) * n_bands // n_bins, n_bands - 1)
    return np.array([power[:, band_of == b].sum() for b in range(n_bands)])


# --------------------------------------------- MPEG-1 Audio Layer I
#
# CONTENT tier for MPEG audio (r12): a from-spec bitstream decode of
# MPEG-1 Layer I mono frames (ISO/IEC 11172-3 §2.4.1.5/§2.4.2.4 —
# 384 samples/frame as 12 rows x 32 subbands; 4-bit allocation per
# subband, nb = alloc+1 bits; 6-bit scalefactor indices over the
# 2^(-idx/3) geometric table; the two's-shifted linear requantizer)
# down to the SUBBAND SAMPLE matrix. Deliberate divergence, documented:
# the synthesis polyphase filterbank (the 512-tap window of Annex B
# Table 3-B.3) is NOT reimplemented — the near-dup fingerprint below
# consumes subband-domain energies directly, which is both cheaper
# and exactly the information the band-energy recipe wants (subband k
# covers [k, k+1) x rate/64, the same linear frequency axis the WAV
# path's FFT bins map onto). Layer II/III stay on the metadata tier
# (parse_mp3_meta): their rate-dependent allocation tables and Huffman
# granules are a later rung of the same ladder.

_MP1_SF = [2.0 * 2.0 ** (-i / 3.0) for i in range(63)]


class _MP1BitReader:
    """MSB-first bit reader over whole payload bytes (distinct from
    the JPEG scan's ``_BitReader``, which handles 0xFF byte
    stuffing)."""

    __slots__ = ("d", "pos")

    def __init__(self, d: bytes, bitpos: int = 0) -> None:
        self.d = d
        self.pos = bitpos

    def read(self, n: int) -> int:
        out = 0
        for _ in range(n):
            byte = self.d[self.pos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return out


def decode_mp1_subbands(payload: bytes) -> tuple[int, "np.ndarray"]:
    """(sample_rate, subband sample matrix [n_rows, 32]) of a mono
    MPEG-1 Layer I stream — 12 rows per frame. Raises ValueError on
    non-Layer-I, non-mono, or malformed frames (callers quarantine)."""
    pos = _id3v2_size(payload)
    rows: list[list[float]] = []
    rate_out = None
    while pos + 4 <= len(payload):
        fr = _mp3_frame(payload, pos)
        if fr is None:
            break
        size, samples, rate, _bitrate, channels = fr
        h = struct.unpack(">I", payload[pos : pos + 4])[0]
        if (h >> 17) & 3 != 3:  # layer bits: 3 = Layer I
            raise ValueError("not an MPEG-1 Layer I stream")
        if channels != 1:
            raise ValueError("only mono Layer I is decoded")
        if rate_out is None:
            rate_out = rate
        body_start = pos + 4 + (0 if (h >> 16) & 1 else 2)  # CRC when bit 0
        if pos + size > len(payload):
            break  # torn final frame: keep what decoded
        br = _MP1BitReader(payload, body_start * 8)
        alloc = []
        for _sb in range(32):
            a = br.read(4)
            if a == 15:
                raise ValueError("forbidden allocation value 15")
            alloc.append(a)
        sf = [0.0] * 32
        for sb in range(32):
            if alloc[sb]:
                idx = br.read(6)
                if idx > 62:
                    raise ValueError(f"scalefactor index {idx} out of table")
                sf[sb] = _MP1_SF[idx]
        for _s in range(12):
            row = [0.0] * 32
            for sb in range(32):
                if alloc[sb]:
                    nb = alloc[sb] + 1
                    code = br.read(nb)
                    frac = code / float(1 << (nb - 1)) - 1.0
                    row[sb] = sf[sb] * (
                        (frac + 2.0 ** (1 - nb)) * (1 << nb) / ((1 << nb) - 1)
                    )
            rows.append(row)
        pos += size
    if rate_out is None or not rows:
        raise ValueError("no decodable Layer I frame")
    return rate_out, np.array(rows, dtype=np.float64)


def audio_simhash64_mp1(
    payload: bytes, n_buckets: int = 8, n_bands: int = 8
) -> int | None:
    """64-bit band-energy fingerprint of a mono MPEG-1 Layer I stream
    — the COMPRESSED-DOMAIN twin of :func:`audio_simhash64`: the
    codec's own filterbank supplies the time-frequency grid (subband
    k covers the same linear band the WAV path's FFT bins map onto,
    band_of(k) = k * n_bands // 32), so a WAV and a Layer I encode of
    the same content land on the SAME bit layout and join one
    near-dup family. Same recipe downstream: n_buckets time segments,
    per-band energy cells rounded to 3 decimals, median threshold.
    None for payloads that don't decode or are too short."""
    try:
        _rate, sb = decode_mp1_subbands(payload)
    except Exception:  # noqa: BLE001 — malformed audio
        return None
    return _subband_simhash64(sb, n_buckets, n_bands)


def encode_mp1_tones(
    bands_seq: list[int],
    rate: int = 32000,
    bitrate: int = 32,
    frames_per_seg: int = 2,
    n_bands: int = 8,
) -> bytes:
    """Spec-shaped mono MPEG-1 Layer I fixture: one SEGMENT per entry
    of ``bands_seq``, each ``frames_per_seg`` frames whose single
    active subband is the mid-band subband of that entry's frequency
    band (subband = band*4 + 1 for the default 8-band split), coded
    at full 15-bit precision with scalefactor index 3 (= 1.0) and
    constant amplitude 0.5. Every other subband has allocation 0 and
    decodes to EXACTLY zero, so the band-energy bit grid is pure
    arithmetic of ``bands_seq``: bit(bucket*8+band) = 1 iff
    seq[bucket] = band — the same closed-form contract as the WAV
    tone fixtures (and the same one, which is the point: a WAV and a
    Layer I encode of the same sequence hash IDENTICALLY)."""
    br_idx = _MP3_BITRATES[(1, 1)].index(bitrate)
    sr_idx = _MP3_RATES[3].index(rate)
    h = (
        (0x7FF << 21)
        | (3 << 19)  # MPEG1
        | (3 << 17)  # Layer I
        | (1 << 16)  # no CRC
        | (br_idx << 12)
        | (sr_idx << 10)
        | (0 << 9)  # no padding
        | (3 << 6)  # single channel
    )
    size = (12 * bitrate * 1000 // rate) * 4
    nb = 15
    # quantizer code for amplitude 0.5 at sf = 1.0: invert the
    # requantizer (§2.4.3.2) — frac = s * (2^nb - 1)/2^nb - 2^(1-nb)
    frac = 0.5 * ((1 << nb) - 1) / (1 << nb) - 2.0 ** (1 - nb)
    code = round((frac + 1.0) * (1 << (nb - 1)))
    out = bytearray()
    for band in bands_seq:
        sb_active = band * (32 // n_bands) + 1
        for _f in range(frames_per_seg):
            bits = bytearray()
            acc = 0
            nacc = 0

            def put(val: int, width: int) -> None:
                nonlocal acc, nacc
                acc = (acc << width) | (val & ((1 << width) - 1))
                nacc += width
                while nacc >= 8:
                    nacc -= 8
                    bits.append((acc >> nacc) & 0xFF)

            for sb in range(32):
                put(14 if sb == sb_active else 0, 4)  # alloc: nb-1 = 14
            put(3, 6)  # scalefactor index 3 -> 1.0
            for _s in range(12):
                put(code, nb)
            if nacc:
                bits.append((acc << (8 - nacc)) & 0xFF)
            frame = struct.pack(">I", h) + bytes(bits)
            if len(frame) > size:
                raise ValueError("fixture frame overflows its bit budget")
            out += frame + b"\x00" * (size - len(frame))
    return bytes(out)


# --------------------------------------------------------------- BMP
#
# CONTENT tier (r13): uncompressed Windows bitmaps from the public
# BITMAPFILEHEADER/BITMAPINFOHEADER layout — 8-bit paletted and
# 24/32-bit BGR(A), BI_RGB only, bottom-up (positive height) or
# top-down rows, rows padded to 4 bytes. Scanned-document and
# screenshot corpora still carry BMPs; a full decode is ~40 lines, so
# it joins the image pHash family outright (no metadata-tier excuse).


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP -> (H, W, 3) uint8 RGB (alpha dropped, palette applied).
    Raises ValueError on non-BMP, compressed (non-BI_RGB), or torn
    payloads (callers quarantine)."""
    data = bytes(payload)
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP payload")
    px_off = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    w, h = struct.unpack("<ii", data[18:26])
    planes, bits = struct.unpack("<HH", data[26:30])
    comp = struct.unpack("<I", data[30:34])[0]
    if comp != 0:
        raise ValueError(f"unsupported BMP compression {comp}")
    if bits not in (8, 24, 32) or w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP layout ({bits} bpp, {w}x{h})")
    top_down = h < 0
    H = abs(h)
    row = (w * bits // 8 + 3) & ~3
    if px_off + row * H > len(data):
        raise ValueError("torn BMP pixel array")
    if bits == 8:
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal_at = 14 + hdr_size
        pal = np.frombuffer(
            data[pal_at : pal_at + 4 * n_colors], dtype=np.uint8
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        if len(pal) < n_colors:
            raise ValueError("torn BMP palette")
    px = np.frombuffer(
        data[px_off : px_off + row * H], dtype=np.uint8
    ).reshape(H, row)
    if bits == 8:
        idx = px[:, :w]
        out = pal[idx]
    else:
        step = bits // 8
        bgr = px[:, : w * step].reshape(H, w, step)
        out = bgr[:, :, :3][:, :, ::-1]  # BGR(A) -> RGB
    if not top_down:
        out = out[::-1]
    return np.ascontiguousarray(out)


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W[, 3]) uint8 -> 24-bit BI_RGB bottom-up BMP bytes (the
    plain shape real writers emit). Grayscale input replicates to
    RGB. Round-trips losslessly through :func:`decode_bmp`."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=2)
    H, w = arr.shape[:2]
    row = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(H - 1, -1, -1):  # bottom-up
        line = arr[y, :, ::-1].tobytes()  # RGB -> BGR
        body += line + b"\x00" * (row - len(line))
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, H, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    head = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40
    )
    return head + info + bytes(body)


# ------------------------------------------------------------- TIFF
#
# Metadata tier (r13): baseline TIFF IFD walk (the public TIFF 6.0
# spec) — endianness, geometry, bit depth, compression tag, samples
# per pixel. Scanned-document corpora ship TIFF; triage bins on the
# envelope without an LZW/CCITT decoder.

_TIFF_TAGS = {256: "width", 257: "height", 258: "bits", 259: "compression", 277: "samples"}
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}


def parse_tiff_meta(payload: bytes) -> dict:
    """``{'byte_order', 'width', 'height', 'bits_per_sample',
    'compression', 'samples_per_pixel', 'n_ifds'}`` from the IFD
    chain (values from the FIRST image; n_ifds counts the chain —
    multi-page scans are common). Raises ValueError on non-TIFF or
    torn structures."""
    data = bytes(payload)
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    out = {
        "byte_order": "little" if bo == "<" else "big",
        "width": None,
        "height": None,
        "bits_per_sample": None,
        "compression": None,
        "samples_per_pixel": None,
        "n_ifds": 0,
    }
    off = struct.unpack(bo + "I", data[4:8])[0]
    first = True
    seen = set()
    while off and off not in seen:
        seen.add(off)
        if off + 2 > len(data):
            raise ValueError("torn IFD offset")
        n = struct.unpack(bo + "H", data[off : off + 2])[0]
        end = off + 2 + n * 12
        if end + 4 > len(data):
            raise ValueError("torn IFD table")
        out["n_ifds"] += 1
        if first:
            for i in range(n):
                e = off + 2 + i * 12
                tag, typ, cnt = struct.unpack(bo + "HHI", data[e : e + 8])
                name = _TIFF_TAGS.get(tag)
                if name is None or typ not in _TIFF_TYPE_SIZE or cnt < 1:
                    continue
                size = _TIFF_TYPE_SIZE[typ] * cnt
                if size <= 4:
                    vraw = data[e + 8 : e + 8 + size]
                else:
                    voff = struct.unpack(bo + "I", data[e + 8 : e + 12])[0]
                    vraw = data[voff : voff + size]
                    if len(vraw) < size:
                        continue  # torn value: skip the field
                code = {1: "B", 3: "H", 4: "I"}[typ]
                val = struct.unpack(bo + code, vraw[: _TIFF_TYPE_SIZE[typ]])[0]
                key = {
                    "width": "width",
                    "height": "height",
                    "bits": "bits_per_sample",
                    "compression": "compression",
                    "samples": "samples_per_pixel",
                }[name]
                out[key] = int(val)
            first = False
        off = struct.unpack(bo + "I", data[end : end + 4])[0]
    if out["n_ifds"] == 0:
        raise ValueError("no IFD found")
    return out


def encode_tiff_meta(
    width: int,
    height: int,
    bits: int = 8,
    compression: int = 1,
    samples: int = 1,
    n_pages: int = 1,
    big_endian: bool = False,
) -> bytes:
    """Minimal spec-shaped TIFF fixture: ``n_pages`` chained IFDs
    carrying the five triage tags (no strip data — metadata tier).
    Every field is closed-form header arithmetic."""
    bo = ">" if big_endian else "<"
    buf = bytearray(b"MM\x00*" if big_endian else b"II*\x00")
    buf += struct.pack(bo + "I", 8)
    tags = [
        (256, 4, width), (257, 4, height), (258, 3, bits),
        (259, 3, compression), (277, 3, samples),
    ]
    for page in range(n_pages):
        here = len(buf)
        buf += struct.pack(bo + "H", len(tags))
        for tag, typ, val in tags:
            code = {3: "H", 4: "I"}[typ]
            vraw = struct.pack(bo + code, val)
            buf += struct.pack(bo + "HHI", tag, typ, 1) + vraw.ljust(4, b"\x00")
        nxt = len(buf) + 4 if page + 1 < n_pages else 0
        buf += struct.pack(bo + "I", nxt)
    return bytes(buf)


# ------------------------------------------------------ OGG (Opus)
#
# Metadata tier from the public Ogg (RFC 3533) and Opus-in-Ogg
# (RFC 7845) specs: a stream is a sequence of 'OggS' pages, each with
# a 64-bit granule position; the first packet of an Opus stream is
# the 'OpusHead' identification header (channel count, pre-skip,
# input sample rate). Duration = (last granule - pre-skip) / 48000 —
# Opus granules are ALWAYS 48 kHz samples regardless of input rate
# (RFC 7845 §4). Vorbis ('\\x01vorbis') surfaces its own rate and
# granules count in it. Page CRCs are not verified (header walk, no
# packet decode) — the audio sibling of the WebM/MP4 envelope tiers.


def parse_ogg_meta(payload: bytes) -> dict:
    """``{'codec', 'channels', 'sample_rate', 'preskip',
    'last_granule', 'duration_sec'}`` of an Ogg stream by page walk.
    ``sample_rate`` is the DECODE clock (48000 for Opus, the declared
    rate for Vorbis); ``duration_sec`` subtracts the Opus pre-skip.
    Raises ValueError on non-Ogg or headerless payloads."""
    data = bytes(payload)
    if data[:4] != b"OggS":
        raise ValueError("not an Ogg stream")
    pos = 0
    n = len(data)
    codec = None
    channels = None
    rate = None
    preskip = 0
    last_granule = None
    while pos + 27 <= n and data[pos : pos + 4] == b"OggS":
        granule = struct.unpack("<q", data[pos + 6 : pos + 14])[0]
        nseg = data[pos + 26]
        seg_table = data[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            break  # torn page header
        body = pos + 27 + nseg
        size = sum(seg_table)
        if body + size > n:
            break  # torn final page: keep what parsed
        if granule >= 0:
            last_granule = granule
        if codec is None:
            pkt = data[body : body + size]
            if pkt[:8] == b"OpusHead" and len(pkt) >= 19:
                codec = "opus"
                channels = pkt[9]
                preskip = struct.unpack("<H", pkt[10:12])[0]
                rate = 48000  # granule clock, not the input rate
            elif pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                codec = "vorbis"
                channels = pkt[11]
                rate = struct.unpack("<I", pkt[12:16])[0]
        pos = body + size
    if codec is None:
        raise ValueError("no OpusHead/Vorbis identification header")
    dur = None
    if last_granule is not None and rate:
        samples = max(0, last_granule - (preskip if codec == "opus" else 0))
        dur = round(samples / rate, 9)
    return {
        "codec": codec,
        "channels": channels,
        "sample_rate": rate,
        "preskip": preskip,
        "last_granule": last_granule,
        "duration_sec": dur,
    }


def encode_ogg_opus_meta(
    n_samples: int, channels: int = 2, preskip: int = 312
) -> bytes:
    """Minimal spec-shaped Opus-in-Ogg fixture: a BOS page carrying
    OpusHead, then an EOS page whose granule position is
    ``preskip + n_samples`` over a zero-filled packet (metadata tier
    only — no Opus frames are encoded). Duration is the closed form
    ``n_samples / 48000``. Page CRCs are zero (the header walk does
    not verify them)."""

    def page(seq: int, granule: int, body: bytes, flags: int) -> bytes:
        segs = []
        rem = len(body)
        while rem >= 255:
            segs.append(255)
            rem -= 255
        segs.append(rem)
        head = (
            b"OggS\x00"
            + bytes([flags])
            + struct.pack("<q", granule)
            + struct.pack("<I", 0x5157)  # serial
            + struct.pack("<I", seq)
            + b"\x00\x00\x00\x00"  # crc unverified by the walk
            + bytes([len(segs)])
            + bytes(segs)
        )
        return head + body

    opus_head = (
        b"OpusHead"
        + bytes([1, channels])
        + struct.pack("<H", preskip)
        + struct.pack("<I", 48000)
        + struct.pack("<h", 0)
        + b"\x00"
    )
    return page(0, 0, opus_head, 0x02) + page(
        1, preskip + n_samples, b"\x00" * 8, 0x04
    )


# ----------------------------------------------------- AVI (MJPEG)
#
# CONTENT tier for a real video container (r13): MJPEG-in-AVI — every
# frame is a T.81 baseline JPEG the engine already decodes, wrapped in
# the RIFF grammar it already walks for WebP (AVI RIFF form per the
# public OpenDML / Video-for-Windows spec: LIST hdrl with an 'avih'
# main header carrying the microseconds-per-frame clock, LIST strl
# per stream, LIST movi holding '##dc' compressed-video chunks).
# This gives real containers a route into video_phash64's
# temporal-average family the same way Layer I/II did for audio —
# no entropy-coded inter-frame codec (H.264/VP9) is reimplemented.


def encode_avi_mjpeg(frames: list["np.ndarray"], fps: float = 25.0) -> bytes:
    """Spec-shaped MJPEG AVI fixture: RIFF('AVI ') with an hdrl
    (avih + one 'vids'/'MJPG' strl) and a movi LIST of '00dc' chunks,
    each a baseline JPEG (quality 90) of one frame. Block-constant
    frames with values in 128+3Z round-trip the JPEG tier
    byte-exactly (DC quant step 3 at q90, every AC analytically 0),
    which is what makes the AVI near-dup legs closed-form."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f, quality=90) for f in frames]

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    us_per_frame = int(round(1_000_000 / fps))
    avih = struct.pack(
        "<14I",
        us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, int(round(fps)), 0,
                      len(frames), 0, 10000, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi_meta(payload: bytes) -> dict:
    """``{'us_per_frame', 'total_frames', 'width', 'height', 'fps',
    'duration_sec'}`` from the avih main header alone — the
    metadata-tier walk (no frame decode), the duration source
    :func:`media_duration_ms` and the alignment family use. Raises
    ValueError on non-AVI or headerless payloads."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    pos = 12
    end = min(len(data), 8 + struct.unpack("<I", data[4:8])[0])
    stack = [(pos, end)]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
            body = pos + 8
            if fourcc == b"LIST" and data[body : body + 4] == b"hdrl":
                stack.append((body + 4, body + size))
            elif fourcc == b"avih" and size >= 40:
                us, _mbps, _pad, _flags, total = struct.unpack(
                    "<5I", data[body : body + 20]
                )
                w, h = struct.unpack("<2I", data[body + 32 : body + 40])
                fps = 1_000_000 / us if us else None
                return {
                    "us_per_frame": us,
                    "total_frames": total,
                    "width": w,
                    "height": h,
                    "fps": round(fps, 9) if fps else None,
                    "duration_sec": (
                        round(total * us / 1e6, 9) if us and total else None
                    ),
                }
            pos = body + size + (size & 1)
    raise ValueError("no avih header found")


def decode_avi_mjpeg(payload: bytes) -> tuple[float, list["np.ndarray"]]:
    """(fps, frames) of an MJPEG AVI: RIFF walk to the avih clock and
    the movi LIST, decoding every '##dc' chunk with the baseline JPEG
    decoder ('rec ' grouping LISTs descended, index/audio chunks
    skipped). Raises ValueError on non-AVI or frameless payloads;
    undecodable individual frames raise (callers quarantine)."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    fps = 25.0
    frames: list[np.ndarray] = []

    def walk(pos: int, end: int) -> None:
        nonlocal fps
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
            body = pos + 8
            if fourcc == b"LIST":
                kind = data[body : body + 4]
                if kind in (b"hdrl", b"movi", b"rec ", b"strl"):
                    walk(body + 4, body + size)
            elif fourcc == b"avih" and size >= 4:
                us = struct.unpack("<I", data[body : body + 4])[0]
                if us:
                    fps = 1_000_000 / us
            elif fourcc[2:4] == b"dc":
                frames.append(decode_jpeg(data[body : body + size]))
            pos = body + size + (size & 1)  # RIFF chunks pad to even

    walk(12, min(len(data), 8 + struct.unpack("<I", data[4:8])[0]))
    if not frames:
        raise ValueError("no MJPEG video frames found")
    return fps, frames


# -------------------------------------------- MPEG-1 Audio Layer II
#
# CONTENT tier for the dominant broadcast layer (r13, the r12 ladder's
# next rung): a from-spec bitstream decode of MPEG-1 Layer II mono
# frames (ISO/IEC 11172-3 §2.4.1.6/§2.4.2.5 — 1152 samples/frame as
# 36 rows x 32 subbands; per-subband allocation indices of
# table-dependent width mapping through Tables 3-B.2a/b/c/d to a
# quantization class; 2-bit scalefactor-selection (scfsi) choosing how
# the three 12-row parts share their 6-bit scalefactor indices; the
# grouped 3/5/9-step classes packing three samples into one 5/7/10-bit
# codeword; requantization per Table 3-B.4,
# s = sf * C * (code / 2^(nb-1) - 1 + D)) down to the SUBBAND SAMPLE
# matrix. Same deliberate divergence as Layer I: the synthesis
# filterbank is NOT reimplemented — the fingerprint consumes
# subband-domain energies on the codec's own linear frequency grid,
# which is exactly what the band-energy recipe wants. Layer III
# (Huffman granules + IMDCT over 576 spectral lines) stays on the
# metadata tier; it is the ladder's last rung.

# Table 3-B.4 constants are closed forms of the class: C = 2^nb/steps,
# D = 1/2 for the grouped classes (3/5/9 steps), 2^(1-nb) otherwise.
# _MP2_CLASS: steps -> (sample bits nb, grouped codeword bits or 0).
_MP2_CLASS = {3: (2, 5), 5: (3, 7), 9: (4, 10)}
for _nb in range(3, 17):
    _MP2_CLASS.setdefault((1 << _nb) - 1, (_nb, 0))

# Tables 3-B.2a/b/c/d: per-subband (allocation field width nbal,
# steps for allocation index 1..2^nbal-1). a/b share four row shapes;
# c/d share two (their step ladder skips 7 and tops at 32767).
_B2_R0 = (4, (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 16383, 32767, 65535))
_B2_R1 = (4, (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 65535))
_B2_R2 = (3, (3, 5, 7, 9, 15, 31, 65535))
_B2_R3 = (2, (3, 5, 65535))
_B2_RC4 = (4, (3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 16383, 32767))
_B2_RC3 = (3, (3, 5, 9, 15, 31, 63, 127))
_MP2_B2A = (_B2_R0,) * 3 + (_B2_R1,) * 8 + (_B2_R2,) * 12 + (_B2_R3,) * 4
_MP2_B2B = (_B2_R0,) * 3 + (_B2_R1,) * 8 + (_B2_R2,) * 12 + (_B2_R3,) * 7
_MP2_B2C = (_B2_RC4,) * 2 + (_B2_RC3,) * 6
_MP2_B2D = (_B2_RC4,) * 2 + (_B2_RC3,) * 10


def _mp2_table(rate: int, kbps_per_ch: int):
    """Bit-allocation table for an MPEG-1 Layer II frame (Table 3-B.2
    selection rules): 32/48 kbps/ch -> the low-rate tables (d at
    32 kHz, c at 44.1/48); 56-80 -> a everywhere; 96-192 -> a at
    48 kHz, b at 44.1/32 kHz."""
    if kbps_per_ch <= 48:
        return _MP2_B2D if rate == 32000 else _MP2_B2C
    if rate == 48000 or kbps_per_ch <= 80:
        return _MP2_B2A
    return _MP2_B2B


def decode_mp2_subbands(payload: bytes) -> tuple[int, "np.ndarray"]:
    """(sample_rate, subband sample matrix [n_rows, 32]) of a mono
    MPEG-1 Layer II stream — 36 rows per frame. Raises ValueError on
    non-Layer-II, non-mono, or malformed frames (callers quarantine)."""
    pos = _id3v2_size(payload)
    rows: list[list[float]] = []
    rate_out = None
    while pos + 4 <= len(payload):
        fr = _mp3_frame(payload, pos)
        if fr is None:
            break
        size, _samples, rate, bitrate, channels = fr
        h = struct.unpack(">I", payload[pos : pos + 4])[0]
        if (h >> 17) & 3 != 2:  # layer bits: 2 = Layer II
            raise ValueError("not an MPEG-1 Layer II stream")
        if channels != 1:
            raise ValueError("only mono Layer II is decoded")
        if rate_out is None:
            rate_out = rate
        if pos + size > len(payload):
            break  # torn final frame: keep what decoded
        body_start = pos + 4 + (0 if (h >> 16) & 1 else 2)  # CRC when bit 0
        table = _mp2_table(rate, bitrate)  # mono: per-channel == frame rate
        sblimit = len(table)
        br = _MP1BitReader(payload, body_start * 8)
        steps_of = [0] * 32
        for sb in range(sblimit):
            nbal, classes = table[sb]
            a = br.read(nbal)
            if a:
                steps_of[sb] = classes[a - 1]
        scfsi = [br.read(2) if steps_of[sb] else 0 for sb in range(sblimit)]
        sf = [[0.0] * 3 for _ in range(32)]
        for sb in range(sblimit):
            if not steps_of[sb]:
                continue
            # scfsi (§2.4.2.5): 0 -> three transmitted; 2 -> one for
            # all parts; 1/3 -> two, shared by parts (0,1)/(1,2)
            n_tx = {0: 3, 1: 2, 2: 1, 3: 2}[scfsi[sb]]
            idx = [br.read(6) for _ in range(n_tx)]
            if any(i > 62 for i in idx):
                raise ValueError("scalefactor index out of table")
            if scfsi[sb] == 0:
                parts = idx
            elif scfsi[sb] == 1:
                parts = [idx[0], idx[0], idx[1]]
            elif scfsi[sb] == 2:
                parts = [idx[0], idx[0], idx[0]]
            else:
                parts = [idx[0], idx[1], idx[1]]
            sf[sb] = [_MP1_SF[i] for i in parts]
        frame_rows = [[0.0] * 32 for _ in range(36)]
        for gr in range(12):
            part = gr // 4
            for sb in range(sblimit):
                st = steps_of[sb]
                if not st:
                    continue
                nb, gbits = _MP2_CLASS[st]
                if gbits:
                    c = br.read(gbits)
                    codes = (c % st, (c // st) % st, (c // (st * st)) % st)
                else:
                    codes = (br.read(nb), br.read(nb), br.read(nb))
                cc = (1 << nb) / st
                dd = 0.5 if gbits else 2.0 ** (1 - nb)
                s = sf[sb][part]
                for k in range(3):
                    frame_rows[gr * 3 + k][sb] = s * cc * (
                        codes[k] / (1 << (nb - 1)) - 1.0 + dd
                    )
        rows.extend(frame_rows)
        pos += size
    if rate_out is None or not rows:
        raise ValueError("no decodable Layer II frame")
    return rate_out, np.array(rows, dtype=np.float64)


def _subband_simhash64(
    sb: "np.ndarray", n_buckets: int = 8, n_bands: int = 8
) -> int | None:
    """Shared band-energy fingerprint over a subband sample matrix
    [n_rows, 32] — the compressed-domain recipe both MPEG layers feed:
    n_buckets time segments, per-band energy cells (band_of(k) =
    k * n_bands // 32) rounded to 3 decimals, median threshold. Same
    bit layout as the WAV path's FFT grid (:func:`audio_simhash64`)."""
    seg = len(sb) // n_buckets
    if seg < 1:
        return None
    band_of = np.arange(32) * n_bands // 32
    cells = np.zeros((n_buckets, n_bands))
    for b in range(n_buckets):
        power = sb[b * seg : (b + 1) * seg] ** 2
        for band in range(n_bands):
            cells[b, band] = power[:, band_of == band].sum()
    return _median_bits64(np.round(cells, 3))


def audio_simhash64_mp2(
    payload: bytes, n_buckets: int = 8, n_bands: int = 8
) -> int | None:
    """64-bit band-energy fingerprint of a mono MPEG-1 Layer II stream
    — same contract as :func:`audio_simhash64_mp1`: the codec's own
    32-subband filterbank supplies the time-frequency grid, so a WAV,
    a Layer I, and a Layer II encode of the same content land on the
    SAME bit layout and join one near-dup family. None for payloads
    that don't decode or are too short."""
    try:
        _rate, sb = decode_mp2_subbands(payload)
    except Exception:  # noqa: BLE001 — malformed audio
        return None
    return _subband_simhash64(sb, n_buckets, n_bands)


def audio_simhash64_mpeg(payload: bytes) -> int | None:
    """Layer dispatch for MPEG audio fingerprints: Layer I ->
    :func:`audio_simhash64_mp1`, Layer II -> :func:`audio_simhash64_mp2`,
    Layer III (metadata tier — no granule decode yet) -> None. The
    single front door :func:`media_signature` routes 'mp3'-sniffed
    payloads through."""
    try:
        pos = _id3v2_size(payload)
        h = struct.unpack(">I", payload[pos : pos + 4])[0]
    except Exception:  # noqa: BLE001 — malformed/short payload
        return None
    layer_bits = (h >> 17) & 3
    if layer_bits == 3:
        return audio_simhash64_mp1(payload)
    if layer_bits == 2:
        return audio_simhash64_mp2(payload)
    return None


def encode_mp2_tones(
    bands_seq: list[int],
    rate: int = 44100,
    bitrate: int = 96,
    frames_per_seg: int = 1,
    n_bands: int = 8,
) -> bytes:
    """Spec-shaped mono MPEG-1 Layer II fixture: one SEGMENT per entry
    of ``bands_seq``, each ``frames_per_seg`` frames whose single
    active subband is the mid-band subband of that entry's frequency
    band (subband = band*4 + 1), coded in the 65535-step class (the
    last allocation index of every Table 3-B.2a/b row) with
    scalefactor index 3 (= 1.0), scfsi mode 2 (one scalefactor for all
    three parts), and constant amplitude 0.5. Every other subband has
    allocation 0 and decodes to EXACTLY zero, so the band-energy bit
    grid is the same closed form as the WAV/Layer-I tone fixtures:
    bit(bucket*8+band) = 1 iff seq[bucket] = band — a WAV, Layer I,
    and Layer II encode of one sequence hash IDENTICALLY."""
    br_idx = _MP3_BITRATES[(1, 2)].index(bitrate)
    sr_idx = _MP3_RATES[3].index(rate)
    h = (
        (0x7FF << 21)
        | (3 << 19)  # MPEG1
        | (2 << 17)  # Layer II
        | (1 << 16)  # no CRC
        | (br_idx << 12)
        | (sr_idx << 10)
        | (0 << 9)  # no padding
        | (3 << 6)  # single channel
    )
    size = 1152 // 8 * bitrate * 1000 // rate
    table = _mp2_table(rate, bitrate)
    sblimit = len(table)
    nb = 16  # 65535-step class
    cc = (1 << nb) / 65535.0
    dd = 2.0 ** (1 - nb)
    # invert the requantizer for amplitude 0.5 at sf = 1.0
    code = round((0.5 / cc + 1.0 - dd) * (1 << (nb - 1)))
    out = bytearray()
    for band in bands_seq:
        sb_active = band * (32 // n_bands) + 1
        if sb_active >= sblimit or table[sb_active][1][-1] != 65535:
            raise ValueError("active subband not codable at 65535 steps")
        for _f in range(frames_per_seg):
            bits = bytearray()
            acc = 0
            nacc = 0

            def put(val: int, width: int) -> None:
                nonlocal acc, nacc
                acc = (acc << width) | (val & ((1 << width) - 1))
                nacc += width
                while nacc >= 8:
                    nacc -= 8
                    bits.append((acc >> nacc) & 0xFF)

            for sb in range(sblimit):
                nbal = table[sb][0]
                put((1 << nbal) - 1 if sb == sb_active else 0, nbal)
            put(2, 2)  # scfsi mode 2: one scalefactor, all parts
            put(3, 6)  # scalefactor index 3 -> 1.0
            for _gr in range(12):
                for _s in range(3):
                    put(code, nb)
            if nacc:
                bits.append((acc << (8 - nacc)) & 0xFF)
            frame = struct.pack(">I", h) + bytes(bits)
            if len(frame) > size:
                raise ValueError("fixture frame overflows its bit budget")
            out += frame + b"\x00" * (size - len(frame))
    return bytes(out)


# ----------------------------------------- MPEG-1 Layer III side info
#
# r14 groundwork + triage tier (r13): Layer III's SIDE INFORMATION is
# a fixed bit layout (ISO/IEC 11172-3 §2.4.1.7 — 17 bytes mono / 32
# stereo) that parses WITHOUT the Huffman stage: main_data_begin (the
# bit-reservoir back-pointer), and per granule/channel the
# part2_3_length, big_values, global_gain, scalefactor compression,
# window switching (block_type / mixed_block / subblock gains) and
# region/table selections. Two uses today: (1) triage — a stream
# whose side info is all zeros is a header SHELL (every frame's
# payload zero-filled, like synthetic fixtures and some loop files),
# distinguishable from a real encode without decoding audio; (2) the
# r14 Layer III content tier starts exactly here (side info -> main
# data assembly -> scalefactors -> Huffman).


def parse_mp3_sideinfo(payload: bytes) -> list[dict]:
    """Per-frame side info of an MPEG-1 Layer III stream: a list of
    ``{'main_data_begin', 'scfsi', 'granules': [per granule x channel
    {'part2_3_length', 'big_values', 'global_gain',
    'scalefac_compress', 'window_switching', 'block_type',
    'mixed_block', 'table_select', 'subblock_gain', 'region0_count',
    'region1_count', 'preflag', 'scalefac_scale',
    'count1table_select'}]}``. Raises ValueError on non-Layer-III or
    non-MPEG-1 frames; a torn final frame keeps the frames parsed."""
    pos = _id3v2_size(payload)
    out: list[dict] = []
    while pos + 4 <= len(payload):
        fr = _mp3_frame(payload, pos)
        if fr is None:
            break
        size, _samples, _rate, _bitrate, channels = fr
        h = struct.unpack(">I", payload[pos : pos + 4])[0]
        if (h >> 17) & 3 != 1:
            raise ValueError("not an MPEG-1 Layer III stream")
        if (h >> 19) & 3 != 3:
            raise ValueError("only MPEG-1 side info is parsed")
        if pos + size > len(payload):
            break  # torn final frame
        si_len = 17 if channels == 1 else 32
        body_start = pos + 4 + (0 if (h >> 16) & 1 else 2)
        if body_start + si_len > len(payload):
            break
        br = _MP1BitReader(payload, body_start * 8)
        frame = {
            "main_data_begin": br.read(9),
            "scfsi": None,
            "granules": [],
        }
        br.read(5 if channels == 1 else 3)  # private bits
        frame["scfsi"] = [br.read(4) for _ in range(channels)]
        for _gr in range(2):
            for _ch in range(channels):
                g = {
                    "part2_3_length": br.read(12),
                    "big_values": br.read(9),
                    "global_gain": br.read(8),
                    "scalefac_compress": br.read(4),
                    "window_switching": br.read(1),
                }
                if g["window_switching"]:
                    g["block_type"] = br.read(2)
                    g["mixed_block"] = br.read(1)
                    g["table_select"] = [br.read(5), br.read(5)]
                    g["subblock_gain"] = [br.read(3) for _ in range(3)]
                    g["region0_count"] = None
                    g["region1_count"] = None
                else:
                    g["block_type"] = 0
                    g["mixed_block"] = 0
                    g["table_select"] = [br.read(5) for _ in range(3)]
                    g["subblock_gain"] = [0, 0, 0]
                    g["region0_count"] = br.read(4)
                    g["region1_count"] = br.read(3)
                g["preflag"] = br.read(1)
                g["scalefac_scale"] = br.read(1)
                g["count1table_select"] = br.read(1)
                frame["granules"].append(g)
        out.append(frame)
        pos += size
    if not out:
        raise ValueError("no decodable Layer III frame")
    return out


def mp3_shell_fraction(payload: bytes) -> float | None:
    """Fraction of frames whose ENTIRE side info is zero — 1.0 for
    header shells (zero-filled payloads: synthetic fixtures, some
    stream-rip artifacts), ~0.0 for any real encode (a genuine
    granule needs nonzero part2_3_length/global_gain). None when the
    stream isn't parseable MPEG-1 Layer III — triage quarantines."""
    try:
        frames = parse_mp3_sideinfo(payload)
    except Exception:  # noqa: BLE001 — malformed audio
        return None
    zero = 0
    for f in frames:
        gz = all(
            g["part2_3_length"] == 0
            and g["big_values"] == 0
            and g["global_gain"] == 0
            for g in f["granules"]
        )
        if f["main_data_begin"] == 0 and gz:
            zero += 1
    return round(zero / len(frames), 9)


# ------------------------------------------------------------- FLAC
#
# Metadata tier from the public FLAC format spec (also RFC 9639): a
# stream is 'fLaC' + metadata blocks, the first of which MUST be
# STREAMINFO — a fixed 34-byte layout carrying sample rate (20 bits),
# channels-1 (3), bits-per-sample-1 (5), total samples (36) and the
# unencoded-audio MD5. Duration/rate/layout without touching a frame
# — the lossless-audio sibling of the MP3/MP4 metadata tiers.


def parse_flac_meta(payload: bytes) -> dict:
    """``{'sample_rate', 'channels', 'bits_per_sample',
    'total_samples', 'duration_sec', 'md5'}`` from the STREAMINFO
    block. total_samples = 0 means 'unknown' per spec -> duration
    None. Raises ValueError on non-FLAC or torn headers."""
    if payload[:4] != b"fLaC" or len(payload) < 4 + 4 + 34:
        raise ValueError("not a FLAC stream (or truncated header)")
    btype = payload[4] & 0x7F
    if btype != 0:
        raise ValueError("first metadata block is not STREAMINFO")
    si = payload[8 : 8 + 34]
    packed = int.from_bytes(si[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits_per_sample": bps,
        "total_samples": total,
        "duration_sec": round(total / rate, 9) if rate and total else None,
        "md5": si[18:34].hex(),
    }


def encode_flac_meta(
    total_samples: int,
    sample_rate: int = 44100,
    channels: int = 2,
    bits_per_sample: int = 16,
) -> bytes:
    """Minimal spec-shaped FLAC fixture: magic + a last-block
    STREAMINFO (zero frame data — metadata tier only). Every derived
    quantity is a closed form: duration = total_samples / rate."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    si = (
        struct.pack(">HH", 4096, 4096)
        + (0).to_bytes(3, "big")
        + (0).to_bytes(3, "big")
        + packed.to_bytes(8, "big")
        + b"\x00" * 16
    )
    return b"fLaC" + b"\x80" + len(si).to_bytes(3, "big") + si


# ----------------------------------------------------- WebM / Matroska
#
# Metadata tier from the public EBML/Matroska specs (RFC 8794 EBML
# framing; the Matroska element registry): a file is a tree of
# [id varint][size varint][payload] elements. Duration/timescale come
# from Segment > Info, geometry and audio layout from Segment >
# Tracks > TrackEntry — no cluster/frame decode (VP8/VP9/Opus payloads
# are out of scope; triage wants the envelope). The WebM sibling of
# the MP4 box walk.

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"

# Matroska element ids (stored with their marker bits, as-is)
_MKV_SEGMENT = 0x18538067
_MKV_INFO = 0x1549A966
_MKV_TIMESCALE = 0x2AD7B1  # nanoseconds per timestamp tick
_MKV_DURATION = 0x4489  # float, in timescale ticks
_MKV_TRACKS = 0x1654AE6B
_MKV_TRACKENTRY = 0xAE
_MKV_TRACKTYPE = 0x83  # 1 = video, 2 = audio
_MKV_CODECID = 0x86
_MKV_VIDEO = 0xE0
_MKV_PIXELW = 0xB0
_MKV_PIXELH = 0xBA
_MKV_AUDIO = 0xE1
_MKV_SAMPLERATE = 0xB5  # float
_MKV_CHANNELS = 0x9F


def _ebml_id(d: bytes, i: int) -> tuple[int, int]:
    """(element id, next pos) — ids keep their length-marker bits."""
    b0 = d[i]
    for ln in range(1, 5):
        if b0 & (0x80 >> (ln - 1)):
            return int.from_bytes(d[i : i + ln], "big"), i + ln
    raise ValueError("invalid EBML id")


def _ebml_size(d: bytes, i: int) -> tuple[int, int]:
    """(payload size, next pos) — marker bit stripped; all-ones means
    'unknown size' (streamed files), surfaced as -1."""
    b0 = d[i]
    for ln in range(1, 9):
        if b0 & (0x80 >> (ln - 1)):
            raw = int.from_bytes(d[i : i + ln], "big")
            val = raw - ((0x80 >> (ln - 1)) << (8 * (ln - 1)))
            if val == (1 << (7 * ln)) - 1:
                return -1, i + ln  # unknown size
            return val, i + ln
    raise ValueError("invalid EBML size")


def _ebml_walk(d: bytes, start: int, end: int):
    """Yield (id, payload_start, payload_end) for each element."""
    i = start
    while i < end:
        eid, i = _ebml_id(d, i)
        size, i = _ebml_size(d, i)
        stop = end if size < 0 else min(i + size, end)
        yield eid, i, stop
        if size < 0:
            return  # unknown-size element runs to the end
        i = stop


def _ebml_uint(d: bytes, a: int, b: int) -> int:
    return int.from_bytes(d[a:b], "big")


def _ebml_float(d: bytes, a: int, b: int) -> float:
    n = b - a
    if n == 4:
        return struct.unpack(">f", d[a:b])[0]
    if n == 8:
        return struct.unpack(">d", d[a:b])[0]
    raise ValueError(f"EBML float must be 4 or 8 bytes, got {n}")


def parse_webm_meta(payload: bytes) -> dict:
    """``{'timescale_ns', 'duration_sec', 'tracks': [{'type',
    'codec', 'width', 'height', 'sample_rate', 'channels'}]}`` of a
    WebM/Matroska payload by walking the EBML tree — duration =
    Duration ticks x TimecodeScale (default 1 ms/tick). Raises
    ValueError on non-EBML payloads; absent elements surface None."""
    if payload[:4] != _EBML_MAGIC:
        raise ValueError("not an EBML (WebM/Matroska) payload")
    d = bytes(payload)
    timescale = 1_000_000  # spec default: 1 ms ticks
    duration_ticks = None
    tracks: list[dict] = []
    for eid, a, b in _ebml_walk(d, 0, len(d)):
        if eid != _MKV_SEGMENT:
            continue
        for sid, sa, sb in _ebml_walk(d, a, b):
            if sid == _MKV_INFO:
                for iid, ia, ib in _ebml_walk(d, sa, sb):
                    if iid == _MKV_TIMESCALE:
                        timescale = _ebml_uint(d, ia, ib)
                    elif iid == _MKV_DURATION:
                        duration_ticks = _ebml_float(d, ia, ib)
            elif sid == _MKV_TRACKS:
                for tid, ta, tb in _ebml_walk(d, sa, sb):
                    if tid != _MKV_TRACKENTRY:
                        continue
                    t = {
                        "type": None,
                        "codec": None,
                        "width": None,
                        "height": None,
                        "sample_rate": None,
                        "channels": None,
                    }
                    for fid, fa, fb in _ebml_walk(d, ta, tb):
                        if fid == _MKV_TRACKTYPE:
                            v = _ebml_uint(d, fa, fb)
                            t["type"] = {1: "video", 2: "audio"}.get(v, str(v))
                        elif fid == _MKV_CODECID:
                            t["codec"] = d[fa:fb].decode("latin-1")
                        elif fid == _MKV_VIDEO:
                            for vid_, va, vb in _ebml_walk(d, fa, fb):
                                if vid_ == _MKV_PIXELW:
                                    t["width"] = _ebml_uint(d, va, vb)
                                elif vid_ == _MKV_PIXELH:
                                    t["height"] = _ebml_uint(d, va, vb)
                        elif fid == _MKV_AUDIO:
                            for aid, aa, ab in _ebml_walk(d, fa, fb):
                                if aid == _MKV_SAMPLERATE:
                                    t["sample_rate"] = _ebml_float(d, aa, ab)
                                elif aid == _MKV_CHANNELS:
                                    t["channels"] = _ebml_uint(d, aa, ab)
                    tracks.append(t)
    return {
        "timescale_ns": timescale,
        "duration_sec": (
            round(duration_ticks * timescale / 1e9, 9)
            if duration_ticks is not None
            else None
        ),
        "tracks": tracks,
    }


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    for ln in range(1, 9):
        if n < (1 << (7 * ln)) - 1:
            size = (n | ((0x80 >> (ln - 1)) << (8 * (ln - 1)))).to_bytes(ln, "big")
            return idb + size + payload
    raise ValueError("element too large")


def encode_webm_meta(
    duration_ms: float,
    width: int = 640,
    height: int = 360,
    sample_rate: float = 48000.0,
    channels: int = 2,
    with_audio: bool = True,
) -> bytes:
    """Minimal spec-shaped WebM fixture: EBML header + Segment with
    Info (default 1 ms timescale, float Duration) and Tracks (a VP8
    video entry; optionally an Opus audio entry). Every derived value
    is element arithmetic — no clusters, metadata tier only."""
    header = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, b"webm"))  # DocType
    info = _ebml_elem(
        _MKV_INFO,
        _ebml_elem(_MKV_TIMESCALE, (1_000_000).to_bytes(3, "big"))
        + _ebml_elem(_MKV_DURATION, struct.pack(">d", float(duration_ms))),
    )
    v_entry = _ebml_elem(
        _MKV_TRACKENTRY,
        _ebml_elem(_MKV_TRACKTYPE, b"\x01")
        + _ebml_elem(_MKV_CODECID, b"V_VP8")
        + _ebml_elem(
            _MKV_VIDEO,
            _ebml_elem(_MKV_PIXELW, width.to_bytes(2, "big"))
            + _ebml_elem(_MKV_PIXELH, height.to_bytes(2, "big")),
        ),
    )
    entries = v_entry
    if with_audio:
        entries += _ebml_elem(
            _MKV_TRACKENTRY,
            _ebml_elem(_MKV_TRACKTYPE, b"\x02")
            + _ebml_elem(_MKV_CODECID, b"A_OPUS")
            + _ebml_elem(
                _MKV_AUDIO,
                _ebml_elem(_MKV_SAMPLERATE, struct.pack(">f", sample_rate))
                + _ebml_elem(_MKV_CHANNELS, channels.to_bytes(1, "big")),
            ),
        )
    segment = _ebml_elem(
        _MKV_SEGMENT, info + _ebml_elem(_MKV_TRACKS, entries)
    )
    return header + segment


# ------------------------------------------------------- format table
#
# Each sniffed format is declared ONCE, as one FORMATS row. The front
# doors below (and multimodal's) look a payload's row up and run one
# format-free computation over what the row decodes; a new format is
# one new row.


def _still(payload: bytes, decode) -> tuple[None, list[np.ndarray]]:
    """(fps, frames) of a single-image codec. The own spec codec is
    canonical — it produces the same pixels everywhere; PIL only
    rescues variants it rejects (interlaced/16-bit PNG,
    progressive/arithmetic JPEG), so a cluster with PIL on some
    executors and not others still computes identical results for
    every payload the canonical codec handles."""
    try:
        img = decode(payload)
    except Exception:  # noqa: BLE001 — unsupported variant
        img = try_pil_decode(payload)
        if img is None:
            raise
    return None, [img]


def _gif_frames(payload: bytes) -> tuple[float | None, list[np.ndarray]]:
    """(fps, frames) of a GIF: fps is the nominal rate its Graphic
    Control Extension delays imply (100 / the median positive delay,
    centiseconds), None when the animation carries no timing."""
    frames = decode_gif(payload)
    delays = sorted(d for d in gif_frame_delays(payload) if d > 0)
    return (round(100.0 / delays[len(delays) // 2], 9) if delays else None), frames


def _y4m_duration_ms(payload: bytes) -> int | None:
    fps, *_, offsets = _y4m_walk(payload)
    return int(len(offsets) * 1000 / fps) if fps else None


def _wav_duration_ms(payload: bytes) -> int | None:
    rate, view, _ = _wav_view(payload)
    return len(view) * 1000 // rate if rate else None


def _avi_duration_ms(payload: bytes) -> int | None:
    m = parse_avi_meta(payload)
    if m["us_per_frame"] and m["total_frames"]:
        return m["total_frames"] * m["us_per_frame"] // 1000
    return None


def _seconds_ms(meta: dict) -> int | None:
    """A metadata walk's ``duration_sec`` as integer milliseconds."""
    d = meta["duration_sec"]
    return int(d * 1000) if d is not None else None


def _mp4_video_track(meta: dict) -> dict | None:
    return next((t for t in meta["tracks"] if t["handler"] == "vide"), None)


def _mp4_duration_ms(payload: bytes) -> int | None:
    """The video track's mdhd duration/timescale, falling back to the
    mvhd movie duration."""
    meta = parse_mp4_meta(payload)
    vid = _mp4_video_track(meta)
    if vid is not None and vid["duration"] and vid["timescale"]:
        return vid["duration"] * 1000 // vid["timescale"]
    if meta["duration"] and meta["timescale"]:
        return meta["duration"] * 1000 // meta["timescale"]
    return None


def _mp4_envelope(payload: bytes) -> tuple[int, float | None, int, int]:
    """(n_frames, fps, height, width) of the video track from the
    sample tables (stts run-lengths, stts/mdhd rate, tkhd geometry)
    without a frame decode — full H.264 is out of scope."""
    vid = _mp4_video_track(parse_mp4_meta(payload))
    if vid is None or not vid["n_samples"]:
        raise ValueError("no video track with samples")
    fps = None if vid["fps"] is None else round(vid["fps"], 9)
    return int(vid["n_samples"]), fps, int(vid["height"] or 0), int(vid["width"] or 0)


def _tiff_meta(payload: bytes) -> tuple[str, list]:
    m = parse_tiff_meta(payload)
    return "image_meta", [
        float(m["height"] or 0),
        float(m["width"] or 0),
        float(m["bits_per_sample"] or 0),
        float(m["compression"] or 0),
        float(m["n_ifds"]),
    ]


def _webp_meta(payload: bytes) -> tuple[str, list]:
    m = parse_webp_meta(payload)
    return "image_meta", [
        float(m["height"]),
        float(m["width"]),
        float(m["has_alpha"]),
        float(m["has_anim"]),
    ]


def _webm_meta(payload: bytes) -> tuple[str, list]:
    m = parse_webm_meta(payload)
    vt = next((t for t in m["tracks"] if t["type"] == "video"), {})
    at = next((t for t in m["tracks"] if t["type"] == "audio"), {})
    return "video_meta", [
        m["duration_sec"],
        float(vt.get("height") or 0),
        float(vt.get("width") or 0),
        float(at.get("sample_rate") or 0),
        float(at.get("channels") or 0),
    ]


def _ogg_meta(payload: bytes) -> tuple[str, list]:
    m = parse_ogg_meta(payload)
    return "audio_meta", [
        m["duration_sec"],
        float(m["preskip"]),
        float(m["sample_rate"] or 0),
        float(m["last_granule"] or 0),
        float(m["channels"] or 0),
    ]


def _flac_meta(payload: bytes) -> tuple[str, list]:
    m = parse_flac_meta(payload)
    return "audio_meta", [
        m["duration_sec"],
        float(m["bits_per_sample"]),
        float(m["sample_rate"]),
        float(m["total_samples"]),
        float(m["channels"]),
    ]


def _mp3_meta(payload: bytes) -> tuple[str, list]:
    # slot 5: the Layer III side-info shell fraction — 1.0 = zero-filled
    # header shell, ~0 = real encode, NULL for Layer I/II (no L3 side info)
    m = parse_mp3_meta(payload)
    return "audio_meta", [
        m["duration_sec"],
        float(m["bitrate_kbps"]),
        float(m["sample_rate"] or 0),
        float(m["n_frames"]),
        float(m["channels"]),
        mp3_shell_fraction(payload),
    ]


def _is_mp4(p: bytes) -> bool:
    return len(p) >= 12 and p[4:8] == b"ftyp"


def _is_bmp(p: bytes) -> bool:
    # 'BM' alone is too loose (arbitrary text can start with it);
    # require the header's declared file size to match
    return p[:2] == b"BM" and len(p) >= 14 and struct.unpack("<I", p[2:6])[0] == len(p)


def _is_mp3(p: bytes) -> bool:
    if p[:3] == b"ID3":
        return True
    # a lone 32-bit frame header is too loose a test (arbitrary binary
    # can satisfy it); require a SECOND consecutive valid header at
    # pos + frame_bytes
    fr = _mp3_frame(p, 0) if len(p) >= 4 else None
    return fr is not None and _mp3_frame(p, fr[0]) is not None


class MediaFormat(NamedTuple):
    """One sniffed media format: a row of :data:`FORMATS`. Each
    callable takes the payload and may raise on a malformed one
    (:func:`media_lookup` quarantines)."""

    sniff: Callable[[bytes], bool]  # magic-byte test
    kind: str  # modality: 'image' | 'video' | 'audio'
    frames: Callable | None = None  # -> (fps | None, [uint8 frames])
    samples: Callable | None = None  # -> (rate, (n, channels) float64 PCM)
    audio_sig: Callable | None = None  # -> 64-bit audio fingerprint | None
    ycbcr: bool = False  # luma rule: frames are YCbCr, luma is plane 0
    envelope: Callable | None = None  # -> (n_frames, fps, height, width), no frame decode
    meta: Callable | None = None  # -> (kind, vals), no content decode
    duration_ms: Callable | None = None  # -> integer ms (floor) | None
    n_frames: Callable | None = None  # image that may animate: count, no pixel decode

    def kind_of(self, payload: bytes) -> str:
        """The payload's modality: the row's kind, except that an
        image payload holding several frames (an animated GIF) is a
        video."""
        if self.n_frames is not None and self.n_frames(payload) > 1:
            return "video"
        return self.kind

    def picture(self, frame: np.ndarray) -> np.ndarray:
        """The uint8 pixels a still of ``frame`` shows: the luma plane
        of a YCbCr frame (chroma siting varies; luma is the stable
        statistic), the frame itself otherwise."""
        if self.ycbcr and frame.ndim == 3:
            return frame[:, :, 0]
        return frame

    def luma(self, frame: np.ndarray) -> np.ndarray:
        """The frame's luma plane as float64."""
        return _bt601_luma(self.picture(frame))


# Sniff order is dispatch order: the first row whose magic matches.
FORMATS: dict[str, MediaFormat] = {
    "png": MediaFormat(
        lambda p: p[:8] == PNG_MAGIC, "image", frames=lambda p: _still(p, decode_png)
    ),
    "gif": MediaFormat(
        lambda p: p[:6] in GIF_MAGICS,
        "image",
        frames=_gif_frames,
        duration_ms=lambda p: 10 * sum(gif_frame_delays(p)) or None,
        n_frames=lambda p: len(gif_frame_delays(p)),
    ),
    "jpeg": MediaFormat(
        lambda p: p[:3] == b"\xff\xd8\xff", "image", frames=lambda p: _still(p, decode_jpeg)
    ),
    "wav": MediaFormat(
        lambda p: p[:4] == b"RIFF" and p[8:12] == b"WAVE",
        "audio",
        samples=decode_wav,
        audio_sig=audio_simhash64,
        duration_ms=_wav_duration_ms,
    ),
    "y4m": MediaFormat(
        lambda p: p[:10] == Y4M_MAGIC,
        "video",
        frames=decode_y4m,
        ycbcr=True,
        duration_ms=_y4m_duration_ms,
    ),
    "mp4": MediaFormat(
        _is_mp4,
        "video",
        envelope=_mp4_envelope,
        duration_ms=_mp4_duration_ms,
    ),
    "webp": MediaFormat(lambda p: p[:4] == b"RIFF" and p[8:12] == b"WEBP", "image", meta=_webp_meta),
    "avi": MediaFormat(
        lambda p: p[:4] == b"RIFF" and p[8:12] == b"AVI ",
        "video",
        frames=decode_avi_mjpeg,
        duration_ms=_avi_duration_ms,
    ),
    "flac": MediaFormat(
        lambda p: p[:4] == b"fLaC",
        "audio",
        meta=_flac_meta,
        duration_ms=lambda p: _seconds_ms(parse_flac_meta(p)),
    ),
    "webm": MediaFormat(
        lambda p: p[:4] == _EBML_MAGIC,
        "video",
        meta=_webm_meta,
        duration_ms=lambda p: _seconds_ms(parse_webm_meta(p)),
    ),
    "ogg": MediaFormat(
        lambda p: p[:4] == b"OggS",
        "audio",
        meta=_ogg_meta,
        duration_ms=lambda p: _seconds_ms(parse_ogg_meta(p)),
    ),
    "tiff": MediaFormat(lambda p: p[:4] in (b"II*\x00", b"MM\x00*"), "image", meta=_tiff_meta),
    "bmp": MediaFormat(_is_bmp, "image", frames=lambda p: (None, [decode_bmp(p)])),
    "mp3": MediaFormat(
        _is_mp3,
        "audio",
        audio_sig=audio_simhash64_mpeg,
        meta=_mp3_meta,
        duration_ms=lambda p: _seconds_ms(parse_mp3_meta(p)),
    ),
}


def sniff_format(payload: bytes | None) -> str | None:
    """Name of the first :data:`FORMATS` row whose magic bytes match
    the payload; None for None or unrecognized payloads."""
    if payload is not None:
        for name, row in FORMATS.items():
            if row.sniff(payload):
                return name
    return None


def media_lookup(payload: bytes | None, **computes):
    """``compute(row, row.<field>(payload))`` for the first keyword
    ``field=compute`` whose field (or the ``kind_of`` method) the
    payload's :data:`FORMATS` row declares. None when no row matches,
    the row declares none of the fields, or decoding or computing
    raises: malformed media quarantines as None here, in one place (a
    frameless decode raises at its first frame index)."""
    row = FORMATS.get(sniff_format(payload))
    for field, compute in computes.items():
        decode = getattr(row, field, None)
        if decode is not None:
            try:
                return compute(row, decode(payload))
            except Exception:  # noqa: BLE001 — malformed media
                return None
    return None


def pick_frames(frames: list, n: int) -> list:
    """``n`` evenly spaced frames by the ``i*T//n`` index map every
    sampler in the engine uses."""
    return [frames[(i * len(frames)) // n] for i in range(n)]


def phash64_of_payload(payload: bytes | None) -> int | None:
    """:func:`phash64` of the payload's first frame (its luma plane),
    for every format with a frames decoder — own-spec codecs with the
    PIL rescue for PNG/JPEG variants they don't cover. None when
    nothing decodes it."""
    return media_lookup(payload, frames=lambda row, d: phash64(row.luma(d[1][0])))


def _temporal_phash64(row: MediaFormat, frames: list) -> int:
    """Temporal-average pHash: the luma planes of 4 evenly spaced
    frames, averaged, then :func:`phash64` of the mean."""
    return phash64(sum(row.luma(f) for f in pick_frames(frames, 4)) / 4.0)


def video_phash64(payload: bytes | None) -> int | None:
    """64-bit perceptual hash of a VIDEO payload: sample 4 evenly
    spaced frames (the ``i*T//4`` index map every sampler in the
    engine uses), average their luma planes, and :func:`phash64` the
    mean image — the standard cheap video near-dup signature (a
    re-encode, container change, or small frame-rate shift barely
    moves the temporal average's low-frequency band, while different
    footage moves it completely). Every video-kind format with a
    frames decoder qualifies, and ANIMATED images (a GIF of >1
    frame); a single-frame GIF is an image and belongs to
    :func:`phash64`'s family. None otherwise."""

    def video(row, kind):
        if kind != "video" or row.frames is None:
            return None
        return _temporal_phash64(row, row.frames(payload)[1])

    return media_lookup(payload, kind_of=video)


def media_duration_ms(payload: bytes | None) -> int | None:
    """Playback duration of a media payload in integer milliseconds
    (floor), from the cheapest tier each format's row declares — the
    temporal axis every transcript/segment alignment joins on:
    container or header arithmetic (mp4 stts/mdhd, avi avih, wav data
    chunk, flac STREAMINFO, webm Info), a frame-header or page walk
    (mp3, ogg), the sum of GIF Graphic Control Extension delays, or a
    Y4M stream walk. None for unrecognized formats, timing-free
    payloads (e.g. a GIF with no GCE delays), or malformed internals
    — alignment passes quarantine on NULL rather than dying."""
    return media_lookup(payload, duration_ms=lambda row, ms: ms)


def media_signature(payload: bytes | None) -> tuple[str | None, int | None]:
    """(kind, sig) perceptual signature by the payload's modality, with
    AT MOST ONE decode per payload — the fused kernel under
    ``dedup.media_signature_table``: images -> ('image',
    :func:`phash64_of_payload`), video -> ('video',
    :func:`video_phash64`), audio -> ('audio', the row's fingerprint:
    WAV band energies, MPEG Layer I/II subband energies — one bit
    layout, so cross-format encodes of one clip collide). A GIF picks
    image or video by its frame count, read without a pixel decode.
    (None, None) for undecodable or unfingerprintable payloads."""

    def sign(row, kind):
        fingerprint = {
            "image": phash64_of_payload,
            "video": video_phash64,
            "audio": row.audio_sig,
        }[kind]
        sig = fingerprint(payload) if fingerprint is not None else None
        return None if sig is None else (kind, sig)

    return media_lookup(payload, kind_of=sign) or (None, None)
