"""Seeded mutation fuzz over the round-13 codec surface.

The 100-TB contract for every decode path is QUARANTINE, NOT DIE:
front-door dispatchers (`media_signature`, `document_text_table`'s
per-payload ladder, `parse_warc_records` callers) must survive
arbitrary bytes — decoders may raise ValueError (callers catch), but
nothing may leak an unexpected exception type out of a dispatcher or
loop forever. Deterministic seeds: failures reproduce."""

from __future__ import annotations

import random
import zlib

import numpy as np

from data_integration_and_harmonization_spark.functions import media_codecs as MC
from data_integration_and_harmonization_spark.functions.pdf import extract_pdf_text
from data_integration_and_harmonization_spark.sources.docx import (
    extract_docx_text,
    extract_pptx_text,
)
from data_integration_and_harmonization_spark.sources.epub import extract_epub_text
from data_integration_and_harmonization_spark.sources.warc import (
    _dechunk,
    decode_http_text,
    encode_warc,
    parse_warc_records,
)


def _mutations(payload: bytes, rng: random.Random, n: int = 40):
    """Truncations, byte flips, and splices of a valid payload —
    the shapes torn files and bit rot actually produce."""
    out = []
    L = len(payload)
    for _ in range(n):
        kind = rng.randrange(4)
        if kind == 0:  # truncate
            out.append(payload[: rng.randrange(L + 1)])
        elif kind == 1:  # flip a few bytes
            b = bytearray(payload)
            for _k in range(rng.randrange(1, 8)):
                b[rng.randrange(L)] ^= 1 << rng.randrange(8)
            out.append(bytes(b))
        elif kind == 2:  # splice two halves of different payloads
            cut = rng.randrange(L)
            out.append(payload[:cut] + bytes(rng.randrange(256) for _ in range(16)))
        else:  # garbage prefix keeps the magic confused
            out.append(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 32))) + payload)
    return out


def _valid_media():
    y, x = np.mgrid[0:16, 0:16]
    img = ((x * 7 + y * 3) % 256).astype(np.uint8)
    return [
        MC.encode_png(img),
        MC.encode_jpeg(img, quality=90),
        MC.encode_gif([np.stack([img] * 3, axis=2)]),
        MC.encode_wav(8192, np.sin(np.arange(2048) / 7.0) * 0.4),
        MC.encode_y4m([img, img]),
        MC.encode_mp1_tones([0, 3, 5]),
        MC.encode_mp2_tones([0, 3, 5]),
        MC.encode_mp3_meta(6, 128, 44100, with_id3=True),
        MC.encode_avi_mjpeg([img, img], fps=10),
        MC.encode_ogg_opus_meta(48000),
        MC.encode_flac_meta(44100),
        MC.encode_webp_meta(32, 24),
        MC.encode_webm_meta(1000.0, 640, 360, 48000.0, 2),
        MC.encode_mp4_meta(320, 240, 24),
        # ID3v2.4 tag with one TIT2 text frame, then two mp3 frames
        b"ID3\x04\x00\x00\x00\x00\x00\x0cTIT2\x00\x00\x00\x02\x00\x00\x03t"
        + MC.encode_mp3_meta(2),
        MC.encode_bmp(img),
        MC.encode_tiff_meta(64, 48, 8, 1, 3, n_pages=2),
        MC.encode_wav_ext(8000, np.sin(np.arange(512) / 5.0), "float32"),
        MC.encode_wav_ext(8000, np.sin(np.arange(512) / 5.0), "pcm24"),
    ]


def test_media_signature_never_raises():
    rng = random.Random(1313)
    for payload in _valid_media():
        for m in _mutations(payload, rng):
            kind, sig = MC.media_signature(m)  # must not raise
            assert kind in (None, "image", "audio", "video")
            if sig is not None:
                assert -(2**63) <= sig < 2**63


def test_metadata_walks_raise_only_valueerror():
    import struct

    rng = random.Random(4242)
    walks = [
        MC.parse_mp3_meta,
        MC.parse_mp4_meta,
        MC.parse_webp_meta,
        MC.parse_flac_meta,
        MC.parse_webm_meta,
        MC.parse_ogg_meta,
        MC.parse_avi_meta,
        MC.decode_mp1_subbands,
        MC.decode_mp2_subbands,
        MC.decode_avi_mjpeg,
        MC.parse_tiff_meta,
        MC.decode_bmp,
        MC.decode_wav,
    ]
    for payload in _valid_media():
        for m in _mutations(payload, rng, n=12):
            for walk in walks:
                try:
                    walk(m)
                except (ValueError, IndexError, KeyError, struct.error):
                    pass  # the documented quarantine surface
    # media_duration_ms is a total function
    for payload in _valid_media():
        for m in _mutations(payload, rng, n=6):
            d = MC.media_duration_ms(m)
            assert d is None or d >= 0


def test_document_extractors_quarantine():
    from data_integration_and_harmonization_spark.sources.docx import (
        encode_docx,
        encode_pptx,
    )
    from data_integration_and_harmonization_spark.sources.epub import encode_epub
    from data_integration_and_harmonization_spark.functions.pdf import (
        encode_pdf,
        encode_pdf_cid,
        encode_pdf_positioned,
    )

    rng = random.Random(7777)
    docs = [
        encode_pdf(["alpha", "beta"]),
        encode_pdf_cid(["gamma é"]),
        encode_pdf_positioned([(72, 700, "pos")]),
        encode_docx(["delta"]),
        encode_pptx(["slide"]),
        encode_epub(["chapter one", "chapter two"]),
    ]
    for payload in docs:
        for m in _mutations(payload, rng, n=25):
            # extractors return str | None, never raise
            for fn in (extract_pdf_text, extract_docx_text,
                       extract_pptx_text, extract_epub_text):
                r = fn(m)
                assert r is None or isinstance(r, str)


def test_warc_parse_and_text_decode_total():
    rng = random.Random(99)
    base = encode_warc(
        [
            ("http://f/a", "2026-01-01T00:00:00Z", "<p>one</p>"),
            ("http://f/b", "2026-01-01T00:00:01Z", "<p>twó</p>",
             {"chunked": True, "charset": "windows-1252"}),
        ],
        gzip_members=True,
    )
    for m in _mutations(base, rng, n=30):
        recs = parse_warc_records(m)  # must not raise
        for r in recs:
            assert r["text"] is None or isinstance(r["text"], str)
    # _dechunk and decode_http_text are total on arbitrary bytes
    for _ in range(60):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        assert isinstance(_dechunk(blob), bytes)
        assert isinstance(decode_http_text(blob, "text/html; charset=bogus"), str)
        assert isinstance(decode_http_text(blob, None), str)


def test_zlib_bomb_guard_not_required_but_torn_flate_quarantines():
    """A torn FlateDecode stream inside a PDF quarantines (classic
    tier skips streams zlib rejects) — pinned so future filter work
    keeps the contract."""
    from data_integration_and_harmonization_spark.functions.pdf import encode_pdf

    p = bytearray(encode_pdf(["text"], compress=True))
    # corrupt the middle of the deflate payload
    mid = len(p) // 2
    p[mid] ^= 0xFF
    r = extract_pdf_text(bytes(p))
    assert r is None or isinstance(r, str)
