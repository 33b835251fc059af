"""The media format table: ``media_codecs.FORMATS`` declares each sniffed
format once, and every per-payload media kernel is a lookup into it.

Per row, an encoder-built fixture sniffs to its own name and each public
kernel answers exactly where the row declares the capability it needs.
A fuzz pass holds every kernel to quarantine (None, never an exception),
the formats the table newly reaches are pinned against the codecs, and
an AST guard keeps format names out of every dispatch but the table."""

from __future__ import annotations

import ast
import pathlib
import random

import numpy as np
import pytest
from test_fuzz_codecs import _mutations, _valid_media

from data_integration_and_harmonization_spark.functions import media_codecs as MC
from data_integration_and_harmonization_spark.operators import multimodal as MM

PKG = pathlib.Path(MC.__file__).resolve().parent.parent

_YY, _XX = np.mgrid[0:16, 0:16]
_GRAY = ((_XX * 7 + _YY * 3) % 256).astype(np.uint8)
_RGB = np.stack([_GRAY, np.roll(_GRAY, 5, 0), np.roll(_GRAY, 3, 1)], axis=2)
_SINE = 0.5 * np.sin(np.pi * np.arange(2048) / 2)

FIXTURES = {
    "png": lambda: MC.encode_png(_RGB),
    "gif": lambda: MC.encode_gif([_RGB, _RGB[::-1]], delays=[10, 10]),
    "jpeg": lambda: MC.encode_jpeg(_GRAY, quality=90),
    "wav": lambda: MC.encode_wav(8192, _SINE),
    "y4m": lambda: MC.encode_y4m([_GRAY, _GRAY[::-1]]),
    "mp4": lambda: MC.encode_mp4_meta(320, 240, 24),
    "webp": lambda: MC.encode_webp_meta(32, 24),
    "avi": lambda: MC.encode_avi_mjpeg([_GRAY, _GRAY[::-1]], fps=10),
    "flac": lambda: MC.encode_flac_meta(110250, 44100, 2, 16),
    "webm": lambda: MC.encode_webm_meta(1000.0, 640, 360, 48000.0, 2),
    "ogg": lambda: MC.encode_ogg_opus_meta(48000),
    "tiff": lambda: MC.encode_tiff_meta(64, 48, 8, 1, 3, n_pages=2),
    "bmp": lambda: MC.encode_bmp(_RGB),
    "mp3": lambda: MC.encode_mp1_tones([0, 1, 2, 3, 4, 5, 6, 7]),
}


def test_formats_table_lists_the_fourteen_in_sniff_order():
    assert list(MC.FORMATS) == [
        "png", "gif", "jpeg", "wav", "y4m", "mp4", "webp",
        "avi", "flac", "webm", "ogg", "tiff", "bmp", "mp3",
    ]


@pytest.mark.parametrize("name", list(FIXTURES))
def test_each_row_sniffs_and_serves_what_it_declares(name):
    row = MC.FORMATS[name]
    p = FIXTURES[name]()
    assert MC.sniff_format(p) == name
    frames, pcm = row.frames is not None, row.samples is not None
    expect = {
        "phash64_of_payload": frames,
        "resize_real": frames,
        "frame_sample_real": frames,
        "decode_real": frames or pcm,
        "audio_band_features": pcm,
        "video_temporal_features": frames or row.envelope is not None,
        "temporal_features": frames or pcm or row.envelope is not None or row.meta is not None,
        "media_signature": frames or row.audio_sig is not None,
        "media_duration_ms": row.duration_ms is not None,
    }
    got = {
        "phash64_of_payload": MC.phash64_of_payload(p),
        "resize_real": MM.resize_real(p),
        "frame_sample_real": MM.frame_sample_real(p),
        "decode_real": MM.decode_real(p),
        "audio_band_features": MM.audio_band_features(p),
        "video_temporal_features": MM.video_temporal_features(p),
        "temporal_features": MM.temporal_features(p)[0],
        "media_signature": MC.media_signature(p)[1],
        "media_duration_ms": MC.media_duration_ms(p),
    }
    assert {k: v is not None for k, v in got.items()} == expect
    kind, _ = MC.media_signature(p)
    assert kind in (None, row.kind_of(p))


def test_every_lookup_quarantines_torn_media():
    """Truncations, flips and splices of every valid payload: each
    kernel returns its value or None, never raises. Torn WebM/TIFF/WebP
    metadata once escaped temporal_features as IndexError/struct.error."""
    kernels = (
        MM.temporal_features,
        MM.video_temporal_features,
        MM.audio_band_features,
        MM.decode_real,
        MM.resize_real,
        MM.frame_sample_real,
        MC.media_signature,
        MC.media_duration_ms,
        MC.phash64_of_payload,
        MC.video_phash64,
        MC.audio_simhash64,
    )
    rng = random.Random(2026)
    for payload in _valid_media():
        for m in _mutations(payload, rng, n=40):
            for kernel in kernels:
                kernel(m)  # must not raise


def _duration_by_decode(payload: bytes) -> int | None:
    """Y4M/WAV duration by counting fully decoded frames or samples."""
    decode = {"y4m": MC.decode_y4m, "wav": MC.decode_wav}[MC.sniff_format(payload)]
    try:
        rate, frames = decode(payload)
    except Exception:  # noqa: BLE001 — torn media: no duration
        return None
    if not rate:
        return None
    return int(len(frames) * 1000 / rate) if decode is MC.decode_y4m else len(frames) * 1000 // rate


def test_duration_walk_matches_the_full_decode():
    """Y4M and WAV durations come from the header and frame/chunk walk
    their decoders share, without converting a pixel or a sample. On
    every payload of the fuzz corpus they equal counting the decoded
    frames/samples, None wherever that decode raises, and the corpus's
    durations (every format) hash to the value the full-decode
    implementation produced."""
    import hashlib

    rng = random.Random(2026)
    corpus = [m for p in _valid_media() for m in [p, *_mutations(p, rng, n=40)]]
    walked = [m for m in corpus if MC.sniff_format(m) in ("y4m", "wav")]
    assert len(walked) == 124
    got = [MC.media_duration_ms(m) for m in walked]
    assert got == [_duration_by_decode(m) for m in walked]
    assert 0 < got.count(None) < len(got)
    digest = hashlib.sha256(repr([MC.media_duration_ms(m) for m in corpus]).encode())
    assert digest.hexdigest() == (
        "02ed73d98e1092a60e55468ecc3e12e03632ef84b6a7fea5d431d4f8e30fb96b"
    )


def test_torn_metadata_payloads_are_null_rows():
    torn = [
        MC.encode_webm_meta(1000.0, 640, 360, 48000.0, 2)[:4],
        MC.encode_tiff_meta(64, 48, 8, 1, 3, n_pages=2)[:4],
        MC.encode_webp_meta(32, 24)[:26],
    ]
    for p in torn:
        assert MC.sniff_format(p) is not None
        assert MM.temporal_features(p) == (None, None)


# ------------------------------------------- coverage the table widened


def test_avi_is_video_in_every_visual_kernel():
    frames = [np.full((16, 16), 131 + 6 * k, dtype=np.uint8) for k in range(4)]
    avi = MC.encode_avi_mjpeg(frames, fps=10)
    kind, sig = MC.media_signature(avi)
    assert kind == "video" and MC.video_phash64(avi) == sig
    first = MC.decode_avi_mjpeg(avi)[1][0]
    assert MC.phash64_of_payload(avi) == MC.phash64(first)
    v = 131 / 255
    assert MM.decode_real(avi) == [16.0, 16.0, 1.0, round(v, 9), 0.0, round(v, 9), round(v, 9), 4.0]
    assert (np.squeeze(MC.decode_png(MM.resize_real(avi, 8))) == 131).all()
    sampled = MM.frame_sample_real(avi, n_frames=2)
    assert [int(np.squeeze(MC.decode_png(f))[0, 0]) for f in sampled] == [131, 143]


def test_bmp_matches_png_in_every_still_kernel():
    bmp, png = MC.encode_bmp(_RGB), MC.encode_png(_RGB)
    assert MM.decode_real(bmp) == MM.decode_real(png) is not None
    assert MM.resize_real(bmp, 8) == MM.resize_real(png, 8) is not None
    assert MM.frame_sample_real(bmp) == MM.frame_sample_real(png) is not None
    assert MC.phash64_of_payload(bmp) == MC.phash64_of_payload(png) is not None


def test_y4m_first_frame_is_its_luma_picture():
    chroma = np.full((16, 16), 128, dtype=np.uint8)
    y4m = MC.encode_y4m([np.stack([_GRAY, chroma, chroma], axis=2)] * 2)
    assert MC.phash64_of_payload(y4m) == MC.phash64(_GRAY)
    assert np.array_equal(
        np.squeeze(MC.decode_png(MM.resize_real(y4m, 16))), _GRAY
    )


def test_stills_are_one_frame_clips_in_temporal_features():
    png = MC.encode_png(np.full((6, 5), 51, dtype=np.uint8))
    assert MM.video_temporal_features(png) == (1, None, 6, 5, [0.2] * 4, [0.0] * 3)
    assert MM.temporal_features(png) == ("video", [0.2] * 4 + [0.0] * 3 + [1.0, None, 6.0, 5.0])


def test_video_fps_is_rounded_to_nine_decimals():
    y4m = MC.encode_y4m([_GRAY] * 2, fps=(30000, 1001))
    assert MM.video_temporal_features(y4m)[1] == round(30000 / 1001, 9)


def test_pil_rescue_serves_every_still_kernel(monkeypatch):
    torn = MC.PNG_MAGIC + b"garbage"
    assert MM.resize_real(torn) is None
    monkeypatch.setattr(MC, "try_pil_decode", lambda p: _RGB)
    assert MM.resize_real(torn, 16) == MC.encode_png(_RGB)
    assert MM.frame_sample_real(torn, 1) == [MC.encode_png(_RGB)]
    assert MM.decode_real(torn) == MM.decode_real(MC.encode_png(_RGB))


def test_bt601_luma_matches_the_matmul_after_rounding():
    """The luma function sums BT.601 terms elementwise; the matmul
    ``f @ [0.299, 0.587, 0.114]`` differs from it in the last bit on
    some pixels, so the rounded GIF luma/motion features must still
    equal the matmul reference."""
    rng = np.random.RandomState(11)
    palette = rng.randint(0, 256, (200, 3)).astype(np.uint8)
    frames = [palette[rng.randint(0, 200, (37, 41))] for _ in range(5)]
    got = MM.video_temporal_features(MC.encode_gif(frames), n_sample=4)
    ref = [f.astype(np.float64) @ np.array([0.299, 0.587, 0.114]) for f in MC.pick_frames(frames, 4)]
    assert got[4] == [round(float(p.mean()) / 255.0, 9) for p in ref]
    assert got[5] == [
        round(float(np.abs(b - a).mean()) / 255.0, 9) for a, b in zip(ref, ref[1:])
    ]


# ------------------------------------------------------------- guard


def _format_literals(node: ast.AST) -> list[str]:
    vals = node.elts if isinstance(node, (ast.Tuple, ast.List, ast.Set)) else [node]
    return [
        v.value for v in vals if isinstance(v, ast.Constant) and v.value in MC.FORMATS
    ]


def test_format_names_dispatch_only_through_the_table():
    """Outside the FORMATS assignment, media_codecs and multimodal never
    compare a value to a format-name literal nor key a dict by one."""
    offenders = []
    for rel in ("functions/media_codecs.py", "operators/multimodal.py"):
        tree = ast.parse((PKG / rel).read_text())
        table = {
            id(n)
            for node in tree.body
            if isinstance(node, (ast.Assign, ast.AnnAssign))
            and any(
                isinstance(t, ast.Name) and t.id == "FORMATS"
                for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
            )
            for n in ast.walk(node)
        }
        for node in ast.walk(tree):
            if id(node) in table:
                continue
            if isinstance(node, ast.Compare):
                hits = [h for c in [node.left, *node.comparators] for h in _format_literals(c)]
            elif isinstance(node, ast.Dict):
                hits = [h for k in node.keys if k is not None for h in _format_literals(k)]
            elif isinstance(node, ast.MatchValue):
                hits = _format_literals(node.value)
            else:
                continue
            if hits:
                offenders.append(f"{rel}:{node.lineno}: {hits}")
    assert offenders == []
