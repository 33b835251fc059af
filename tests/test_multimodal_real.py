"""Real-decode coverage for the multimodal operators: actual PNG/GIF/
WAV payloads flow through extract_features / resize_media /
sample_frames and produce codec-derived (non-stub) results, while
unrecognized payloads still take the documented stub fallback."""

from __future__ import annotations

import numpy as np
import pytest

from data_integration_and_harmonization_spark.functions import media_codecs as MC
from data_integration_and_harmonization_spark.operators import multimodal as MM


def _png(h=12, w=9):
    rng = np.random.default_rng(5)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _gif_frames(n=6, h=10, w=8):
    frames = []
    for i in range(n):
        f = np.full((h, w, 3), (i * 40) % 256, dtype=np.uint8)
        f[i % h, :, 0] = 255
        frames.append(f)
    return frames


# ------------------------------------------------------------- codecs


def test_png_roundtrip_all_channel_counts():
    rng = np.random.default_rng(11)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, (7, 5, ch), dtype=np.uint8)
        assert (MC.decode_png(MC.encode_png(img)) == img).all()


def test_png_all_filter_types_against_reference():
    # hand-built IDAT with one scanline per filter type, checked
    # against a straight-line spec implementation
    import struct
    import zlib

    rng = np.random.default_rng(3)
    w, h, ch = 6, 5, 3
    raw = rng.integers(0, 256, (h, w * ch), dtype=np.uint8)
    filts = [0, 1, 2, 3, 4]
    exp = np.zeros((h, w * ch), dtype=int)
    prev = np.zeros(w * ch, dtype=int)
    for y in range(h):
        rec = np.zeros(w * ch, dtype=int)
        for i in range(w * ch):
            a = rec[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            x = int(raw[y, i])
            f = filts[y]
            if f == 0:
                v = x
            elif f == 1:
                v = x + a
            elif f == 2:
                v = x + b
            elif f == 3:
                v = x + (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                v = x + (a if pa <= pb and pa <= pc else (b if pb <= pc else c))
            rec[i] = v & 0xFF
        exp[y] = rec
        prev = rec

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    scan = b"".join(bytes([filts[y]]) + raw[y].tobytes() for y in range(h))
    png = (
        MC.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    assert (MC.decode_png(png).reshape(h, w * ch) == exp).all()


def test_gif_multiframe_roundtrip():
    frames = _gif_frames()
    dec = MC.decode_gif(MC.encode_gif(frames))
    assert len(dec) == len(frames)
    for a, b in zip(dec, frames):
        assert (a == b).all()


def test_jpeg_roundtrip_matrix():
    """Baseline JPEG (ITU T.81) round-trips across the supported
    matrix: gray/RGB x 4:4:4/4:2:0 x restart intervals, at
    non-multiple-of-MCU dims. Lossy bounds: q=95 keeps a smooth
    gradient within a few levels; 4:2:0 adds chroma-averaging error."""
    h, w = 21, 37
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 7) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)
    for sub, tol in (("444", 4), ("420", 12)):
        for ri in (0, 3):
            p = MC.encode_jpeg(img, quality=95, subsampling=sub, restart_interval=ri)
            assert MC.sniff_format(p) == "jpeg"
            d = MC.decode_jpeg(p)
            assert d.shape == (h, w, 3)
            assert np.abs(d.astype(int) - img.astype(int)).max() <= tol
    g = ((xx + 2 * yy) % 256).astype(np.uint8)
    dg = MC.decode_jpeg(MC.encode_jpeg(g, quality=95))
    assert dg.shape == (h, w, 1)
    assert np.abs(dg[:, :, 0].astype(int) - g.astype(int)).max() <= 6
    # spec-legal 0xFF FILL bytes before a marker (T.81 B.1.1.2) must
    # not derail header parsing (r10 review finding, fixed)
    p = MC.encode_jpeg(img, quality=95)
    i = p.index(b"\xff\xdb")
    filled = p[:i] + b"\xff\xff\xff" + p[i:]
    assert MC.decode_jpeg(filled).shape == (h, w, 3)


def test_jpeg_constant_images_decode_exactly():
    """Constant blocks are DC-only through the DCT, and every Annex-K
    DC quantization step reconstructs 8*(v-128) without error — the
    property the mm_meta_features 'real' oracle rows rely on. The
    r=g=b color case additionally zeroes Cb/Cr (=128), making the
    4:2:0 + restart path exact too."""
    g = MC.decode_jpeg(MC.encode_jpeg(np.full((12, 9), 77, np.uint8), quality=90))
    assert (g[:, :, 0] == 77).all()
    c = MC.decode_jpeg(
        MC.encode_jpeg(
            np.full((10, 13, 3), 201, np.uint8),
            quality=90, subsampling="420", restart_interval=2,
        )
    )
    assert (c == 201).all()


def test_jpeg_unsupported_variants_raise():
    import struct

    with pytest.raises(ValueError, match="SOI"):
        MC.decode_jpeg(b"\x00\x01\x02")
    # synthesize a progressive header: SOI + SOF2
    sof2 = b"\xff\xd8" + b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    with pytest.raises(ValueError, match="progressive"):
        MC.decode_jpeg(sof2)
    with pytest.raises(ValueError):
        MC.decode_jpeg(b"\xff\xd8\xff\xd9")  # EOI with no scan


def test_wav_roundtrip():
    t = np.linspace(0, 1, 400)
    sig = np.stack([np.sin(2 * np.pi * 440 * t), np.cos(2 * np.pi * 220 * t)], axis=1)
    rate, dec = MC.decode_wav(MC.encode_wav(8000, sig))
    assert rate == 8000 and dec.shape == (400, 2)
    assert np.abs(dec - sig).max() < 1e-3


def test_audio_band_features_sine_and_fallbacks():
    """Spectral triage features: a rate/4 sine (exactly representable
    in 16-bit PCM, leakage-free FFT bin) puts ALL energy in one band
    with closed-form rms; stereo mixes to mono first; non-WAV and
    shorter-than-one-frame payloads return None."""
    sine = 0.5 * np.sin(np.pi * np.arange(2048) / 2)
    n_frames, rms, shares = MM.audio_band_features(
        MC.encode_wav(8192, sine), n_bands=8, frame=256
    )
    assert n_frames == 8
    assert abs(rms - 0.125 ** 0.5) < 1e-9
    assert abs(shares[3] - 1.0) < 1e-9 and sum(shares) == pytest.approx(1.0)
    # stereo: L = sine, R = -sine -> mono mix is silence (rms 0)
    stereo = np.stack([sine, -sine], axis=1)
    _, rms2, shares2 = MM.audio_band_features(MC.encode_wav(8192, stereo))
    assert rms2 == 0.0 and sum(shares2) == 0.0
    assert MM.audio_band_features(b"not audio") is None
    assert MM.audio_band_features(MC.encode_wav(8192, sine[:100])) is None


def test_sniff_and_stub_fallback():
    assert MC.sniff_format(b"not media at all") is None
    assert MM.decode_real(b"not media at all") is None
    # malformed PNG (magic only) must fall back, not raise
    assert MM.decode_real(MC.PNG_MAGIC + b"garbage") is None


# ------------------------------------------------- operators on Spark


@pytest.fixture()
def media_df(spark):
    img = _png()
    payloads = [
        (0, MC.encode_png(img), "image/png"),
        (1, MC.encode_gif(_gif_frames()), "image/gif"),
        (2, MC.encode_wav(8000, np.sin(np.linspace(0, 20, 800))), "audio/wav"),
        (3, b"opaque junk payload bytes", "application/octet-stream"),
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary, media_type string")
    return MM.to_media_table(df, "media_id", "payload", "mixed")


def test_extract_features_real_vs_stub(spark, media_df):
    feats = {r["media_id"]: r["feature"] for r in MM.extract_features(media_df).collect()}
    # PNG: [h, w, c, mean, std, min, max, n_frames]
    img = _png()
    px = img.astype(np.float64) / 255.0
    assert feats[0][:3] == [12.0, 9.0, 3.0]
    assert feats[0][3] == pytest.approx(px.mean(), abs=1e-8)
    assert feats[0][7] == 1.0
    # GIF: 6 frames of 10x8
    assert feats[1][:3] == [10.0, 8.0, 3.0] and feats[1][7] == 6.0
    # WAV: 800 samples, 1 channel, 8 kHz, 0.1 s
    assert feats[2][:3] == [800.0, 1.0, 8000.0]
    assert feats[2][7] == pytest.approx(0.1)
    # junk: exact stub output (all histogram mass in [0, 1))
    assert feats[3] == MM.decode_stub(b"opaque junk payload bytes", "x")
    assert all(0.0 <= v < 1.0 for v in feats[3])


def test_resize_media_real_decode(spark, media_df):
    out = {r["media_id"]: bytes(r["payload"]) for r in MM.resize_media(media_df, target=5).collect()}
    dec = MC.decode_png(out[0])
    assert dec.shape == (5, 5, 3)
    # nearest-neighbor: pixel (y, x) comes from source (y*12//5, x*9//5)
    img = _png()
    exp = img[(np.arange(5) * 12) // 5][:, (np.arange(5) * 9) // 5]
    assert (dec == exp).all()
    # GIF resizes its first frame
    assert MC.decode_png(out[1]).shape == (5, 5, 3)
    # junk falls back to byte striding: exactly 5 bytes
    assert out[3] == MM.resize_stub(b"opaque junk payload bytes", 5)


def test_sample_frames_real_gif(spark, media_df):
    rows = MM.sample_frames(media_df.where("media_id = 1"), n_frames=4).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]
    frames = _gif_frames()
    # evenly spaced picks: i*6//4 -> frames 0, 1, 3, 4
    exp_idx = [0, 1, 3, 4]
    for r in rows:
        got = MC.decode_png(bytes(r["frame"]))
        assert (got == frames[exp_idx[r["frame_idx"]]]).all()


def test_mm_query_fixtures_still_stub_path(spark):
    # the driver artifact's mm fixtures feed text payloads — they must
    # keep taking the stub path (hash-matched against the stub oracle)
    df = spark.createDataFrame([(1, "plain text body")], "doc_id long, text string")
    from pyspark.sql import functions as F

    media = MM.to_media_table(
        df.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "text/plain",
    )
    feat = MM.extract_features(media).collect()[0]["feature"]
    assert feat == MM.decode_stub(b"plain text body", "text/plain")


def test_local_media_frame_nested_schema(spark):
    # commas inside a nested type belong to the type, not the column list
    rows = [(1, [(1, 2), (3, 4)], b"\x00\x01"), (2, [], b"")]
    df = MM.local_media_frame(
        spark, rows, "id long, x array<struct<a:int,b:int>>, payload binary"
    )
    assert df.columns == ["id", "x", "payload"]
    got = [
        (r["id"], [(s["a"], s["b"]) for s in r["x"]], bytes(r["payload"]))
        for r in df.orderBy("id").collect()
    ]
    assert got == rows


# ---------------------------------------------------------------- Y4M


def _y4m_mono(n=6, h=12, w=16):
    return MC.encode_y4m(
        [np.full((h, w), 20 + 10 * k, dtype=np.uint8) for k in range(n)],
        fps=(25, 1),
    )


def test_y4m_roundtrip_mono_and_c420():
    mono_frames = [
        np.arange(12 * 16, dtype=np.uint8).reshape(12, 16) + k for k in range(3)
    ]
    fps, dec = MC.decode_y4m(MC.encode_y4m(mono_frames, fps=(24, 1)))
    assert fps == 24.0 and len(dec) == 3
    assert all((a == b).all() for a, b in zip(mono_frames, dec))
    # C420: chroma constant per 2x2 site -> box-subsample + nearest
    # upsample round-trips exactly; luma is arbitrary per pixel
    rng = np.random.default_rng(7)
    color = []
    for _ in range(4):
        y = rng.integers(0, 256, (8, 10), dtype=np.uint8)
        cb = np.repeat(np.repeat(rng.integers(0, 256, (4, 5)), 2, 0), 2, 1)
        cr = np.repeat(np.repeat(rng.integers(0, 256, (4, 5)), 2, 0), 2, 1)
        color.append(np.stack([y, cb, cr], axis=2).astype(np.uint8))
    fps, dec = MC.decode_y4m(MC.encode_y4m(color, fps=(30000, 1001)))
    assert abs(fps - 30000 / 1001) < 1e-12
    assert all((a == b).all() for a, b in zip(color, dec))


def test_y4m_rejects_bad_streams():
    good = _y4m_mono()
    with pytest.raises(ValueError):
        MC.decode_y4m(b"not a stream")
    with pytest.raises(ValueError):  # interlaced
        MC.decode_y4m(good.replace(b" Ip ", b" It "))
    with pytest.raises(ValueError):  # truncated last frame
        MC.decode_y4m(good[:-1])
    with pytest.raises(ValueError):  # unsupported colorspace
        MC.decode_y4m(good.replace(b"Cmono", b"C411 "))
    with pytest.raises(ValueError):  # odd geometry under C420
        MC.encode_y4m([np.zeros((7, 8, 3), dtype=np.uint8)])
    assert MC.sniff_format(good) == "y4m"


def test_video_temporal_features_closed_forms():
    nf, fps, h, w, luma, motion = MM.video_temporal_features(
        _y4m_mono(), n_sample=4
    )
    assert (nf, fps, h, w) == (6, 25.0, 12, 16)
    # picks i*6//4 = frames 0,1,3,4 -> luma 20/30/50/60
    assert luma == [round(v / 255, 9) for v in (20, 30, 50, 60)]
    assert motion == [round(v / 255, 9) for v in (10, 20, 10)]
    # animated GIF = degenerate video: fps is None, BT.601 luma
    g = MC.encode_gif([np.full((8, 8, 3), v, dtype=np.uint8) for v in (30, 60, 90)])
    nf, fps, *_rest, luma, motion = MM.video_temporal_features(g, n_sample=3)
    assert nf == 3 and fps is None
    assert luma == [round(v / 255, 9) for v in (30, 60, 90)]
    assert MM.video_temporal_features(b"garbage") is None


def test_decode_real_and_frame_sample_take_y4m():
    feats = MM.decode_real(_y4m_mono())
    assert feats == [12.0, 16.0, 1.0, round(20 / 255, 9), 0.0,
                     round(20 / 255, 9), round(20 / 255, 9), 6.0]
    frames = MM.frame_sample_real(_y4m_mono(), n_frames=2)
    assert len(frames) == 2
    # sampled luma planes re-encode as grayscale PNG: frame 1 is the
    # source's frame 3 (1*6//2) with constant luma 50
    assert (np.squeeze(MC.decode_png(frames[1])) == 50).all()


def test_extract_temporal_features_fused_stage(spark):
    sine = 0.5 * np.sin(np.pi * np.arange(2048) / 2)
    media = spark.createDataFrame(
        [
            (1, bytearray(MC.encode_wav(8192, sine))),
            (2, bytearray(_y4m_mono())),
            (3, b"neither modality"),
        ],
        "media_id long, payload binary",
    )
    rows = {
        r["media_id"]: r
        for r in MM.extract_temporal_features(media, n_sample=4).collect()
    }
    assert rows[1]["kind"] == "audio"
    assert rows[1]["vals"][8] == 8.0  # n_frames = 2048/256
    assert rows[1]["vals"][3] == 1.0  # all energy in band 3
    assert rows[2]["kind"] == "video"
    assert rows[2]["vals"] == [
        *[round(v / 255, 9) for v in (20, 30, 50, 60)],
        *[round(v / 255, 9) for v in (10, 20, 10)],
        6.0, 25.0, 12.0, 16.0,
    ]
    assert rows[3]["kind"] is None and rows[3]["vals"] is None


def test_gif_delays_and_nominal_fps():
    frames = [np.full((6, 6, 3), v, dtype=np.uint8) for v in (10, 20, 30)]
    timed = MC.encode_gif(frames, delays=[10, 10, 20])
    assert MC.gif_frame_delays(timed) == [10, 10, 20]
    # decode ignores timing; frames unchanged
    assert len(MC.decode_gif(timed)) == 3
    nf, fps, *_ = MM.video_temporal_features(timed, n_sample=3)
    assert nf == 3 and fps == 10.0  # 100 / median(10,10,20)
    # GCE-less GIF still reports no rate
    plain = MC.encode_gif(frames)
    assert MC.gif_frame_delays(plain) == [0, 0, 0]
    assert MM.video_temporal_features(plain, n_sample=3)[1] is None


def test_mp4_meta_roundtrip_and_grammar():
    """ISO-BMFF box parser: the engine's from-spec fixture encoder
    round-trips through parse_mp4_meta with every derived quantity a
    closed form; grammar violations raise."""
    p = MC.encode_mp4_meta(640, 360, 48, timescale=30000, frame_delta=1001, with_audio=True)
    assert MC.sniff_format(p) == "mp4"
    m = MC.parse_mp4_meta(p)
    assert m["brand"] == "isom"
    assert m["duration_sec"] == pytest.approx(48 * 1001 / 30000, abs=1e-3)
    vid = next(t for t in m["tracks"] if t["handler"] == "vide")
    aud = next(t for t in m["tracks"] if t["handler"] == "soun")
    assert (vid["width"], vid["height"], vid["n_samples"]) == (640.0, 360.0, 48)
    assert vid["codec"] == "avc1" and vid["fps"] == pytest.approx(30000 / 1001)
    assert aud["codec"] == "mp4a" and aud["fps"] is None
    # a 64-bit largesize box wrapping the same moov parses identically
    moov_start = p.index(b"moov") - 4
    import struct as S

    moov_size = S.unpack(">I", p[moov_start : moov_start + 4])[0]
    moov_payload = p[moov_start + 8 : moov_start + moov_size]
    large = (
        p[:moov_start]
        + S.pack(">I", 1)
        + b"moov"
        + S.pack(">Q", 16 + len(moov_payload))
        + moov_payload
    )
    m2 = MC.parse_mp4_meta(large)
    assert m2["duration_sec"] == m["duration_sec"]
    assert m2["tracks"][0]["width"] == 640.0
    # grammar violations raise, non-mp4 raises
    with pytest.raises(ValueError, match="overruns"):
        MC.parse_mp4_meta(p[: len(p) // 2])
    with pytest.raises(ValueError, match="not an ISO-BMFF"):
        MC.parse_mp4_meta(b"\x00" * 32)


def test_video_temporal_features_mp4_metadata_tier():
    """MP4 payloads take the metadata tier of video_temporal_features:
    real n_frames/fps/geometry from the sample tables, luma/motion
    NULL (no frame decode in a compressed container)."""
    p = MC.encode_mp4_meta(1920, 1080, 300, timescale=25, frame_delta=1)
    nf, fps, h, w, luma, motion = MM.video_temporal_features(p, n_sample=4)
    assert (nf, fps, h, w) == (300, 25.0, 1080, 1920)
    assert luma == [None] * 4 and motion == [None] * 3
    # an audio-only container has no video track -> None
    audio_only = MC.encode_mp4_meta(0, 0, 10, with_audio=True)
    meta = MC.parse_mp4_meta(audio_only)
    # (the fixture always writes a video trak; simulate audio-only by
    # checking the no-vide-track guard directly on a stripped payload)
    assert MM.video_temporal_features(b"\x00" * 16, 4) is None


def test_mp3_meta_walk_and_variants():
    """MP3 frame-header metadata (ISO/IEC 11172-3 framing): CBR
    roundtrip with exact duration, ID3v2 skip, VBR detection with
    duration-weighted mean bitrate, trailing-garbage stop, and
    rejection of frameless payloads."""
    p = MC.encode_mp3_meta(30, 128, 44100, with_id3=True)
    assert MC.sniff_format(p) == "mp3"
    m = MC.parse_mp3_meta(p)
    assert m["n_frames"] == 30 and m["sample_rate"] == 44100
    assert m["bitrate_kbps"] == 128 and not m["vbr"] and m["channels"] == 2
    assert m["duration_sec"] == pytest.approx(30 * 1152 / 44100, abs=1e-9)
    # untagged variant sniffs by the frame sync itself
    raw = MC.encode_mp3_meta(5, 64, 32000)
    assert MC.sniff_format(raw) == "mp3"
    assert MC.parse_mp3_meta(raw)["sample_rate"] == 32000
    # VBR: two rates concatenated -> vbr flag + weighted mean
    v = MC.encode_mp3_meta(10, 64, 44100) + MC.encode_mp3_meta(10, 192, 44100)
    mv = MC.parse_mp3_meta(v)
    assert mv["vbr"] and mv["n_frames"] == 20
    assert mv["bitrate_kbps"] == pytest.approx(128.0, abs=0.01)
    # trailing garbage (e.g. an ID3v1 tag) ends the walk cleanly
    mg = MC.parse_mp3_meta(raw + b"TAG" + b"\x00" * 125)
    assert mg["n_frames"] == 5
    with pytest.raises(ValueError, match="no MPEG audio frame"):
        MC.parse_mp3_meta(b"ID3\x04\x00\x00\x00\x00\x00\x00")
    # a JPEG's FFD8 never false-sniffs as an mp3 sync
    assert MC.sniff_format(b"\xff\xd8\xff\xe0rest") == "jpeg"


def test_extract_temporal_features_audio_meta_tier(spark):
    """MP3 payloads ride the fused Arrow stage as kind='audio_meta'
    with frame-header values; WAVs still take the spectral tier."""
    import numpy as np

    mp3 = MC.encode_mp3_meta(30, 128, 44100)
    wav = MC.encode_wav(8192, 0.5 * np.sin(np.pi * np.arange(2048) / 2))
    media = spark.createDataFrame(
        [(1, bytearray(mp3)), (2, bytearray(wav)), (3, b"junk")],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_temporal_features(media).collect()}
    assert rows[1]["kind"] == "audio_meta"
    assert rows[1]["vals"] == pytest.approx(
        [30 * 1152 / 44100, 128.0, 44100.0, 30.0, 2.0, 1.0], abs=1e-6
    )
    assert rows[2]["kind"] == "audio" and len(rows[2]["vals"]) == 10
    assert rows[3]["kind"] is None and rows[3]["vals"] is None


def test_webp_meta_variants_and_grammar():
    """WebP container metadata (RIFF + VP8/VP8L/VP8X headers): all
    three variants roundtrip geometry and flags; grammar violations
    raise; RIFF even-padding is honored when a leading chunk must be
    skipped."""
    import struct as S

    for v, kw, alpha, anim in [
        ("vp8", {}, False, False),
        ("vp8l", {"has_alpha": True}, True, False),
        ("vp8x", {"has_alpha": True, "has_anim": True}, True, True),
    ]:
        p = MC.encode_webp_meta(320, 180, v, **kw)
        assert MC.sniff_format(p) == "webp"
        m = MC.parse_webp_meta(p)
        assert (m["variant"], m["width"], m["height"]) == (v, 320, 180)
        assert (m["has_alpha"], m["has_anim"]) == (alpha, anim)
    # an unknown odd-sized leading chunk is skipped with even padding
    p = MC.encode_webp_meta(64, 48, "vp8l")
    junk = b"JUNK" + S.pack("<I", 3) + b"abc\x00"  # 3 bytes + pad
    padded = p[:12] + junk + p[12:]
    padded = padded[:4] + S.pack("<I", len(padded) - 8) + padded[8:]
    assert MC.parse_webp_meta(padded)["width"] == 64
    with pytest.raises(ValueError, match="not a WebP"):
        MC.parse_webp_meta(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError, match="no VP8"):
        MC.parse_webp_meta(b"RIFF\x04\x00\x00\x00WEBP")
    # a RIFF/WAVE payload still sniffs as wav
    import numpy as np

    assert MC.sniff_format(MC.encode_wav(8000, np.zeros(16))) == "wav"


def test_extract_temporal_features_image_meta_tier(spark):
    media = spark.createDataFrame(
        [
            (1, bytearray(MC.encode_webp_meta(320, 180, "vp8"))),
            (2, bytearray(MC.encode_webp_meta(1920, 1080, "vp8x", has_alpha=True, has_anim=True))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in MM.extract_temporal_features(media).collect()}
    assert rows[1]["kind"] == "image_meta"
    assert rows[1]["vals"] == [180.0, 320.0, 0.0, 0.0]
    assert rows[2]["vals"] == [1080.0, 1920.0, 1.0, 1.0]


def test_mp3_sniff_requires_second_frame_and_id3_footer():
    """sniff_format only claims 'mp3' for untagged payloads when a
    SECOND consecutive valid frame header follows the first (a lone
    32-bit header is satisfiable by arbitrary binary), and
    _id3v2_size honors the ID3v2.4 footer flag (+10 bytes, not
    counted in the syncsafe size)."""
    # a crafted lone header followed by garbage: NOT mp3 anymore
    lone = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x7f" * 400
    assert MC.sniff_format(lone) is None
    # two consecutive frames still sniff as mp3 without any tag
    raw = MC.encode_mp3_meta(2, 128, 44100)
    assert MC.sniff_format(raw) == "mp3"
    # footer-flagged ID3v2.4 tag: flags bit 4 set -> +10 bytes footer
    body = b"x" * 20
    L = len(body)
    tag = (
        b"ID3\x04\x00\x10"
        + bytes([(L >> 21) & 0x7F, (L >> 14) & 0x7F, (L >> 7) & 0x7F, L & 0x7F])
        + body
        + b"3DI" + b"\x04\x00\x10" + b"\x00\x00\x00\x14"  # 10-byte footer
    )
    payload = tag + MC.encode_mp3_meta(3, 128, 44100)
    m = MC.parse_mp3_meta(payload)
    assert m["n_frames"] == 3 and m["sample_rate"] == 44100


def test_media_duration_ms_tiers():
    """media_duration_ms: per-format duration arithmetic — mp4 from
    stts/mdhd (floor ms), mp3 from the frame walk, wav from the data
    chunk, gif from GCE delays (None when timing-free), y4m from
    frame count / header rate; None for junk."""
    import numpy as np

    p = MC.encode_mp4_meta(640, 360, 48, timescale=30000, frame_delta=1001)
    assert MC.media_duration_ms(p) == 48 * 1001 * 1000 // 30000  # 1601
    assert MC.media_duration_ms(
        MC.encode_mp3_meta(30, 128, 44100)
    ) == int(30 * 1152 / 44100 * 1000)
    wav = MC.encode_wav(8000, np.zeros(2000))
    assert MC.media_duration_ms(wav) == 250
    frames = [np.full((4, 4, 3), v, np.uint8) for v in (10, 60)]
    gif = MC.encode_gif(frames)
    d = MC.media_duration_ms(gif)
    delays = MC.gif_frame_delays(gif)
    assert (d is None) == (sum(delays) == 0)
    y4m = MC.encode_y4m([np.full((4, 4), 7, np.uint8)] * 5, fps=(25, 1))
    assert MC.media_duration_ms(y4m) == 200
    assert MC.media_duration_ms(b"junk") is None
    assert MC.media_duration_ms(None) is None


def test_transcript_video_alignment(spark):
    """transcript_video_alignment: cues join every segment they
    overlap, overlap widths are exact, non-overlapping cues and
    NULL-duration videos drop out."""
    from data_integration_and_harmonization_spark.operators.multimodal import (
        transcript_video_alignment,
        video_duration_table,
    )

    videos = spark.createDataFrame(
        [
            (1, bytearray(MC.encode_mp4_meta(320, 240, 24, timescale=25, frame_delta=1))),
            (2, bytearray(b"not media")),  # NULL duration -> no segments
        ],
        "video_id long, payload binary",
    )
    durs = {r["video_id"]: r["duration_ms"] for r in video_duration_table(videos).collect()}
    assert durs == {1: 960, 2: None}
    # segments of video 1: [0,240) [240,480) [480,720) [720,960)
    cues = spark.createDataFrame(
        [
            (1, 1, 100, 300),    # overlaps seg0 (140) and seg1 (60)
            (1, 2, 240, 480),    # exactly seg1 (240)
            (1, 3, 2000, 2500),  # beyond duration: no overlap
            (2, 1, 0, 100),      # video with NULL duration: dropped
        ],
        "video_id long, seq int, start_ms long, end_ms long",
    )
    rows = {
        (r["video_id"], r["seg_idx"], r["cue_seq"]): (
            r["seg_start_ms"], r["seg_end_ms"], r["overlap_ms"]
        )
        for r in transcript_video_alignment(cues, videos).collect()
    }
    assert rows == {
        (1, 0, 1): (0, 240, 140),
        (1, 1, 1): (240, 480, 60),
        (1, 1, 2): (240, 480, 240),
    }


def test_mp1_layer1_content_tier():
    """MPEG-1 Layer I content tier: the from-spec bitstream decode
    recovers the fixture's subband layout, the compressed-domain
    fingerprint equals the WAV fingerprint of the same band sequence
    (hamming 0 — one near-dup family across formats), Layer III
    payloads stay on the metadata tier, and media_signature routes
    each accordingly."""
    import numpy as np

    seq = [0, 1, 2, 3, 4, 5, 6, 7]
    p = MC.encode_mp1_tones(seq)
    assert MC.sniff_format(p) == "mp3"
    rate, sb = MC.decode_mp1_subbands(p)
    assert rate == 32000 and sb.shape == (192, 32)
    # active subband of segment k is 4*seq[k]+1 at amplitude ~0.5
    seg = sb[:24]
    assert abs(seg[:, 1] - 0.5).max() < 1e-3
    assert np.abs(seg[:, [0] + list(range(2, 32))]).max() == 0.0
    h = MC.audio_simhash64_mp1(p)
    t = np.arange(1024)
    wav = MC.encode_wav(
        8192,
        np.concatenate(
            [0.5 * np.sin(2 * np.pi * (8 + 16 * b) * t / 256) for b in seq]
        ),
    )
    assert h == MC.audio_simhash64(wav)
    # near-dup across formats: one segment moved -> hamming 2
    h2 = MC.audio_simhash64_mp1(MC.encode_mp1_tones([0, 1, 2, 3, 4, 5, 6, 6]))
    assert bin((h ^ h2) & (2**64 - 1)).count("1") == 2
    # dispatch: Layer I -> audio family; Layer III -> metadata tier only
    assert MC.media_signature(p) == ("audio", h)
    meta_mp3 = MC.encode_mp3_meta(30, 128, 44100, with_id3=True)
    assert MC.audio_simhash64_mp1(meta_mp3) is None
    assert MC.media_signature(meta_mp3) == (None, None)
    # malformed: truncated frame keeps what decoded; junk raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.decode_mp1_subbands(b"\x00" * 64)
    rate2, sb2 = MC.decode_mp1_subbands(p[: len(p) - 10])
    assert len(sb2) == 192 - 12  # final torn frame dropped


def test_avi_mjpeg_content_tier():
    """MJPEG-in-AVI content tier: the RIFF walk finds the avih clock
    and the movi '00dc' chunks, each frame decodes through the T.81
    tier (byte-exact for block-constant values in 128+3Z at q90),
    and the temporal-average pHash matches the plain phash of the
    frame mean — a real container joins the video near-dup family."""
    import numpy as np

    y, x = np.mgrid[0:32, 0:32]
    A = (128 + 3 * (((x // 8) * 7 + (y // 8) * 3 + (x // 8) * (y // 8)) % 30) - 45).astype(np.uint8)
    B = (128 + 3 * (((x // 8) * 13 + (y // 8) * 5) % 30) - 45).astype(np.uint8)
    avi = MC.encode_avi_mjpeg([A, B], fps=10)
    assert MC.sniff_format(avi) == "avi"
    fps, frames = MC.decode_avi_mjpeg(avi)
    assert fps == 10.0 and len(frames) == 2
    got = [f[:, :, 0] if f.ndim == 3 else f for f in frames]
    assert np.array_equal(got[0], A) and np.array_equal(got[1], B)
    kind, sig = MC.media_signature(avi)
    assert kind == "video"
    assert sig == MC.phash64((A.astype(float) + B.astype(float)) / 2)
    # a one-block-column bump of frame 0 lands at hamming 2
    A2 = (A.astype(int) + np.where(x // 8 == 2, 36, 0)).astype(np.uint8)
    _, sig2 = MC.media_signature(MC.encode_avi_mjpeg([A2, B], fps=10))
    assert bin((sig ^ sig2) & (2**64 - 1)).count("1") == 2
    # malformed payloads quarantine, WebP (also RIFF) still routes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    assert MC.media_signature(b"RIFF\x0c\x00\x00\x00AVI \x00\x00\x00\x00") == (None, None)
    assert MC.sniff_format(MC.encode_webp_meta(4, 4)) == "webp"
    # metadata tier: avih arithmetic without frame decode, feeding
    # media_duration_ms (the alignment family's duration source)
    m = MC.parse_avi_meta(avi)
    assert (m["total_frames"], m["fps"], m["width"], m["height"]) == (2, 10.0, 32, 32)
    assert MC.media_duration_ms(avi) == 200
    # temporal features: a real container with REAL luma/motion
    from data_integration_and_harmonization_spark.operators.multimodal import (
        video_temporal_features,
    )

    const_avi = MC.encode_avi_mjpeg(
        [np.full((16, 16), 131 + 6 * k, dtype=np.uint8) for k in range(4)],
        fps=10,
    )
    nf, fps2, h, w, luma, motion = video_temporal_features(const_avi, 4)
    assert (nf, fps2, h, w) == (4, 10.0, 16, 16)
    assert luma == [round((131 + 6 * k) / 255.0, 9) for k in range(4)]
    assert motion == [round(6 / 255.0, 9)] * 3


def test_mp2_layer2_content_tier():
    """MPEG-1 Layer II content tier (the broadcast layer): the
    from-spec decode (Table 3-B.2 allocation, scfsi scalefactor
    sharing, grouped-class degrouping, Table 3-B.4 requantization)
    recovers the fixture's subband layout; the fingerprint equals the
    WAV AND Layer I fingerprints of the same band sequence (one
    near-dup family across three formats); the layer dispatch routes
    I/II to content and III to the metadata tier."""
    import numpy as np

    seq = [0, 1, 2, 3, 4, 5, 6, 7]
    p = MC.encode_mp2_tones(seq)
    assert MC.sniff_format(p) == "mp3"
    rate, sb = MC.decode_mp2_subbands(p)
    assert rate == 44100 and sb.shape == (288, 32)
    # active subband of segment k is 4*seq[k]+1 at amplitude ~0.5;
    # zero-allocation subbands decode to EXACTLY zero
    seg = sb[:36]
    assert abs(seg[:, 1] - 0.5).max() < 1e-3
    assert np.abs(seg[:, [0] + list(range(2, 32))]).max() == 0.0
    h = MC.audio_simhash64_mp2(p)
    t = np.arange(1024)
    wav = MC.encode_wav(
        8192,
        np.concatenate(
            [0.5 * np.sin(2 * np.pi * (8 + 16 * b) * t / 256) for b in seq]
        ),
    )
    assert h == MC.audio_simhash64(wav)
    assert h == MC.audio_simhash64_mp1(MC.encode_mp1_tones(seq))
    # near-dup across formats: one segment moved -> hamming 2
    h2 = MC.audio_simhash64_mp2(MC.encode_mp2_tones([0, 1, 2, 3, 4, 5, 6, 6]))
    assert bin((h ^ h2) & (2**64 - 1)).count("1") == 2
    # layer dispatch: I and II -> content tier, III -> metadata only
    assert MC.audio_simhash64_mpeg(p) == h
    assert MC.audio_simhash64_mpeg(MC.encode_mp1_tones(seq)) == h
    assert MC.audio_simhash64_mpeg(MC.encode_mp3_meta(30, 128, 44100)) is None
    assert MC.media_signature(p) == ("audio", h)
    # the grouped 3-step class degroups (5-bit codeword -> 3 samples):
    # hand-build one 48 kHz/32 kbps frame (Table B.2c, sblimit 8,
    # sb2 nbal=3 alloc index 1 -> 3 steps) whose single group code 13
    # = 1 + 1*3 + 1*9 decodes all three samples to code 1 -> exactly 0
    hh = (
        (0x7FF << 21) | (3 << 19) | (2 << 17) | (1 << 16)
        | (1 << 12) | (1 << 10) | (3 << 6)  # 32 kbps, 48 kHz, mono
    )
    bits = []
    bits += [(0, 4), (0, 4), (1, 3)] + [(0, 3)] * 5  # alloc: sb2 -> 3 steps
    bits += [(2, 2), (3, 6)]  # scfsi one-sf, sf index 3 (= 1.0)
    bits += [(13, 5)] * 12  # 12 granules, grouped code 13 -> (1,1,1)
    acc = bytearray()
    cur, n = 0, 0
    for val, w in bits:
        cur = (cur << w) | val
        n += w
        while n >= 8:
            n -= 8
            acc.append((cur >> n) & 0xFF)
    if n:
        acc.append((cur << (8 - n)) & 0xFF)
    size = 1152 // 8 * 32 * 1000 // 48000
    frame = __import__("struct").pack(">I", hh) + bytes(acc)
    frame += b"\x00" * (size - len(frame))
    rate_g, sb_g = MC.decode_mp2_subbands(frame)
    assert rate_g == 48000 and sb_g.shape == (36, 32)
    # code 1 of the 3-step class: 4/3 * (1/2 - 1 + 1/2) = 0.0
    assert np.abs(sb_g).max() == 0.0
    # malformed: junk raises; truncated final frame keeps what decoded
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.decode_mp2_subbands(b"\x00" * 64)
    rate3, sb3 = MC.decode_mp2_subbands(p[: len(p) - 10])
    assert len(sb3) == 288 - 36  # final torn frame dropped


def test_mp3_sideinfo_and_shell_fraction():
    """Layer III side-info parse (the r14 content tier's first
    stage): field-for-field recovery of a hand-built 17-byte mono
    side info (normal and window-switching branches), shell detection
    (zero-filled fixtures -> 1.0, nonzero side info -> 0.0), and
    layer guards."""
    import struct

    shell = MC.encode_mp3_meta(6, 128, 44100, with_id3=True)
    frames = MC.parse_mp3_sideinfo(shell)
    assert len(frames) == 6 and len(frames[0]["granules"]) == 4  # stereo
    assert MC.mp3_shell_fraction(shell) == 1.0
    # hand-built mono frame: known values through both branches
    hdr = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (9 << 12) | (3 << 6)
    size = 1152 // 8 * 128000 // 44100
    bits = [(123, 9), (0, 5), (0b1010, 4)]
    for gr in range(2):
        bits += [(1500 + gr, 12), (200, 9), (180, 8), (7, 4), (0, 1),
                 (10, 5), (11, 5), (12, 5), (5, 4), (2, 3),
                 (1, 1), (0, 1), (1, 1)]
    acc, nb, by = 0, 0, bytearray()
    for v, w in bits:
        acc = (acc << w) | v
        nb += w
        while nb >= 8:
            nb -= 8
            by.append((acc >> nb) & 0xFF)
    if nb:
        by.append((acc << (8 - nb)) & 0xFF)
    assert len(by) == 17
    frame = struct.pack(">I", hdr) + bytes(by)
    frame += b"\x00" * (size - len(frame))
    f = MC.parse_mp3_sideinfo(frame)[0]
    g0, g1 = f["granules"]
    assert f["main_data_begin"] == 123 and f["scfsi"] == [0b1010]
    assert (g0["part2_3_length"], g1["part2_3_length"]) == (1500, 1501)
    assert g0["table_select"] == [10, 11, 12]
    assert (g0["region0_count"], g0["region1_count"]) == (5, 2)
    assert (g0["preflag"], g0["scalefac_scale"], g0["count1table_select"]) == (1, 0, 1)
    assert MC.mp3_shell_fraction(frame) == 0.0
    # window-switching branch
    bits2 = [(0, 9), (0, 5), (0, 4)]
    for _gr in range(2):
        bits2 += [(100, 12), (50, 9), (90, 8), (3, 4), (1, 1), (2, 2),
                  (1, 1), (10, 5), (20, 5), (1, 3), (2, 3), (3, 3),
                  (0, 1), (1, 1), (0, 1)]
    acc, nb, by2 = 0, 0, bytearray()
    for v, w in bits2:
        acc = (acc << w) | v
        nb += w
        while nb >= 8:
            nb -= 8
            by2.append((acc >> nb) & 0xFF)
    assert len(by2) == 17
    frame2 = struct.pack(">I", hdr) + bytes(by2) + b"\x00" * (size - 4 - 17)
    g = MC.parse_mp3_sideinfo(frame2)[0]["granules"][0]
    assert (g["window_switching"], g["block_type"], g["mixed_block"]) == (1, 2, 1)
    assert g["table_select"] == [10, 20] and g["subblock_gain"] == [1, 2, 3]
    # Layer I/II reject; shell fraction quarantines to None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.parse_mp3_sideinfo(MC.encode_mp2_tones([0]))
    assert MC.mp3_shell_fraction(MC.encode_mp1_tones([0])) is None


def test_wav_extended_widths():
    """The RIFF fallback decode: float32/float64/pcm24/pcm32 WAVs
    (which the stdlib wave module rejects) decode to the same signal
    as the 16-bit path and hash into the SAME audio near-dup family;
    EXTENSIBLE wrappers resolve their real tag; unsupported tags
    raise for quarantine."""
    import struct

    import numpy as np

    t = np.arange(1024)
    sig = np.concatenate(
        [0.5 * np.sin(2 * np.pi * (8 + 16 * b) * t / 256) for b in range(8)]
    )
    base = MC.audio_simhash64(MC.encode_wav(8192, sig))
    for kind in ("float32", "float64", "pcm24", "pcm32"):
        p = MC.encode_wav_ext(8192, sig, kind)
        assert MC.sniff_format(p) == "wav"
        rate, arr = MC.decode_wav(p)
        assert rate == 8192 and arr.shape == (8192, 1)
        assert np.abs(arr[:, 0] - sig).max() < 1e-6
        assert MC.audio_simhash64(p) == base
        assert MC.media_signature(p) == ("audio", base)
    # stereo keeps its channel layout
    st = MC.encode_wav_ext(44100, np.stack([sig[:64], -sig[:64]], axis=1))
    assert MC.decode_wav(st)[1].shape == (64, 2)
    # EXTENSIBLE wrapper: tag 0xFFFE, real tag (3 = float) leading
    # the SubFormat GUID at fmt[24:26]
    raw = sig[:256].astype("<f4").tobytes()
    ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 8192, 8192 * 4, 4, 32)
        + struct.pack("<HHI", 22, 32, 0)  # cbSize, valid bits, mask
        + struct.pack("<H", 3) + b"\x00" * 14  # GUID: real tag first
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(ext)) + ext
        + b"data" + struct.pack("<I", len(raw)) + raw
    )
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    r2, a2 = MC.decode_wav(wrapped)
    assert r2 == 8192 and np.abs(a2[:, 0] - sig[:256]).max() < 1e-6
    # unsupported tag quarantines
    import pytest as _pytest

    bad = MC.encode_wav_ext(8192, sig[:64], "float32").replace(
        struct.pack("<HH", 3, 1), struct.pack("<HH", 85, 1), 1
    )
    with _pytest.raises(ValueError):
        MC._decode_wav_riff(bad)


def test_bmp_content_tier():
    """BMP content tier: 24-bit round-trip, grayscale replication,
    8-bit palette, top-down rows, BMP==PNG cross-format hamming-0,
    and quarantine for compressed/torn payloads."""
    import numpy as np

    yy, xx = np.mgrid[0:32, 0:32]
    quad = ((xx * xx * 7 + yy * yy * 3 + xx * yy) % 256).astype(np.uint8)
    bmp = MC.encode_bmp(quad)
    assert MC.sniff_format(bmp) == "bmp"
    assert np.array_equal(MC.decode_bmp(bmp), np.stack([quad] * 3, axis=2))
    rgb = np.random.RandomState(3).randint(0, 256, (11, 7, 3)).astype(np.uint8)
    assert np.array_equal(MC.decode_bmp(MC.encode_bmp(rgb)), rgb)
    # same image, two lossless formats -> identical pHash
    assert MC.media_signature(bmp) == MC.media_signature(MC.encode_png(quad))
    # 8-bit paletted: identity-gray palette decodes like grayscale
    import struct

    pal = b"".join(bytes([v, v, v, 0]) for v in range(256))
    w = h = 8
    idx = ((np.arange(64) * 37) % 256).astype(np.uint8).reshape(8, 8)
    rows = b"".join(idx[y].tobytes() for y in range(h - 1, -1, -1))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows), 0, 0, 256, 0)
    p8 = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + 1024 + len(rows), 0, 0, 14 + 40 + 1024)
        + info + pal + rows
    )
    assert np.array_equal(MC.decode_bmp(p8)[:, :, 0], idx)
    # top-down (negative height)
    info_td = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows), 0, 0, 256, 0)
    rows_td = b"".join(idx[y].tobytes() for y in range(h))
    p_td = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + 1024 + len(rows_td), 0, 0, 14 + 40 + 1024)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 8, 0, len(rows_td), 0, 0, 256, 0)
        + pal + rows_td
    )
    assert np.array_equal(MC.decode_bmp(p_td)[:, :, 0], idx)
    # compressed (BI_RLE8) and torn quarantine
    import pytest as _pytest

    bad = bytearray(bmp)
    bad[30] = 1  # compression = BI_RLE8
    with _pytest.raises(ValueError):
        MC.decode_bmp(bytes(bad))
    with _pytest.raises(ValueError):
        MC.decode_bmp(bmp[:40])


def test_tiff_metadata_tier():
    """TIFF metadata tier: both byte orders, multi-page IFD chains,
    out-of-line values skipped gracefully, torn structures raise."""
    t = MC.encode_tiff_meta(2480, 3508, 1, 4, 1, n_pages=3, big_endian=True)
    assert MC.sniff_format(t) == "tiff"
    m = MC.parse_tiff_meta(t)
    assert m == {
        "byte_order": "big", "width": 2480, "height": 3508,
        "bits_per_sample": 1, "compression": 4,
        "samples_per_pixel": 1, "n_ifds": 3,
    }
    m2 = MC.parse_tiff_meta(MC.encode_tiff_meta(640, 480))
    assert (m2["byte_order"], m2["width"], m2["n_ifds"]) == ("little", 640, 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.parse_tiff_meta(b"II*\x00\x40\x00\x00\x00")
    with _pytest.raises(ValueError):
        MC.parse_tiff_meta(b"not tiff")


def test_ogg_opus_metadata_tier():
    """Ogg/Opus metadata tier: page walk + OpusHead arithmetic
    (granules tick at 48 kHz, duration subtracts the pre-skip),
    Vorbis identification headers carry their own clock, torn pages
    degrade, and media_duration_ms integrates the container."""
    import struct

    p = MC.encode_ogg_opus_meta(120000, channels=1, preskip=312)
    assert MC.sniff_format(p) == "ogg"
    m = MC.parse_ogg_meta(p)
    assert m == {
        "codec": "opus",
        "channels": 1,
        "sample_rate": 48000,
        "preskip": 312,
        "last_granule": 120312,
        "duration_sec": 2.5,
    }
    assert MC.media_duration_ms(p) == 2500
    # Vorbis: own clock from the identification header
    pkt = (
        b"\x01vorbis" + b"\x00" * 4 + bytes([2])
        + (44100).to_bytes(4, "little") + b"\x00" * 12
    )
    vorb = (
        b"OggS\x00\x02" + struct.pack("<q", 0) + b"\x00" * 12
        + bytes([1, len(pkt)]) + pkt
        + b"OggS\x00\x04" + struct.pack("<q", 88200) + b"\x00" * 12
        + bytes([1, 4]) + b"\x00" * 4
    )
    mv = MC.parse_ogg_meta(vorb)
    assert (mv["codec"], mv["channels"], mv["sample_rate"], mv["duration_sec"]) == (
        "vorbis", 2, 44100, 2.0
    )
    # torn final page keeps the parsed prefix; headerless raises
    assert MC.parse_ogg_meta(p[:-3])["last_granule"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.parse_ogg_meta(b"OggS" + b"\x00" * 30)
    with _pytest.raises(ValueError):
        MC.parse_ogg_meta(b"not ogg")


def test_flac_streaminfo_metadata_tier():
    """FLAC STREAMINFO tier: sniff, block-arithmetic fields, unknown
    total_samples -> NULL duration, media_duration_ms integration,
    and the fused temporal stage routes it as audio_meta."""
    p = MC.encode_flac_meta(110250, 44100, 2, 16)
    assert MC.sniff_format(p) == "flac"
    m = MC.parse_flac_meta(p)
    assert (m["sample_rate"], m["channels"], m["bits_per_sample"]) == (44100, 2, 16)
    assert m["total_samples"] == 110250 and m["duration_sec"] == 2.5
    assert MC.media_duration_ms(p) == 2500
    unknown = MC.encode_flac_meta(0)
    assert MC.parse_flac_meta(unknown)["duration_sec"] is None
    assert MC.media_duration_ms(unknown) is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.parse_flac_meta(b"fLaC" + b"\x00")
    with _pytest.raises(ValueError):
        MC.parse_flac_meta(b"not flac at all, much too short? no -" + b"\x00" * 20)


def test_webm_ebml_metadata_tier():
    """WebM/Matroska metadata tier: EBML varint framing, Info
    duration x timescale, Tracks geometry + audio layout, sniff and
    media_duration_ms integration, video-only variant, junk raises."""
    p = MC.encode_webm_meta(2500.0, 854, 480, 48000.0, 2)
    assert MC.sniff_format(p) == "webm"
    m = MC.parse_webm_meta(p)
    assert m["duration_sec"] == 2.5 and m["timescale_ns"] == 1_000_000
    v = next(t for t in m["tracks"] if t["type"] == "video")
    a = next(t for t in m["tracks"] if t["type"] == "audio")
    assert (v["codec"], v["width"], v["height"]) == ("V_VP8", 854, 480)
    assert (a["codec"], a["sample_rate"], a["channels"]) == ("A_OPUS", 48000.0, 2)
    assert MC.media_duration_ms(p) == 2500
    solo = MC.parse_webm_meta(MC.encode_webm_meta(100.0, with_audio=False))
    assert [t["type"] for t in solo["tracks"]] == ["video"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        MC.parse_webm_meta(b"not ebml")
    # a multi-byte size varint (2-byte form) walks correctly
    from data_integration_and_harmonization_spark.functions.media_codecs import (
        _ebml_size,
    )

    assert _ebml_size(b"\x40\x01", 0) == (1, 2)
    assert _ebml_size(b"\x81", 0) == (1, 1)
    assert _ebml_size(b"\xff", 0) == (-1, 1)  # unknown size
