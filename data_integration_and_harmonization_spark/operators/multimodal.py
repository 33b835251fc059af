"""Multimodal column handling (engine extension; SURVEY §7).

Design: media are opaque ``binary`` columns + a typed metadata struct.
Everything Spark-side is real — schema, partition-friendly layout,
Arrow-batched UDF signatures, batch shapes — and the decode itself is
REAL for the formats the engine's codecs cover
(:mod:`..functions.media_codecs`: PNG, GIF, JPEG, WAV, Y4M video
from their public specs on stdlib+numpy; PIL preferred when
importable). Payloads no
decoder recognizes fall back to the clearly-marked deterministic
stubs (``decode_stub``/``resize_stub``/``frame_sample_stub``) so
pipelines stay total: a corpus with undecodable blobs degrades to
stable byte-derived features instead of failing mid-job — and the
``feature[0]`` channel disambiguates the two paths (real features
lead with spatial/temporal dims, stub features are all < 1).

At scale the mapInPandas stage processes Arrow record batches: per
batch one vectorized pass, media bytes never round-trip through
driver, and the output schema is fixed so downstream stays columnar.
The per-payload decode is Python, which is the right cost model here:
the parallelism unit is the Arrow batch, and codec work is inherently
per-payload C-speed (zlib/numpy) under a thin Python chunk walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_integration_and_harmonization_spark.functions import media_codecs as MC
from data_integration_and_harmonization_spark.functions.arrow import payload_stage

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def local_media_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small driver-built fixture frame as a JVM ``LocalTableScan``
    (via a pandas/Arrow ``createDataFrame``) instead of the plain
    list path. The list path parallelizes into ``defaultParallelism``
    pickled slices, and EVERY downstream task that touches a slice
    pays a Python-worker round-trip just to deserialize it — 32
    near-empty Arrow tasks for a 15-row fixture at local[32] (r14;
    this inverse-scaled mm_meta_features: more cores = more empty
    Python tasks; a ``coalesce(1)`` is WORSE — it serializes the 32
    per-slice worker round-trips into one task, measured ~5 s). The
    Arrow path ships the rows straight into the JVM: no Python
    stage for frame creation at all, and bounded partitions.
    """
    import pandas as pd

    names = T._parse_datatype_string(schema).names
    pdf = pd.DataFrame(
        {
            n: [bytes(r[i]) if isinstance(r[i], (bytearray, memoryview)) else r[i] for r in rows]
            for i, n in enumerate(names)
        },
        columns=names,
    )
    return spark.createDataFrame(pdf, schema)


def to_media_table(df: DataFrame, id_col: str, payload_col: str, media_type: str) -> DataFrame:
    """Wrap an id + binary column into the engine's media layout with
    metadata computed JVM-side (length, sha2 digest)."""
    p = F.col(payload_col)
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        p.alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.length(p).cast("long").alias("n_bytes"),
        F.sha2(p, 256).alias("digest"),
    )


def decode_real(payload: bytes, dim: int = 8) -> list[float] | None:
    """Real media decode -> fixed-width feature vector, or None when
    no codec recognizes the payload (caller falls back to the stub).

    Feature layout (padded/truncated to ``dim``), by modality:

    - image (PNG/JPEG via own-codec-then-PIL, GIF first frame):
      [height, width, channels, mean/255, std/255, min/255, max/255,
      n_frames]
    - audio (WAV): [n_samples, n_channels, sample_rate, mean, std,
      min, max, duration_sec]
    - video (Y4M): [height, width, planes, meanY/255, stdY/255,
      minY/255, maxY/255, n_frames] — pixel stats over the LUMA
      plane of the first frame (chroma is siting-dependent; luma is
      the modality-stable statistic)

    Leading spatial/temporal dims are >= 1, so real features are
    distinguishable from the stub's all-in-[0,1) histogram at a
    glance. Values rounded to 9 decimals like the stub's.
    """
    import numpy as np

    fmt = MC.sniff_format(payload)
    if fmt is None:
        return None
    try:
        if fmt in ("png", "gif", "jpeg"):
            if fmt in ("png", "jpeg"):
                # OWN spec codec is canonical — it produces the same
                # bands everywhere; PIL only rescues payloads the own
                # codec can't parse (interlaced/16-bit PNG,
                # progressive/arithmetic JPEG), so a cluster with PIL
                # on some executors and not others still computes
                # identical features for every payload the canonical
                # codec handles.
                dec = MC.decode_png if fmt == "png" else MC.decode_jpeg
                try:
                    img = dec(payload)
                except Exception:  # noqa: BLE001 — unsupported variant
                    img = MC.try_pil_decode(payload)
                    if img is None:
                        return None
                n_frames = 1.0
            else:
                frames = MC.decode_gif(payload)
                if not frames:
                    return None
                img = frames[0]
                n_frames = float(len(frames))
            if img.ndim == 2:
                img = img[:, :, None]
            px = img.astype(np.float64) / 255.0
            feats = [
                float(img.shape[0]),
                float(img.shape[1]),
                float(img.shape[2]),
                float(px.mean()),
                float(px.std()),
                float(px.min()),
                float(px.max()),
                n_frames,
            ]
        elif fmt == "y4m":
            _, vframes = MC.decode_y4m(payload)
            if not vframes:
                return None
            f0 = vframes[0]
            yp = (f0 if f0.ndim == 2 else f0[:, :, 0]).astype(np.float64) / 255.0
            feats = [
                float(f0.shape[0]),
                float(f0.shape[1]),
                float(1 if f0.ndim == 2 else f0.shape[2]),
                float(yp.mean()),
                float(yp.std()),
                float(yp.min()),
                float(yp.max()),
                float(len(vframes)),
            ]
        else:  # wav
            rate, samples = MC.decode_wav(payload)
            if samples.size == 0:
                return None
            feats = [
                float(samples.shape[0]),
                float(samples.shape[1]),
                float(rate),
                float(samples.mean()),
                float(samples.std()),
                float(samples.min()),
                float(samples.max()),
                float(samples.shape[0]) / rate,
            ]
    except Exception:  # noqa: BLE001 — malformed media: stub fallback
        return None
    feats = (feats + [0.0] * dim)[:dim]
    return [round(x, 9) for x in feats]


def decode_stub(payload: bytes, media_type: str, dim: int = 8) -> list[float]:
    """DETERMINISTIC FAKE decoder — the fallback for payloads no real
    codec recognizes (see :func:`decode_real`): the 'feature' is a
    stable byte-histogram projection — same shape, same dtype, fully
    deterministic, obviously not a real embedding.

    Vectorized (np.frombuffer + bincount) so the stub models the cost
    profile a real batch decoder would have — one C-speed pass per
    payload, not a per-byte Python loop.
    """
    if payload is None:
        return None
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    total = float(len(arr)) or 1.0
    idx = (arr.astype(np.int64) + np.arange(len(arr), dtype=np.int64)) % dim
    buckets = np.bincount(idx, minlength=dim).astype(np.float64) / total
    return [round(float(x), 9) for x in buckets]


def decode_features(payload: bytes, media_type: str, dim: int = 8) -> list[float]:
    """Feature vector for one payload: real decode when a codec
    recognizes it (:func:`decode_real`), byte-histogram stub
    otherwise."""
    real = decode_real(payload, dim) if payload is not None else None
    return real if real is not None else decode_stub(payload, media_type, dim)


def extract_features(media: DataFrame, dim: int = 8, batch_size_hint: int | None = None) -> DataFrame:
    """Arrow-batched feature extraction over the media table via
    ``mapInPandas``. One pandas batch in, one out; payload column is
    dropped on output so only fixed-width features shuffle
    downstream. Per payload: real decode (PNG/GIF/WAV, PIL when
    available) with stub fallback — see :func:`decode_features`."""
    # media_type rides through as a key AND feeds the kernel
    src = media.select(
        "media_id", "media_type", "n_bytes", "payload", F.col("media_type").alias("_type")
    )
    return payload_stage(
        src,
        ["media_id", "media_type", "n_bytes"],
        lambda p, t: [(decode_features(p, t, dim),)],
        FEATURE_SCHEMA,
    )


def resize_real(payload: bytes, target: int = 64) -> bytes | None:
    """Real image resize: decode (PNG/JPEG, or first GIF frame),
    nearest-neighbor resample to target x target, re-encode as PNG
    (lossless — resizing shouldn't add a second generation loss).
    None when no codec recognizes the payload (caller falls back to
    the byte-striding stub)."""
    fmt = MC.sniff_format(payload) if payload is not None else None
    if fmt not in ("png", "gif", "jpeg"):
        return None
    try:
        if fmt == "png":
            img = MC.decode_png(payload)
        elif fmt == "jpeg":
            img = MC.decode_jpeg(payload)
        else:
            frames = MC.decode_gif(payload)
            if not frames:
                return None
            img = frames[0]
        return MC.encode_png(MC.resize_nearest(img, target, target))
    except Exception:  # noqa: BLE001 — malformed media: stub fallback
        return None


def resize_stub(payload: bytes, target: int = 64) -> bytes:
    """DETERMINISTIC FAKE resize — the fallback for payloads no real
    codec recognizes (see :func:`resize_real`): the payload is
    downsampled by even byte-striding to exactly ``target`` bytes —
    deterministic, shape preserving, obviously not a real image op."""
    if payload is None:
        return None
    if len(payload) <= target:
        return bytes(payload)
    import numpy as np

    step = len(payload) / target
    arr = np.frombuffer(payload, dtype=np.uint8)
    picks = (np.arange(target, dtype=np.float64) * step).astype(np.int64)
    return arr[picks].tobytes()


def frame_sample_real(payload: bytes, n_frames: int = 4) -> list[bytes] | None:
    """Real frame sampling for animated media: decode the GIF, pick
    ``n_frames`` evenly spaced frames (the standard video-sampling
    index formula i*T//n), re-encode each as PNG. A static PNG payload
    yields its single frame repeated; a Y4M video yields its sampled
    LUMA planes re-encoded as grayscale PNG. None when no codec
    recognizes the payload (caller falls back to the byte-window
    stub)."""
    fmt = MC.sniff_format(payload) if payload is not None else None
    if fmt not in ("png", "gif", "jpeg", "y4m"):
        return None
    try:
        if fmt == "png":
            frames = [MC.decode_png(payload)]
        elif fmt == "jpeg":
            frames = [MC.decode_jpeg(payload)]
        elif fmt == "y4m":
            _, vf = MC.decode_y4m(payload)
            frames = [f if f.ndim == 2 else f[:, :, 0] for f in vf]
        else:
            frames = MC.decode_gif(payload)
        if not frames:
            return None
        picks = [frames[(i * len(frames)) // n_frames] for i in range(n_frames)]
        return [MC.encode_png(f) for f in picks]
    except Exception:  # noqa: BLE001 — malformed media: stub fallback
        return None


def frame_sample_stub(payload: bytes, n_frames: int = 4, frame_size: int = 16) -> list[bytes]:
    """DETERMINISTIC FAKE frame sampler — the fallback for payloads no
    real codec recognizes (see :func:`frame_sample_real`): the payload
    is cut into ``n_frames`` evenly spaced fixed-width windows."""
    if payload is None:
        return None
    out = []
    if len(payload) == 0:
        return out
    stride = max(len(payload) // n_frames, 1)
    for i in range(n_frames):
        start = min(i * stride, max(len(payload) - frame_size, 0))
        out.append(bytes(payload[start : start + frame_size]))
    return out


def audio_band_features(
    payload: bytes, n_bands: int = 8, frame: int = 256
) -> tuple[int, float, list[float]] | None:
    """Spectral triage features for one WAV payload: frame the mono
    mix into ``frame``-sample windows (hop = frame, no overlap —
    deterministic), rFFT power per frame, energy SHARE per linear
    frequency band (bin b of frame//2+1 maps to band
    ``min(b * n_bands // (frame//2 + 1), n_bands - 1)``), plus RMS —
    the music/speech/tone/noise discriminators an audio-corpus
    curation pass bins on. None for non-WAV or shorter-than-one-frame
    payloads (caller decides the fallback)."""
    import numpy as np

    if MC.sniff_format(payload) != "wav":
        return None
    try:
        _, samples = MC.decode_wav(payload)
    except Exception:  # noqa: BLE001 — malformed audio
        return None
    mono = samples.mean(axis=1)
    n = (len(mono) // frame) * frame
    if n == 0:
        return None
    frames = mono[:n].reshape(-1, frame)
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    n_bins = frame // 2 + 1
    band_of = np.minimum(np.arange(n_bins) * n_bands // n_bins, n_bands - 1)
    band_power = np.zeros(n_bands)
    for b in range(n_bands):
        band_power[b] = power[:, band_of == b].sum()
    total = band_power.sum()
    shares = (band_power / total) if total > 0 else np.zeros(n_bands)
    rms = float(np.sqrt(np.mean(mono[:n] ** 2)))
    return (
        int(n // frame),
        round(rms, 9),
        [round(float(s), 9) for s in shares],
    )


def video_temporal_features(
    payload: bytes, n_sample: int = 4
) -> tuple[int, float | None, int, int, list[float], list[float]] | None:
    """Temporal triage features for one video payload — the
    video-curation analogue of :func:`audio_band_features`:

    - sample ``n_sample`` evenly spaced frames (index formula
      ``i*T//n``, the same one :func:`frame_sample_real` uses),
    - per sampled frame the mean LUMA in [0,1] (brightness walk —
      the black-clip / slideshow / flicker discriminator),
    - between consecutive sampled frames the mean |luma delta| in
      [0,1] (motion proxy — static-card vs moving-content, the
      standard cheap shot-change statistic).

    Returns ``(n_frames, fps, height, width, luma[n_sample],
    motion[n_sample-1])``. Y4M carries a real stream rate; animated
    GIF reports the nominal rate its Graphic Control Extension
    delays imply (100 / median positive delay, centiseconds), or
    fps None when the animation carries no timing. None when no
    video codec recognizes the payload.

    MP4/ISO-BMFF (r11): compressed containers get the METADATA tier —
    n_frames from the stts run-lengths, fps from the sample-table
    arithmetic, geometry from tkhd (``media_codecs.parse_mp4_meta``,
    ISO/IEC 14496-12 box grammar) — with luma/motion NULL, since
    those need frame decode and full H.264 is out of scope. ~100% of
    real web video is compressed-container, so the envelope features
    a triage pass bins on (duration, rate, geometry, codec presence)
    must not require a from-scratch AVC decoder."""
    import numpy as np

    fmt = MC.sniff_format(payload) if payload is not None else None
    try:
        if fmt == "mp4":
            meta = MC.parse_mp4_meta(payload)
            vid = next(
                (t for t in meta["tracks"] if t["handler"] == "vide"), None
            )
            if vid is None or not vid["n_samples"]:
                return None
            return (
                int(vid["n_samples"]),
                None if vid["fps"] is None else round(vid["fps"], 9),
                int(vid["height"] or 0),
                int(vid["width"] or 0),
                [None] * n_sample,
                [None] * (n_sample - 1),
            )
        if fmt == "y4m":
            fps, frames = MC.decode_y4m(payload)
            lum = [
                (f if f.ndim == 2 else f[:, :, 0]).astype(np.float64)
                for f in frames
            ]
        elif fmt == "gif":
            # nominal rate from the Graphic Control Extension delays
            # (centiseconds): 100 / median delay; None when the GIF
            # carries no timing (static or GCE-less animations)
            delays = [d for d in MC.gif_frame_delays(payload) if d > 0]
            if delays:
                delays.sort()
                med = delays[len(delays) // 2]
                fps = round(100.0 / med, 9)
            else:
                fps = None
            frames = MC.decode_gif(payload)
            # BT.601 luma over the RGB palette output
            lum = [
                f.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                for f in frames
            ]
        elif fmt == "avi":
            # MJPEG-in-AVI (r13): a real container with a CONTENT
            # tier — every frame is a T.81 JPEG the engine decodes,
            # so luma/motion are real here, unlike the MP4 envelope
            fps, frames = MC.decode_avi_mjpeg(payload)
            fps = round(fps, 9)
            lum = [
                f[:, :, 0].astype(np.float64)
                if f.ndim == 3 and f.shape[2] == 1
                else f.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                for f in frames
            ]
        else:
            return None
        if not lum:
            return None
    except Exception:  # noqa: BLE001 — malformed video
        return None
    total = len(lum)
    picks = [lum[(i * total) // n_sample] for i in range(n_sample)]
    luma = [round(float(p.mean()) / 255.0, 9) for p in picks]
    motion = [
        round(float(np.abs(b - a).mean()) / 255.0, 9)
        for a, b in zip(picks, picks[1:])
    ]
    h, w = picks[0].shape
    return total, fps, h, w, luma, motion


TEMPORAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("vals", T.ArrayType(T.DoubleType()), True),
    ]
)


def extract_temporal_features(
    media: DataFrame, n_bands: int = 8, frame: int = 256, n_sample: int = 4
) -> DataFrame:
    """ONE Arrow stage for both temporal modalities — dispatch by
    sniffed format per payload, so a mixed audio+video corpus pays a
    single Python round-trip instead of two (the r4 lesson: a 2-row
    ``mapInPandas`` stage costs ~1.4 s of fixed Arrow overhead at
    sf0.1 regardless of the work inside).

    Long-format output ``(media_id, kind, vals)``:

    - kind 'audio' (WAV): ``vals = band_share[n_bands] + [n_frames,
      rms]`` — exactly :func:`audio_band_features`'s layout.
    - kind 'video' (Y4M / animated GIF / MP4 container / MJPEG AVI):
      ``vals = luma[n_sample] + motion[n_sample-1] + [n_frames, fps,
      height, width]`` — see :func:`video_temporal_features` (fps
      NULL for timing-less GIF; luma/motion NULL for the MP4
      metadata tier, REAL for MJPEG AVI, whose frames the T.81
      decoder reads).
    - kind 'audio_meta' (MP3): the frame-header walk
      (``media_codecs.parse_mp3_meta`` — ISO/IEC 11172-3 framing, no
      granule decode) as ``vals = [duration_sec, bitrate_kbps,
      sample_rate, n_frames, channels, shell_fraction]`` — the
      compressed-audio sibling of the MP4 metadata tier; slot 5 is
      the Layer III side-info shell fraction (1.0 = zero-filled
      header shell, ~0 = real encode, NULL for Layer I/II).
    - kind 'audio_meta' (Ogg Opus/Vorbis): the page walk
      (``media_codecs.parse_ogg_meta`` — RFC 3533 pages + RFC 7845
      OpusHead, no packet decode) as ``vals = [duration_sec,
      preskip, sample_rate, last_granule, channels]`` — the
      container-audio sibling on the same five-slot layout.
    - kind 'audio_meta' (FLAC): the STREAMINFO block
      (``media_codecs.parse_flac_meta``) as ``vals = [duration_sec,
      bits_per_sample, sample_rate, total_samples, channels]`` —
      same five-slot layout, slot 1/3 semantics per format (the
      format is recoverable from the payload; triage bins don't mix
      them).
    - kind 'image_meta' (TIFF): the IFD walk
      (``media_codecs.parse_tiff_meta`` — TIFF 6.0 entry grammar, no
      strip decode) as ``vals = [height, width, bits_per_sample,
      compression, n_ifds]`` — the scanned-document envelope
      (n_ifds counts multi-page scans).
    - kind 'image_meta' (WebP): the RIFF/VP8-header walk
      (``media_codecs.parse_webp_meta`` — geometry + layout flags, no
      entropy decode) as ``vals = [height, width, has_alpha,
      has_anim]`` — the compressed-image sibling of the same tier
      (full VP8 decode is out of scope; triage bins on the envelope).
    - kind 'video_meta' (WebM/Matroska): the EBML element walk
      (``media_codecs.parse_webm_meta`` — Info duration x timescale,
      Tracks geometry/audio layout, no cluster decode) as ``vals =
      [duration_sec, height, width, audio_rate, audio_channels]``
      (0.0 for absent track fields).
    - kind NULL otherwise — undecodable rows stay visible.
    """
    return payload_stage(
        media.select("media_id", "payload"),
        ["media_id"],
        lambda p: [temporal_features(p, n_bands, frame, n_sample)],
        TEMPORAL_SCHEMA,
    )


def temporal_features(
    payload: bytes | None, n_bands: int = 8, frame: int = 256, n_sample: int = 4
) -> tuple[str | None, list[float | None] | None]:
    """``(kind, vals)`` of one payload — the per-payload kernel of
    :func:`extract_temporal_features`, which documents each kind's
    ``vals`` layout; ``(None, None)`` when no codec recognizes it."""
    fmt = MC.sniff_format(payload) if payload is not None else None
    if fmt == "wav":
        r = audio_band_features(payload, n_bands, frame)
        if r is None:
            return None, None
        return "audio", r[2] + [float(r[0]), r[1]]
    if fmt in ("y4m", "gif", "mp4", "avi"):
        r = video_temporal_features(payload, n_sample)
        if r is None:
            return None, None
        nf, fps, h, w, luma, motion = r
        tail = [float(nf), None if fps is None else round(fps, 9), float(h), float(w)]
        return "video", luma + motion + tail
    parse = {
        "tiff": MC.parse_tiff_meta,
        "webp": MC.parse_webp_meta,
        "webm": MC.parse_webm_meta,
        "ogg": MC.parse_ogg_meta,
        "flac": MC.parse_flac_meta,
        "mp3": MC.parse_mp3_meta,
    }.get(fmt)
    if parse is None:
        return None, None
    try:
        m = parse(payload)
    except ValueError:
        return None, None
    if fmt == "tiff":
        return "image_meta", [
            float(m["height"] or 0),
            float(m["width"] or 0),
            float(m["bits_per_sample"] or 0),
            float(m["compression"] or 0),
            float(m["n_ifds"]),
        ]
    if fmt == "webp":
        return "image_meta", [
            float(m["height"]),
            float(m["width"]),
            float(m["has_alpha"]),
            float(m["has_anim"]),
        ]
    if fmt == "webm":
        vt = next((t for t in m["tracks"] if t["type"] == "video"), {})
        at = next((t for t in m["tracks"] if t["type"] == "audio"), {})
        return "video_meta", [
            m["duration_sec"],
            float(vt.get("height") or 0),
            float(vt.get("width") or 0),
            float(at.get("sample_rate") or 0),
            float(at.get("channels") or 0),
        ]
    if fmt == "ogg":
        return "audio_meta", [
            m["duration_sec"],
            float(m["preskip"]),
            float(m["sample_rate"] or 0),
            float(m["last_granule"] or 0),
            float(m["channels"] or 0),
        ]
    if fmt == "flac":
        return "audio_meta", [
            m["duration_sec"],
            float(m["bits_per_sample"]),
            float(m["sample_rate"]),
            float(m["total_samples"]),
            float(m["channels"]),
        ]
    # mp3; slot 5 (r13): Layer III shell fraction from the side-info
    # walk — 1.0 = zero-filled header shell, ~0 = real encode, NULL for
    # Layer I/II (they have no L3 side info)
    return "audio_meta", [
        m["duration_sec"],
        float(m["bitrate_kbps"]),
        float(m["sample_rate"] or 0),
        float(m["n_frames"]),
        float(m["channels"]),
        MC.mp3_shell_fraction(payload),
    ]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def resize_media(media: DataFrame, target: int = 64) -> DataFrame:
    """Arrow-batched resize over the media table: real decode+resample
    +re-encode for recognized images, byte-striding stub otherwise."""

    def resize(p):
        r = resize_real(p, target)
        if r is None:
            r = resize_stub(p, target)
        return [(r, None if r is None else len(r))]

    return payload_stage(
        media.select("media_id", "payload"), ["media_id"], resize, RESIZED_SCHEMA
    )


def sample_frames(media: DataFrame, n_frames: int = 4, frame_size: int = 16) -> DataFrame:
    """Arrow-batched frame sampling: one output row per (media, frame)
    — the fan-out happens inside the batch, so downstream is a plain
    long-format frame table ready for per-frame feature extraction."""

    def frames(p):
        fs = frame_sample_real(p, n_frames)
        if fs is None:
            fs = frame_sample_stub(p, n_frames, frame_size)
        return enumerate(fs or ())

    return payload_stage(
        media.select("media_id", "payload"), ["media_id"], frames, FRAMES_SCHEMA
    )


# ------------------------------------------------------- queries and oracles

def video_duration_table(
    videos: DataFrame, id_col: str = "video_id", payload_col: str = "payload"
) -> DataFrame:
    """(video_id, duration_ms) over a media corpus: ONE Arrow stage
    running :func:`..functions.media_codecs.media_duration_ms` —
    container/header arithmetic only (mp4 stts/mdhd, mp3 frame walk,
    wav data chunk, gif GCE delays), no frame decode. NULL duration
    for unrecognized or timing-free payloads."""
    src = videos.select(
        F.col(id_col).cast("long").alias("video_id"),
        F.col(payload_col).alias("payload"),
    )
    return payload_stage(
        src,
        ["video_id"],
        lambda p: [(MC.media_duration_ms(p),)],
        "video_id long, duration_ms long",
    )


def transcript_video_alignment(
    cues: DataFrame,
    videos: DataFrame,
    n_segments: int = 4,
    id_col: str = "video_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Align transcript cues to the temporal SEGMENTS of their videos
    — the multimodal pair-construction step a transcript-grounded
    curation pipeline needs (which dialogue goes with which sampled
    span of the video): each video's duration (container metadata,
    :func:`video_duration_table`) splits into ``n_segments`` equal
    integer-ms segments — the same ``i*T//n`` index map every frame
    sampler in the engine uses — and each cue joins every segment it
    overlaps.

    ``cues``: (video_id, seq, start_ms, end_ms) — ``read_srt`` output
    joined to its video id (e.g. by ``_src_file``). ``videos``:
    (video_id, payload). Output one row per (cue, overlapped segment):
    ``(video_id, seg_idx, seg_start_ms, seg_end_ms, cue_seq,
    overlap_ms)`` with ``overlap_ms = min(ends) - max(starts) > 0``.

    Scale shape: duration is one Arrow stage returning 12 bytes per
    video; segments explode to ``n_segments`` rows per video (bounded
    fan-out); the cue join is a plain EQUI-join on video_id with the
    overlap predicate as residual — no time bucketization needed
    because the per-video segment count is a constant, unlike the
    generic interval join (``relational.range_join``) where interval
    counts are unbounded. Videos with NULL duration drop out (their
    cues match nothing — quarantine upstream if that matters)."""
    durs = video_duration_table(videos, id_col, payload_col).where(
        F.col("duration_ms").isNotNull()
    )
    segs = durs.select(
        "video_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_segments - 1))).alias("seg_idx"),
        "duration_ms",
    ).select(
        "video_id",
        "seg_idx",
        (F.col("seg_idx") * F.col("duration_ms") / n_segments)
        .cast("long")
        .alias("seg_start_ms"),
        ((F.col("seg_idx") + 1) * F.col("duration_ms") / n_segments)
        .cast("long")
        .alias("seg_end_ms"),
    )
    c = cues.select(
        F.col("video_id").alias("cv_id"),
        F.col("seq").alias("cue_seq"),
        F.col("start_ms").alias("cue_start"),
        F.col("end_ms").alias("cue_end"),
    )
    overlap = F.least(F.col("cue_end"), F.col("seg_end_ms")) - F.greatest(
        F.col("cue_start"), F.col("seg_start_ms")
    )
    return (
        segs.join(
            c,
            (F.col("video_id") == F.col("cv_id")) & (overlap > 0),
        )
        .select(
            "video_id",
            "seg_idx",
            "seg_start_ms",
            "seg_end_ms",
            "cue_seq",
            overlap.alias("overlap_ms"),
        )
    )


def _media(spark, sf):
    # documents.text encoded as bytes stands in for media payloads:
    # deterministic, present at every sf, exercises binary plumbing.
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return to_media_table(
        docs.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
        "text/plain",
    )


def _synthetic_media(spark):
    """Two REAL media payloads with analytically-known pixel
    stats, built with the engine's own encoders:

    - media_id -1: 16x16 RGB PNG with px[y,x,c] = (x*16+y+c) % 256
      — every stat (mean/std/min/max) is a closed-form expression
      over that formula, so the oracle derives the expected
      feature values from the SPEC, independent of the decoder.
    - media_id -2: 3-frame 8x8 GIF of constant colors 30/60/90 —
      first-frame stats are trivial, n_frames pins the animation
      walk.
    - media_id -3: 12x9 GRAYSCALE baseline JPEG, constant 77.
      Constant blocks survive baseline DCT quantization EXACTLY
      (only the DC coefficient is nonzero, 8*(v-128) is a
      multiple of every Annex-K DC step's rounding unit), so
      mean/min/max are spec-derivable closed forms and std is 0.
    - media_id -4: 10x13 RGB 4:2:0 JPEG with r=g=b=201 and a
      2-MCU restart interval — r=g=b makes Cb=Cr=128 exactly
      (zero after level shift, zero error through subsampling),
      so the color+subsample+restart decode path is ALSO exact.

    Payload BYTES vary with zlib/palette/entropy details, so only
    decoded values (not n_bytes/digest) are oracle-compared.
    """
    import numpy as np

    y, x, c = np.ogrid[0:16, 0:16, 0:3]
    png = MC.encode_png(((x * 16 + y + c) % 256).astype(np.uint8))
    gif = MC.encode_gif(
        [np.full((8, 8, 3), v, dtype=np.uint8) for v in (30, 60, 90)]
    )
    jpg_gray = MC.encode_jpeg(np.full((12, 9), 77, dtype=np.uint8), quality=90)
    jpg_rgb = MC.encode_jpeg(
        np.full((10, 13, 3), 201, dtype=np.uint8),
        quality=90,
        subsampling="420",
        restart_interval=2,
    )
    # local_media_frame (r14): JVM LocalTableScan, not 32 pickled
    # parallelize slices — see the helper's docstring.
    return local_media_frame(
        spark,
        [
            (-1, bytearray(png), "image/png"),
            (-2, bytearray(gif), "image/gif"),
            (-3, bytearray(jpg_gray), "image/jpeg"),
            (-4, bytearray(jpg_rgb), "image/jpeg"),
        ],
        "media_id long, payload binary, media_type string",
    ).withColumn("n_bytes", F.length("payload").cast("long"))


# mm_meta_features: metadata projection + pandas-UDF feature
# extraction + the resize->frame-sample chain in one tagged result
# (merged under the 50-query cap; every leg stays individually
# hash-checked), each leg's rows (kind, media_id, media_type, n_bytes,
# bucket, digest, freq). Feature half is long-format (media_id,
# bucket, freq): every histogram bucket the decode produced is checked
# against a DuckDB twin replaying the stub's (byte+pos)%dim binning.
# The 'real' rows run the ACTUAL codecs over synthetic media whose
# pixel stats are analytic — the oracle recomputes them from the pixel
# formula (spec-derived, not a tautology over the decoder). The
# synthetic payloads are UNIONED into the corpus before
# extract_features so the whole query pays ONE mapInPandas stage
# instead of two: a 2-row Python stage still costs a full Arrow worker
# round-trip (~1.4 s measured at sf0.1 — the r4 bench regression on
# this query was exactly that second stage, not the decode work).


def _mm_setup(spark: SparkSession, sf: str) -> dict:
    return {"spark": spark, "media": _media(spark, sf)}


def _mm_meta(ctx: dict) -> DataFrame:
    return ctx["media"].select(
        F.lit("meta").alias("kind"),
        "media_id",
        "media_type",
        "n_bytes",
        F.lit(None).cast("int").alias("bucket"),
        "digest",
        F.lit(None).cast("double").alias("freq"),
    )


def _mm_feature(ctx: dict) -> DataFrame:
    # project the digest away BEFORE the Arrow transfer: the
    # union's branches each execute the _media projection, and
    # without this prune the feature branch would compute a second
    # sha2 over every payload and ship it into Python
    slim = ctx["media"].select("media_id", "payload", "media_type", "n_bytes")
    return (
        extract_features(slim.unionByName(_synthetic_media(ctx["spark"])))
        .select("media_id", "n_bytes", F.posexplode("feature").alias("bucket", "freq"))
        .select(
            # synthetic ids are negative by construction
            F.when(F.col("media_id") < 0, F.lit("real"))
            .otherwise(F.lit("feature"))
            .alias("kind"),
            "media_id",
            F.lit(None).cast("string").alias("media_type"),
            F.when(F.col("media_id") >= 0, F.col("n_bytes")).alias("n_bytes"),
            "bucket",
            F.lit(None).cast("string").alias("digest"),
            F.round("freq", 6).alias("freq"),
        )
    )


def _mm_av(ctx: dict) -> DataFrame:
    # 'audio' + 'video' rows (r10): both temporal modalities run
    # through extract_temporal_features — ONE Arrow stage for the
    # three synthetic payloads (the r4 lesson: each extra 2-row
    # mapInPandas stage costs ~1.4 s of fixed overhead at sf0.1).
    #
    # audio (-5): spectral band shares + n_frames + rms of a
    # synthesized sine WAV. f = rate/4 makes every sample exactly
    # 0 or +-0.5 (16-bit PCM quantizes them EXACTLY, since
    # 0.5*32767 rounds half-even to 16384 = 0.5*32768), the FFT
    # bin (frame/4 = 64 of 129) is leakage-free, and band/rms are
    # closed forms: all energy in band 64*8//129 = 3, rms =
    # 0.5/sqrt(2).
    #
    # video (-6, -7): Y4M streams built with the engine's own
    # spec encoder, constant-luma frames so every sampled-frame
    # mean and inter-frame |delta| is a closed form:
    #   -6 mono 16x12, 6 frames of luma 20+10k at F25:1 —
    #      sample picks i*6//4 = frames 0/1/3/4;
    #   -7 C420 color 8x8, 4 frames of Y=100+5k, Cb=Cr=128, at
    #      F30000:1001 (NTSC) — constant chroma survives the 2x2
    #      box subsample exactly, so the color plane path is also
    #      spec-exact.
    import numpy as np

    sine = 0.5 * np.sin(np.pi * np.arange(2048) / 2)
    v_mono = MC.encode_y4m(
        [np.full((12, 16), 20 + 10 * k, dtype=np.uint8) for k in range(6)],
        fps=(25, 1),
    )
    v_color = MC.encode_y4m(
        [
            np.stack(
                [
                    np.full((8, 8), 100 + 5 * k, dtype=np.uint8),
                    np.full((8, 8), 128, dtype=np.uint8),
                    np.full((8, 8), 128, dtype=np.uint8),
                ],
                axis=2,
            )
            for k in range(4)
        ],
        fps=(30000, 1001),
    )
    # video -8 (r11): an MP4/ISO-BMFF container fixture — the
    # engine's own from-spec box encoder, so every emitted value
    # is sample-table arithmetic: n_frames = the stts run length
    # (48), fps = timescale/frame_delta = 30000/1001 (NTSC),
    # geometry from tkhd 16.16 fixed-point; luma/motion are NULL
    # by design (metadata tier — no frame decode in a compressed
    # container).
    av_media = local_media_frame(
        ctx["spark"],
        [
            (-5, bytearray(MC.encode_wav(8192, sine))),
            (-6, bytearray(v_mono)),
            (-7, bytearray(v_color)),
            (
                -8,
                bytearray(
                    MC.encode_mp4_meta(
                        640, 360, 48, timescale=30000, frame_delta=1001
                    )
                ),
            ),
            # audio_meta -9 (r11): an MP3 CBR fixture behind an
            # ID3v2 tag — 30 MPEG-1 Layer III frames at 128 kbps /
            # 44100 Hz, every emitted value frame-header
            # arithmetic: duration = 30*1152/44100.
            (
                -9,
                bytearray(
                    MC.encode_mp3_meta(30, 128, 44100, with_id3=True)
                ),
            ),
            # video_meta -16 (r12): a WebM/EBML fixture — 854x480
            # VP8 + 48 kHz stereo Opus, duration 2.5 s at the
            # default 1 ms timescale; every value is element
            # arithmetic, no cluster decode.
            (
                -16,
                bytearray(
                    MC.encode_webm_meta(2500.0, 854, 480, 48000.0, 2)
                ),
            ),
            # audio_meta -15 (r12): a FLAC STREAMINFO fixture —
            # 110250 samples at 44100 Hz stereo 16-bit, every
            # value closed-form block arithmetic (duration 2.5 s).
            (
                -15,
                bytearray(MC.encode_flac_meta(110250, 44100, 2, 16)),
            ),
            # video -17 (r13): an MJPEG AVI — a real container
            # whose frames DECODE (T.81 tier), so luma/motion are
            # real closed forms: 4 constant 16x16 frames of luma
            # 131+6k (values in 128+3Z round-trip the q90 JPEG
            # byte-exactly) at 10 fps -> luma k = (131+6k)/255,
            # motion = 6/255, n_frames 4, fps 10, geometry 16x16.
            (
                -17,
                bytearray(
                    MC.encode_avi_mjpeg(
                        [
                            np.full((16, 16), 131 + 6 * k, dtype=np.uint8)
                            for k in range(4)
                        ],
                        fps=10,
                    )
                ),
            ),
            # audio_meta -18 (r13): an Opus-in-Ogg fixture — a
            # BOS OpusHead page + an EOS page whose granule is
            # preskip + 120000; every value is page-header
            # arithmetic (RFC 7845: granules tick at 48 kHz, so
            # duration = 120000/48000 = 2.5 s exactly).
            (
                -18,
                bytearray(
                    MC.encode_ogg_opus_meta(120000, channels=1, preskip=312)
                ),
            ),
            # audio -20 (r13): the SAME sine as -5 but a FLOAT32
            # WAV (format tag 3 — the extended-width family the
            # stdlib wave module rejects): every band share / rms
            # closed form is identical to -5, pinning the RIFF
            # fallback decode end-to-end.
            (-20, bytearray(MC.encode_wav_ext(8192, sine, "float32"))),
            # image_meta -19 (r13): a multi-page TIFF scan
            # envelope — A4-at-300dpi geometry, 1-bit CCITT G4
            # (compression 4), 3 chained IFDs; every value is IFD
            # entry arithmetic.
            (
                -19,
                bytearray(
                    MC.encode_tiff_meta(
                        2480, 3508, 1, 4, 1, n_pages=3, big_endian=True
                    )
                ),
            ),
            # image_meta -10/-11 (r11): WebP fixtures — a lossy
            # VP8 key-frame header (320x180) and an extended VP8X
            # canvas (1920x1080, alpha + animation flags) — every
            # value is header arithmetic, no entropy decode.
            (-10, bytearray(MC.encode_webp_meta(320, 180, "vp8"))),
            (
                -11,
                bytearray(
                    MC.encode_webp_meta(
                        1920, 1080, "vp8x", has_alpha=True, has_anim=True
                    )
                ),
            ),
        ],
        "media_id long, payload binary",
    )  # JVM LocalTableScan, not 32 pickled slices (r14)
    return (
        extract_temporal_features(av_media, n_bands=8, frame=256, n_sample=4)
        .select(
            "kind",
            "media_id",
            F.posexplode("vals").alias("bucket", "freq"),
        )
        .select(
            "kind",
            "media_id",
            F.lit(None).cast("string").alias("media_type"),
            F.lit(None).cast("long").alias("n_bytes"),
            "bucket",
            F.lit(None).cast("string").alias("digest"),
            F.round("freq", 6).alias("freq"),
        )
    )


def _mm_align(ctx: dict) -> DataFrame:
    # 'align' rows (r12): transcript<->video temporal alignment —
    # SRT cues (driver-written fixtures, parsed back by the
    # all-JVM read_srt pipeline) joined to the temporal segments
    # of two engine-encoded MP4 containers by time range
    # (transcript_video_alignment). Durations are pure stts/mdhd
    # arithmetic (-8: 48*1001/30000 s -> 1601 ms; -12: 24/25 s ->
    # 960 ms), segment bounds are the i*D//4 index map, cue times
    # are closed forms of the cue index — the oracle rebuilds
    # every (video, segment, cue, overlap) row from that
    # arithmetic alone.
    import os as _os

    from data_integration_and_harmonization_spark.functions.caching import (
        scratch_dir,
    )
    from data_integration_and_harmonization_spark.sources.readers import (
        read_srt,
    )

    spark = ctx["spark"]

    def _tc(ms: int) -> str:
        return (
            f"{ms // 3600000:02d}:{ms % 3600000 // 60000:02d}:"
            f"{ms % 60000 // 1000:02d},{ms % 1000:03d}"
        )

    ad = scratch_dir("align_srt")
    for name, cue_spans in (
        ("v8.srt", [(400 * k + 100, 400 * k + 600) for k in range(5)]),
        ("v12.srt", [(300 * k + 50, 300 * k + 350) for k in range(3)]),
    ):
        with open(_os.path.join(ad, name), "w") as fh:
            for i, (s, e) in enumerate(cue_spans):
                fh.write(f"{i + 1}\n{_tc(s)} --> {_tc(e)}\ncue {i}\n\n")
    vid_map = spark.createDataFrame(
        [("v8.srt", -8), ("v12.srt", -12)], "_src_file string, video_id long"
    )
    cues_df = (
        read_srt(spark, ad)
        .join(F.broadcast(vid_map), "_src_file")
        .select("video_id", "seq", "start_ms", "end_ms")
    )
    align_videos = local_media_frame(
        spark,
        [
            (
                -8,
                bytearray(
                    MC.encode_mp4_meta(
                        640, 360, 48, timescale=30000, frame_delta=1001
                    )
                ),
            ),
            (
                -12,
                bytearray(
                    MC.encode_mp4_meta(320, 240, 24, timescale=25, frame_delta=1)
                ),
            ),
        ],
        "video_id long, payload binary",
    )  # JVM LocalTableScan, not 32 pickled slices (r14)
    return transcript_video_alignment(cues_df, align_videos).select(
        F.lit("align").alias("kind"),
        F.col("video_id").alias("media_id"),
        F.lit(None).cast("string").alias("media_type"),
        F.col("cue_seq").cast("long").alias("n_bytes"),
        F.col("seg_idx").cast("int").alias("bucket"),
        F.lit(None).cast("string").alias("digest"),
        F.round(F.col("overlap_ms").cast("double"), 6).alias("freq"),
    )


def _mm_frame(ctx: dict) -> DataFrame:
    # 'frame' rows: per-frame byte stats through the full
    # media -> resize -> frame-sample -> agg chain (the former
    # mm_frames query, folded in to free a registry slot); pruned
    # to (id, payload) so this branch never computes the digest
    frames = sample_frames(
        resize_media(ctx["media"].select("media_id", "payload"), target=64), n_frames=4
    )
    return frames.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("nf"),
        F.sum(F.length("frame")).alias("total_bytes"),
    ).select(
        F.lit("frame").alias("kind"),
        F.col("frame_idx").cast("long").alias("media_id"),
        F.lit(None).cast("string").alias("media_type"),
        F.col("total_bytes").cast("long").alias("n_bytes"),
        F.lit(None).cast("int").alias("bucket"),
        F.lit(None).cast("string").alias("digest"),
        F.col("nf").cast("double").alias("freq"),
    )


MM_META_FEATURES_LEGS = (
    _mm_setup,
    (
        ("meta", _mm_meta),
        ("feature", _mm_feature),
        ("av", _mm_av),
        ("align", _mm_align),
        ("frame", _mm_frame),
    ),
)


# meta half: metadata computed from the raw payload bytes;
# feature half replays decode_stub's binning byte-for-byte:
# bucket of byte at 0-based position j is (byte + j) % 8;
# freq = bucket count over payload length (length 1 floor for
# empty payloads). Every bucket appears (bincount minlength),
# hence the generate-all-buckets cross join.
MM_META_FEATURES_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS ph,
         octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS digest
  FROM documents
), byte_rows AS (
  SELECT media_id,
         (CAST(concat('0x', substring(ph, 2 * i - 1, 2)) AS BIGINT) + i - 1) % 8 AS bucket
  FROM m, unnest(range(1, CAST(n_bytes AS INT) + 1)) AS t(i)
), counts AS (
  SELECT media_id, bucket, count(*)::BIGINT AS c FROM byte_rows GROUP BY 1, 2
), png_px AS (
  SELECT ((x.i * 16 + y.i + c.i) % 256) / 255.0 AS v
  FROM range(16) AS y(i), range(16) AS x(i), range(3) AS c(i)
)
SELECT 'meta' AS kind, media_id, 'text/plain' AS media_type, n_bytes,
       CAST(NULL AS INT) AS bucket, digest, CAST(NULL AS DOUBLE) AS freq
FROM m
UNION ALL
SELECT 'feature' AS kind, m.media_id, CAST(NULL AS VARCHAR) AS media_type, m.n_bytes,
       b.bucket::INT AS bucket, CAST(NULL AS VARCHAR) AS digest,
       round(round(coalesce(c.c, 0) / greatest(m.n_bytes, 1)::DOUBLE, 9), 6) AS freq
FROM m CROSS JOIN (SELECT unnest(range(8)) AS bucket) b
LEFT JOIN counts c ON c.media_id = m.media_id AND c.bucket = b.bucket
UNION ALL
-- 'real' rows: the engine decodes two synthetic payloads built from
-- known pixel formulas; the expected feature vector [h, w, c, mean,
-- std(pop), min, max, n_frames] is recomputed here from the FORMULA
-- (px[y,x,c] = ((x*16+y+c)%256)/255 for the PNG; constant 30/255
-- first frame for the 3-frame GIF), so the oracle is spec-derived.
SELECT 'real' AS kind, -1::BIGINT AS media_id, CAST(NULL AS VARCHAR) AS media_type,
       CAST(NULL AS BIGINT) AS n_bytes, u.pos::INT AS bucket,
       CAST(NULL AS VARCHAR) AS digest, round(round(u.val, 9), 6) AS freq
FROM (
  SELECT unnest(range(8)) AS pos,
         unnest([16.0, 16.0, 3.0,
                 (SELECT avg(v) FROM png_px),
                 (SELECT sqrt(avg(v * v) - avg(v) * avg(v)) FROM png_px),
                 0.0, 1.0, 1.0]) AS val
) u
UNION ALL
SELECT 'real', -2::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(8)) AS pos,
         unnest([8.0, 8.0, 3.0, 30 / 255.0, 0.0, 30 / 255.0, 30 / 255.0, 3.0]) AS val
) u
UNION ALL
-- 'real' JPEG rows (r9 verdict item 5): constant images survive
-- baseline DCT quantization exactly (DC-only blocks; Cb=Cr=128 for
-- the r=g=b color case zeroes the chroma path through 4:2:0 and the
-- 2-MCU restart interval), so the expected stats are closed forms —
-- spec-derived, independent of the decoder under test.
SELECT 'real', -3::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(8)) AS pos,
         unnest([12.0, 9.0, 1.0, 77 / 255.0, 0.0, 77 / 255.0, 77 / 255.0, 1.0]) AS val
) u
UNION ALL
SELECT 'real', -4::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(8)) AS pos,
         unnest([10.0, 13.0, 3.0, 201 / 255.0, 0.0, 201 / 255.0, 201 / 255.0, 1.0]) AS val
) u
UNION ALL
-- 'audio' rows (r10): the engine runs a synthesized sine WAV through
-- the distributed spectral-feature stage. f = rate/4 quantizes
-- EXACTLY in 16-bit PCM (samples 0/+-0.5) and lands leakage-free on
-- FFT bin 64 of 129 -> band 64*8//129 = 3 holds ALL the energy; rms
-- of the 0/+-0.5 cycle is sqrt(0.125). Buckets 0-7 = band shares,
-- 8 = n_frames (2048 samples / 256), 9 = rms — all closed forms.
SELECT 'audio', -5::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(10)) AS pos,
         unnest([0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 8.0, sqrt(0.125)]) AS val
) u
UNION ALL
-- 'audio' float32-WAV row (r13): the same sine as -5 through the
-- RIFF fallback decode (format tag 3) — identical closed forms
SELECT 'audio', -20::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(10)) AS pos,
         unnest([0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 8.0, sqrt(0.125)]) AS val
) u
UNION ALL
-- 'image_meta' TIFF row (r13): IFD entry arithmetic — vals =
-- [height, width, bits, compression, n_ifds] of a 3-page 1-bit
-- CCITT-G4 A4 scan envelope
SELECT 'image_meta', -19::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(5)) AS pos,
         unnest([3508.0, 2480.0, 1.0, 4.0, 3.0]) AS val
) u
UNION ALL
-- 'video' rows (r10): two Y4M streams with constant-luma frames, so
-- the sampled-frame brightness walk and motion proxies are closed
-- forms. vals layout = luma[4] + motion[3] + [n_frames, fps, h, w].
--   -6 mono, frames luma 20+10k (k<6), picks i*6//4 = 0/1/3/4:
--      luma 20/30/50/60 /255; |delta| 10/20/10 /255; 6 frames @ 25fps,
--      12x16.
--   -7 C420, Y = 100+5k (k<4), picks 0..3: luma 100..115 /255;
--      |delta| 5/255 x3; 4 frames @ 30000/1001 fps (round-9 first,
--      like the engine's Python-side rounding), 8x8.
SELECT 'video', -6::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(11)) AS pos,
         unnest([20 / 255.0, 30 / 255.0, 50 / 255.0, 60 / 255.0,
                 10 / 255.0, 20 / 255.0, 10 / 255.0,
                 6.0, 25.0, 12.0, 16.0]) AS val
) u
UNION ALL
SELECT 'video', -7::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(11)) AS pos,
         unnest([100 / 255.0, 105 / 255.0, 110 / 255.0, 115 / 255.0,
                 5 / 255.0, 5 / 255.0, 5 / 255.0,
                 4.0, 30000 / 1001.0, 8.0, 8.0]) AS val
) u
UNION ALL
-- 'video' MP4 rows (r11): an ISO-BMFF container fixture parsed by
-- box grammar alone — luma/motion (positions 0-6) are NULL (metadata
-- tier, no frame decode); n_frames = the stts run length, fps =
-- timescale/frame_delta, geometry from tkhd — all closed forms of
-- the encoder arguments (640x360, 48 frames at 30000/1001).
SELECT 'video', -8::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(11)) AS pos,
         unnest([CAST(NULL AS DOUBLE), NULL, NULL, NULL, NULL, NULL, NULL,
                 48.0, 30000 / 1001.0, 360.0, 640.0]) AS val
) u
UNION ALL
-- 'video' MJPEG-AVI rows (r13): a real container whose frames DECODE
-- through the T.81 tier — luma/motion are REAL closed forms (4
-- constant 16x16 frames of luma 131+6k, values in 128+3Z round-trip
-- the q90 JPEG byte-exactly): picks i*4//4 = 0..3, luma (131+6k)/255,
-- |delta| 6/255, 4 frames at 10 fps (avih microsecond clock).
SELECT 'video', -17::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(11)) AS pos,
         unnest([131 / 255.0, 137 / 255.0, 143 / 255.0, 149 / 255.0,
                 6 / 255.0, 6 / 255.0, 6 / 255.0,
                 4.0, 10.0, 16.0, 16.0]) AS val
) u
UNION ALL
-- 'audio_meta' MP3 rows (r11): the frame-header walk over an
-- engine-built CBR fixture (ID3v2-tagged, 30 MPEG-1 Layer III frames
-- at 128 kbps / 44100 Hz) — vals = [duration, bitrate, rate,
-- n_frames, channels], duration = 30*1152/44100 exactly.
SELECT 'audio_meta', -9::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  -- slot 5: Layer III shell fraction — the fixture's zero-filled
  -- payloads make every frame's side info zero, so exactly 1.0
  SELECT unnest(range(6)) AS pos,
         unnest([30 * 1152 / 44100.0, 128.0, 44100.0, 30.0, 2.0, 1.0]) AS val
) u
UNION ALL
-- 'video_meta' WebM row (r12): EBML element arithmetic — vals =
-- [duration, height, width, audio_rate, audio_channels], duration =
-- 2500 ticks x 1 ms = 2.5 exactly.
SELECT 'video_meta', -16::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(5)) AS pos,
         unnest([2.5, 480.0, 854.0, 48000.0, 2.0]) AS val
) u
UNION ALL
-- 'audio_meta' Ogg-Opus row (r13): page-header arithmetic — vals =
-- [duration, preskip, rate, last_granule, channels]; granules tick
-- at 48 kHz (RFC 7845), duration = 120000/48000 = 2.5 exactly after
-- the pre-skip subtraction (last granule = 312 + 120000).
SELECT 'audio_meta', -18::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(5)) AS pos,
         unnest([2.5, 312.0, 48000.0, 120312.0, 1.0]) AS val
) u
UNION ALL
-- 'audio_meta' FLAC row (r12): STREAMINFO block arithmetic — vals =
-- [duration, bits_per_sample, rate, total_samples, channels],
-- duration = 110250/44100 = 2.5 exactly.
SELECT 'audio_meta', -15::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(5)) AS pos,
         unnest([2.5, 16.0, 44100.0, 110250.0, 2.0]) AS val
) u
UNION ALL
-- 'image_meta' WebP rows (r11): RIFF/VP8-header geometry + flags —
-- vals = [height, width, has_alpha, has_anim]; -10 is a lossy VP8
-- key frame (320x180), -11 an extended VP8X canvas (1920x1080,
-- alpha + animation bits set) — all header arithmetic.
SELECT 'image_meta', -10::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(4)) AS pos, unnest([180.0, 320.0, 0.0, 0.0]) AS val
) u
UNION ALL
SELECT 'image_meta', -11::BIGINT, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       u.pos::INT, CAST(NULL AS VARCHAR), round(round(u.val, 9), 6)
FROM (
  SELECT unnest(range(4)) AS pos, unnest([1080.0, 1920.0, 1.0, 1.0]) AS val
) u
UNION ALL
-- 'align' rows (r12): transcript<->video temporal alignment — video
-- durations are stts/mdhd closed forms (-8: 48*1001*1000 // 30000 =
-- 1601 ms; -12: 24*1000 // 25 = 960 ms), segment bounds the i*D//4
-- index map, cue times closed forms of the cue index (v8: k cues at
-- [400k+100, 400k+600); v12: [300k+50, 300k+350)); one row per
-- overlapping (segment, cue) pair with the exact overlap width
SELECT 'align', av::BIGINT, CAST(NULL AS VARCHAR), seq::BIGINT, seg_idx::INT,
       CAST(NULL AS VARCHAR), (least(ce, e) - greatest(cs, s))::DOUBLE
FROM (
  WITH vids AS (
    SELECT * FROM (VALUES (-8, 1601), (-12, 960)) t(av, d)
  ), segs AS (
    SELECT av, i AS seg_idx, (i * d) // 4 AS s, ((i + 1) * d) // 4 AS e
    FROM vids, unnest(range(4)) AS t(i)
  ), cu AS (
    SELECT -8 AS av, k + 1 AS seq, 400 * k + 100 AS cs, 400 * k + 600 AS ce
    FROM unnest(range(5)) AS t(k)
    UNION ALL
    SELECT -12, k + 1, 300 * k + 50, 300 * k + 350
    FROM unnest(range(3)) AS t(k)
  )
  SELECT segs.av, seg_idx, s, e, seq, cs, ce
  FROM segs JOIN cu ON segs.av = cu.av
  WHERE least(ce, e) - greatest(cs, s) > 0
)
UNION ALL
-- 'frame' rows (former mm_frames query): resize_stub picks exactly
-- least(len, 64) bytes; frame i's window starts at
-- least(i*stride, len-16) with stride = greatest(len // 4, 1) and
-- spans at most 16 bytes — all integer arithmetic, so the whole
-- media -> resize -> frame chain is SQL-checkable without touching
-- byte values.
SELECT 'frame', frame_idx::BIGINT, CAST(NULL AS VARCHAR), total_bytes,
       CAST(NULL AS INT), CAST(NULL AS VARCHAR), n_frames::DOUBLE
FROM (
  WITH fm AS (
    SELECT doc_id, least(octet_length(encode(text)), 64)::BIGINT AS len
    FROM documents
  ), ff AS (
    SELECT doc_id, len, i AS frame_idx,
           least(i * greatest(len // 4, 1), greatest(len - 16, 0)) AS fstart
    FROM fm, unnest(range(4)) AS t(i)
    WHERE len > 0
  )
  SELECT frame_idx, count(*)::BIGINT AS n_frames,
         sum(least(16, len - fstart))::BIGINT AS total_bytes
  FROM ff GROUP BY 1
)
"""
