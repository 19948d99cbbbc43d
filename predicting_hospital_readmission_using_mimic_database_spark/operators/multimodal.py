"""Multimodal column operators (north-star surface).

Images / audio / video ride through the engine as opaque ``binary``
columns plus typed metadata — schemas, Arrow batch transport,
``mapInPandas`` partition iteration, and batch sizing are the production
path. Codecs (this container ships no media libraries):

- **image — REAL**: a pure-stdlib parser for uncompressed 24-bit BMP and
  binary PPM (P6) decodes actual pixels into channel means, luminance
  moments, and a luminance histogram;
- **audio — REAL**: stdlib ``wave`` + ``struct`` parse PCM WAV into
  duration/rate/RMS/zero-crossings and an amplitude histogram;
- **video — REAL (uncompressed AVI)**: a pure-stdlib RIFF walker parses
  AVI containers carrying uncompressed 24-bit DIB frames ('00db'
  chunks) into frame count / fps / per-frame luminance stats / a motion
  proxy. Compressed codecs (H.264 etc.) are beyond stdlib — a pyav-style
  decoder slots into the same ``real_decoder`` dispatch; unparseable
  video raises rather than silently faking.

Scale posture: blobs stay columnar (parquet binary); decode fans out via
``mapInPandas`` (one Python worker per partition, Arrow-batched);
per-batch rows bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
so a partition of large blobs never materializes at once.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

#: manifest schema for binary assets (the parquet layout a real ingest
#: writes: content + typed metadata; blobs NEVER go through string columns)
BLOB_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ]
)


# ---------------------------------------------------------------------------
# Stdlib codecs: BMP / PPM image, PCM WAV audio
# ---------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixels) -> bytes:
    """Uncompressed 24-bit BMP from row-major (r, g, b) tuples (len =
    width*height, top-down). Used by the synthetic ingest and fixtures —
    the decoder accepts any conformant BMP, not just these."""
    row_pad = (-(width * 3)) % 4
    img = bytearray()
    # BMP stores rows bottom-up
    for y in range(height - 1, -1, -1):
        for x in range(width):
            r, g, b = pixels[y * width + x]
            img += bytes((b, g, r))
        img += b"\x00" * row_pad
    header_size = 14 + 40
    file_size = header_size + len(img)
    return (
        struct.pack("<2sIHHI", b"BM", file_size, 0, 0, header_size)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0)
        + bytes(img)
    )


def _parse_bmp(content: bytes):
    """-> (width, height, row-major top-down (r,g,b) list). 24-bit BI_RGB
    only — the only profile the synthetic ingest writes."""
    if len(content) < 54 or content[:2] != b"BM":
        return None
    off = struct.unpack_from("<I", content, 10)[0]
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    comp = struct.unpack_from("<I", content, 30)[0]
    if planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if len(content) < off + stride * h:
        return None
    px = [None] * (w * h)
    for row in range(h):
        y = (h - 1 - row) if bottom_up else row
        base = off + row * stride
        for x in range(w):
            b, g, r = content[base + 3 * x : base + 3 * x + 3]
            px[y * w + x] = (r, g, b)
    return w, h, px


def _parse_ppm(content: bytes):
    """Binary PPM (P6, maxval 255) -> (width, height, (r,g,b) list)."""
    if not content.startswith(b"P6"):
        return None
    # header: P6 <w> <h> <maxval> single-whitespace, then raw RGB
    fields: list[int] = []
    i = 2
    while len(fields) < 3 and i < len(content):
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":  # comment to EOL
            while i < len(content) and content[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        try:
            fields.append(int(content[i:j]))
        except ValueError:
            return None
        i = j
    i += 1  # the single whitespace after maxval
    if len(fields) < 3 or fields[2] != 255:
        return None
    w, h = fields[0], fields[1]
    if w <= 0 or h <= 0 or len(content) < i + 3 * w * h:
        return None
    px = [
        tuple(content[i + 3 * k : i + 3 * k + 3]) for k in range(w * h)
    ]
    return w, h, px


def decode_image_features(content: bytes) -> list[float] | None:
    """REAL image decode (BMP / PPM) -> FEATURE_DIM doubles:

    [w, h, aspect, mean_r, mean_g, mean_b, mean_luma, std_luma,
     8-bin luminance histogram (normalized)].

    Returns None when the bytes are not a supported image.
    """
    parsed = _parse_bmp(content) or _parse_ppm(content)
    if parsed is None:
        return None
    w, h, px = parsed
    return _image_stats(w, h, px)


def _image_stats(w: int, h: int, px) -> list[float]:
    """The image feature vector from (width, height, RGB pixels) — shared
    by the stdlib decoders and the Pillow-gated compressed path, so both
    produce bit-identical features for identical pixels."""
    n = len(px)
    mr = sum(p[0] for p in px) / n / 255.0
    mg = sum(p[1] for p in px) / n / 255.0
    mb = sum(p[2] for p in px) / n / 255.0
    lumas = [(0.299 * p[0] + 0.587 * p[1] + 0.114 * p[2]) / 255.0 for p in px]
    ml = sum(lumas) / n
    sl = math.sqrt(sum((v - ml) ** 2 for v in lumas) / n)
    hist = [0] * 8
    for v in lumas:
        hist[min(7, int(v * 8))] += 1
    return [float(w), float(h), w / h, mr, mg, mb, ml, sl] + [c / n for c in hist]


def decode_image_features_pil(content: bytes) -> list[float] | None:
    """Compressed-image decode (JPEG/PNG/WebP/...) via Pillow — the gated
    codec seam behind :func:`real_decoder`.

    Returns None when Pillow is NOT importable (the caller reports the
    seam); raises ValueError on bytes Pillow cannot decode (corrupt
    asset, same contract as the stdlib path). Feature math is the shared
    :func:`_image_stats`, so a losslessly-encoded PNG of a BMP fixture
    produces the identical vector.
    """
    try:
        from PIL import Image
    except ImportError:
        return None
    try:
        img = Image.open(io.BytesIO(content))
        img = img.convert("RGB")
    except Exception as e:
        raise ValueError(f"corrupt compressed image asset: {e}") from e
    w, h = img.size
    return _image_stats(w, h, list(img.getdata()))


def encode_wav(samples, rate: int = 8000) -> bytes:
    """16-bit mono PCM WAV from int samples in [-32768, 32767]."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_audio_features(content: bytes) -> list[float] | None:
    """REAL audio decode (PCM WAV, 16-bit) -> FEATURE_DIM doubles:

    [n_channels, sample_rate, duration_s, rms, zero_crossing_rate, peak,
     mean_abs, std, 8-bin |amplitude| histogram (normalized)].

    Amplitudes normalized to [-1, 1]. None when not a PCM WAV.
    """
    try:
        with wave.open(io.BytesIO(content), "rb") as wf:
            nch, sw, rate, nframes = (
                wf.getnchannels(), wf.getsampwidth(), wf.getframerate(), wf.getnframes(),
            )
            if sw != 2 or nframes == 0:
                return None
            raw = wf.readframes(nframes)
    except (wave.Error, EOFError):
        return None
    vals = [v / 32768.0 for v in struct.unpack(f"<{len(raw) // 2}h", raw)]
    return _audio_stats(nch, rate, vals)


def _audio_stats(nch: int, rate: int, vals: list[float]) -> list[float]:
    """The audio feature vector from normalized samples — shared by the
    WAV decoder and the pyav-gated compressed path."""
    n = len(vals)
    rms = math.sqrt(sum(v * v for v in vals) / n)
    zc = sum(
        1 for a, b in zip(vals, vals[1:]) if (a >= 0) != (b >= 0)
    ) / max(1, n - 1)
    peak = max(abs(v) for v in vals)
    mean_abs = sum(abs(v) for v in vals) / n
    mean = sum(vals) / n
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / n)
    hist = [0] * 8
    for v in vals:
        hist[min(7, int(abs(v) * 8))] += 1
    return [float(nch), float(rate), n / (nch * rate), rms, zc, peak, mean_abs, std] + [
        c / n for c in hist
    ]


def decode_media_features_av(media_type: str, content: bytes) -> list[float] | None:
    """Compressed audio/video decode (MP3/AAC/H.264/...) via pyav — the
    gated codec seam behind :func:`real_decoder`.

    Returns None when pyav is NOT importable; raises ValueError on bytes
    pyav cannot decode. Audio reuses :func:`_audio_stats` over the
    decoded PCM; video mirrors :func:`decode_video_features`'s vector
    ([n_frames, w, h, fps, duration, mean_luma, std_luma, motion] +
    8-bin luma histogram) over frames converted to grayscale.
    """
    try:
        import av
    except ImportError:
        return None
    try:
        container = av.open(io.BytesIO(content))
        if media_type == "audio":
            stream = container.streams.audio[0]
            rate = int(stream.rate or 0)
            nch = int(stream.channels or 1)
            vals: list[float] = []
            for frame in container.decode(stream):
                arr = frame.to_ndarray()  # (planes|1) x samples, dtype varies
                # planar layouts (fltp — the common MP3/AAC decode shape)
                # are plane-major; transpose to interleave channels so the
                # order-sensitive zero-crossing feature matches the WAV
                # path's interleaved semantics
                if getattr(frame.format, "is_planar", False) and arr.ndim == 2:
                    arr = arr.T
                flat = arr.astype("float64").reshape(-1)
                if arr.dtype.kind == "i":  # signed ints: scale to [-1, 1]
                    flat = flat / float(2 ** (8 * arr.dtype.itemsize - 1))
                elif arr.dtype.kind == "u":  # unsigned (pcm_u8): recenter
                    half = float(2 ** (8 * arr.dtype.itemsize - 1))
                    flat = (flat - half) / half
                vals.extend(flat.tolist())
            if not vals or not rate:
                raise ValueError("no decodable audio samples")
            return _audio_stats(nch, rate, vals)
        stream = container.streams.video[0]
        fps = float(stream.average_rate) if stream.average_rate else 0.0
        per_frame_luma: list[float] = []
        hist = [0] * 8
        w = h = 0
        motion_acc, motion_n = 0.0, 0
        prev = None
        npx_total = 0
        import numpy as np

        for frame in container.decode(stream):
            g = frame.to_ndarray(format="gray").astype("float64") / 255.0
            h, w = g.shape
            flat = g.reshape(-1)
            npx_total += flat.size
            # vectorized binning: a per-pixel Python loop is minutes per
            # 1080p asset inside a mapInPandas task
            binned = np.minimum((flat * 8).astype("int64"), 7)
            counts = np.bincount(binned, minlength=8)
            for i in range(8):
                hist[i] += int(counts[i])
            per_frame_luma.append(float(flat.mean()))
            if prev is not None:
                motion_acc += float(abs(flat - prev).mean())
                motion_n += 1
            prev = flat
        if not per_frame_luma:
            raise ValueError("no decodable video frames")
        nf = len(per_frame_luma)
        ml = sum(per_frame_luma) / nf
        sl = math.sqrt(sum((v - ml) ** 2 for v in per_frame_luma) / nf)
        motion = motion_acc / motion_n if motion_n else 0.0
        return [
            float(nf), float(w), float(h), fps,
            nf / fps if fps else 0.0, ml, sl, motion,
        ] + [c / npx_total for c in hist]
    except ValueError:
        raise
    except Exception as e:
        raise ValueError(f"corrupt compressed {media_type} asset: {e}") from e


def _frame_bytes(width: int, height: int, pixels) -> bytes:
    """Row-major top-down (r,g,b) pixels -> DIB frame payload (BGR,
    bottom-up rows, 4-byte-aligned stride) — the '00db' chunk body."""
    row_pad = (-(width * 3)) % 4
    out = bytearray()
    for y in range(height - 1, -1, -1):
        for x in range(width):
            r, g, b = pixels[y * width + x]
            out += bytes((b, g, r))
        out += b"\x00" * row_pad
    return bytes(out)


def encode_avi(width: int, height: int, frames, fps: int = 4) -> bytes:
    """Minimal uncompressed AVI (RIFF / 'DIB ' vids stream / '00db'
    frames) from a list of row-major top-down (r,g,b) frames. Used by the
    synthetic ingest and fixtures; the decoder accepts any conformant
    uncompressed AVI, not just these."""

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) % 2))

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    us_per_frame = 1_000_000 // fps
    avih = struct.pack(
        "<14I", us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"DIB "
        # dwFlags, wPriority, wLanguage, dwInitialFrames, dwScale, dwRate,
        # dwStart, dwLength, dwSuggestedBufferSize, dwQuality, dwSampleSize
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0,
                      len(frames), 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
        ((width * 3 + 3) // 4 * 4) * height, 2835, 2835, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", _frame_bytes(width, height, f)) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def _riff_chunks(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_len) walking a RIFF chunk run."""
    i = start
    while i + 8 <= end:
        fourcc = buf[i : i + 4]
        (size,) = struct.unpack_from("<I", buf, i + 4)
        yield fourcc, i + 8, size
        i += 8 + size + (size % 2)


def decode_video_features(content: bytes) -> list[float] | None:
    """REAL video decode (uncompressed 24-bit AVI) -> FEATURE_DIM doubles:

    [n_frames, w, h, fps, duration_s, mean_luma, std of per-frame mean
     luma (temporal variation), motion (mean |Δluma| between consecutive
     frames), 8-bin luminance histogram (normalized)].

    Returns None when the bytes are not an uncompressed AVI.
    """
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        return None
    w = h = n_frames = 0
    fps = 0.0
    frames: list[bytes] = []
    for fourcc, body, size in _riff_chunks(content, 12, len(content)):
        if fourcc != b"LIST":
            continue
        kind = content[body : body + 4]
        if kind == b"hdrl":
            for cc, b2, s2 in _riff_chunks(content, body + 4, body + size):
                if cc == b"avih" and s2 >= 40:
                    us, _, _, _, total, _, _, _, aw, ah = struct.unpack_from(
                        "<10I", content, b2
                    )
                    w, h, n_frames = aw, ah, total
                    fps = 1_000_000 / us if us else 0.0
        elif kind == b"movi":
            for cc, b2, s2 in _riff_chunks(content, body + 4, body + size):
                if cc in (b"00db", b"00dc"):
                    frames.append(content[b2 : b2 + s2])
    if w <= 0 or h <= 0 or not frames:
        return None
    stride = (w * 3 + 3) // 4 * 4
    per_frame_luma: list[float] = []
    hist = [0] * 8
    prev: list[float] | None = None
    motion_acc, motion_n = 0.0, 0
    for fb in frames:
        if len(fb) < stride * h:
            return None  # truncated frame = corrupt container
        lumas = []
        for row in range(h):
            base = row * stride
            for x in range(w):
                b, g, r = fb[base + 3 * x : base + 3 * x + 3]
                lumas.append((0.299 * r + 0.587 * g + 0.114 * b) / 255.0)
        for v in lumas:
            hist[min(7, int(v * 8))] += 1
        per_frame_luma.append(sum(lumas) / len(lumas))
        if prev is not None:
            motion_acc += sum(abs(a - b) for a, b in zip(lumas, prev)) / len(lumas)
            motion_n += 1
        prev = lumas
    npx = len(frames) * w * h
    ml = sum(per_frame_luma) / len(per_frame_luma)
    sl = math.sqrt(sum((v - ml) ** 2 for v in per_frame_luma) / len(per_frame_luma))
    motion = motion_acc / motion_n if motion_n else 0.0
    return [
        float(n_frames or len(frames)), float(w), float(h), fps,
        (n_frames or len(frames)) / fps if fps else 0.0, ml, sl, motion,
    ] + [c / npx for c in hist]


def fake_decoder(content: bytes) -> list[float]:
    """Deterministic stand-in for a codec: FEATURE_DIM doubles derived from
    the content digest. Same bytes -> same features, any engine. Kept as
    the explicit plumbing-only mode (``decode_stub_features`` default)."""
    dg = hashlib.sha256(content or b"").digest()
    return [dg[i] / 255.0 for i in range(FEATURE_DIM)]


def real_decoder(media_type: str, content: bytes) -> list[float]:
    """Dispatch: real image/audio/video parsing.

    Stdlib codecs first (BMP/PPM, PCM WAV, uncompressed AVI — always
    available); when those don't recognize the bytes, the GATED
    compressed-codec seam is TRIED, not stubbed: Pillow for images
    (JPEG/PNG/...), pyav for audio/video (MP3/H.264/...). Library absent
    -> a loud error naming the seam; library present but bytes
    undecodable -> a corrupt-asset error. Never a silent fake."""
    if media_type == "image":
        feats = decode_image_features(content or b"")
        if feats is None:
            feats = decode_image_features_pil(content or b"")
        if feats is None:
            raise ValueError(
                "image asset is not BMP/PPM and the compressed-codec seam "
                "is closed: install pillow to decode JPEG/PNG/WebP"
            )
        return feats
    if media_type == "audio":
        feats = decode_audio_features(content or b"")
        if feats is None:
            feats = decode_media_features_av("audio", content or b"")
        if feats is None:
            raise ValueError(
                "audio asset is not 16-bit PCM WAV and the compressed-codec "
                "seam is closed: install pyav to decode MP3/AAC/FLAC"
            )
        return feats
    feats = decode_video_features(content or b"")
    if feats is None:
        feats = decode_media_features_av("video", content or b"")
    if feats is None:
        raise ValueError(
            "video asset is not uncompressed 24-bit AVI and the "
            "compressed-codec seam is closed: install pyav to decode "
            "H.264/VP9/HEVC"
        )
    return feats


# ---------------------------------------------------------------------------
# Synthetic ingest + the mapInPandas decode operator
# ---------------------------------------------------------------------------


def synthetic_blobs(spark, n: int = 64, partitions: int = 4) -> DataFrame:
    """Deterministic fake asset manifest used by tests and the mm1/mm2
    query entries — stands in for a real ingest. Image assets are REAL
    BMPs, audio assets REAL WAVs, and video assets REAL uncompressed
    AVIs (frame count derived from the same closed-form duration the
    metadata column carries) — every modality decodable by the real
    codec path. The metadata columns keep their closed-form formulas
    (mm2's oracle depends on them)."""
    rows = []
    for i in range(n):
        media = ("image", "audio", "video")[i % 3]
        if media == "image":
            w, h = 4 + i % 4, 3 + i % 3
            px = [
                ((x * 37 + i) % 256, (y * 59 + i) % 256, (x * y * 17 + i) % 256)
                for y in range(h)
                for x in range(w)
            ]
            content = encode_bmp(w, h, px)
        elif media == "audio":
            content = encode_wav(
                [
                    int(20000 * math.sin(2 * math.pi * (i + 1) * t / 64.0))
                    for t in range(64 + i)
                ]
            )
        else:
            content = encode_avi(*_video_asset_shape(i), fps=4)
        rows.append(
            (i, media, content, 64 + i % 512, 64 + (i * 3) % 512, 1000 * (1 + i % 30))
        )
    return local_frame(spark, rows, BLOB_SCHEMA).repartition(partitions)


def _video_asset_shape(i: int) -> tuple[int, int, list]:
    """Closed-form (width, height, frames) for synthetic video asset i:
    8x6 pixels, 4 fps for the asset's metadata duration 1000*(1+i%30) ms."""
    w, h = 8, 6
    n_frames = max(1, (1 + i % 30) * 4)  # duration_ms * fps / 1000
    frames = [
        [
            ((x * 31 + t * 7 + i) % 256, (y * 53 + t * 11) % 256, (x * y + t + i) % 256)
            for y in range(h)
            for x in range(w)
        ]
        for t in range(n_frames)
    ]
    return w, h, frames


def decode_stub_features(df: DataFrame, real_codec: bool = False) -> DataFrame:
    """Blob manifest -> per-asset feature rows via ``mapInPandas``.

    ``real_codec=True`` parses image (BMP/PPM), audio (WAV), and video
    (uncompressed AVI) content with the stdlib codecs above. The default
    keeps the fully deterministic digest features for all media — the
    plumbing-shape contract used by the plumbing tests.
    """

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:  # one Arrow batch at a time — bounded memory
            if real_codec:
                feats = [
                    real_decoder(m, b)
                    for m, b in zip(pdf["media_type"], pdf["content"])
                ]
            else:
                feats = [fake_decoder(b) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["content"].map(lambda b: len(b or b"")),
                    "features": feats,
                }
            )

    return df.mapInPandas(decode, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 500) -> DataFrame:
    """Video frame-sampling arithmetic (pure plan, no decode): one output
    row per sampled timestamp — the explode a real frame extractor feeds."""
    # duration <= 0 (corrupt/zero-length asset) yields zero frames rather
    # than an illegal descending sequence
    vids = df.filter((F.col("media_type") == "video") & (F.col("duration_ms") > 0))
    return vids.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def resize_image_nn(content: bytes, out_w: int, out_h: int) -> bytes | None:
    """Nearest-neighbor resize of a decodable image (BMP/PPM), re-encoded
    as BMP. Pure integer source-coordinate mapping (``sx = x*w // out_w``)
    — deterministic on every platform, no float resampling kernels.
    Returns None for undecodable bytes (poison-pill tolerant)."""
    parsed = _parse_bmp(content) or _parse_ppm(content)
    if parsed is None:
        return None
    w, h, px = parsed
    out = []
    for y in range(out_h):
        sy = min(h - 1, (y * h) // out_h)
        for x in range(out_w):
            sx = min(w - 1, (x * w) // out_w)
            out.append(px[sy * w + sx])
    return encode_bmp(out_w, out_h, out)


RESIZED_SCHEMA = (
    "asset_id long, in_w int, in_h int, out_w int, out_h int, content binary"
)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """mm3 — batch image TRANSFORM (not just decode): resize every image
    asset to (out_w, out_h) via ``mapInPandas`` — blobs stay binary
    Arrow-batched columns end-to-end, one Python pass per partition, no
    shuffle. Undecodable rows pass through with NULL content and NULL
    dims (count them downstream; never throw mid-corpus at 100 TB).
    """

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                parsed = _parse_bmp(blob) or _parse_ppm(blob)
                if parsed is None:
                    rows.append((aid, None, None, out_w, out_h, None))
                    continue
                w, h, _ = parsed
                rows.append(
                    (aid, w, h, out_w, out_h, resize_image_nn(blob, out_w, out_h))
                )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "in_w", "in_h", "out_w", "out_h", "content"],
            )

    return df.select("asset_id", "content").mapInPandas(gen, RESIZED_SCHEMA)


def resample_audio_decimate(content: bytes, factor: int) -> bytes | None:
    """Naive integer decimation of a 16-bit mono PCM WAV: keep every
    ``factor``-th sample and divide the declared rate accordingly.
    Deterministic (no filter kernels — a proper anti-aliasing resampler
    is a numpy/scipy seam); None for non-PCM bytes."""
    try:
        with wave.open(io.BytesIO(content), "rb") as wf:
            if wf.getnchannels() != 1 or wf.getsampwidth() != 2:
                return None
            rate = wf.getframerate()
            raw = wf.readframes(wf.getnframes())
    except Exception:
        return None
    samples = struct.unpack(f"<{len(raw) // 2}h", raw)
    return encode_wav(samples[::factor], rate=max(1, rate // factor))


RESAMPLED_SCHEMA = (
    "asset_id long, in_rate int, in_samples int, out_rate int, "
    "out_samples int, content binary"
)


def resample_audios(df: DataFrame, factor: int) -> DataFrame:
    """mm4 — batch audio TRANSFORM: decimate every audio asset by
    ``factor`` via ``mapInPandas`` — binary columns end-to-end, NULL
    passthrough for undecodable blobs, no shuffle."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                out = resample_audio_decimate(blob, factor)
                if out is None:
                    rows.append((aid, None, None, None, None, None))
                    continue
                with wave.open(io.BytesIO(bytes(blob)), "rb") as wi:
                    in_rate, in_n = wi.getframerate(), wi.getnframes()
                with wave.open(io.BytesIO(out), "rb") as wo:
                    out_rate, out_n = wo.getframerate(), wo.getnframes()
                rows.append((aid, in_rate, in_n, out_rate, out_n, out))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "in_rate", "in_samples", "out_rate",
                    "out_samples", "content",
                ],
            )

    return df.select("asset_id", "content").mapInPandas(gen, RESAMPLED_SCHEMA)


def spectrogram_wav(
    content: bytes, n_fft: int = 256, hop: int = 128
) -> list[list[float]] | None:
    """STFT POWER SPECTROGRAM from a PCM WAV (16-bit), numpy-only — the
    training-pipeline feature-extraction step between raw audio bytes and
    a model input. Hann-windowed frames of ``n_fft`` samples every
    ``hop``, |rFFT|^2 per frame -> ``n_frames x (n_fft//2 + 1)`` doubles.
    Linear frequency bins (a mel filterbank is a fixed matmul away and
    would add no new distribution semantics). None when not a PCM WAV or
    shorter than one frame. Multi-channel audio is averaged to mono first
    (the common mel-pipeline default).
    """
    import numpy as np

    try:
        with wave.open(io.BytesIO(content), "rb") as wf:
            nch, sw, nframes = wf.getnchannels(), wf.getsampwidth(), wf.getnframes()
            if sw != 2 or nframes == 0:
                return None
            raw = wf.readframes(nframes)
    except (wave.Error, EOFError):
        return None
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    if nch > 1:
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    if len(x) < n_fft:
        return None
    win = np.hanning(n_fft)
    starts = range(0, len(x) - n_fft + 1, hop)
    frames = np.stack([x[s : s + n_fft] * win for s in starts])
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    return [[float(v) for v in row] for row in spec]


def spectrograms(df: DataFrame, n_fft: int = 256, hop: int = 128) -> DataFrame:
    """Corpus-scale spectrogram extraction: (asset_id, content) ->
    (asset_id, n_frames, n_bins, spec array<array<double>>), Arrow-batched
    ``mapInPandas`` — map-only, zero shuffle, scan-speed at any corpus
    size. Undecodable/too-short blobs pass through with NULL spec (the
    poison-pill contract shared by every mm operator)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("n_frames", IntegerType()),
            StructField("n_bins", IntegerType()),
            StructField("spec", ArrayType(ArrayType(DoubleType()))),
        ]
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                spec = (
                    spectrogram_wav(bytes(content), n_fft, hop)
                    if content is not None
                    else None
                )
                out.append(
                    {
                        "asset_id": aid,
                        "n_frames": len(spec) if spec else None,
                        "n_bins": len(spec[0]) if spec else None,
                        "spec": spec,
                    }
                )
            yield pd.DataFrame(out, columns=["asset_id", "n_frames", "n_bins", "spec"])

    return df.select("asset_id", "content").mapInPandas(gen, schema)


def channel_norm_fit(df: DataFrame, ndigits: int = 6) -> DataFrame:
    """CORPUS-level per-channel normalization constants (the dataset
    mean/std an image pipeline bakes into its preprocessing, à la the
    well-known ImageNet numbers): decode every image and reduce to ONE
    row of per-channel mean/std over all pixels.

    Distribution shape: the decode emits per-image INTEGER partial sums
    (sum_c, sum_sq_c, n_px — exact, associative) from one mapInPandas
    pass, and a single global aggregate folds them — O(1) result, no
    per-pixel shuffle, no float drift (the only float ops are the final
    mean/std formulas over exact integer totals, identical on any
    partitioning and any engine). Undecodable blobs are skipped and
    counted."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("n_px", LongType()),
            StructField("sr", LongType()), StructField("sg", LongType()),
            StructField("sb", LongType()),
            StructField("qr", LongType()), StructField("qg", LongType()),
            StructField("qb", LongType()),
            StructField("decoded", LongType()),
        ]
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for content in pdf["content"]:
                parsed = (
                    (_parse_bmp(bytes(content)) or _parse_ppm(bytes(content)))
                    if content is not None
                    else None
                )
                if parsed is None:
                    out.append((0, 0, 0, 0, 0, 0, 0, 0))
                    continue
                _w, _h, px = parsed
                out.append(
                    (
                        len(px),
                        sum(p[0] for p in px), sum(p[1] for p in px),
                        sum(p[2] for p in px),
                        sum(p[0] * p[0] for p in px), sum(p[1] * p[1] for p in px),
                        sum(p[2] * p[2] for p in px),
                        1,
                    )
                )
            yield pd.DataFrame(
                out, columns=["n_px", "sr", "sg", "sb", "qr", "qg", "qb", "decoded"]
            )

    partials = df.select("content").mapInPandas(gen, schema)
    tot = partials.agg(
        *[F.sum(c).alias(c) for c in ("n_px", "sr", "sg", "sb", "qr", "qg", "qb", "decoded")]
    )

    def _mean(s):  # channel mean in [0, 1]
        return F.col(s) / F.col("n_px") / 255.0

    def _std(s, q):
        return F.sqrt(
            F.col(q) / F.col("n_px") / (255.0 * 255.0) - _mean(s) * _mean(s)
        )

    return tot.select(
        F.col("decoded").alias("n_images"),
        F.col("n_px").alias("n_pixels"),
        *[F.round(_mean(s), ndigits).alias(f"mean_{c}") for s, c in
          (("sr", "r"), ("sg", "g"), ("sb", "b"))],
        *[F.round(_std(s, q), ndigits).alias(f"std_{c}") for s, q, c in
          (("sr", "qr", "r"), ("sg", "qg", "g"), ("sb", "qb", "b"))],
    )


def _parse_avi_frames(content: bytes):
    """(w, h, fps, stride, frames[list of raw BGR rows-padded bytes]) from
    an uncompressed 24-bit AVI, or None — the container walk shared with
    :func:`decode_video_features` (kept separately tested there; this
    helper exists so frame-level operators don't re-derive the RIFF
    layout)."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        return None
    w = h = 0
    fps = 0.0
    frames: list[bytes] = []
    for fourcc, body, size in _riff_chunks(content, 12, len(content)):
        if fourcc != b"LIST":
            continue
        kind = content[body : body + 4]
        if kind == b"hdrl":
            for cc, b2, s2 in _riff_chunks(content, body + 4, body + size):
                if cc == b"avih" and s2 >= 40:
                    us, _, _, _, _total, _, _, _, aw, ah = struct.unpack_from(
                        "<10I", content, b2
                    )
                    w, h = aw, ah
                    fps = 1_000_000 / us if us else 0.0
        elif kind == b"movi":
            for cc, b2, s2 in _riff_chunks(content, body + 4, body + size):
                if cc in (b"00db", b"00dc"):
                    frames.append(content[b2 : b2 + s2])
    if w <= 0 or h <= 0 or not frames:
        return None
    stride = (w * 3 + 3) // 4 * 4
    if any(len(fb) < stride * h for fb in frames):
        return None  # truncated frame = corrupt container
    return w, h, fps, stride, frames


def scene_cut_indices(
    content: bytes, threshold: float = 0.3
) -> list[int] | None:
    """SHOT-BOUNDARY detection on an uncompressed AVI: frame index t is a
    cut when the mean |Δluma| between frames t-1 and t exceeds
    ``threshold`` (luma in [0,1] — the classic pixel-difference detector;
    smooth motion stays far below a hard cut's jump). Returns the cut
    indices, or None for undecodable bytes."""
    parsed = _parse_avi_frames(content)
    if parsed is None:
        return None
    return _cuts_from_parsed(parsed, threshold)


def _cuts_from_parsed(parsed: tuple, threshold: float) -> list[int]:
    """Cut detection over an ALREADY-PARSED (w, h, fps, stride, frames)
    tuple — lets :func:`scene_cuts` decode each blob exactly once
    (container parse is the per-asset cost of the map-only pass)."""
    import numpy as np

    w, h, _fps, stride, frames = parsed
    lumas = []
    for fb in frames:
        a = np.frombuffer(fb[: stride * h], dtype=np.uint8).reshape(h, stride)
        bgr = a[:, : w * 3].reshape(h, w, 3).astype(np.float64)
        lumas.append(
            (0.114 * bgr[..., 0] + 0.587 * bgr[..., 1] + 0.299 * bgr[..., 2])
            / 255.0
        )
    cuts = []
    for t in range(1, len(lumas)):
        if float(np.abs(lumas[t] - lumas[t - 1]).mean()) > threshold:
            cuts.append(t)
    return cuts


def scene_cuts(df: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Corpus-scale shot detection: (asset_id, content) -> (asset_id,
    n_frames, n_cuts, first_cut) via mapInPandas — map-only, zero
    shuffle; undecodable blobs pass through NULL (the shared mm poison-
    pill contract). The cut list itself is available via
    :func:`scene_cut_indices`; the entry surfaces scalars (stable
    cross-engine hashing)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("n_frames", IntegerType()),
            StructField("n_cuts", IntegerType()),
            StructField("first_cut", IntegerType()),
        ]
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                parsed = (
                    _parse_avi_frames(bytes(content)) if content is not None else None
                )
                if parsed is None:
                    out.append((aid, None, None, None))
                    continue
                cuts = _cuts_from_parsed(parsed, threshold)
                out.append(
                    (aid, len(parsed[4]), len(cuts), cuts[0] if cuts else None)
                )
            yield pd.DataFrame(
                out, columns=["asset_id", "n_frames", "n_cuts", "first_cut"]
            )

    return df.select("asset_id", "content").mapInPandas(gen, schema)


def ahash_image(content: bytes, grid: int = 8) -> int | None:
    """PERCEPTUAL average-hash (aHash) of a BMP/PPM image: luma plane
    box-pooled to ``grid x grid`` cells, one bit per cell (above the
    pooled mean), packed MSB-first into a SIGNED 64-bit int (Spark long).
    Robust to small pixel noise/re-encodes; the image analogue of
    SimHash for near-dup detection. None when undecodable."""
    import numpy as np

    parsed = _parse_bmp(content) or _parse_ppm(content)
    if parsed is None:
        return None
    w, h, px = parsed
    if w < grid or h < grid:
        return None
    a = np.asarray(px, dtype=np.float64).reshape(h, w, 3)
    luma = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    ys = (np.arange(grid) * h) // grid
    xs = (np.arange(grid) * w) // grid
    cells = np.add.reduceat(np.add.reduceat(luma, ys, axis=0), xs, axis=1)
    bits = (cells > cells.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v  # two's-complement long


def ahash_images(df: DataFrame, grid: int = 8) -> DataFrame:
    """(asset_id, ahash) via mapInPandas — map-only; undecodable blobs
    yield NULL. Feed :func:`~.dedup.hash_banded_pairs` for corpus-scale
    image near-dup pairs (the shared pigeonhole band join)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("asset_id", LongType()), StructField("ahash", LongType())]
    )

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = [
                (
                    aid,
                    ahash_image(bytes(content), grid) if content is not None else None,
                )
                for aid, content in zip(pdf["asset_id"], pdf["content"])
            ]
            yield pd.DataFrame(out, columns=["asset_id", "ahash"])

    return df.select("asset_id", "content").mapInPandas(gen, schema)
