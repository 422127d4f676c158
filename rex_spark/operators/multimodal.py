"""Multimodal columns: binary payloads + typed metadata + REAL decode.

Images/audio/video are ``binary`` columns with a metadata struct.  The
Spark-side machinery (schemas, partition-friendly batch shapes, Arrow
UDF signatures, feature tables) is real and tested, and — since r4 —
so is the decode for the stdlib-decodable formats:
``decode_asset`` parses PCM WAV, BMP, PNG and (since r5) baseline
JPEG, GIF and MJPEG-AVI video payloads into sample/pixel/frame arrays
(kernels/codecs.py, pure struct+zlib+numpy) and
``decode_stats``/``extract_features`` compute real integer-exact
statistics from them.  NotImplementedError remains only for
inter-frame-compressed video codecs (mp4, ...) where a deployment
build swaps in Pillow/torchaudio/pyav — for those mimes
``extract_features`` falls back to the deterministic hash-derived
feature stand-in (the model-feature slot), exercising the same
distributed path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.hashing import hash64, splitmix64
from .crossing import fan_out

ASSETS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("feature", ArrayType(FloatType()), False),
    ]
)

FEATURE_DIM = 16
# make_assets (the opaque plumbing fixture): payloads are seeded bytes,
# honestly mimed as octet-stream — they exercise batch shapes, fan-out
# and the hash-feature slot without claiming to be decodable media.
_KINDS = [
    ("image", "application/octet-stream"),
    ("audio", "application/octet-stream"),
    ("video", "application/octet-stream"),
]


def make_assets(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic asset table (payload = seeded bytes)."""
    rows = []
    state = seed
    for i in range(n):
        kind, mime = _KINDS[i % len(_KINDS)]
        state = splitmix64(state)
        payload = state.to_bytes(8, "little") * (4 + i % 7)
        rows.append(
            (
                i,
                kind,
                payload,
                mime,
                64 + i % 128 if kind == "image" else None,
                64 + (i * 3) % 128 if kind == "image" else None,
                1000 + i % 9000 if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, schema=ASSETS_SCHEMA)


# ---------------------------------------------------------------------------
# Decodable fixture: real PNG/BMP/WAV payloads, per-asset deterministic
# (make_page-style: synthesis parallelizes over asset ids at scale, and
# the oracle gold recomputes stats from the same SOURCE arrays without
# ever running the decoders — certifying encode -> distributed decode).
# ---------------------------------------------------------------------------

_SM_GAMMA = 0x9E3779B97F4A7C15


def _value_stream(tag: str, n: int) -> np.ndarray:
    """n deterministic uint64s: splitmix64 over a hash64-seeded counter."""
    from ..kernels.hashing import _np_splitmix64, hash64

    base = np.uint64(hash64(tag))
    idx = (np.arange(1, n + 1, dtype=np.uint64)) * np.uint64(_SM_GAMMA)
    return _np_splitmix64(base + idx)


def _asset_source(i: int, seed: int):
    """(kind, mime, source_array, meta) for decodable asset i.

    Slots cycle png / bmp / jpeg / gif / wav / mjpeg-avi / mp4; the mp4
    slot carries opaque seeded bytes (decode_asset raises
    NotImplementedError for it, pinning the unsupported-mime contract).
    meta = (width, height, duration_ms, sample_rate_or_fps, channels).

    The JPEG slot (and every MJPEG-AVI frame) is constructed to
    round-trip EXACTLY through the lossy codec (kernels/codecs.py
    exactness contract): dimensions are multiples of 8 and every 8x8
    block is a uniform value with an even offset from 128 (all AC
    coefficients exactly 0; the quality-50 DC quantizer divides
    8*offset evenly), and RGB variants use R=G=B so the YCbCr
    conversion is the identity on the luma path — so the source-array
    gold stays valid for a lossy format.  PNG/BMP/GIF/WAV are lossless;
    no tricks needed.
    """
    slot = i % 7
    tag = f"asset:{seed}:{i}"

    def jpeg_plane(key: str, bw: int, bh: int, nch: int) -> np.ndarray:
        vals = _value_stream(key, bw * bh)
        block_vals = (
            128 + 2 * ((vals % np.uint64(121)).astype(np.int64) - 60)
        ).astype(np.uint8)  # even offsets, range [8, 248]
        plane = np.repeat(
            np.repeat(block_vals.reshape(bh, bw), 8, axis=0), 8, axis=1
        )
        return plane if nch == 1 else np.repeat(plane[:, :, None], 3, axis=2)

    if slot in (0, 1):  # png / bmp image
        w = 16 + (i * 7) % 81
        h = 16 + (i * 11) % 81
        if slot == 0:
            nch = (1, 3, 4)[(i // 7) % 3]
            shape = (h, w) if nch == 1 else (h, w, nch)
            mime = "image/png"
        else:
            nch, shape, mime = 3, (h, w, 3), "image/bmp"
        vals = _value_stream(tag, h * w * nch)
        pixels = (vals % np.uint64(256)).astype(np.uint8).reshape(shape)
        return "image", mime, pixels, (w, h, None, None, nch)
    if slot == 2:  # baseline JPEG (exact-roundtrip block-uniform image)
        bw = 2 + (i * 3) % 10  # 8x8 blocks per row: 2..11 -> 16..88 px
        bh = 2 + (i * 7) % 10
        nch = 1 if (i // 7) % 2 == 0 else 3
        pixels = jpeg_plane(tag, bw, bh, nch)
        return "image", "image/jpeg", pixels, (bw * 8, bh * 8, None, None, nch)
    if slot == 3:  # GIF: palette image (lossless LZW)
        w = 12 + (i * 5) % 60
        h = 12 + (i * 9) % 60
        n_colors = 2 + (i * 13) % 63
        pal = (
            _value_stream(f"{tag}:pal", n_colors * 3) % np.uint64(256)
        ).astype(np.uint8).reshape(n_colors, 3)
        idx = (
            _value_stream(f"{tag}:idx", h * w) % np.uint64(n_colors)
        ).astype(np.int64).reshape(h, w)
        return "image", "image/gif", pal[idx], (w, h, None, None, 3)
    if slot == 4:  # PCM wav
        rate = 8000
        channels = 1 + (i // 7) % 2
        dur_ms = 400 + i % 1200
        n_frames = dur_ms * rate // 1000
        vals = _value_stream(tag, n_frames * channels)
        samples = (
            (vals % np.uint64(65536)).astype(np.int64) - 32768
        ).astype(np.int16).reshape(n_frames, channels)
        return "audio", "audio/wav", samples, (None, None, dur_ms, rate, channels)
    if slot == 5:  # MJPEG AVI: exact-roundtrip JPEG frames, fps=5
        fps = 5
        n_frames = 3 + i % 5
        bw = 2 + (i * 3) % 6
        bh = 2 + (i * 7) % 6
        nch = 1 if (i // 7) % 2 == 0 else 3
        # frame 0 is keyed by SHAPE, not asset: same-shape videos share
        # their first frame — planted cross-asset duplicate frames, so
        # frame-level dedup (frame_stats pixel_md5) is non-vacuous
        frames = np.stack(
            [jpeg_plane(f"asset:{seed}:avi:{bw}x{bh}x{nch}:f0", bw, bh, nch)]
            + [jpeg_plane(f"{tag}:f{k}", bw, bh, nch)
               for k in range(1, n_frames)]
        )
        dur_ms = n_frames * 1000 // fps
        return "video", "video/x-msvideo", frames, (bw * 8, bh * 8, dur_ms, fps, nch)
    vals = _value_stream(tag, 8 + i % 8)  # opaque mp4 slot
    payload = b"\x00\x00\x00\x18ftypmp42" + vals.astype("<u8").tobytes()
    return "video", "video/mp4", payload, (None, None, 2000 + i % 3000, None, None)


def _encode_source(kind: str, mime: str, source) -> bytes:
    from ..kernels import codecs

    if kind == "image":
        if mime == "image/png":
            return codecs.encode_png(source, filter_mode="cycle")
        if mime == "image/jpeg":
            return codecs.encode_jpeg(source, quality=50)
        if mime == "image/gif":
            return codecs.encode_gif(source)
        return codecs.encode_bmp(source)
    if kind == "audio":
        return codecs.encode_wav(source, 8000, 16)
    if mime == "video/x-msvideo":
        return codecs.encode_avi_mjpeg(list(source), fps=5, quality=50)
    return source  # opaque


def make_decodable_assets(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Asset table whose image/audio/video payloads are REAL encoded
    media (driver-side build; fine for the <=120-row oracle corpus)."""
    rows = []
    for i in range(n):
        kind, mime, source, (w, h, dur, _rate, _ch) = _asset_source(i, seed)
        rows.append((i, kind, _encode_source(kind, mime, source), mime, w, h, dur))
    return spark.createDataFrame(rows, schema=ASSETS_SCHEMA)


def make_decodable_assets_distributed(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Same table as make_decodable_assets, synthesized EXECUTOR-side
    (``crossing.fan_out`` over a range), bit-identical per asset id
    because _asset_source/_encode_source are pure functions of
    (i, seed) — the make_page pattern: corpus synthesis itself
    parallelizes, so a multi-GB codec benchmark or soak never
    bottlenecks on the driver."""
    parts = partitions or 2 * spark.sparkContext.defaultParallelism

    def build(i):
        kind, mime, source, (w, h, dur, _r, _c) = _asset_source(i, seed)
        yield (i, kind, _encode_source(kind, mime, source), mime, w, h, dur)

    return fan_out(
        spark.range(0, n, numPartitions=parts), (), ("id",), build,
        ASSETS_SCHEMA.fields,
    )


DECODE_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("status", StringType(), False),
        StructField("channels", IntegerType(), True),
        StructField("dim_a", IntegerType(), True),  # width | sample_rate
        StructField("dim_b", IntegerType(), True),  # height | n_frames
        StructField("n_values", LongType(), True),
        StructField("sum_val", LongType(), True),
        StructField("min_val", LongType(), True),
        StructField("max_val", LongType(), True),
    ]
)


def decode_stats_row(payload: bytes, mime: str):
    """Scalar kernel: decoded integer-exact statistics for one asset
    (shared verbatim by the distributed path and any driver replica).

    Malformed payloads of a decodable mime (bad CRC, truncated chunks)
    report status ``corrupt`` instead of raising: one bit-flipped asset
    in a 100 TB corpus must not fail the whole stage, and the status
    column is exactly where a corpus-quality rollup wants the count."""
    import zlib

    try:
        decoded = decode_asset(payload, mime)
    except NotImplementedError:
        return ("unsupported", None, None, None, None, None, None, None)
    except (ValueError, zlib.error, struct.error):
        return ("corrupt", None, None, None, None, None, None, None)
    if decoded[0] == "audio":
        _, rate, channels, samples = decoded
        vals = samples.astype(np.int64).ravel()
        dim_a, dim_b = rate, samples.shape[0]
    else:
        _, w, h, channels, pixels = decoded
        vals = pixels.astype(np.int64).ravel()
        dim_a, dim_b = w, h
    return (
        "ok",
        int(channels),
        int(dim_a),
        int(dim_b),
        int(vals.size),
        int(vals.sum()),
        int(vals.min()),
        int(vals.max()),
    )


def decode_stats(assets: DataFrame) -> DataFrame:
    """assets -> per-asset REAL decoded statistics (integer-exact, so
    the oracle can compare hash-exactly against source-array gold).
    Narrow plan: payloads are decoded inside the Arrow batch and only
    the 10 stat columns ever leave the scan stage."""
    return fan_out(
        assets, ("asset_id", "mime"), ("payload", "mime"),
        lambda payload, mime: [decode_stats_row(payload, mime)],
        DECODE_STATS_SCHEMA.fields[2:],
    )


def _feature_kernel(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic fake feature extractor (stands in for a real
    decoder+model); derived purely from payload bytes."""
    h = hash64(kind) ^ hash64(payload.hex())
    out = np.empty(FEATURE_DIM, dtype=np.float32)
    state = h
    for j in range(FEATURE_DIM):
        state = splitmix64(state)
        out[j] = (state % 10_000) / 10_000.0
    return out


_DECODERS = {
    "audio/wav": "audio",
    "audio/x-wav": "audio",
    "image/bmp": "image",
    "image/png": "image",
    "image/jpeg": "image",
    "image/jpg": "image",
    "image/gif": "image",
    "video/x-msvideo": "video",
    "video/avi": "video",
}


def decode_asset(payload: bytes, mime: str):
    """REAL decode for the stdlib-decodable mimes.

    Returns ``("audio", sample_rate, channels, samples[int32 F x C])``,
    ``("image", width, height, channels, pixels[uint8 H x W (x C)])``
    or ``("video", width, height, channels, frames[uint8 F x H x W (x C)])``.
    Raises ValueError on corrupt payloads and NotImplementedError for
    mimes needing a codec library (video/mp4, ...) — the
    deployment build swaps those in (signature is the contract).
    """
    from ..kernels import codecs

    family = _DECODERS.get(mime)
    if family == "audio":
        rate, channels, samples = codecs.decode_wav(payload)
        return ("audio", rate, channels, samples)
    if family == "image":
        if mime == "image/png":
            pixels = codecs.decode_png(payload)
        elif mime in ("image/jpeg", "image/jpg"):
            pixels = codecs.decode_jpeg(payload)
        elif mime == "image/gif":
            pixels = codecs.decode_gif(payload)
        else:
            pixels = codecs.decode_bmp(payload)
        h, w = pixels.shape[:2]
        nch = 1 if pixels.ndim == 2 else pixels.shape[2]
        return ("image", w, h, nch, pixels)
    if family == "video":
        w, h, _fps, frames = codecs.decode_avi(payload)
        nch = 1 if frames.ndim == 3 else frames.shape[3]
        return ("video", w, h, nch, frames)
    raise NotImplementedError(
        f"no stdlib codec for mime={mime}; "
        "swap in Pillow/torchaudio/pyav at deployment"
    )


def _stats_feature(decoded) -> np.ndarray:
    """Deterministic FEATURE_DIM vector of REAL decoded statistics:
    integer moments/extremes of the sample/pixel array, scaled by exact
    float32 arithmetic (bit-stable across the gold replica)."""
    vals = decoded[-1].astype(np.int64).ravel()
    n = max(len(vals), 1)
    head = [
        float(decoded[1]),
        float(decoded[2]),
        float(n),
        float(vals.sum() / n),
        float(vals.min() if len(vals) else 0),
        float(vals.max() if len(vals) else 0),
    ]
    # per-stripe means fill the remaining slots (a crude but real
    # content signature: stripe boundaries are index-deterministic)
    stripes = FEATURE_DIM - len(head)
    for s in range(stripes):
        seg = vals[s * n // stripes : (s + 1) * n // stripes]
        head.append(float(seg.sum() / max(len(seg), 1)))
    return np.array(head, dtype=np.float32)


def extract_features(assets: DataFrame) -> DataFrame:
    """assets -> fixed-dim feature table, one ``crossing.fan_out`` row
    per asset.

    Decodable mimes get REAL decoded statistics (_stats_feature);
    unsupported mimes — and CORRUPT payloads of a decodable mime —
    fall back to the hash-derived model-feature stand-in, so one
    bit-flipped asset can never fail the whole stage (the same
    contract decode_stats_row honors with its 'corrupt' status rows).

    Batch shape contract: input batches carry (asset_id, kind, mime,
    payload) only (html-sized payloads never join a shuffle); output is
    one row per asset with a FEATURE_DIM float vector.
    """

    def features(kind, mime, payload):
        try:
            vec = _stats_feature(decode_asset(payload, mime))
        except (NotImplementedError, ValueError, zlib.error, struct.error):
            # NotImplementedError: no stdlib codec for this mime;
            # the rest: corrupt payload of a decodable mime.
            vec = _feature_kernel(payload, kind)
        yield (len(payload), vec.tolist())

    return fan_out(
        assets, ("asset_id", "kind"), ("kind", "mime", "payload"), features,
        FEATURES_SCHEMA.fields[2:],
    )


FRAMES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("t_ms", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ]
)

FRAME_BYTES = 16


def _frame_kernel(payload: bytes, duration_ms: int, every_ms: int,
                  mime: str | None = None):
    """Deterministic frame sampler.  For PCM WAV payloads the window is
    SAMPLE-EXACT: the frame at t_ms starts at the PCM byte of sample
    floor(t*rate/1000) (header-seek via wav_data_span, never
    materializing the sample array).  For MJPEG-AVI payloads it is
    FRAME-EXACT: the container index seeks to the '00dc' chunk of
    frame floor(t/usec_per_frame) and the window is that frame's
    leading JPEG bytes — no frame is ever decoded or materialized.
    For other payloads it is the byte-window stand-in (stride
    proportional to t's position) that a real build replaces with the
    codec (pyav keyframe seek); the (asset, t_ms) -> fixed-size frame
    row contract is what the pipeline depends on."""
    n = len(payload)
    span = avi = None
    if mime in ("audio/wav", "audio/x-wav"):
        from ..kernels.codecs import wav_data_span

        span = wav_data_span(payload)
    elif mime in ("video/x-msvideo", "video/avi"):
        from ..kernels.codecs import avi_frame_spans

        avi = avi_frame_spans(payload)
    out = []
    for idx, t in enumerate(range(0, max(duration_ms, 1), every_ms)):
        if span is not None:
            data_off, data_len, rate, block = span
            off = data_off + min(
                (t * rate // 1000) * block, max(data_len - FRAME_BYTES, 0)
            )
            # never read past the data chunk: a sub-FRAME_BYTES data
            # span must zero-pad, not leak the next chunk's (LIST/INFO)
            # bytes in as "samples" — the SAMPLE-EXACT contract
            chunk = payload[off : min(off + FRAME_BYTES, data_off + data_len)]
        elif avi is not None:
            _w, _h, usec, spans = avi
            fi = min(t * 1000 // usec, len(spans) - 1)
            off, size = spans[fi]
            chunk = payload[off : off + min(FRAME_BYTES, size)]
        else:
            off = (t * max(n - FRAME_BYTES, 1)) // max(duration_ms, 1)
            chunk = payload[off : off + FRAME_BYTES]
        out.append((idx, t, chunk.ljust(FRAME_BYTES, b"\0")))
    return out


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Timed assets (audio/video) -> one row per sampled frame.

    Batch shape contract: input (asset_id, mime, payload, duration_ms);
    output fan-out rows with fixed-size frame payloads — the shape a
    frame-level feature extractor (extract_features over frames) or a
    frame dedup consumes.  Image assets (duration NULL) sample exactly
    one frame at t=0.  Narrow plan: fan-out happens inside the Arrow
    batch, no shuffle; downstream per-frame work partitions on
    (asset_id, frame_idx) without ever shuffling whole payloads.
    """
    return fan_out(
        assets, ("asset_id",), ("payload", "duration_ms", "mime"),
        lambda payload, dur, mime: _frame_kernel(
            payload, 1 if dur is None else dur, every_ms, mime
        ),
        FRAMES_SCHEMA.fields[1:],
    )


FRAME_STATS_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),  # -1 on non-ok
        StructField("status", StringType(), False),
        StructField("n_values", LongType(), True),
        StructField("sum_val", LongType(), True),
        StructField("min_val", LongType(), True),
        StructField("max_val", LongType(), True),
        StructField("pixel_md5", StringType(), True),  # frame-dedup key
    ]
)


def frame_stats_rows(payload: bytes, mime: str):
    """Scalar kernel: one row per DECODED temporal frame — integer-
    exact stats plus an md5 of the raw pixel bytes (the exact-frame-
    dedup key).  MJPEG-AVI fans out its video frames; (animated) GIF
    fans out every image rect in stream order (a single-image GIF is
    one row).  Unsupported/corrupt payloads yield a single flagged row
    (frame_idx -1), never an exception — the stage-total-failure-free
    contract decode_stats_row honors."""
    import hashlib

    from ..kernels import codecs

    try:
        if mime == "image/gif":
            frames = [rgb for _l, _t, rgb in codecs.decode_gif_frames(payload)]
        else:
            decoded = decode_asset(payload, mime)
            if decoded[0] != "video":
                raise NotImplementedError("frame_stats wants temporal media")
            frames = decoded[4]
    except NotImplementedError:
        return [(-1, "unsupported", None, None, None, None, None)]
    except (ValueError, zlib.error, struct.error):
        return [(-1, "corrupt", None, None, None, None, None)]
    out = []
    for k in range(len(frames)):
        frame = frames[k]
        vals = frame.astype(np.int64).ravel()
        out.append((
            k, "ok", int(vals.size), int(vals.sum()),
            int(vals.min()), int(vals.max()),
            hashlib.md5(frame.tobytes()).hexdigest(),
        ))
    return out


def frame_stats(assets: DataFrame) -> DataFrame:
    """Temporal assets (video + GIF) -> one row per decoded frame
    (stats + pixel md5).

    The frame-level twin of decode_stats: fan-out happens inside the
    Arrow batch (payload bytes never join a shuffle; only the 8 stat
    columns leave the scan stage), and `groupBy(pixel_md5)` on the
    result is exact cross-video frame dedup — the video analog of the
    documents exact_dedup path.  Non-temporal assets are pruned BEFORE
    the Python stage (JVM-side filter on mime)."""
    temporal = assets.filter(
        F.col("mime").startswith("video/") | (F.col("mime") == "image/gif")
    )
    return fan_out(
        temporal, ("asset_id",), ("payload", "mime"), frame_stats_rows,
        FRAME_STATS_SCHEMA.fields[1:],
    )


def asset_stats(assets: DataFrame) -> DataFrame:
    """Relational metadata rollup (JVM-side): per kind, payload sizes
    and dimension stats — the oracle-able face of the modality table."""
    return (
        assets.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.round(F.avg("width"), 4).alias("avg_width"),
            F.round(F.avg("duration_ms"), 4).alias("avg_duration_ms"),
        )
        .orderBy("kind")
    )
