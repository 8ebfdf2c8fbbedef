"""Multimodal column plumbing: image/audio/video as opaque binary.

Pattern: media lives as a `binary` column + typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` so each executor processes whole record batches with
the (heavy) media library imported once per partition.

The container has no image/audio libs. ``codec='fake'`` produces
deterministic metadata from the bytes themselves (size, md5-derived
pseudo-dimensions) — making the Spark-side plumbing (schema,
batching, partitioning) fully testable. ``codec='real'`` now decodes
for real via the pure-Python format parsers in
``conveyor_spark.datapipe.codecs`` / ``datapipe.jpeg`` /
``datapipe.avi`` (full PNG pixel inflate, baseline JPEG Huffman+IDCT
decode, GIF LZW frame decode, WAV RIFF parse, MJPEG-AVI container
walk + per-frame JPEG decode via ``video.frame_stats``); codecs those
can't express (non-MJPEG video needing av/ffmpeg) still raise
NotImplementedError at the seam.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from conveyor_spark.errors import ConfigError
from conveyor_spark.registry import OpContext, P, register

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _fake_image_meta(data: bytes) -> dict[str, Any]:
    # Deterministic pseudo-decode: dimensions derived from content hash.
    h = hashlib.md5(data).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "format": ["png", "jpeg", "webp"][h[2] % 3],
        "n_bytes": len(data),
    }


@register(
    "media.decode", kind="transform",
    doc="Decode binary media -> metadata struct (real PNG/JPEG/GIF/WAV)",
    params=[
        P("column", required=True, desc="Binary media column"),
        P("codec", default="fake", allowed=("fake", "real"),
          desc="real = pure-Python PNG/JPEG/GIF/WAV parsers (datapipe."
               "codecs); fake is a deterministic stand-in, same plumbing"),
        P("output_column", default="media_meta", desc="Decoded-struct column"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="real codec: undecodable bytes -> NULL struct or raise"),
    ],
    example={"column": "content", "codec": "fake"},
    tags=["multimodal", "datapipe"],
)
def media_decode(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    df = inputs[0]
    column = config.get("column")
    codec = config.get("codec", "fake")
    output_column = config.get("output_column", "media_meta")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)  # decode parallelism = one Python worker per partition
    out_schema = T.StructType(df.schema.fields + [T.StructField(output_column, IMAGE_META_SCHEMA)])
    in_columns = df.columns

    on_error = config.get("on_error", "null")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        if codec == "real":
            # heavy imports would go here once per partition; the
            # pure-Python parsers are stdlib+numpy, import is free
            from conveyor_spark.datapipe.codecs import real_image_meta

            def decode(v: bytes):
                meta = real_image_meta(v)
                if meta is None and on_error == "fail":
                    raise ValueError(
                        f"media.decode: undecodable {len(v)}-byte value "
                        "(not PNG/JPEG/GIF/WAV)"
                    )
                return meta
        else:
            decode = _fake_image_meta

        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [
                decode(bytes(v)) if v is not None else None for v in pdf[column]
            ]
            yield pd.DataFrame(pdf, columns=in_columns + [output_column])

    return df.mapInPandas(run, out_schema)


@register(
    "media.frame_sample", kind="transform",
    doc="Sample N frames per item (real GIF frame walk, fake stub)",
    params=[
        P("column", required=True, desc="Binary media column"),
        P("id_column", required=True, desc="Media row id"),
        P("n_frames", "integer", default=4, min=1, desc="Frames per item"),
        P("codec", default="fake", allowed=("fake", "real"),
          desc="real = GIF/AVI frame walk (true frame boundaries); "
               "other containers still need av (NotImplementedError)"),
    ],
    example={"column": "content", "id_column": "path", "n_frames": 8},
    tags=["multimodal", "datapipe"],
)
def frame_sample(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Explode each binary 'video' into n frame rows (frame_idx,
    frame_hash). codec='real': animated GIFs and AVI videos are
    parsed for true frame boundaries (codecs.gif_frames /
    avi.avi_frames) and n_frames are sampled evenly across the
    actual frames — frame_idx is the REAL frame index, frame_hash
    the md5 of that frame's byte span; other containers raise
    NotImplementedError (need av). codec='fake' keeps the
    deterministic pseudo-frame stub."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    n_frames = int(config.get("n_frames", 4))
    codec = config.get("codec", "fake")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_schema = T.StructType(
        [
            df.schema[id_column],
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_hash", T.StringType()),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        if codec == "real":
            from conveyor_spark.datapipe.codecs import (
                MediaDecodeError, gif_frames, sniff_format,
            )

        def sample_real(data: bytes) -> list[tuple[int, str]]:
            fmt = sniff_format(data)
            if fmt == "avi":
                from conveyor_spark.datapipe.avi import avi_frames

                walk = avi_frames
            elif fmt == "gif":
                walk = gif_frames
            else:
                raise NotImplementedError(
                    f"real frame sampling for {fmt!r} requires av/ffmpeg; "
                    "GIF and AVI have pure-Python frame walks"
                )
            try:
                spans = walk(data)
            except MediaDecodeError:
                return []  # corrupt container: no frames, not a crash
            if not spans:
                return []
            # evenly spaced over the REAL frames, dedup'd and ordered
            step = max(1, len(spans) // n_frames)
            picked = sorted(set(range(0, len(spans), step)))[:n_frames]
            return [
                (i, hashlib.md5(data[spans[i][0] : spans[i][1]]).hexdigest())
                for i in picked
            ]

        for pdf in batches:
            out_ids, out_idx, out_hash = [], [], []
            for rid, data in zip(pdf[id_column], pdf[column]):
                if data is None:
                    continue
                data = bytes(data)
                if codec == "real":
                    frames = sample_real(data)
                else:
                    frames = [
                        (i, hashlib.md5(data + str(i).encode()).hexdigest())
                        for i in range(n_frames)
                    ]
                for i, fh in frames:
                    out_ids.append(rid)
                    out_idx.append(i)
                    out_hash.append(fh)
            yield pd.DataFrame(
                {id_column: out_ids, "frame_idx": out_idx, "frame_hash": out_hash}
            )

    return df.mapInPandas(run, out_schema)


MAGIC_HEX = {
    "png": "89504E470D0A1A0A",
    "jpeg": "FFD8FF",
    "gif": "47494638",
    "pdf": "25504446",
}


@register(
    "media.metadata", kind="transform",
    doc="Sniff media container format from magic bytes (pure JVM)",
    params=[
        P("column", required=True, desc="Binary media column"),
        P("output_column", default="media", desc="Metadata struct column"),
    ],
    example={"column": "content"},
    tags=["multimodal", "datapipe"],
)
def media_metadata(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Container-format sniffing WITHOUT decoding: match the file's
    magic bytes (PNG/JPEG/GIF/PDF, RIFF-wrapped WAV/AVI/WEBP, MP4
    ftyp) and record byte size. Unlike media.decode this needs no
    media library at all — the whole op is codegen'd string/binary
    expressions over the hex prefix (hex() then substring, which both
    Spark and DuckDB support on blobs via the hex string), so it runs
    at scan speed and is the right FIRST pass over a crawled media
    corpus: route rows by sniffed format, quarantine unknowns, size-
    filter — before any expensive decode.

    Config: ``column`` (binary, required), ``output_column`` prefix
    (default ``media``): adds ``<prefix>_format`` and
    ``<prefix>_bytes``.
    """
    from pyspark.sql import functions as F

    df = inputs[0]
    column = config.get("column")
    prefix = config.get("output_column", "media")
    hexp = F.substring(F.hex(F.col(column)), 1, 24)
    fmt = F.lit("unknown")
    # RIFF container: bytes 1-4 'RIFF', 9-12 name the wrapped format
    riff_kind = F.substring(hexp, 17, 8)
    fmt = (
        F.when(hexp.startswith(MAGIC_HEX["png"]), "png")
        .when(hexp.startswith(MAGIC_HEX["jpeg"]), "jpeg")
        .when(hexp.startswith(MAGIC_HEX["gif"]), "gif")
        .when(hexp.startswith(MAGIC_HEX["pdf"]), "pdf")
        .when(
            hexp.startswith("52494646"),
            F.when(riff_kind == "57415645", "wav")
            .when(riff_kind == "57454250", "webp")
            .when(riff_kind == "41564920", "avi")
            .otherwise("riff"),
        )
        .when(F.substring(hexp, 9, 8) == "66747970", "mp4")
        .otherwise("unknown")
    )
    return df.withColumn(f"{prefix}_format", fmt).withColumn(
        f"{prefix}_bytes", F.length(F.col(column)).cast("bigint")
    )


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean", T.ArrayType(T.DoubleType())),
        T.StructField("std", T.ArrayType(T.DoubleType())),
        T.StructField("luminance", T.DoubleType()),
    ]
)


@register(
    "media.pixel_stats", kind="transform",
    doc="REAL PNG/GIF pixel decode -> per-channel stats (pure Python)",
    params=[
        P("column", required=True, desc="Binary PNG/GIF column"),
        P("output_column", default="pixel_stats", desc="Stats struct column"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="Undecodable/corrupt bytes -> NULL struct or raise"),
    ],
    example={"column": "content"},
    tags=["multimodal", "datapipe"],
)
def pixel_stats(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Fully decode image pixels (PNG inflate+unfilter or GIF
    LZW+palette — a REAL
    decode, not the metadata sniff) and emit per-channel mean/std
    plus BT.601 luminance: the image-quality first pass a crawled
    image corpus needs (flag all-black/all-white/low-variance items)
    before any model sees them.

    Scale: mapInPandas over Arrow batches, one Python worker per
    partition, no shuffle; cost is linear in pixel bytes. The decoder
    is pure stdlib+numpy (datapipe/codecs.py) so executors need no
    native image libraries.
    """
    df = inputs[0]
    column = config.get("column")
    output_column = config.get("output_column", "pixel_stats")
    on_error = config.get("on_error", "null")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(output_column, PIXEL_STATS_SCHEMA)]
    )
    in_columns = df.columns

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from conveyor_spark.datapipe.codecs import (
            MediaDecodeError, decode_image,
        )

        def stats(v) -> dict | None:
            if v is None:
                return None
            try:
                px = decode_image(bytes(v))
            except (MediaDecodeError, NotImplementedError) as exc:
                if on_error == "fail":
                    raise ValueError(f"media.pixel_stats: {exc}") from None
                return None
            h, w, ch = px.shape
            flat = px.reshape(-1, ch).astype("float64")
            mean = flat.mean(axis=0)
            # BT.601 luma over the color channels (gray: identity)
            if ch >= 3:
                lum = float(
                    0.299 * mean[0] + 0.587 * mean[1] + 0.114 * mean[2]
                )
            else:
                lum = float(mean[0])
            return {
                "width": w,
                "height": h,
                "channels": ch,
                "mean": [float(x) for x in mean],
                "std": [float(x) for x in flat.std(axis=0)],
                "luminance": lum,
            }

        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [stats(v) for v in pdf[column]]
            yield pd.DataFrame(pdf, columns=in_columns + [output_column])

    return df.mapInPandas(run, out_schema)


PCM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


@register(
    "audio.pcm_stats", kind="transform",
    doc="REAL WAV/PCM decode -> level stats (pure Python)",
    params=[
        P("column", required=True, desc="Binary WAV column"),
        P("output_column", default="pcm_stats", desc="Stats struct column"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="Non-WAV/compressed bytes -> NULL struct or raise"),
    ],
    example={"column": "content"},
    tags=["multimodal", "audio", "datapipe"],
)
def pcm_stats(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Fully decode PCM samples (RIFF walk + int16/uint8 frames — a
    REAL decode, the audio sibling of media.pixel_stats) and emit
    peak / mean / RMS over all channels: the silence / clipping /
    level-normalization first pass an audio corpus needs before
    feature extraction.

    Scale: mapInPandas over Arrow batches, no shuffle, linear in
    sample bytes; decoder is stdlib+numpy (datapipe/codecs.py).
    """
    df = inputs[0]
    column = config.get("column")
    output_column = config.get("output_column", "pcm_stats")
    on_error = config.get("on_error", "null")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(output_column, PCM_STATS_SCHEMA)]
    )
    in_columns = df.columns

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import (
            MediaDecodeError, wav_samples,
        )

        def stats(v) -> dict | None:
            if v is None:
                return None
            try:
                meta, arr = wav_samples(bytes(v))
            except MediaDecodeError as exc:
                if on_error == "fail":
                    raise ValueError(f"audio.pcm_stats: {exc}") from None
                return None
            flat = arr.reshape(-1).astype("float64")
            if meta["bits_per_sample"] == 8:
                # PCM8 is UNSIGNED per the WAV spec: silence sits at
                # 128, so raw stats would call silence "loud". Center
                # so peak/mean/rms mean the same thing at both depths.
                flat = flat - 128.0
            n = flat.size
            return {
                "sample_rate": meta["sample_rate"],
                "channels": meta["channels"],
                "n_frames": meta["n_frames"],
                "duration_ms": meta["duration_ms"],
                "peak": int(np.abs(flat).max()) if n else 0,
                "mean": float(flat.mean()) if n else 0.0,
                "rms": float(np.sqrt((flat * flat).mean())) if n else 0.0,
            }

        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [stats(v) for v in pdf[column]]
            yield pd.DataFrame(pdf, columns=in_columns + [output_column])

    return df.mapInPandas(run, out_schema)


@register(
    "media.resize", kind="transform",
    doc="REAL image resize (PNG/GIF/JPEG decode -> nearest-neighbor -> re-encode)",
    params=[
        P("column", required=True, desc="Binary image column (PNG/GIF/JPEG)"),
        P("width", "integer", required=True, min=1, desc="Target width"),
        P("height", "integer", required=True, min=1, desc="Target height"),
        P("output_column", desc="Resized-binary column (default: in place)"),
        P("format", default="png", allowed=("png", "jpeg"),
          desc="Output container: png (lossless) or jpeg (smaller shards)"),
        P("quality", "integer", default=85, min=1, max=100,
          desc="JPEG quality (format=jpeg only)"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="Undecodable/corrupt bytes -> NULL or raise"),
    ],
    example={"column": "content", "width": 32, "height": 32},
    tags=["multimodal", "datapipe"],
)
def media_resize(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Genuinely resize images (PNG/GIF/JPEG in) — full decode,
    nearest-neighbor
    index sampling (floor(i * in/out), the standard NN grid —
    deterministic, no interpolation kernel to disagree about), and
    re-encode — all pure Python/numpy (datapipe/codecs.py), so the
    thumbnail-normalization pass of an image corpus runs with no
    native imaging library on the executors. PIL/cv2 would plug into
    the same seam for bilinear/Lanczos.

    Scale: mapInPandas, no shuffle, linear in pixels; the re-encoded
    bytes are typically far smaller, so this SHRINKS the dataset
    before any downstream shuffle."""
    df = inputs[0]
    column = config.get("column")
    for key in ("width", "height"):
        if not config.get(key):
            raise ConfigError(f"media.resize requires '{key}'")
    out_w, out_h = int(config["width"]), int(config["height"])
    output_column = config.get("output_column", column)
    on_error = config.get("on_error", "null")
    out_format = config.get("format", "png")
    quality = int(config.get("quality", 85))
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_fields = list(df.schema.fields)
    if output_column not in df.columns:
        out_fields.append(T.StructField(output_column, T.BinaryType()))
    out_schema = T.StructType(out_fields)
    in_columns = df.columns
    out_columns = [f.name for f in out_fields]

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from conveyor_spark.datapipe.codecs import (
            MediaDecodeError, decode_image, png_encode,
        )
        from conveyor_spark.datapipe.jpeg import jpeg_encode

        def encode(px) -> bytes:
            if out_format == "jpeg":
                # JPEG has no gray+alpha/RGBA: flatten to the color
                # channels the container can hold
                if px.shape[2] in (2, 4):
                    px = px[:, :, :-1]
                if px.shape[2] == 1:
                    px = px[:, :, 0]
                return jpeg_encode(px, quality=quality)
            return png_encode(px)

        def resize(v) -> bytes | None:
            if v is None:
                return None
            try:
                px = decode_image(bytes(v))
            except MediaDecodeError as exc:
                if on_error == "fail":
                    raise ValueError(f"media.resize: {exc}") from None
                return None
            h, w, _ = px.shape
            ys = (np.arange(out_h) * h) // out_h
            xs = (np.arange(out_w) * w) // out_w
            return encode(px[ys][:, xs])

        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [resize(v) for v in pdf[column]]
            yield pd.DataFrame(pdf, columns=out_columns)

    return df.mapInPandas(run, out_schema)


def _phash64(px) -> int:
    """Classic 64-bit pHash over decoded pixels: integer BT.601
    grayscale (299R+587G+114B — unscaled; median thresholding is
    invariant to positive scaling), 32x32 nearest-neighbor resample,
    orthonormal 2D DCT-II, top-left 8x8 low-frequency block, bit =
    coefficient > median-of-64. Pure numpy — the DCT is two 32x32
    matrix multiplies."""
    import numpy as np

    h, w, ch = px.shape
    if ch >= 3:
        gray = (
            299 * px[:, :, 0].astype(np.int64)
            + 587 * px[:, :, 1].astype(np.int64)
            + 114 * px[:, :, 2].astype(np.int64)
        )
    else:
        gray = px[:, :, 0].astype(np.int64)
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = gray[ys][:, xs].astype(np.float64)
    n = 32
    k = np.arange(n)
    basis = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)
    )
    basis[0] *= 1.0 / np.sqrt(2.0)
    coef = basis @ small @ basis.T
    block = coef[:8, :8].reshape(-1)
    bits = block > np.median(block)
    return int(bits.astype(np.uint64) @ (1 << np.arange(64, dtype=np.uint64)))


@register(
    "media.phash", kind="transform",
    doc="REAL perceptual hash (decode -> DCT -> 64-bit fingerprint)",
    params=[
        P("column", required=True, desc="Binary image column (PNG/GIF)"),
        P("output_column", default="phash", desc="Fingerprint column (int64)"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="Undecodable/corrupt bytes -> NULL or raise"),
    ],
    example={"column": "content"},
    tags=["multimodal", "dedup", "phash", "datapipe"],
)
def media_phash(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """Image near-dup fingerprints from REAL pixel content: decode
    PNG/GIF, 2D-DCT the 32x32 grayscale, threshold the low-frequency
    block at its median -> 64-bit hash that survives resizing and
    mild noise. Feed the output to dedup.hamming (pigeonhole-exact
    banded pairing) for the image analogue of the simhash text
    pipeline — near-dup image detection with no native imaging
    library on any executor.

    Scale: mapInPandas, no shuffle; fingerprints are 8 bytes/row, so
    the downstream pairing shuffles fingerprints, never pixels."""
    df = inputs[0]
    column = config.get("column")
    output_column = config.get("output_column", "phash")
    on_error = config.get("on_error", "null")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(output_column, T.LongType())]
    )
    in_columns = df.columns

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from conveyor_spark.datapipe.codecs import (
            MediaDecodeError, decode_image,
        )

        def hash_one(v):
            if v is None:
                return None
            try:
                px = decode_image(bytes(v))
            except MediaDecodeError as exc:
                if on_error == "fail":
                    raise ValueError(f"media.phash: {exc}") from None
                return None
            # numpy uint64 -> signed int64 wrap for Spark LongType
            u = _phash64(px)
            return u - (1 << 64) if u >= (1 << 63) else u

        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [hash_one(v) for v in pdf[column]]
            yield pd.DataFrame(pdf, columns=in_columns + [output_column])

    return df.mapInPandas(run, out_schema)


@register(
    "video.frame_stats", kind="transform",
    doc="REAL MJPEG-AVI decode -> per-sampled-frame pixel stats",
    params=[
        P("column", required=True, desc="Binary AVI column"),
        P("id_column", required=True, desc="Video row id"),
        P("n_frames", "integer", default=4, min=1,
          desc="Frames sampled evenly across the real frame list"),
        P("on_error", default="null", allowed=("null", "fail"),
          desc="Undecodable container/frame -> skip row or raise"),
    ],
    example={"column": "content", "id_column": "path", "n_frames": 3},
    tags=["multimodal", "video", "datapipe"],
)
def video_frame_stats(ctx: OpContext, inputs: list[DataFrame], config: dict[str, Any]) -> DataFrame:
    """REAL video decode, closing the engine's last stubbed media
    seam: walk the AVI container (datapipe/avi.py), sample n_frames
    evenly across the true frame list (media.frame_sample's picking
    rule), FULLY decode each sampled Motion-JPEG frame through the
    pure-Python baseline JPEG decoder (datapipe/jpeg.py: Huffman +
    dequant + IDCT + color), and emit one row per sampled frame:
    (id, frame_idx, n_frames_total, fps, width, height, mean
    array<double> per channel, luminance double — the same BT.601
    formula as media.pixel_stats). Non-MJPEG video codecs raise
    NotImplementedError (need av/ffmpeg); corrupt bytes follow
    ``on_error``.

    Scale: mapInPandas over Arrow batches, one Python worker per
    partition, zero shuffle; cost is linear in sampled-frame pixel
    bytes (sampling means a 10k-frame video decodes n_frames, not
    10k)."""
    df = inputs[0]
    column = config.get("column")
    id_column = config.get("id_column")
    n_frames = int(config.get("n_frames", 4))
    on_error = config.get("on_error", "null")
    _STAT_COLS = ("frame_idx", "n_frames_total", "fps", "width",
                  "height", "mean", "luminance")
    if id_column in _STAT_COLS:
        # the output batches are keyed dicts: a colliding id name
        # would silently merge two columns (json.parse precedent:
        # refuse collisions, don't guess)
        raise ConfigError(
            f"video.frame_stats: id_column {id_column!r} collides "
            f"with an output stat column; rename it upstream")
    from conveyor_spark.datapipe.dedup import widen

    df = widen(ctx, df, config)
    out_schema = T.StructType([
        df.schema[id_column],
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames_total", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean", T.ArrayType(T.DoubleType())),
        T.StructField("luminance", T.DoubleType()),
    ])

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from conveyor_spark.datapipe.avi import (
            avi_frame_pixels, avi_frames, avi_meta,
        )
        from conveyor_spark.datapipe.codecs import MediaDecodeError

        def frames_of(data: bytes) -> list[dict]:
            meta = avi_meta(data)
            spans = avi_frames(data)
            if not spans:
                return []
            step = max(1, len(spans) // n_frames)
            picked = sorted(set(range(0, len(spans), step)))[:n_frames]
            rows = []
            for i in picked:
                px = avi_frame_pixels(data, spans[i], meta)
                h, w, ch = px.shape
                mean = px.reshape(-1, ch).astype("float64").mean(axis=0)
                if ch >= 3:
                    lum = float(0.299 * mean[0] + 0.587 * mean[1]
                                + 0.114 * mean[2])
                else:
                    lum = float(mean[0])
                rows.append({
                    "frame_idx": i,
                    "n_frames_total": len(spans),
                    "fps": int(meta.get("fps", 0)),
                    "width": w, "height": h,
                    "mean": [float(x) for x in mean],
                    "luminance": lum,
                })
            return rows

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                id_column, "frame_idx", "n_frames_total", "fps",
                "width", "height", "mean", "luminance")}
            for rid, data in zip(pdf[id_column], pdf[column]):
                if data is None:
                    continue
                try:
                    rows = frames_of(bytes(data))
                except (MediaDecodeError, NotImplementedError) as exc:
                    if on_error == "fail":
                        raise ValueError(
                            f"video.frame_stats: {exc}") from None
                    continue
                for r in rows:
                    out[id_column].append(rid)
                    for k, v in r.items():
                        out[k].append(v)
            pdf_out = pd.DataFrame(out)
            # an all-skipped batch leaves 'mean' as an empty float64
            # column, which Arrow cannot convert to list<double>
            pdf_out["mean"] = pdf_out["mean"].astype(object)
            yield pdf_out

    return df.mapInPandas(run, out_schema)
