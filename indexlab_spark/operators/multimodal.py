"""Multimodal column plumbing (SURVEY §7.1 M7 / task mandate).

Images/audio/video are opaque ``binary`` columns with typed metadata,
scanned via Spark's ``binaryFile`` source and processed with
Arrow-batched ``mapInPandas`` UDFs. Decode is REAL where a public
format parses with stdlib alone (round 6): PNG + 24bpp BMP images
(functions/imagecodec), RIFF/WAV PCM audio (``wave``), and RIFF/AVI
container demux for frame sampling. Only codecs that genuinely need
external libraries stay gated (JPEG's DCT, mp3/ogg, h264 — PIL/ffmpeg
absent: NotImplementedError or a deterministic fake used by tests).
The Spark-side plumbing — schema, partitioning, UDF signatures, batch
shapes — is real throughout and is what matters at 100 TB:

- assets are one row per object; content stays in executor memory one
  Arrow batch at a time, never on the driver.
- feature extraction emits fixed-dim ``array<float>`` compatible with
  operators/knn + operators/dedup.embedding_dup_pairs, so image dedup /
  similarity search compose with the text machinery unchanged.
- ``spark.sql.files.maxPartitionBytes`` governs how many assets land in
  a partition; for very large objects switch the source to a manifest
  table of (uri, byte_range) and fetch inside the UDF instead.
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_DIM = 64


def read_binary_assets(
    spark: SparkSession, path: str, modality: str, glob: str = "*"
) -> DataFrame:
    """binaryFile scan -> asset rows (S5's pattern generalized)."""
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", True)
        .load(path)
    )
    return bin_df.select(
        F.col("path").alias("asset_id"),
        F.lit(modality).alias("modality"),
        F.col("content"),
        F.create_map(
            F.lit("length"), F.col("length").cast("string"),
            F.lit("modificationTime"), F.col("modificationTime").cast("string"),
        ).alias("meta"),
    )


def decode_image(content: bytes) -> np.ndarray:
    """Decode an image column value to a uint8 numpy array.

    Decode order:
    1. PIL, when installed (any format) — import-gated, absent here.
    2. The pure-stdlib codecs in functions/imagecodec — REAL decoding
       for PNG (depth 8, gray/GA/RGB/RGBA, non-interlaced) and 24bpp
       BMP; no third-party dependency.
    3. Unknown formats (JPEG etc. — a DCT codec is out of stdlib
       scope): a deterministic seeded 8x8x3 fake keeps the downstream
       plumbing (feature/dedup) testable with stable outputs.
    """
    try:
        from PIL import Image  # type: ignore
        import io

        return np.asarray(Image.open(io.BytesIO(content)))  # pragma: no cover
    except ImportError:
        pass
    if content is None:
        raise NotImplementedError("no content and no decoder installed")
    from indexlab_spark.functions.imagecodec import (
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        sniff_image,
    )

    kind = sniff_image(content)
    try:
        if kind == "png":
            return decode_png(content)
        if kind == "bmp":
            return decode_bmp(content)
        if kind == "jpeg":
            # baseline T.81 (r15) + progressive Annex G (r16)
            return decode_jpeg(content)
        if kind == "gif":
            return decode_gif(content)  # first composited frame, r16
    except (ValueError, NotImplementedError):
        # malformed bytes OR an unsupported profile (arithmetic /
        # 12-bit JPEG) -> deterministic fake, preserving this
        # function's pre-r15 contract that a mixed image corpus never
        # crashes the batch; direct decode_jpeg callers still get the
        # honest NotImplementedError gate.
        pass
    seed = zlib.crc32(content)
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def _features_from_bytes(content: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic feature vector from the (fake-)decoded image:
    histogram of pixel bytes hashed into ``dim`` buckets, L2-normalized.
    Same contract a real CNN/CLIP embedding UDF would satisfy."""
    img = decode_image(content)
    flat = img.reshape(-1)
    out = np.zeros(dim, dtype=np.float64)
    h = hashlib.sha256(flat.tobytes()).digest()
    for i in range(0, len(h) - 1, 2):
        out[h[i] % dim] += (h[i + 1] % 16) - 7.5
    n = np.linalg.norm(out)
    return (out / n if n > 0 else out).astype(np.float32)


def with_image_features(
    assets: DataFrame, content_col: str = "content", out_col: str = "embedding"
) -> DataFrame:
    """mapInPandas feature extraction: (asset rows) -> + array<float>.

    Batch shape: the UDF sees whole Arrow batches; per-batch numpy work,
    no per-row Python in the scheduler's view.
    """
    fields = [f"{f.name} {f.dataType.simpleString()}" for f in assets.schema.fields
              if f.name != content_col]
    out_schema = ", ".join(fields + [f"{out_col} array<float>"])
    cols = [f.name for f in assets.schema.fields if f.name != content_col]

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _features_from_bytes(c) if c is not None else None
                for c in pdf[content_col]
            ]
            out = pdf[cols].copy()
            out[out_col] = feats
            yield out

    return assets.mapInPandas(_extract, out_schema)


def decode_audio(content: bytes) -> tuple[np.ndarray, int]:
    """Decode an audio column value -> (samples int16 [n, channels],
    sample_rate).

    REAL for RIFF/WAV PCM (8/16-bit) via the stdlib ``wave`` module —
    no third-party codec needed. Compressed formats (mp3/ogg/flac)
    would need an external decoder: deterministic fake (seeded 1-second
    8kHz mono) keeps downstream plumbing testable, mirroring
    decode_image's policy.
    """
    if content is None:
        raise NotImplementedError("no content and no decoder installed")
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(content)) as w:
            n, ch, width = w.getnframes(), w.getnchannels(), w.getsampwidth()
            rate = w.getframerate()
            raw = w.readframes(n)
        if width == 2:
            arr = np.frombuffer(raw, dtype="<i2")
        elif width == 1:  # 8-bit WAV is unsigned
            arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) * 256
        else:
            raise NotImplementedError(f"{width * 8}-bit WAV unsupported")
        return arr.reshape(-1, ch), rate
    seed = zlib.crc32(content)
    rng = np.random.default_rng(seed)
    return rng.integers(-4096, 4096, size=(8000, 1), dtype=np.int16), 8000


def _audio_features(content: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real frame-level DSP over the decoded samples: per-frame RMS
    energy and zero-crossing rate histograms hashed into ``dim``
    buckets, L2-normalized — the fixed-dim contract an audio-embedding
    UDF satisfies, computed from actual waveforms for WAV input."""
    samples, rate = decode_audio(content)
    mono = samples.mean(axis=1).astype(np.float64)
    frame = max(1, rate // 50)  # 20ms frames
    n_frames = max(1, len(mono) // frame)
    trimmed = mono[: n_frames * frame].reshape(n_frames, frame)
    rms = np.sqrt((trimmed**2).mean(axis=1) + 1e-9)
    zcr = (np.diff(np.signbit(trimmed), axis=1) != 0).mean(axis=1)
    out = np.zeros(dim, dtype=np.float64)
    half = dim // 2
    for v in rms:
        out[int(v) % half] += 1.0
    for z in zcr:
        out[half + int(z * (dim - half - 1))] += 1.0
    n = np.linalg.norm(out)
    return (out / n if n > 0 else out).astype(np.float32)


def demux_avi_frames(content: bytes) -> list[tuple[bytes, bytes]]:
    """RIFF/AVI container demux — pure stdlib: walk the chunk tree,
    return the video stream's frame chunks as (fourcc, bytes). The
    DEMUX is real for any AVI; whether a frame then DECODES depends on
    its codec — '00db' (uncompressed DIB) frames pair with the stdlib
    BMP pixel layout, compressed codecs ('00dc' h264/mjpeg...) need
    ffmpeg and stay gated at decode time."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    frames: list[tuple[bytes, bytes]] = []

    def walk(pos: int, end: int):
        while pos + 8 <= end:
            cid = content[pos:pos + 4]
            (size,) = struct.unpack("<I", content[pos + 4:pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + size)
            elif cid[2:4] in (b"db", b"dc") and cid[:2].isdigit():
                frames.append((bytes(cid), content[body_start:body_start + size]))
            pos = body_start + size + (size & 1)  # chunks are word-aligned

    walk(12, len(content))
    return frames


def sample_video_frames(
    assets: DataFrame,
    every_n: int = 10,
    content_col: str = "content",
) -> DataFrame:
    """Video frame sampling: demux each asset's container (REAL for
    RIFF/AVI via stdlib), keep every ``every_n``-th video frame, emit
    one asset row per kept frame with the frame bytes as content and
    (frame_index, fourcc) in meta. Decoding a kept frame follows the
    codec gates (DIB raw frames usable directly; compressed codecs need
    ffmpeg). Non-AVI containers (mp4/mkv need a full box/EBML parser +
    codecs) raise NotImplementedError per asset, surfaced in meta
    instead of failing the job."""
    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                c = r[content_col]
                base_meta = dict(r["meta"] or {})
                if c is None:
                    continue
                try:
                    frames = demux_avi_frames(bytes(c))
                except ValueError:
                    rows.append(
                        {
                            "asset_id": f"{r['asset_id']}#error",
                            "modality": "video",
                            "content": None,
                            "meta": {
                                **base_meta,
                                "error": "unsupported container (AVI only)",
                            },
                        }
                    )
                    continue
                for i, (fourcc, frame) in enumerate(frames):
                    if i % every_n:
                        continue
                    rows.append(
                        {
                            "asset_id": f"{r['asset_id']}#frame{i}",
                            "modality": "image",
                            "content": frame,
                            "meta": {
                                **base_meta,
                                "frame_index": str(i),
                                "fourcc": fourcc.decode("latin-1"),
                            },
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "content", "meta"]
            )

    return assets.mapInPandas(_sample, ASSET_SCHEMA)
