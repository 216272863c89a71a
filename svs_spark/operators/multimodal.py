"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the *decode* kernels are
stubbed two ways (as mandated): ``decode_image`` raises a clearly-marked
NotImplementedError unless Pillow is importable, while
``fake_decode_features`` is a deterministic stand-in (byte histogram +
moments) that keeps the Spark-side plumbing — schema, batch shape, UDF
signature, partitioning — fully real and testable.

Schema convention for a multimodal asset column:

    content   BINARY          -- raw bytes, opaque to Spark
    media     STRUCT<kind STRING, mime STRING, width INT, height INT,
                     n_bytes LONG, sha STRING>

At 100 TB: binary payloads dominate scan size, so (a) keep them in their
own parquet column (column pruning skips them unless needed), (b) size
`spark.sql.files.maxPartitionBytes` for row-group granularity, (c) run
feature extraction as mapInPandas so each task streams Arrow batches
instead of materializing whole partitions.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

from svs_spark.session import drop_zip_importers


def with_media_metadata(
    df: DataFrame, content_col: str = "content", kind: str = "image"
) -> DataFrame:
    """Attach the typed metadata struct computed from the binary column."""
    c = F.col(content_col)
    return df.withColumn(
        "media",
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(f"application/x-{kind}").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(c).cast("long").alias("n_bytes"),
            F.sha2(c, 256).alias("sha"),
        ),
    )


def decode_image(content: bytes):  # pragma: no cover - needs Pillow
    """Real decode kernel — STUB: the image libraries are not available
    in this environment. Wire Pillow here when present."""
    try:
        from PIL import Image  # noqa: F401
        import io

        return Image.open(io.BytesIO(content))
    except ImportError as e:
        raise NotImplementedError(
            "image decoding requires Pillow, which is not installed in "
            "this environment; use fake_decode_features for the plumbing"
        ) from e


def fake_decode_features(content: bytes, n_features: int = 8) -> list[float]:
    """Deterministic fake feature extractor: first moments of the byte
    histogram — a stand-in with the same signature/shape a real
    embedding/feature model would produce."""
    if not content:
        return [0.0] * n_features
    counts = [0] * 256
    for b in content:
        counts[b] += 1
    n = len(content)
    feats = [
        float(n),
        sum(i * c for i, c in enumerate(counts)) / n,  # mean byte
        float(max(i for i, c in enumerate(counts) if c)),
        float(min(i for i, c in enumerate(counts) if c)),
        float(sum(1 for c in counts if c)),  # distinct bytes
        float(counts[32]),  # spaces, proxy for text-ish content
        float(int(hashlib.sha256(content).hexdigest()[:8], 16) % 1000),
        float(n % 256),
    ]
    return feats[:n_features]


FEATURE_SCHEMA = StructType([
    StructField("asset_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("sha", StringType()),
    StructField("features", ArrayType(DoubleType())),
])


def extract_features(
    assets: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """mapInPandas feature extraction over binary assets — the real
    distributed plumbing around the (stubbed) decode kernel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            contents = pdf[content_col]
            yield pd.DataFrame(
                {
                    "asset_id": pdf[id_col].to_numpy(),
                    "n_bytes": contents.map(len).to_numpy(),
                    "sha": contents.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ).to_numpy(),
                    "features": contents.map(fake_decode_features),
                }
            )

    return assets.select(id_col, content_col).mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def frame_sample(
    assets: DataFrame,
    every_n_bytes: int = 64,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Video-frame-sampling plumbing: emit one row per sampled "frame"
    (fixed-stride byte slices standing in for decoded frames). Output is
    (asset_id, frame_idx, frame BINARY) — the row-explosion shape a real
    ffmpeg-based sampler produces."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                for i, off in enumerate(range(0, len(content), every_n_bytes)):
                    ids.append(aid)
                    idxs.append(i)
                    frames.append(content[off : off + every_n_bytes])
            yield pd.DataFrame(
                {"asset_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return assets.select(id_col, content_col).mapInPandas(
        run,
        schema="asset_id long, frame_idx int, frame binary",
    )


def resize_stub(
    assets: DataFrame,
    out_w: int = 16,
    out_h: int = 16,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Image-resize plumbing — STUB kernel, real pipeline: the payload
    bytes stand in for a row-major pixel grid of width ceil(sqrt(n))
    (height = ceil(n / w)), and "resize" is deterministic
    nearest-neighbor sampling to (out_h, out_w): sampled (r, c) reads
    source index (r*h // out_h) * w + (c*w // out_w), 0 past the end.
    A real Pillow `Image.resize` drops into the same loop (see
    decode_image); everything around it — Arrow batching, the binary
    output column, the metadata struct with the NEW dimensions — is
    exactly what the real op ships.

    At 100 TB: resize is the classic payload-shrinking map (output
    bytes ≪ input bytes), so it runs early, streams Arrow batches, and
    never shuffles; downstream stages scan only the small column."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            ids, outs, sums = [], [], []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                n = len(content)
                w = int(np.ceil(np.sqrt(n))) if n else 1
                h = (n + w - 1) // w if n else 1
                buf = bytearray(out_w * out_h)
                total = 0
                for r in range(out_h):
                    sr = r * h // out_h
                    for c in range(out_w):
                        idx = sr * w + (c * w // out_w)
                        b = content[idx] if idx < n else 0
                        buf[r * out_w + c] = b
                        total += b
                ids.append(aid)
                outs.append(bytes(buf))
                sums.append(total)
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "out_w": out_w,
                    "out_h": out_h,
                    "resized": outs,
                    "byte_checksum": sums,
                }
            )

    return assets.select(id_col, content_col).mapInPandas(
        run,
        schema=(
            "asset_id long, out_w int, out_h int, resized binary, "
            "byte_checksum long"
        ),
    )


def audio_window_features(
    assets: DataFrame,
    win: int = 256,
    hop: int = 128,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Audio framing plumbing: treat the payload as unsigned 8-bit PCM
    (center 128) and emit one row per fully-contained analysis window
    of ``win`` samples at stride ``hop`` — the frame/hop decomposition
    every real audio featurizer (MFCC, VAD, spectrogram) starts from.
    Per-window features are integer-exact so an SQL oracle can mirror
    them bit-for-bit: energy = Σ(s−128)², zero_crossings = #strict
    sign flips between consecutive centered samples, peak = max|s−128|.
    Assets shorter than one window emit no rows (standard librosa
    center=False semantics).

    At 100 TB: windows overlap by win/hop×, so this is a payload
    EXPANDING map — run it after filtering, keep only the feature
    columns (drop the frame bytes) unless a downstream stage needs
    them, and aggregate per-asset features map-side."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            ids, idxs, energy, zc, peak = [], [], [], [], []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                n = len(content)
                if n < win:
                    continue
                s = np.frombuffer(content, dtype=np.uint8).astype(
                    np.int64
                ) - 128
                for wi, start in enumerate(range(0, n - win + 1, hop)):
                    seg = s[start : start + win]
                    ids.append(aid)
                    idxs.append(wi)
                    energy.append(int(np.dot(seg, seg)))
                    zc.append(int(np.sum(seg[:-1] * seg[1:] < 0)))
                    peak.append(int(np.max(np.abs(seg))))
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "win_idx": idxs,
                    "energy": energy,
                    "zero_crossings": zc,
                    "peak": peak,
                }
            )

    return assets.select(id_col, content_col).mapInPandas(
        run,
        schema=(
            "asset_id long, win_idx int, energy long, "
            "zero_crossings long, peak long"
        ),
    )
