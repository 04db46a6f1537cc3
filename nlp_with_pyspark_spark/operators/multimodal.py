"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The reference is text-only; this is the LLM-training-pipeline extension:
at 100 TB scale, media assets travel through Spark as ``binary`` payload
columns with a typed metadata struct, and every transform (decode,
resize, frame-sample, feature-extract) is an Arrow-batched
``mapInPandas`` pass — one Python worker call per partition batch,
never per row.

The actual codec step is STUBBED (this container has no image/audio
libraries): ``decode_asset`` is a deterministic fake that materializes
the byte payload as a uint8 sample grid shaped by the metadata, and
``decode_asset_real`` raises ``NotImplementedError`` at the exact seam
where Pillow/ffmpeg/soundfile would plug in. Everything Spark-side —
schemas, UDF signatures, batch shapes, partitioning — is real and
tested (tests/test_multimodal.py).

Scale notes:
  * payloads stay in one column; Parquet stores them contiguously and
    column pruning means metadata-only queries never read the bytes
    (check ReadSchema in .explain — the asset-stats query must not
    scan ``content``);
  * decode fan-out (video → frames) multiplies rows, so frame sampling
    happens *inside* the same pass that decodes — never materialize
    all frames then filter;
  * per-asset work is embarrassingly parallel: repartition on asset_id
    only if upstream produced skewed file splits.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODALITIES = ("image", "audio", "video")

#: typed metadata carried beside every binary payload
META_SCHEMA = T.StructType(
    [
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", META_SCHEMA),
    ]
)


def synthetic_assets(documents: DataFrame) -> DataFrame:
    """Deterministic asset table derived from ``documents`` (the
    container ships no media testdata): payload = utf-8 bytes of the
    text, modality round-robins on doc_id, metadata derived from the
    payload length. Pure built-in expressions — no Python in this path.
    """
    n = F.col("n_chars")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    width = F.lit(16)
    # image grid rows needed to hold n bytes at width×3 channels
    height = F.ceil(n / (16 * 3)).cast("int")
    meta = F.struct(
        F.when(modality == "image", F.lit("fake-rgb"))
        .when(modality == "audio", F.lit("fake-pcm"))
        .otherwise(F.lit("fake-yuv"))
        .alias("fmt"),
        F.when(modality == "image", width).otherwise(F.lit(None).cast("int")).alias("width"),
        F.when(modality == "image", height).otherwise(F.lit(None).cast("int")).alias("height"),
        F.when(modality == "image", F.lit(3)).otherwise(F.lit(None).cast("int")).alias("channels"),
        F.when(modality == "audio", F.lit(8000)).otherwise(F.lit(None).cast("int")).alias(
            "sample_rate"
        ),
        F.when(modality == "video", F.greatest(F.ceil(n / 64), F.lit(1)).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("n_frames"),
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        meta.alias("meta"),
    )


def asset_stats(assets: DataFrame) -> DataFrame:
    """Per-modality payload stats — metadata-only, byte column pruned."""
    return (
        assets.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.length("content")).alias("total_bytes"),
            F.max(F.length("content")).alias("max_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Decode / feature-extract (mapInArrow; deterministic fake codec)
# ---------------------------------------------------------------------------

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("mean_val", T.DoubleType()),
        T.StructField("std_val", T.DoubleType()),
        T.StructField("histogram", T.ArrayType(T.LongType())),
    ]
)


def _fake_decode(content: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: payload bytes as uint8 samples."""
    return np.frombuffer(content, dtype=np.uint8)


def decode_asset_real(content: bytes, meta: dict) -> np.ndarray:
    """The real-codec seam. Wire Pillow / soundfile / PyAV here.

    Kept as an explicit stub: the container has no media libraries.
    """
    raise NotImplementedError(
        "real codecs (Pillow/ffmpeg/soundfile) are not available in this "
        "environment; use the deterministic fake decode path"
    )


def decode_features_arrow(assets: DataFrame, n_bins: int = 16) -> DataFrame:
    """Decode + feature-extract in ONE pass: per asset, sample count,
    mean/std, and an ``n_bins``-bucket byte histogram (the cheap stand-in
    for a real embedding), through ``mapInArrow`` — RecordBatch in/out,
    no Arrow→pandas conversion.

    For binary-heavy columns this is the cheapest Python boundary Spark
    offers — pandas wraps each payload in a Python object per row, while
    Arrow keeps the batch as contiguous buffers until we slice them.
    """
    import pyarrow as pa

    from ..ml.worker import spark_zips_read_once  # lazy: ml/ pulls in pyspark.ml

    keep_spark_zips = spark_zips_read_once()

    def gen(batches):
        keep_spark_zips()
        for batch in batches:
            ids = batch.column("asset_id").to_pylist()
            mods = batch.column("modality").to_pylist()
            contents = batch.column("content")
            out = {"asset_id": [], "modality": [], "n_samples": [], "mean_val": [], "std_val": [], "histogram": []}
            for i in range(batch.num_rows):
                v = _fake_decode(contents[i].as_buffer().to_pybytes())
                hist = np.bincount(v >> 4, minlength=n_bins)[:n_bins]
                out["asset_id"].append(ids[i])
                out["modality"].append(mods[i])
                out["n_samples"].append(int(v.size))
                out["mean_val"].append(float(v.mean()) if v.size else 0.0)
                out["std_val"].append(float(v.std()) if v.size else 0.0)
                out["histogram"].append(hist.tolist())
            yield pa.RecordBatch.from_pydict(
                out,
                schema=pa.schema(
                    [
                        ("asset_id", pa.int64()),
                        ("modality", pa.string()),
                        ("n_samples", pa.int32()),
                        ("mean_val", pa.float64()),
                        ("std_val", pa.float64()),
                        ("histogram", pa.list_(pa.int64())),
                    ]
                ),
            )

    return assets.mapInArrow(gen, schema=DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Image resize (mapInPandas over image assets)
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.IntegerType())),
    ]
)


def resize_images(assets: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """Nearest-neighbor resize of fake-decoded image grids.

    Input rows are filtered to images *before* the Python boundary so
    non-image payloads never cross into the worker.
    """
    from ..ml.worker import spark_zips_read_once  # lazy: ml/ pulls in pyspark.ml

    keep_spark_zips = spark_zips_read_once()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_spark_zips()
        for pdf in batches:
            out = []
            for aid, content, meta in zip(pdf["asset_id"], pdf["content"], pdf["meta"]):
                # empty payloads give height 0 (synthetic_assets: ceil(0/48));
                # clamp so np.ix_ indexing never sees a zero-sized axis
                w, h, c = max(meta["width"], 1), max(meta["height"], 1), max(meta["channels"], 1)
                grid = np.zeros(h * w * c, dtype=np.uint8)
                raw = _fake_decode(content)[: h * w * c]
                grid[: raw.size] = raw
                grid = grid.reshape(h, w, c)
                ys = (np.arange(out_h) * h // out_h).astype(int)
                xs = (np.arange(out_w) * w // out_w).astype(int)
                small = grid[np.ix_(ys, xs)].astype(np.int32)
                out.append((aid, out_w, out_h, small.ravel().tolist()))
            yield pd.DataFrame(out, columns=["asset_id", "out_width", "out_height", "pixels"])

    imgs = assets.filter(F.col("modality") == "image")
    return imgs.mapInPandas(gen, schema=RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# Video frame sampling (decode-and-sample in one pass; row fan-out)
# ---------------------------------------------------------------------------

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(assets: DataFrame, stride: int = 4) -> DataFrame:
    """Every ``stride``-th frame of each video payload, without ever
    materializing unsampled frames (fan-out happens inside the pass).

    The fake codec treats the payload as n_frames equal slices.
    """
    from ..ml.worker import spark_zips_read_once  # lazy: ml/ pulls in pyspark.ml

    keep_spark_zips = spark_zips_read_once()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_spark_zips()
        for pdf in batches:
            out = []
            for aid, content, meta in zip(pdf["asset_id"], pdf["content"], pdf["meta"]):
                nf = max(int(meta["n_frames"] or 1), 1)
                frame_len = max(len(content) // nf, 1)
                for i in range(0, nf, stride):
                    out.append((aid, i, bytes(content[i * frame_len : (i + 1) * frame_len])))
            yield pd.DataFrame(out, columns=["asset_id", "frame_idx", "frame_bytes"])

    vids = assets.filter(F.col("modality") == "video")
    return vids.mapInPandas(gen, schema=FRAMES_SCHEMA)


def expected_sampled_frames(n_frames: int, stride: int) -> int:
    """ceil(n_frames / stride) — test helper mirroring sample_frames."""
    return math.ceil(max(n_frames, 1) / stride)
