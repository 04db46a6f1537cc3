"""Multimodal binary-column plumbing tests (operators/multimodal.py).

The codec is a deterministic fake; what's under test is the Spark-side
reality: schemas, Arrow batch shapes, row fan-out, filter placement,
and determinism across runs.
"""

import pyspark.sql.functions as F
import pytest

from nlp_with_pyspark_spark.operators.multimodal import (
    ASSET_SCHEMA,
    _fake_decode,
    decode_asset_real,
    decode_features_arrow,
    expected_sampled_frames,
    resize_images,
    sample_frames,
    synthetic_assets,
)
from nlp_with_pyspark_spark.sources.io import read_table


@pytest.fixture(scope="module")
def assets(spark, sf_dir):
    return synthetic_assets(read_table(spark, sf_dir, "documents")).cache()


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_asset_schema_and_payload(assets):
    # nullability is derivation-dependent; names+types are the contract
    assert _names_types(assets.schema) == _names_types(ASSET_SCHEMA)
    row = assets.filter(F.col("modality") == "image").first()
    assert isinstance(row.content, (bytes, bytearray))
    assert row.meta.width == 16 and row.meta.channels == 3
    assert row.meta.fmt == "fake-rgb"


def test_modalities_partition_assets(assets):
    counts = {r.modality: r["count"] for r in assets.groupBy("modality").count().collect()}
    assert set(counts) == {"image", "audio", "video"}
    assert sum(counts.values()) == assets.count()


def test_decode_features_covers_all_assets(assets):
    feats = decode_features_arrow(assets, n_bins=16)
    rows = feats.collect()
    assert len(rows) == assets.count()
    for r in rows[:20]:
        assert len(r.histogram) == 16
        assert sum(r.histogram) == r.n_samples  # every byte lands in a bin
        assert 0.0 <= r.mean_val <= 255.0


def test_decode_arrow_equals_pandas_path(assets):
    """The mapInArrow decode kernel equals a driver-side numpy reference
    over the same fake codec, row for row."""
    import numpy as np

    want = []
    for r in assets.select("asset_id", "modality", "content").collect():
        v = _fake_decode(bytes(r.content))
        want.append(
            (
                r.asset_id,
                r.modality,
                int(v.size),
                float(v.mean()) if v.size else 0.0,
                float(v.std()) if v.size else 0.0,
                np.bincount(v >> 4, minlength=16)[:16].tolist(),
            )
        )
    got = sorted(map(tuple, decode_features_arrow(assets).collect()))
    assert got == sorted(want)


def test_decode_features_deterministic(assets):
    a = sorted(map(tuple, decode_features_arrow(assets).collect()))
    b = sorted(map(tuple, decode_features_arrow(assets).collect()))
    assert a == b


def test_resize_images_shape(assets):
    out = resize_images(assets, out_w=4, out_h=4)
    rows = out.collect()
    n_images = assets.filter(F.col("modality") == "image").count()
    assert len(rows) == n_images
    assert all(len(r.pixels) == 4 * 4 * 3 for r in rows)
    assert all(0 <= p <= 255 for r in rows[:10] for p in r.pixels)


def test_resize_filters_before_python_boundary(assets):
    """Non-image rows must be filtered JVM-side, before mapInPandas."""
    plan = resize_images(assets)._jdf.queryExecution().executedPlan().toString()
    i_filter = plan.find("Filter")
    i_py = plan.find("MapInPandas")
    assert i_filter != -1 and i_py != -1
    # in the plan tree string, upstream operators print BELOW downstream
    assert i_py < i_filter, "filter should be upstream of the Python boundary"


def test_sample_frames_fanout(assets):
    stride = 4
    frames = sample_frames(assets, stride=stride)
    got = {
        r.asset_id: r.n for r in frames.groupBy("asset_id").agg(F.count("*").alias("n")).collect()
    }
    vids = assets.filter(F.col("modality") == "video").select("asset_id", "meta.n_frames").collect()
    assert len(got) == len(vids)
    for v in vids:
        assert got[v.asset_id] == expected_sampled_frames(v.n_frames, stride)


def test_frame_bytes_reassemble_prefix(assets):
    """stride=1 frames concatenated must reproduce a prefix of the payload
    (the fake codec slices the payload into n_frames pieces)."""
    frames = sample_frames(assets, stride=1)
    one = assets.filter(F.col("modality") == "video").first()
    parts = (
        frames.filter(F.col("asset_id") == one.asset_id)
        .orderBy("frame_idx")
        .select("frame_bytes")
        .collect()
    )
    joined = b"".join(bytes(p.frame_bytes) for p in parts)
    assert bytes(one.content).startswith(joined[: len(one.content)])
    assert len(joined) > 0


def test_resize_empty_payload_does_not_crash(spark):
    """An empty asset gives height ceil(0/48)=0 in the synthetic metadata;
    resize must clamp the grid axes instead of IndexError-ing the task."""
    docs = spark.createDataFrame(
        [(0, "", 0), (3, "abc" * 40, 120)], "doc_id long, text string, n_chars long"
    )
    rows = resize_images(synthetic_assets(docs)).collect()
    assert {r.asset_id for r in rows} == {0, 3}
    empty = next(r for r in rows if r.asset_id == 0)
    assert empty.pixels == [0] * 48


def test_real_codec_seam_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_asset_real(b"\x00", {})
