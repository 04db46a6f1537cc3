"""The worker-side helpers (ml/worker.py): Spark's own archives
(pyspark's and py4j's zips, the spark-core jar) are read once per worker,
every other archive is still re-read by ``importlib.invalidate_caches()``;
every Python-worker pass of the engine installs the helper first; and the
trainers' kernels run where this package cannot be imported."""

import importlib
import os
import pickle
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark import cloudpickle

from nlp_with_pyspark_spark.ml.gd import _block_partials
from nlp_with_pyspark_spark.ml.nn import NNTrainer, _nn_partials
from nlp_with_pyspark_spark.ml.worker import spark_zips_read_once
from nlp_with_pyspark_spark.operators import multimodal


@pytest.fixture
def keep_spark_zips(restore_zipimporter):
    spark_zips_read_once()()


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _assert_rewritten_archive_is_reread(archive, monkeypatch):
    _write_zip(archive, {"zipmod_first": "V = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for mod in ("zipmod_first", "zipmod_second"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zipmod_first").V == 1

    _write_zip(archive, {"zipmod_first": "V = 1\n", "zipmod_second": "V = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_second").V == 2
    sys.path_importer_cache.pop(str(archive), None)


def test_user_zip_rewritten_after_import_is_reread(tmp_path, keep_spark_zips, monkeypatch):
    _assert_rewritten_archive_is_reread(tmp_path / "user_lib.zip", monkeypatch)


def test_user_jar_rewritten_after_import_is_reread(tmp_path, keep_spark_zips, monkeypatch):
    """Only spark-core's jar is skipped, not every jar on the path."""
    _assert_rewritten_archive_is_reread(tmp_path / "user_lib.jar", monkeypatch)


@pytest.mark.parametrize(
    "name", ["pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar"]
)
def test_spark_archive_is_not_reread(tmp_path, keep_spark_zips, name):
    archive = tmp_path / name
    _write_zip(archive, {"first": "V = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    _write_zip(archive, {"first": "V = 1\n", "second": "V = 2\n"})
    importer.invalidate_caches()
    assert importer.find_spec("first") is not None
    assert importer.find_spec("second") is None, f"{name} was re-read"


def test_install_is_idempotent(keep_spark_zips):
    patched = zipimport.zipimporter.invalidate_caches
    spark_zips_read_once()()
    assert zipimport.zipimporter.invalidate_caches is patched


def _one_asset(modality, **meta):
    """One asset row as pandas wants it (``meta`` a dict of META_SCHEMA)."""
    fields = ("fmt", "width", "height", "channels", "sample_rate", "n_frames")
    return {
        "asset_id": [7],
        "modality": [modality],
        "content": [bytes(range(48))],
        "meta": [{f: meta.get(f) for f in fields}],
    }


#: one sparse row ``(label, indices, values)`` as an Arrow batch
_ARROW_SPARSE = pa.RecordBatch.from_pydict(
    {
        "label": pa.array([1], pa.int32()),
        "indices": pa.array([[0, 2]], pa.list_(pa.int32())),
        "values": pa.array([[0.5, 1.0]], pa.list_(pa.float64())),
    }
)
_NN_WEIGHTS = {"w1": np.ones((3, 2)), "b1": np.zeros(2), "w2": np.ones((2, 2)), "b2": np.zeros(2)}


def _kernels():
    """name → (a trainer's fit kernel, one input element: the IPC message
    of :data:`_ARROW_SPARSE` as the fit's cached RDD hands it over)."""
    schema, message = _ARROW_SPARSE.schema, _ARROW_SPARSE.serialize().to_pybytes()
    return {
        "gd_block_kernel": (_block_partials("logistic", 3, np.zeros(3), schema), message),
        "nn_partials": (_nn_partials(3, 2, _NN_WEIGHTS, schema), message),
    }


def _pass_cases(spark):
    """name → (builds the pass and returns its worker function, one-row input)."""
    assets = spark.createDataFrame([], multimodal.ASSET_SCHEMA)
    sparse = {"doc_id": [1], "label": [1], "indices": [[0, 2]], "values": [[0.5, 1.0]]}
    nn = NNTrainer(k=3, hidden=2)
    nn.weights_ = _NN_WEIGHTS
    image = _one_asset("image", fmt="fake-rgb", width=4, height=4, channels=3)
    video = _one_asset("video", fmt="fake-yuv", n_frames=2)
    kernels = {name: (lambda f=f: f, row) for name, (f, row) in _kernels().items()}
    return {
        **kernels,
        "nn_predict": (
            lambda: nn.predict(spark.createDataFrame(pd.DataFrame(sparse))),
            pd.DataFrame(sparse),
        ),
        "decode_features_arrow": (
            lambda: multimodal.decode_features_arrow(assets),
            pa.RecordBatch.from_pydict({k: v for k, v in image.items() if k != "meta"}),
        ),
        "resize_images": (lambda: multimodal.resize_images(assets), pd.DataFrame(image)),
        "sample_frames": (lambda: multimodal.sample_frames(assets), pd.DataFrame(video)),
    }


PASSES = [
    "gd_block_kernel",
    "nn_partials",
    "nn_predict",
    "decode_features_arrow",
    "resize_images",
    "sample_frames",
]


@pytest.mark.parametrize("name", PASSES)
def test_every_python_pass_installs_the_patch_first(spark, restore_zipimporter, monkeypatch, name):
    """Each Python-worker pass installs ``spark_zips_read_once`` in its
    worker function: run on a one-row input in this process, the worker
    function leaves ``zipimporter.invalidate_caches`` patched."""
    captured = []

    def capture(self, func, schema, *args, **kwargs):
        captured.append(func)
        return self

    frame_cls = type(spark.createDataFrame([], "a int"))
    monkeypatch.setattr(frame_cls, "mapInArrow", capture)
    monkeypatch.setattr(frame_cls, "mapInPandas", capture)
    build, row = _pass_cases(spark)[name]
    built = build()
    # a DataFrame pass hands its worker function to mapInArrow/mapInPandas;
    # a kernel builder returns it
    func = captured.pop() if captured else built
    assert not getattr(zipimport.zipimporter.invalidate_caches, "_skips_spark_zips", False)
    out = list(func(iter([row])))
    assert out, f"{name} yielded nothing for a one-row input"
    assert getattr(zipimport.zipimporter.invalidate_caches, "_skips_spark_zips", False), (
        f"{name} does not install spark_zips_read_once"
    )


#: run in a child process: unpickle ``(kernel, element)`` from stdin with
#: plain ``pickle`` and print the kernel's output as a pickle hex string
_CHILD = """
import importlib.util, pickle, sys
assert importlib.util.find_spec("nlp_with_pyspark_spark") is None, "package importable"
kernel, element = pickle.loads(sys.stdin.buffer.read())
print(pickle.dumps(list(kernel(iter([element])))).hex())
"""


@pytest.mark.parametrize("name", ["gd_block_kernel", "nn_partials"])
def test_fit_kernels_run_without_the_package(tmp_path, restore_zipimporter, name):
    """A fit kernel, pickled with pyspark's cloudpickle, runs in a fresh
    interpreter whose working directory and ``PYTHONPATH`` cannot reach
    this package, and yields what it yields in this process: executors
    need numpy and pyarrow, not the package."""
    kernel, element = _kernels()[name]
    env = {key: val for key, val in os.environ.items() if key != "PYTHONPATH"}
    child = subprocess.run(
        [sys.executable, "-c", _CHILD],
        input=cloudpickle.dumps((kernel, element)),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        timeout=120,
    )
    assert child.returncode == 0, child.stderr.decode()[-2000:]
    got = pickle.loads(bytes.fromhex(child.stdout.decode().strip()))
    want = list(kernel(iter([element])))
    assert len(got) == len(want) == 1
    for g, v in zip(got[0], want[0]):
        np.testing.assert_array_equal(g, v)
