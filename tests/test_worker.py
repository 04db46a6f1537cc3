"""The worker-side zip helper (ml/worker.py): Spark's own archives are
read once per worker, every other archive is still re-read by
``importlib.invalidate_caches()``."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from nlp_with_pyspark_spark.ml.worker import spark_zips_read_once


@pytest.fixture
def keep_spark_zips(restore_zipimporter):
    spark_zips_read_once()()


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_user_zip_rewritten_after_import_is_reread(tmp_path, keep_spark_zips, monkeypatch):
    archive = tmp_path / "user_lib.zip"
    _write_zip(archive, {"zipmod_first": "V = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipmod_first", "zipmod_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipmod_first").V == 1

    _write_zip(archive, {"zipmod_first": "V = 1\n", "zipmod_second": "V = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_second").V == 2
    sys.path_importer_cache.pop(str(archive), None)


@pytest.mark.parametrize("name", ["pyspark.zip", "py4j-0.10.9.9-src.zip"])
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
