import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nlp_with_pyspark_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def restore_zipimporter():
    """Undo the worker-side ``zipimporter.invalidate_caches`` patch
    (ml/worker.py) that a trainer kernel run in the test process installs."""
    import zipimport

    saved = zipimport.zipimporter.invalidate_caches
    yield
    zipimport.zipimporter.invalidate_caches = saved
