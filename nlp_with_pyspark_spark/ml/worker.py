"""Python-worker helpers for the engine's map passes.

Everything returned from here is a nested function, so cloudpickle ships
it BY VALUE inside the ``mapInArrow``/``mapInPandas``/``mapPartitions``
closure: executors need only numpy and pyarrow, never this package. (A
closure that references a module-level function of this package pickles
by reference and fails with ``ModuleNotFoundError`` on a worker whose
``sys.path`` does not hold the package.)
"""

from __future__ import annotations

from collections.abc import Callable


def spark_zips_read_once() -> Callable[[], None]:
    """A worker-side callable that stops ``importlib.invalidate_caches()``
    from re-reading Spark's own archives.

    Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
    which calls ``importlib.invalidate_caches()``. On CPython ≤ 3.11 that
    makes each cached ``zipimporter`` re-read its archive's whole central
    directory. A worker's path holds three of Spark's archives:

    * ``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip``, one
      importer per package path (16 across the two for pyspark 4.1.2);
    * ``spark-core_*.jar``, which Spark itself appends to the worker's
      ``PYTHONPATH`` (``PythonUtils.sparkPythonPath`` adds
      ``SparkContext.jarOfObject``) although it holds no ``.py`` file —
      5,359 entries for spark-core_2.13-4.1.2.

    Re-reading the two zips measured 0.13–0.24 s per task; with the jar,
    ``setup_spark_files`` took 90–210 ms per task, and 0.2 ms once all
    three are skipped (4-core host, pyspark 4.1.2, CPython 3.11.7).

    Spark's own archives never change under a running worker, so the
    callable patches ``zipimport.zipimporter.invalidate_caches`` to skip
    exactly those; any other archive — e.g. a zip or jar shipped with
    ``addPyFile`` and replaced later — is still re-read. Call it first in
    the generator: the patch lives in the (reused) worker process, so the
    task that installs it still pays once and every later task on that
    worker does not. Installing twice is a no-op.
    """

    def install() -> None:
        import os
        import re
        import zipimport

        cls = zipimport.zipimporter
        if getattr(cls.invalidate_caches, "_skips_spark_zips", False):
            return
        reread = cls.invalidate_caches
        spark_zip = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")

        def invalidate_caches(self) -> None:
            if not spark_zip.fullmatch(os.path.basename(self.archive)):
                reread(self)

        invalidate_caches._skips_spark_zips = True
        cls.invalidate_caches = invalidate_caches

    return install
