"""Python-worker helpers for the trainers' per-iteration closures.

Everything returned from here is a nested function, so cloudpickle ships
it BY VALUE inside the ``mapInArrow``/``mapInPandas`` closure: executors
need only numpy and pyarrow, never this package. (A closure that
references a module-level function of this package pickles by reference
and fails with ``ModuleNotFoundError`` on a worker whose ``sys.path``
does not hold the package.)
"""

from __future__ import annotations

from collections.abc import Callable


def spark_zips_read_once() -> Callable[[], None]:
    """A worker-side callable that stops ``importlib.invalidate_caches()``
    from re-reading Spark's own zip archives.

    Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
    which calls ``importlib.invalidate_caches()``. On CPython ≤ 3.11 that
    makes each cached ``zipimporter`` re-read its archive's whole central
    directory — and a worker that imported pyspark from
    ``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per package
    path (16 across pyspark's and py4j's zips for pyspark 4.1.2).
    Measured 0.13–0.24 s per task (4-core host, pyspark 4.1.2,
    CPython 3.11.7).

    Spark's own archives (``pyspark.zip``, ``py4j-*-src.zip``) never
    change under a running worker, so the callable patches
    ``zipimport.zipimporter.invalidate_caches`` to skip exactly those;
    any other archive — e.g. a zip shipped with ``addPyFile`` and
    replaced later — is still re-read. Call it first in the generator:
    the patch lives in the (reused) worker process, so the task that
    installs it still pays once and every later task on that worker
    does not. Installing twice is a no-op.
    """

    def install() -> None:
        import os
        import re
        import zipimport

        cls = zipimport.zipimporter
        if getattr(cls.invalidate_caches, "_skips_spark_zips", False):
            return
        reread = cls.invalidate_caches
        spark_zip = re.compile(r"pyspark\.zip|py4j-.*-src\.zip")

        def invalidate_caches(self) -> None:
            if not spark_zip.fullmatch(os.path.basename(self.archive)):
                reread(self)

        invalidate_caches._skips_spark_zips = True
        cls.invalidate_caches = invalidate_caches

    return install
