"""Python-worker helpers for the engine's map passes.

Every worker-side helper here returns a nested function, so cloudpickle
ships it BY VALUE inside the ``mapInArrow``/``mapInPandas``/
``mapPartitions`` closure: executors need only numpy and pyarrow, never
this package. (A closure that references a module-level function of this
package pickles by reference and fails with ``ModuleNotFoundError`` on a
worker whose ``sys.path`` does not hold the package.)
:func:`cached_arrow_batches` is the one driver-side helper: the input of
the trainers' fits.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.rdd import RDD
from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel


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


@contextmanager
def cached_arrow_batches(features: DataFrame) -> Iterator[tuple[RDD, pa.Schema]]:
    """``(messages, schema)`` for one fit over ``features``' ``(label,
    indices, values)``: the Arrow record-batch messages the JVM itself
    writes for them (``Dataset.toArrowBatchRdd``, one message per at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, none for an
    empty partition) as a bytes RDD, and the Arrow schema to read them
    with (:func:`csr_blocks`).

    The RDD is persisted ``MEMORY_AND_DISK``: the fit's first job
    materializes it, every later job reads the messages straight from
    the block manager, and it is released (blocking) when the block
    exits. Rows become Arrow in the JVM, once per fit; no Python pass
    packs them. ``toArrowBatchRdd`` is ``private[sql]`` in Scala but
    public in the bytecode (pyspark 4.1.2); ``tests/test_ml.py`` pins its
    message format.
    """
    feat = features.select("label", "indices", "values")
    sc = feat.sparkSession.sparkContext
    messages = RDD(feat._jdf.toArrowBatchRdd().toJavaRDD(), sc, NoOpSerializer())
    messages.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield messages, to_arrow_schema(feat.schema)
    finally:
        messages.unpersist(blocking=True)


def csr_blocks(schema: pa.Schema) -> Callable[[Iterable[bytes]], Iterator[tuple]]:
    """A worker-side reader: each Arrow record-batch message of
    ``(label, indices, values)`` read against ``schema`` becomes one CSR
    block ``(rows, y, row_ids, cols, vals)`` — float64 labels, each
    entry's row, int32 columns and float64 values. ``indices``/``values``
    are read as flat buffers through each list array's offsets (a sliced
    batch's ``offsets[0]`` is honoured); an empty batch yields no block.
    """

    def flat(arr: pa.ListArray) -> tuple:
        """(per-row lengths, flat child values) of a possibly sliced list array."""
        off = arr.offsets.to_numpy()
        child = arr.values.slice(off[0], off[-1] - off[0])
        return np.diff(off), child.to_numpy(zero_copy_only=False)

    def blocks(messages: Iterable[bytes]) -> Iterator[tuple]:
        for message in messages:
            batch = pa.ipc.read_record_batch(pa.py_buffer(message), schema)
            rows = batch.num_rows
            if rows == 0:
                continue
            lens, cols = flat(batch.column("indices"))
            _, vals = flat(batch.column("values"))
            y = batch.column("label").to_numpy(zero_copy_only=False)
            yield (
                rows,
                y.astype(np.float64),
                np.repeat(np.arange(rows), lens),
                cols.astype(np.int32, copy=False),
                vals.astype(np.float64, copy=False),
            )

    return blocks
