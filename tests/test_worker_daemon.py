"""The Python worker daemon's mechanism, observed from inside a worker.

A timing would move with the host; these facts do not: the worker was
forked from ``dpo_ocr_spark.worker_daemon``, its imported heap is frozen,
and PySpark's per-task ``importlib.invalidate_caches()`` leaves every cached
zipimporter's directory as it was instead of re-reading its archive.
"""

from __future__ import annotations

from pyspark.sql import types as T


def test_workers_run_the_preloading_daemon(spark):
    def probe(batches):
        import gc
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [id(z._files) for z in zips]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict({
            "main": [sys.modules["__main__"].__spec__.name],
            "frozen": [gc.get_freeze_count()],
            "zips": [len(zips)],
            "kept": [[id(z._files) for z in zips] == before],
        })

    schema = T.StructType([
        T.StructField("main", T.StringType()),
        T.StructField("frozen", T.LongType()),
        T.StructField("zips", T.LongType()),
        T.StructField("kept", T.BooleanType()),
    ])
    [row] = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
    assert row.main == "dpo_ocr_spark.worker_daemon"
    assert row.frozen > 0
    assert row.zips > 0 and row.kept, row
