"""Python worker daemon that pays the worker's fixed costs once, not per task.

Spark forks every Python worker of an executor from one daemon process and
reuses the workers across tasks. ``session.WORKER_DAEMON`` selects this
module in place of the stock ``pyspark.daemon``; before the first fork it

- imports ``pyspark.worker`` and ``pyarrow``, so every worker starts with
  them loaded;
- makes ``zipimporter.invalidate_caches`` a no-op. PySpark calls
  ``importlib.invalidate_caches()`` at the start of every task, and on
  Python 3.11 that makes each cached zipimporter re-read its archive's
  central directory: a worker holds 16 of them (pyspark.zip and its
  subpackages, the py4j zip, the spark-core jar);
- calls ``gc.freeze()``, so the ``gc.collect()`` the daemon runs after
  every task walks what the task left behind, not the imported heap.

It then runs ``pyspark.daemon.manager()`` unchanged. At local[4] on a
4-core VM this took perfbench's warc_to_wet job_s median from 6.38 to
3.34 s (10 interleaved pairs).

The one semantic change: a reused worker no longer notices a zip archive
that is replaced in place at the same path. Spark does not support adding
a file twice under one name, so this does not arise in practice; a zip
added under a new path is still found, because its importer is created on
first use.

There is no fallback to the stock daemon: if this module cannot be
imported, the daemon does not start and the first Python task fails with
"No module named dpo_ocr_spark". The daemon starts before any task, while
``spark-submit --py-files`` ships the package zip per task, so the jobs
under ``jobs/`` are submitted with ``spark.executorEnv.PYTHONPATH`` naming
that zip too.
"""

from __future__ import annotations

import gc
import zipimport

import pyarrow  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = lambda self: None
    gc.freeze()
    daemon.manager()
