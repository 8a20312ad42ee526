"""Per-task cost of a reused Python worker.

Before every task, a Spark Python worker runs pyspark's
``setup_spark_files``, which ends in ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole directory. A
worker holds one such importer per package directory it imported from a
zip, 16 once it has run an Arrow stage. Measured on a 4-vCPU host,
pyspark.zip (1,328 entries) takes 6-13 ms per importer and the
spark-core jar on the workers' PYTHONPATH (5,359 entries) 30-55 ms,
which adds 0.17-0.45 s to every task before any kernel runs.
"""

import sys
import zipimport


def forget_zip_importers() -> None:
    """Drop every zip importer from ``sys.path_importer_cache``, so the
    next task's ``invalidate_caches()`` has no archive to re-read.

    The cache is documented as one that may be cleared: the next import
    that needs a dropped entry rebuilds it from the directory zipimport
    already holds, without reading the archive. The effect is per worker
    process and lasts until an import from a zip creates an importer
    again; the kernel iterators call this at the start of every task.
    The one thing it gives up is noticing a zip rewritten in place during
    a session, which Spark does not support."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
