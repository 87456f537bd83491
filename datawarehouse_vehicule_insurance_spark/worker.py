"""Per-task hygiene for the Python worker.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. On CPython
3.10–3.12.1 each cached ``zipimport.zipimporter`` then re-reads its
archive's whole directory at once: a reused worker caches about 16 of
them (over ``pyspark.zip``, the py4j zip and the spark-core jar that
Spark puts on the worker's ``PYTHONPATH``), which costs 110–220 ms per
task (NOTES "Per-task zip re-read in Python workers"). Every kernel the
package hands to ``pandas_udf``, ``mapInPandas`` or
``applyInPandas(WithState)`` calls :func:`prune_zip_importers` first, so
the next task's invalidation finds no zip importer to re-read.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark import cloudpickle

# kernels reference prune_zip_importers as a global: pickle it BY VALUE,
# or a worker started outside the repo could not unpickle the kernel
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def prune_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Modules already imported keep their own loader, and the next import
    that needs an archive re-creates its importer from zipimport's
    module-level directory cache without re-reading the file. The cache
    holds about 100 entries, so the prune costs microseconds and runs
    on every call, not once per process: a later top-level import
    re-creates the top-level zip importers."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
