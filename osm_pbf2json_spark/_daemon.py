"""Python worker daemon that spares each task a re-read of every zip on
the path.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`). On CPython 3.11
that makes each cached `zipimport.zipimporter` in
`sys.path_importer_cache` eagerly re-read its archive's whole central
directory. A reused worker holds a dozen or more of them (pyspark.zip
and its subpackage directories, the py4j zip, the spark-core jar), so
the call costs far more CPU than most kernels in this package.

This module wraps `pyspark.daemon.worker_main` so that each task first
drops the zipimporter entries from `sys.path_importer_cache`. Modules
already imported keep their own loaders, and an entry is recreated the
next time an import needs that path, from zipimport's per-archive
directory cache, without reading the archive again. Imports resolve
as before; only the repeated directory re-reads go away. The one
difference: a worker no longer sees a zip rewritten in place after its
first import from it.

`session.get_session` selects it with `spark.python.daemon.module`, the
same hook Spark's own coverage daemon uses. Running it imports the
package first, so workers fork with the engine, pandas and pyarrow
already loaded instead of importing them on their first task.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark import daemon

_worker_main = daemon.worker_main


def worker_main(*args, **kwargs):
    """Drop every cached zipimporter, then run PySpark's worker main."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
    return _worker_main(*args, **kwargs)


if __name__ == "__main__":
    daemon.worker_main = worker_main
    daemon.manager()
