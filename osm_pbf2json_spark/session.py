"""SparkSession factory with scale-oriented defaults.

All engine entry points accept any SparkSession; this factory is what
`spark-submit --py-files` jobs, tests and bench.py use so every run gets
the same Arrow / AQE / shuffle posture:

- Arrow execution ON: every geometry kernel is a vectorized pandas UDF
  (BASELINE.json input_hint: "no per-row Python").
- AQE ON incl. skew-join: hot H3 cells / hot node refs re-split at runtime.
- shuffle partitions sized for the local sandbox; on a real cluster this is
  overridden by --conf (AQE coalescing makes the initial number forgiving).
- Python workers fork from `osm_pbf2json_spark._daemon`
  (`spark.python.daemon.module`). PySpark calls
  `importlib.invalidate_caches()` at the start of every task, and on
  CPython 3.11 that re-reads the whole directory of every zip archive with
  a cached importer (pyspark.zip, py4j, the spark-core jar): about 0.2 CPU-s
  per task, more than most kernels here. The daemon drops those cached
  importers first. The package's import root goes on
  `spark.executorEnv.PYTHONPATH` so the daemon can be started from any
  cwd, including `spark-submit --py-files` jobs. Sessions not built here
  keep Spark's default daemon.
- Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`)
  holds `CODEGEN_CACHE_ENTRIES` classes instead of 100. One `objects`
  call on a small table generates about 180-220 classes, and a session
  that repeats objects + boundaries + streets CLI commands about 240. At
  100 entries every repeat command evicted its own classes and compiled
  them again with Janino (about 260 compiles per CLI round), and the JIT
  then compiled the new classes again. The conf is static: the JVM reads
  it once, when its codegen cache is first built, so only sessions that
  `get_session` starts get it; the external-driver session of
  `__spark_entry__.py` keeps Spark's default. `extra_conf` overrides it
  like any other conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
# Spark's compiled-class cache size (default 100). Distinct classes
# measured: 238 for a perfbench osm_cli session (repeated objects +
# boundaries + streets commands), 440 for a bench.py run, 1,481 for the
# whole test suite; 4096 keeps at least 2x headroom over the largest.
CODEGEN_CACHE_ENTRIES = 4096
# the directory holding the package, or the --py-files zip it came from
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    master: str | None = None,
    app_name: str = "osm-pbf2json-spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4.1's sized-batch writer calls ArrowWriter.sizeInBytes per
        # appended ROW unless maxBytesPerBatch == Int.MaxValue exactly
        # (BatchedPythonArrowInput.underBatchSizeLimit). The per-row size
        # walk made every mapInPandas/mapInArrow stage ~8x slower and
        # allocator-bound; IntMax restores the fast whole-batch path.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "osm_pbf2json_spark._daemon")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    conf = dict(extra_conf or {})
    paths = [IMPORT_ROOT, *conf.pop("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)]
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.pathsep.join(dict.fromkeys(p for p in paths if p))
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
