"""The Python worker daemon selected by `get_session`
(`osm_pbf2json_spark._daemon`): each task starts without cached zip
importers, so PySpark's per-task `importlib.invalidate_caches()` has no
archive directories to re-read."""

import sys
import zipfile
import zipimport

from osm_pbf2json_spark import _daemon


def test_worker_main_drops_zip_importers(tmp_path, monkeypatch):
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod.py", "")
    monkeypatch.setitem(sys.path_importer_cache, str(archive), zipimport.zipimporter(str(archive)))
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path), None)
    calls = []
    monkeypatch.setattr(_daemon, "_worker_main", lambda *a: calls.append(a) or 7)

    assert _daemon.worker_main("infile", "outfile") == 7

    assert calls == [("infile", "outfile")]
    assert str(archive) not in sys.path_importer_cache
    assert str(tmp_path) in sys.path_importer_cache  # other finders stay


def test_reused_workers_start_tasks_without_zip_importers(spark):
    def zip_importers_at_start(iterator):
        import sys
        import zipimport

        import pandas as pd

        cache = sys.path_importer_cache.values()
        n = sum(isinstance(f, zipimport.zipimporter) for f in cache)
        for _ in iterator:
            pass
        yield pd.DataFrame({"n": [n]})

    df = spark.range(0, 4000, numPartitions=4)
    for _ in range(2):  # the second job runs on reused workers
        counts = [r.n for r in df.mapInPandas(zip_importers_at_start, "n long").collect()]
    assert counts == [0, 0, 0, 0]


class _Builder:
    """Records the confs `get_session` sets instead of starting Spark."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


def test_get_session_selects_daemon_and_merges_pythonpath(monkeypatch):
    import os

    from osm_pbf2json_spark import session

    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    caller = os.pathsep.join(["/opt/libs", session.IMPORT_ROOT])
    conf = session.get_session(extra_conf={"spark.executorEnv.PYTHONPATH": caller})

    assert conf["spark.python.daemon.module"] == "osm_pbf2json_spark._daemon"
    assert conf["spark.sql.codegen.cache.maxEntries"] == str(session.CODEGEN_CACHE_ENTRIES)
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
        session.IMPORT_ROOT,
        "/opt/libs",
    ]

    override = session.get_session(extra_conf={"spark.sql.codegen.cache.maxEntries": "64"})
    assert override["spark.sql.codegen.cache.maxEntries"] == "64"
