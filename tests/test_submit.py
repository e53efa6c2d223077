"""Cluster-submission path: build the reproducible --py-files zip and
run a real `spark-submit` whose engine code comes ONLY from the zip
(cwd is a temp dir, PYTHONPATH stripped) — the north-rule deployment
shape (`spark-submit --py-files` job) exercised end-to-end against the
reference fixture, checked against the integration_test.rs golden ids.
"""

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from package import build_zip, zip_fingerprint  # noqa: E402

from osm_pbf2json_spark.sources.fixtures import ensure_fixture  # noqa: E402
from tests.reference import needs_reference  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_reproducible(tmp_path):
    z1 = build_zip(str(tmp_path / "a"))
    z2 = build_zip(str(tmp_path / "b"))
    assert zip_fingerprint(z1) == zip_fingerprint(z2)


def _submit_env():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


_SMOKE_JOB = """
from osm_pbf2json_spark.session import get_session


def kernel(iterator):
    import sys

    for pdf in iterator:
        pdf["daemon"] = sys.modules["__main__"].__spec__.name
        yield pdf


spark = get_session(master="local[2]", shuffle_partitions=2)
out = spark.range(0, 1000, numPartitions=2).mapInPandas(kernel, "id long, daemon string")
for r in out.groupBy("daemon").count().collect():
    print(f"SMOKE {r['daemon']} {r['count']}")
spark.stop()
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pyfiles_smoke(tmp_path):
    """The worker daemon `get_session` selects must start when the engine
    ships only as a --py-files zip (no fixture needed)."""
    zip_path = os.path.abspath(build_zip(str(tmp_path / "dist")))
    job = tmp_path / "smoke_job.py"
    job.write_text(_SMOKE_JOB)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, str(job)],
        cwd=str(tmp_path),  # engine package resolvable ONLY via the zip
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    smoke = [line.split() for line in proc.stdout.splitlines() if line.startswith("SMOKE ")]
    assert smoke == [["SMOKE", "osm_pbf2json_spark._daemon", "1000"]]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
@needs_reference("alexanderplatz")
def test_spark_submit_pyfiles_objects(tmp_path):
    fixture = ensure_fixture("alexanderplatz")
    zip_path = os.path.abspath(build_zip(str(tmp_path / "dist")))
    shim = tmp_path / "submit_cli.py"
    shutil.copy(os.path.join(REPO, "tools", "submit_cli.py"), shim)

    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(shim),
            fixture,
            "objects",
            "-t", "amenity~fountain+tourism,amenity~townhall",
        ],
        cwd=str(tmp_path),  # engine package resolvable ONLY via the zip
        env=_submit_env(),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    import json

    rows = [
        json.loads(line)
        for line in proc.stdout.splitlines()
        if line.startswith('{"id":')
    ]
    # integration_test.rs:16-38 golden: 3 fountains∩tourism + 1 townhall
    assert sorted(r["id"] for r in rows) == [4211905, 23813204, 24045180, 52564405]
