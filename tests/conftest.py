import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_pbf2json_spark.session import get_session  # noqa: E402
from tests.reference import reference_pbf, skip_reason  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session(app_name="osm-pbf2json-spark-tests", shuffle_partitions=8)
    yield s


def _reference_tables(spark, name):
    from osm_pbf2json_spark.sources.fixtures import load_fixture

    if not os.path.exists(reference_pbf(name)):
        pytest.skip(skip_reason(name))
    t = load_fixture(spark, name)
    t.nodes.cache().count()
    t.ways.cache().count()
    t.relations.cache().count()
    return t


@pytest.fixture(scope="session")
def alexanderplatz(spark):
    return _reference_tables(spark, "alexanderplatz")


@pytest.fixture(scope="session")
def wilhelmstrasse(spark):
    return _reference_tables(spark, "wilhelmstrasse")


@pytest.fixture(scope="session")
def osm_pbf(tmp_path_factory):
    """`osm_pbf(name)` is the path of an OSM extract: the reference's
    `<name>.pbf` where it exists, else a synthetic multi-blob city
    (`perfbench/synth.city`, written by `perfbench/pbfwrite.write_pbf`)
    made once per session."""

    @functools.cache
    def synthetic():
        from perfbench import pbfwrite, synth

        # 10 OSMData blobs (~11 KB): 1,603 nodes, 328 ways, 84 relations
        # and 16 level-10 boundaries
        path = str(tmp_path_factory.mktemp("osm") / "city.osm.pbf")
        city = synth.city(7, rows=3, chains_per_row=1, pois=20, buildings=5)
        pbfwrite.write_pbf(path, city, per_block=256)
        return path

    def path(name):
        ref = reference_pbf(name)
        return ref if os.path.exists(ref) else synthetic()

    return path


@pytest.fixture(scope="session")
def osm_tables(spark, osm_pbf):
    """`osm_tables(name)` is the EntityTables of `osm_pbf(name)`, loaded
    once per session with `cli.load_pbf_tables`."""
    from osm_pbf2json_spark.cli import load_pbf_tables

    @functools.cache
    def load(path):
        return load_pbf_tables(spark, path)

    return lambda name: load(osm_pbf(name))


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
