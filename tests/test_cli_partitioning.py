"""CLI surface + partitioning/salting utilities + Gontardstraße exact
GeoJSON golden (Readme.md:61-62)."""

import io
import json

import pyspark.sql.functions as F

from osm_pbf2json_spark.cli import main as cli_main
from osm_pbf2json_spark.plans.partitioning import (
    hot_keys,
    repartition_by_tile_prefix,
    salted_join,
)
from osm_pbf2json_spark.sources.fixtures import ensure_fixture
from tests.reference import needs_reference
from tests.test_objects import make_tables

GONTARD_SEGMENTS = [
    [
        [13.410188699999999, 52.521660999999995],
        [13.4108953, 52.521203799999995],
        [13.410997, 52.521133199999994],
        [13.4114945, 52.5208095],
        [13.4119613, 52.520479099999996],
    ],
    [
        [13.410188699999999, 52.521660999999995],
        [13.410212399999999, 52.521679899999995],
        [13.4102321, 52.5216956],
        [13.4102623, 52.5217192],
        [13.4102997, 52.5217484],
    ],
    [
        [13.4095035, 52.522308699999996],
        [13.4095806, 52.5222255],
        [13.4096047, 52.5221899],
        [13.4098305, 52.5220348],
        [13.4102997, 52.5217484],
    ],
]


@needs_reference("alexanderplatz")
def test_cli_streets_geojson_gontardstrasse_golden(spark):
    """Readme.md:61-62: exact MultiLineString coordinates (segment order
    is R-tree-internal in the reference → compared as a set)."""
    out = io.StringIO()
    cli_main(
        [ensure_fixture("alexanderplatz"), "streets", "--geojson", "-n", "Gontardstraße"],
        spark=spark,
        out=out,
    )
    fc = json.loads(out.getvalue())
    assert len(fc["features"]) == 1
    feat = fc["features"][0]
    assert feat["properties"]["name"] == "Gontardstraße"
    got = feat["geometry"]["coordinates"]
    assert sorted(got) == sorted(GONTARD_SEGMENTS)


@needs_reference("alexanderplatz")
def test_cli_objects_jsonlines(spark):
    out = io.StringIO()
    cli_main(
        [
            ensure_fixture("alexanderplatz"),
            "objects",
            "-t",
            "amenity~fountain+tourism,amenity~townhall",
        ],
        spark=spark,
        out=out,
    )
    lines = out.getvalue().strip().split("\n")
    assert len(lines) == 4
    assert all(json.loads(l)["id"] for l in lines)


@needs_reference("wilhelmstrasse")
def test_cli_boundaries(spark):
    out = io.StringIO()
    cli_main(
        [ensure_fixture("wilhelmstrasse"), "boundaries", "-l", "10"],
        spark=spark,
        out=out,
    )
    lines = sorted(out.getvalue().strip().split("\n"))
    assert len(lines) == 2
    assert "Kreuzberg" in lines[0] and "Mitte" in lines[1]


def test_cli_releases_what_it_pins(spark, tmp_path):
    """A session that runs many commands keeps no persistent RDD a
    command pinned: the closure's localCheckpoints are released."""
    t = make_tables(
        spark,
        nodes=[(1, 52.0, 6.0, {}), (2, 50.0, 6.0, {}), (43, 52.0, 8.0, {"x": "n"})],
        ways=[(10, [1, 2], {"x": "w"})],
        relations=[(44, [("way", 10, "s"), ("node", 43, "s")], {"x": "y"})],
    )
    for name in ("nodes", "ways", "relations"):
        getattr(t, name).write.parquet(str(tmp_path / f"{name}.parquet"))

    def persistent():  # the GC may release earlier tests' RDDs meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    for _ in range(2):
        out = io.StringIO()
        cli_main([str(tmp_path), "objects", "-t", "x"], spark=spark, out=out)
        assert len(out.getvalue().splitlines()) == 3
        assert persistent() <= before


def test_salted_join_equivalence(spark):
    large = spark.createDataFrame(
        [(i % 5, i) for i in range(1000)], "k int, v long"
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(5)], "k int, name string")
    plain = {(r["k"], r["v"], r["name"]) for r in large.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["name"]) for r in salted_join(large, small, "k", salt=4).collect()}
    assert salted == plain


def test_hot_keys_detection(spark):
    rows = [(0,)] * 5000 + [(i,) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "k int")
    hk = hot_keys(df, "k", threshold_frac=0.05, sample=0.5)
    assert 0 in hk
    assert len(hk) <= 3


def test_repartition_by_tile_prefix(spark):
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(2))
    pts = spark.createDataFrame(
        [(i, float(rng.uniform(-10, 10)), float(rng.uniform(-10, 10))) for i in range(500)],
        "id long, lon double, lat double",
    )
    out = repartition_by_tile_prefix(pts, 8, res=12, parent_res=3)
    assert out.count() == 500
    # same coarse region → same partition
    withpid = out.withColumn("pid", F.spark_partition_id())
    grp = withpid.groupBy("_prefix").agg(F.count_distinct("pid").alias("np")).collect()
    assert all(r["np"] == 1 for r in grp)
