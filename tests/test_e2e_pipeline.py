"""North-star end-to-end: Common-Crawl-style pages with OSM fixture
geometries through text extraction, the broadcast PIP join against REAL
assembled admin boundaries, tile assignment, and lineage-checkpointed
partitioned output with restart (BASELINE.json north_star flow)."""

import os

import pyspark.sql.functions as F

from osm_pbf2json_spark.operators.boundaries import boundaries
from osm_pbf2json_spark.operators.spatial import pip_join_broadcast, point_tile
from osm_pbf2json_spark.plans.lineage import LineageWriter, run_partitioned
from osm_pbf2json_spark.sources.fixtures import synth_pages
from osm_pbf2json_spark.sources.pages import attach_page_geo, extract_text


def test_pages_to_tiles_with_restart(spark, wilhelmstrasse, tmp_path):
    pages = synth_pages(spark, 300)

    # 1. text extraction is byte-identical per url
    extracted = extract_text(pages)
    assert extracted.filter(F.col("text_extracted") != F.col("text")).count() == 0

    # 2. deterministic geometry attachment from fixture nodes
    geo = attach_page_geo(pages, wilhelmstrasse.nodes)
    assert geo.count() == 300

    # 3. PIP against real assembled boundaries (Kreuzberg/Mitte multipolygons)
    brows = [
        {"key": r["name"], "polygons": [
            [[(c["lon"], c["lat"]) for c in ring] for ring in poly]
            for poly in r["polygons"]
        ]}
        for r in boundaries(wilhelmstrasse, levels=[10]).collect()
    ]
    assert {b["key"] for b in brows} == {"Kreuzberg", "Mitte"}
    joined = pip_join_broadcast(geo, brows, out_col="district")
    dist_counts = {r["district"]: r["n"] for r in joined.groupBy("district").agg(F.count("*").alias("n")).collect()}
    # fixture nodes cover both districts plus points outside either
    assert dist_counts.get("Kreuzberg", 0) > 0
    assert dist_counts.get("Mitte", 0) > 0

    # 4. tile assignment + partitioned, lineage-manifested write
    tiled = point_tile(joined, res=8, grid="hex")
    tiled = tiled.withColumn("part", F.pmod(F.col("tile"), F.lit(4)).cast("int"))
    out_dir = str(tmp_path / "tiles_out")
    recs = run_partitioned(tiled, "part", out_dir, input_fingerprint="pages300-wilhelm")
    assert sum(r["rows"] for r in recs) == 300

    # 5. restart is a no-op; dropping one manifest line recovers exactly one
    assert run_partitioned(tiled, "part", out_dir, "pages300-wilhelm") == []
    w = LineageWriter(out_dir)
    lines = open(w.manifest_path).read().strip().split("\n")
    with open(w.manifest_path, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n")
    recs2 = run_partitioned(tiled, "part", out_dir, "pages300-wilhelm")
    assert len(recs2) == 1

    # 6. output round-trips with stable content
    total = spark.read.parquet(os.path.join(out_dir, "part=*")).count()
    assert total == 300


def test_district_assignment_is_deterministic(spark, osm_tables):
    wilhelmstrasse = osm_tables("wilhelmstrasse")
    pages = synth_pages(spark, 120)
    geo = attach_page_geo(pages, wilhelmstrasse.nodes)
    brows = [
        {"key": r["name"], "polygons": [
            [[(c["lon"], c["lat"]) for c in ring] for ring in poly]
            for poly in r["polygons"]
        ]}
        for r in boundaries(wilhelmstrasse, levels=[10]).collect()
    ]
    a = {r["url"]: r["district"] for r in pip_join_broadcast(geo, brows, out_col="district").collect()}
    b = {r["url"]: r["district"] for r in pip_join_broadcast(geo, brows, out_col="district").collect()}
    assert a == b and len(a) == 120


def test_driver_e2e_entries_stable(spark):
    """streets_e2e is a rows-only driver entry: its digest must be
    identical across two runs; boundaries_e2e squares must assemble."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    a = sorted(tuple(r) for r in E.q_streets_e2e(spark, sf).collect())
    b = sorted(tuple(r) for r in E.q_streets_e2e(spark, sf).collect())
    assert a == b and len(a) > 500

    bd = E.q_boundaries_e2e(spark, sf).collect()
    assert len(bd) > 100
    for r in bd:
        assert r["n_polys"] == 1
        assert abs((r["ne_lon"] - r["sw_lon"]) - 0.9) < 1e-9
        assert abs((r["ne_lat"] - r["sw_lat"]) - 0.9) < 1e-9

    j2 = E.q_j2_relation_resolve(spark, sf).collect()
    # level-1 groups + level-2 parents + the 2-cycle, all resolved
    assert len(j2) > 100 and all(r["w"] is not None for r in j2)
