"""boundaries() parity: integration goldens integration_test.rs:91-118,
doc test mod.rs:119-126, and admin.rs unit-test shapes."""

import json

from osm_pbf2json_spark.operators.boundaries import boundaries
from osm_pbf2json_spark.sinks import boundaries_geojson, boundaries_json_lines
from tests.test_objects import make_tables


def test_extract_boundaries_wilhelmstrasse(wilhelmstrasse):
    # mod.rs:119-126 + integration_test.rs:107-118 → 2: Kreuzberg, Mitte
    df = boundaries(wilhelmstrasse, levels=[10])
    lines = sorted(r["value"] for r in boundaries_json_lines(df).collect())
    assert len(lines) == 2
    assert "Kreuzberg" in lines[0]
    assert "Mitte" in lines[1]
    row = json.loads(lines[0])
    assert set(row.keys()) == {"name", "admin_level", "bbox"}
    assert set(row["bbox"].keys()) == {"sw", "ne"}
    assert row["admin_level"] == 10


def test_boundary_as_geojson(wilhelmstrasse):
    # integration_test.rs:91-105 → FeatureCollection with 2 features
    df = boundaries(wilhelmstrasse, levels=[10])
    fc = json.loads(boundaries_geojson(df))
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 2
    for f in fc["features"]:
        assert f["geometry"]["type"] == "MultiPolygon"
        assert f["properties"]["name"] in ("Kreuzberg", "Mitte")
        # rings closed
        for poly in f["geometry"]["coordinates"]:
            for ring in poly:
                assert ring[0] == ring[-1]


def _square_boundary_tables(spark, tags, offset=13.0, ids_base=0):
    """Closed square via 4 outer ways (admin.rs:80-118 test shape)."""
    b = ids_base
    nodes = [
        (b + 1, 52.0, offset, {}),
        (b + 2, 52.0, offset + 1.0, {}),
        (b + 3, 53.0, offset + 1.0, {}),
        (b + 4, 53.0, offset, {}),
    ]
    ways = [
        (b + 11, [b + 1, b + 2], {}),
        (b + 12, [b + 2, b + 3], {}),
        (b + 13, [b + 3, b + 4], {}),
        (b + 14, [b + 4, b + 1], {}),
    ]
    members = [("way", b + 11 + i, "outer") for i in range(4)]
    rels = [(b + 21, members, dict(tags))]
    return nodes, ways, rels


def test_boundary_geometry_square(spark):
    # admin.rs:89-104: single polygon, single ring, 5 points
    tags = {"boundary": "administrative", "name": "some_name", "admin_level": "11"}
    nodes, ways, rels = _square_boundary_tables(spark, tags)
    t = make_tables(spark, nodes=nodes, ways=ways, relations=rels)
    rows = boundaries(t, levels=[11]).collect()
    assert len(rows) == 1
    polys = rows[0]["polygons"]
    assert len(polys) == 1
    assert len(polys[0]) == 1
    assert len(polys[0][0]) == 5
    assert (rows[0]["sw_lon"], rows[0]["sw_lat"]) == (13.0, 52.0)
    assert (rows[0]["ne_lon"], rows[0]["ne_lat"]) == (14.0, 53.0)


def test_boundary_unlocated_node_dropped(spark):
    """A ref to a node with a NaN coordinate is dropped like a ref to a
    missing node: the square still closes and its bbox stays finite."""
    tags = {"boundary": "administrative", "name": "some_name", "admin_level": "11"}
    nodes, ways, rels = _square_boundary_tables(spark, tags)
    nodes.append((5, float("nan"), 13.5, {}))
    ways[0] = (11, [1, 5, 2], {})
    t = make_tables(spark, nodes=nodes, ways=ways, relations=rels)
    rows = boundaries(t, levels=[11]).collect()
    assert len(rows) == 1
    assert len(rows[0]["polygons"][0][0]) == 5
    assert (rows[0]["sw_lon"], rows[0]["sw_lat"]) == (13.0, 52.0)
    assert (rows[0]["ne_lon"], rows[0]["ne_lat"]) == (14.0, 53.0)


def test_boundary_wrong_tags_dropped(spark):
    # admin.rs:120-132
    tags = {"boundary": "wrong", "name": "some_name", "admin_level": "11"}
    nodes, ways, rels = _square_boundary_tables(spark, tags)
    t = make_tables(spark, nodes=nodes, ways=ways, relations=rels)
    assert boundaries(t, levels=[11]).count() == 0


def test_boundary_unparseable_level_dropped(spark):
    # admin.rs:26 parse().ok()? — non-numeric admin_level drops the row.
    # Seed via a second valid relation so the closure is non-empty.
    tags_ok = {"boundary": "administrative", "name": "a", "admin_level": "11"}
    n1, w1, r1 = _square_boundary_tables(spark, tags_ok, offset=13.0, ids_base=0)
    tags_bad = {"boundary": "administrative", "name": "b", "admin_level": "11"}
    n2, w2, r2 = _square_boundary_tables(spark, tags_bad, offset=15.0, ids_base=100)
    # make the second relation's level unparseable AFTER matching would occur:
    # it must not match the level filter either (non-numeric never matches "11")
    r2 = [(r2[0][0], r2[0][1], {"boundary": "administrative", "name": "b", "admin_level": "x"})]
    t = make_tables(spark, nodes=n1 + n2, ways=w1 + w2, relations=r1 + r2)
    rows = boundaries(t, levels=[11]).collect()
    assert [r["name"] for r in rows] == ["a"]


def test_dependency_relation_surfaces_in_output(spark):
    """admin.rs:18 iterates the whole closure: an administrative relation
    pulled in as a *member* of a matched relation is also emitted, even at
    a different level — reference semantics preserved exactly."""
    tags_child = {"boundary": "administrative", "name": "child", "admin_level": "12"}
    n1, w1, r1 = _square_boundary_tables(spark, tags_child, offset=13.0, ids_base=0)
    tags_parent = {"boundary": "administrative", "name": "parent", "admin_level": "11"}
    n2, w2, r2 = _square_boundary_tables(spark, tags_parent, offset=15.0, ids_base=100)
    # parent also references the child relation
    r2 = [(r2[0][0], r2[0][1] + [("relation", r1[0][0], "subarea")], r2[0][2])]
    t = make_tables(spark, nodes=n1 + n2, ways=w1 + w2, relations=r1 + r2)
    rows = boundaries(t, levels=[11]).collect()
    assert sorted(r["name"] for r in rows) == ["child", "parent"]


def test_assemble_group_kernel_degenerate_groups():
    """`_assemble_group` driven as plain pandas, no Spark: one closed
    way, an unclosable chain, None ids, inner-only members and
    degenerate 2-point holes. The empty result keeps the kernel's column
    order."""
    import pandas as pd

    from osm_pbf2json_spark.operators.boundaries import _assemble_group

    cols = ["relation_id", "name", "admin_level", "sw_lon", "sw_lat", "ne_lon", "ne_lat", "polygons"]

    def run(*members):
        pdf = pd.DataFrame(
            [(7, "R", 8, *m) for m in members],
            columns=["relation_id", "name", "admin_level", "role", "pos", "ids", "_lons", "_lats"],
        )
        out = _assemble_group(pdf)
        assert list(out.columns) == cols
        return out

    def ring_sizes(out):
        return [[len(ring) for ring in poly] for poly in out["polygons"][0]]

    square = ([1, 2, 3, 4, 1], [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0])
    closed = run(("outer", 0, *square))
    assert len(closed) == 1 and ring_sizes(closed) == [[5]]
    bbox = tuple(closed[c][0] for c in ("sw_lon", "sw_lat", "ne_lon", "ne_lat"))
    assert bbox == (0.0, 0.0, 1.0, 1.0)
    assert len(run(("outer", 0, [1, 2, 3], [0.0, 1.0, 1.0], [0.0, 0.0, 1.0]))) == 0
    assert len(run(("outer", 0, None, None, None))) == 0
    assert len(run(("inner", 0, *square))) == 0
    for hole in ([5, 6], [5, 6, 5]):
        xy = [0.2, 0.3, 0.2][: len(hole)]
        holed = run(("outer", 0, *square), ("inner", 1, hole, xy, xy))
        assert len(holed) == 1 and ring_sizes(holed) == [[5]], hole
