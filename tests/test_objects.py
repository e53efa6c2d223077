"""objects() end-to-end parity with the reference integration tests
(/root/reference/tests/integration_test.rs:16-44, doc test mod.rs:194-204)
and the relation-resolution goldens (mod.rs:250-436) rebuilt as tiny
DataFrames."""

import pytest

from osm_pbf2json_spark.operators.closure import EntityTables
from osm_pbf2json_spark.operators.objects import objects

NODE_SCHEMA = "id long, lat double, lon double, tags map<string,string>"
WAY_SCHEMA = "id long, refs array<long>, tags map<string,string>"
REL_SCHEMA = (
    "id long, members array<struct<mtype:string,mid:bigint,role:string>>, "
    "tags map<string,string>"
)


def make_tables(spark, nodes=(), ways=(), relations=()):
    return EntityTables(
        nodes=spark.createDataFrame(list(nodes), NODE_SCHEMA),
        ways=spark.createDataFrame(list(ways), WAY_SCHEMA),
        relations=spark.createDataFrame(list(relations), REL_SCHEMA),
    )


def test_find_fountains_or_townhalls(alexanderplatz):
    # integration_test.rs:16-32 → 4 objects, each (fountain ∧ tourism) ∨ townhall
    rows = objects(alexanderplatz, "amenity~fountain+tourism,amenity~townhall").collect()
    assert len(rows) == 4
    for r in rows:
        tags = r["tags"]
        assert (tags.get("amenity") == "fountain" and "tourism" in tags) or tags.get(
            "amenity"
        ) == "townhall"


def test_find_bike_parking_for_six(alexanderplatz):
    # integration_test.rs:34-44 → 14 objects
    rows = objects(alexanderplatz, "amenity~bicycle_parking+capacity~6").collect()
    assert len(rows) == 14


def test_cobblestone_highways(alexanderplatz):
    # doc test mod.rs:194-204 → 4 objects
    rows = objects(alexanderplatz, "surface~cobblestone+highway").collect()
    assert len(rows) == 4


def test_output_order_is_type_then_id(alexanderplatz):
    # O1: BTreeMap order — node < way < relation, then id (mod.rs:218)
    rows = objects(alexanderplatz, "amenity~fountain+tourism,amenity~townhall").collect()
    rank = {"node": 0, "way": 1, "relation": 2}
    keys = [(rank[r["type"]], r["id"]) for r in rows]
    assert keys == sorted(keys)


def test_node_geo_is_point(alexanderplatz):
    rows = objects(alexanderplatz, "amenity~fountain+tourism,amenity~townhall").collect()
    for r in rows:
        if r["type"] == "node":
            assert r["lon"] is not None and r["lat"] is not None
            assert r["centroid"] is None and r["bounds"] is None
        else:
            assert r["lon"] is None and r["lat"] is None


def test_way_geometry_golden(spark):
    """Way centroid/bounds from resolved nodes; missing refs dropped
    silently (mod.rs:36-47), and so are refs to nodes with a NULL or NaN
    coordinate."""
    t = make_tables(
        spark,
        nodes=[
            (1, 49.0, 5.0, {}),
            (2, 50.0, 6.0, {}),
            (3, 49.0, 7.0, {}),
            (4, float("nan"), 8.0, {}),
            (5, 49.5, None, {}),
        ],
        ways=[(10, [1, 4, 2, 3, 5, 999], {"highway": "residential"})],
    )
    row = objects(t, "highway").collect()[0]
    assert row["centroid"]["lon"] == pytest.approx(6.0, abs=1e-5)
    assert row["centroid"]["lat"] == pytest.approx(49.5, abs=1e-5)
    b = row["bounds"]
    assert (b["e"], b["n"], b["s"], b["w"]) == (7.0, 50.0, 49.0, 5.0)


def test_closed_way_polygon_centroid(spark):
    t = make_tables(
        spark,
        nodes=[(1, 49.0, 5.0, {}), (2, 50.0, 6.0, {}), (3, 49.0, 7.0, {})],
        ways=[(10, [1, 2, 3, 1], {"highway": "x"})],
    )
    row = objects(t, "highway").collect()[0]
    assert row["centroid"]["lat"] == pytest.approx(49.333333, abs=1e-5)


def test_relation_with_one_way_hull(spark):
    # mod.rs:309-337: closed triangle from one way member
    t = make_tables(
        spark,
        nodes=[(1, 50.0, 9.0, {}), (2, 51.0, 9.0, {}), (3, 51.0, 10.0, {})],
        ways=[(42, [1, 2, 3], {})],
        relations=[(43, [("way", 42, "something")], {"x": "y"})],
    )
    row = objects(t, "x", retain_coordinates=True).collect()[0]
    coords = [(c["lon"], c["lat"]) for c in row["coordinates"]]
    assert coords == [(9.0, 50.0), (9.0, 51.0), (10.0, 51.0), (9.0, 50.0)]


def test_relation_with_multiple_nodes_hull(spark):
    # mod.rs:352-386: interior node dropped, closed rectangle; a node
    # member with a NaN coordinate counts as missing
    nodes = [
        (1, 52.0, 6.0, {}),
        (2, 50.0, 6.0, {}),
        (3, 50.0, 8.0, {}),
        (4, 52.0, 8.0, {}),
        (5, 51.0, 7.0, {}),
        (6, 53.0, float("nan"), {}),
    ]
    members = [("node", i, "something") for i in (1, 2, 3, 4, 5, 6)]
    t = make_tables(spark, nodes=nodes, relations=[(42, members, {"x": "y"})])
    row = objects(t, "x", retain_coordinates=True).collect()[0]
    coords = [(c["lon"], c["lat"]) for c in row["coordinates"]]
    assert coords == [
        (6.0, 50.0),
        (8.0, 50.0),
        (8.0, 52.0),
        (6.0, 52.0),
        (6.0, 50.0),
    ]


def test_nested_relations(spark):
    # mod.rs:388-414: parent hull over child hull + node
    t = make_tables(
        spark,
        nodes=[(1, 52.0, 6.0, {}), (2, 50.0, 6.0, {}), (43, 52.0, 8.0, {})],
        relations=[
            (42, [("node", 1, "s"), ("node", 2, "s")], {}),
            (44, [("relation", 42, "s"), ("node", 43, "s")], {"x": "y"}),
        ],
    )
    row = objects(t, "x", retain_coordinates=True).collect()[0]
    coords = [(c["lon"], c["lat"]) for c in row["coordinates"]]
    assert coords == [(6.0, 50.0), (8.0, 52.0), (6.0, 52.0), (6.0, 50.0)]


def test_relation_resolve_matches_recursion(spark):
    """J2 against the reference's recursion (mod.rs:49-75): on a seeded
    random acyclic relation graph, `resolve_relation_coords` equals a
    memoized recursion that joins member coordinates in member order and
    takes the convex hull at every level. The graph has diamonds, a
    relation whose members are all relations, a member relation missing
    from the input, an empty member list and node members without a
    location."""
    import math

    import numpy as np

    from osm_pbf2json_spark.functions.geometry import convex_hull
    from osm_pbf2json_spark.operators.resolve import (
        resolve_relation_coords, resolve_way_coords,
    )

    rng = np.random.Generator(np.random.PCG64(31))
    nodes = [
        (i, float(rng.uniform(50, 51)), float(rng.uniform(6, 7)), {})
        for i in range(1, 41)
    ]
    nodes += [(41, float("nan"), 6.5, {}), (42, None, 6.5, {})]
    ways = [
        (100 + w, [int(r) for r in rng.integers(1, 44, int(rng.integers(0, 5)))], {})
        for w in range(12)
    ]
    # topological slot j → relation id; ids are shuffled so a child's id
    # is as often above its parent's as below
    n_rel = 20
    rid = [200 + int(p) for p in rng.permutation(n_rel)]

    def random_member(j):
        kind = rng.choice(["node", "way", "relation"] if j else ["node", "way"])
        if kind == "node":
            return ("node", int(rng.integers(1, 43)), "")
        if kind == "way":
            return ("way", int(rng.integers(100, 113)), "")  # 112: no such way
        return ("relation", rid[int(rng.integers(0, j))], "")

    members = {
        rid[0]: [],
        rid[1]: [("node", 1, ""), ("node", 41, ""), ("way", 100, "")],
        rid[2]: [("relation", rid[1], ""), ("node", 42, ""), ("node", 2, "")],
        rid[3]: [("way", 101, ""), ("relation", rid[1], "")],
        # diamond over rid[1], all members relations, one of them missing
        rid[4]: [("relation", rid[2], ""), ("relation", 999, ""), ("relation", rid[3], "")],
    }
    for j in range(5, n_rel):
        members[rid[j]] = [random_member(j) for _ in range(int(rng.integers(1, 6)))]
    members[rid[n_rel - 1]].append(("relation", rid[4], ""))

    node_xy = {
        i: (lon, lat) for i, lat, lon, _ in nodes
        if lat is not None and not math.isnan(lat) and not math.isnan(lon)
    }
    way_xy = {w: [node_xy[r] for r in refs if r in node_xy] for w, refs, _ in ways}
    memo: dict = {}

    def coords(r):
        if r not in memo:
            flat = []
            for mtype, mid, _ in members[r]:
                if mtype == "node" and mid in node_xy:
                    flat.append(node_xy[mid])
                elif mtype == "way" and mid in way_xy:
                    flat += way_xy[mid]
                elif mtype == "relation" and mid in members:
                    flat += coords(mid)
            memo[r] = [(float(x), float(y)) for x, y in convex_hull(flat)]
        return memo[r]

    t = make_tables(
        spark, nodes=nodes, ways=ways,
        relations=[(r, m, {}) for r, m in members.items()],
    )
    way_coords = resolve_way_coords(t.ways, t.nodes)
    got = {
        row["id"]: [(c["lon"], c["lat"]) for c in row["coords"]]
        for row in resolve_relation_coords(t.relations, way_coords, t.nodes).collect()
    }
    assert got == {r: coords(r) for r in members}


def test_repeat_objects_call_compiles_no_classes(spark):
    # one objects() call generates more classes than Spark's default
    # codegen cache (100 entries) holds; get_session sizes the cache so a
    # repeat call reuses every one. AQE is off because its re-planning
    # depends on which stage finishes first, and a variant plan is new code.
    t = make_tables(
        spark,
        nodes=[(1, 52.0, 6.0, {}), (2, 50.0, 6.0, {}), (43, 52.0, 8.0, {})],
        relations=[
            (42, [("node", 1, "s"), ("node", 2, "s")], {}),
            (44, [("relation", 42, "s"), ("node", 43, "s")], {"x": "y"}),
        ],
    )
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        objects(t, "x", retain_coordinates=True).collect()
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        objects(t, "x", retain_coordinates=True).collect()
        compiled = compiles.METRIC_COMPILATION_TIME().getCount() - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert compiled == 0


def test_nested_relation_cycle(spark):
    # mod.rs:416-435: cycle tolerated; root resolves to the node only
    t = make_tables(
        spark,
        nodes=[(43, 52.0, 8.0, {})],
        relations=[
            (42, [("relation", 44, "s")], {}),
            (44, [("relation", 42, "s"), ("node", 43, "s")], {"x": "y"}),
        ],
    )
    row = objects(t, "x", retain_coordinates=True).collect()[0]
    coords = [(c["lon"], c["lat"]) for c in row["coordinates"]]
    assert coords == [(8.0, 52.0)]


def test_way_with_no_resolvable_refs_has_null_geo(spark):
    # all refs missing → empty coordinate set → get_geo_info returns
    # (None, None) (geo.rs:339-346); row still emitted with null geometry
    t = make_tables(spark, ways=[(10, [991, 992], {"highway": "x"})])
    row = objects(t, "highway").collect()[0]
    assert row["centroid"] is None and row["bounds"] is None


def test_no_groups_returns_everything(spark):
    t = make_tables(
        spark,
        nodes=[(1, 49.0, 5.0, {"a": "b"}), (2, 50.0, 6.0, {})],
        ways=[(10, [1, 2], {})],
    )
    assert objects(t, None).count() == 3


def test_unlocated_nodes_are_not_emitted(spark):
    """A tagged node with a NaN or NULL coordinate has no location, so it
    gets no output line; every line that is written is strict JSON."""
    import json

    from osm_pbf2json_spark.sinks import objects_json_lines

    def no_constants(name):
        raise ValueError(f"not JSON: {name}")

    t = make_tables(
        spark,
        nodes=[
            (1, float("nan"), 13.0, {"amenity": "x"}),
            (2, None, 13.0, {"amenity": "x"}),
            (3, 52.5, 13.4, {"amenity": "x"}),
        ],
    )
    lines = [r["value"] for r in objects_json_lines(objects(t, "amenity~x")).collect()]
    got = [json.loads(line, parse_constant=no_constants) for line in lines]
    assert [(o["id"], o["lon"], o["lat"]) for o in got] == [(3, 13.4, 52.5)]


def test_geo_info_batch_kernel_contract():
    """`_geo_info_batch` driven as plain pandas, no Spark, equals the
    scalar `geometry.geo_info` row by row: an empty batch, all-None rows,
    empty arrays between non-empty rows (the flat offsets must skip
    them), one point, two equal points, an open line, a closed zero-area
    ring and a closed square. The batch sums with reduceat, the scalar
    with `ndarray.sum`, so a centroid may differ in its last ulp (the
    zero-area ring does). `flat_arrays`, which flattens the batch, treats
    None as empty and keeps int64 values exact."""
    import numpy as np
    import pandas as pd

    from osm_pbf2json_spark.functions.geometry import flat_arrays, geo_info
    from osm_pbf2json_spark.operators.objects import _geo_info_batch

    def check(rows):  # each row None or a list of (lon, lat)
        def col(k):
            return pd.Series(
                [None if r is None else np.array([p[k] for p in r], np.float64) for r in rows],
                dtype=object,
            )

        out = _geo_info_batch(col(0), col(1))
        assert list(out.columns) == ["centroid", "bounds"] and len(out) == len(rows)
        for r, cent, bnd in zip(rows, out["centroid"], out["bounds"]):
            info = None if r is None else geo_info(r)
            if info is None:
                assert cent is None and bnd is None
            else:
                near = [pytest.approx(v, rel=1e-15) for v in info[:2]]
                assert cent == {"lon": near[0], "lat": near[1]}
                assert bnd == dict(zip("ensw", info[2:]))

    line = [(9.0, 50.0), (9.0, 51.0), (10.0, 51.0)]
    square = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    check([])
    check([None, None])
    check([line, [], None, square, []])
    check([[(1.5, 2.5)]])
    check([[(1.0, 1.0), (1.0, 1.0)]])
    check([line])
    check([[(0.0, 0.0), (1.0, 1.0), (3.0, 3.0), (0.0, 0.0)]])
    check([square])

    counts, values = flat_arrays(
        pd.Series([None, np.array([], np.int64), [2**62 + 1, -3]], dtype=object), np.int64
    )
    assert counts.tolist() == [0, 0, 2]
    assert values.dtype == np.int64 and values.tolist() == [2**62 + 1, -3]
    counts, values = flat_arrays(pd.Series([], dtype=object), np.float64)
    assert counts.dtype == np.int64 and len(counts) == 0
    assert values.dtype == np.float64 and len(values) == 0
