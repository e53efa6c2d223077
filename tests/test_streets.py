"""streets() parity: unit goldens from streets.rs tests + integration
goldens from integration_test.rs:46-89."""

import json
import math

import pytest

from osm_pbf2json_spark.operators.streets import extract_streets, streets
from osm_pbf2json_spark.sinks import streets_geojson, streets_json_lines
from tests.test_objects import make_tables


def _mini_streets(spark, nodes, ways):
    t = make_tables(spark, nodes=nodes, ways=ways)
    return extract_streets(t.ways, t.nodes).collect()


def test_one_street_with_three_segments(spark):
    # streets.rs:283-313
    nodes = [(1, 52.0, 13.0, {}), (2, 52.0, 14.0, {}), (3, 53.0, 14.0, {}), (4, 53.0, 15.0, {})]
    ways = [
        (42, [1, 2], {"name": "street a"}),
        (41, [2, 3], {"name": "street a"}),
        (43, [3, 4], {"name": "street a"}),
    ]
    rows = _mini_streets(spark, nodes, ways)
    assert len(rows) == 1
    segs = {s["way_id"]: [(c["lon"], c["lat"]) for c in s["coords"]] for s in rows[0]["segments"]}
    assert segs == {
        42: [(13.0, 52.0), (14.0, 52.0)],
        41: [(14.0, 52.0), (14.0, 53.0)],
        43: [(14.0, 53.0), (15.0, 53.0)],
    }
    assert rows[0]["id"] == 42 ^ 41 ^ 43


def test_connected_ways_with_distinct_names(spark):
    # streets.rs:315-330
    nodes = [(1, 52.0, 13.0, {}), (2, 52.0, 14.0, {}), (3, 53.0, 14.0, {})]
    ways = [(42, [1, 2], {"name": "street a"}), (41, [2, 3], {"name": "street b"})]
    assert len(_mini_streets(spark, nodes, ways)) == 2


def test_cluster_unrelated_segments_split(spark):
    # streets.rs:371-377 (distance 1 > pad 0.002 → two streets)
    nodes = [(1, 1.0, 0.0, {}), (2, 3.0, 0.0, {}), (3, 1.0, 1.0, {}), (4, 3.0, 1.0, {})]
    ways = [(42, [1, 2], {"name": "s"}), (43, [3, 4], {"name": "s"})]
    assert len(_mini_streets(spark, nodes, ways)) == 2


def test_cluster_bbox_overlap_without_touching(spark):
    # streets.rs:401-408: bbox overlap suffices, no geometric intersection
    nodes = [(1, 1.0, 1.0, {}), (2, 3.0, 3.0, {}), (3, 0.0, 2.0, {}), (4, 2.0, 3.0, {})]
    ways = [(42, [1, 2], {"name": "s"}), (43, [3, 4], {"name": "s"})]
    assert len(_mini_streets(spark, nodes, ways)) == 1


def test_street_length_and_loc(spark):
    # street_length golden (streets.rs:355-368) through the pipeline
    nodes = [(1, 1.0, 0.0, {}), (2, 3.0, 0.0, {}), (3, 4.0, 1.0, {})]
    ways = [(42, [1, 2], {"name": "s"}), (43, [2, 3], {"name": "s"})]
    rows = _mini_streets(spark, nodes, ways)
    assert len(rows) == 1
    assert rows[0]["length"] == pytest.approx(2.0 + math.sqrt(2.0), abs=1e-12)


def test_unlocated_nodes_are_dropped_refs(spark):
    """A node whose lon or lat is NULL or NaN (parquet node tables can
    hold them) resolves like a missing node: its ref is dropped and the
    pipeline still clusters the street."""
    nan = float("nan")
    nodes = [
        (1, 0.0, 0.0, {}), (2, 0.0, 0.001, {}),
        (3, 0.0, 0.002, {}), (4, 0.0, nan, {}), (5, nan, 0.003, {}),
        (6, None, 0.003, {}), (7, 0.0, 0.004, {}),
    ]
    hw = {"highway": "residential", "name": "A"}
    ways = [(42, [1, 2], hw), (43, [3, 4, 5, 6, 7], hw)]
    rows = streets(make_tables(spark, nodes=nodes, ways=ways)).collect()
    assert len(rows) == 1
    segs = {s["way_id"]: [(c["lon"], c["lat"]) for c in s["coords"]] for s in rows[0]["segments"]}
    assert segs == {42: [(0.0, 0.0), (0.001, 0.0)], 43: [(0.002, 0.0), (0.004, 0.0)]}


def test_streets_alexanderstrasse_geojson(alexanderplatz):
    # integration_test.rs:46-59 → exactly 1 Feature
    df = streets(alexanderplatz, name="Alexanderstraße")
    fc = json.loads(streets_geojson(df))
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 1
    assert fc["features"][0]["geometry"]["type"] == "MultiLineString"
    assert fc["features"][0]["properties"]["name"] == "Alexanderstraße"


def test_rosa_luxemburg_street(alexanderplatz):
    # integration_test.rs:61-72 → 1 JSON line containing the name
    df = streets(alexanderplatz, name="Rosa-Luxemburg-Straße")
    lines = [r["value"] for r in streets_json_lines(df).collect()]
    assert len(lines) == 1
    assert "Rosa-Luxemburg-Straße" in lines[0]
    parsed = json.loads(lines[0])
    assert set(parsed.keys()) == {"id", "name", "length", "loc"}


def test_split_street_by_boundary(wilhelmstrasse):
    # integration_test.rs:74-89 → 2 streets: Kreuzberg + Mitte
    df = streets(wilhelmstrasse, name="Wilhelmstraße", boundary=10)
    lines = sorted(r["value"] for r in streets_json_lines(df).collect())
    assert len(lines) == 2
    assert "Wilhelmstraße" in lines[0] and "Kreuzberg" in lines[0]
    assert "Wilhelmstraße" in lines[1] and "Mitte" in lines[1]


def test_split_street_by_boundary_distributed_path(wilhelmstrasse):
    """Forcing the cell-join split (gate=0) must reproduce the broadcast
    path's golden exactly (integration_test.rs:74-89 parity)."""
    df = streets(wilhelmstrasse, name="Wilhelmstraße", boundary=10,
                 max_broadcast_boundaries=0)
    rows = df.collect()
    got = sorted((r["name"], r["boundary"], r["id"], round(r["length"], 9)) for r in rows)
    ref = streets(wilhelmstrasse, name="Wilhelmstraße", boundary=10).collect()
    want = sorted((r["name"], r["boundary"], r["id"], round(r["length"], 9)) for r in ref)
    assert got == want and len(got) == 2
    assert {r["boundary"] for r in rows} == {"Kreuzberg", "Mitte"}


def test_split_streets_by_cells_scale_parity(spark):
    """2000 synthetic square boundaries x 600 streets: the distributed
    cell-join split matches the broadcast kernel without collecting the
    polygon side to the driver."""
    import numpy as np

    from osm_pbf2json_spark.operators.streets import (
        STREET_SCHEMA,
        _boundaries_flat,
        split_streets_broadcast,
        split_streets_by_cells,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    n_b, n_s = 2000, 600
    brows = []
    for k in range(n_b):
        x0 = float((k % 50) * 1.0)
        y0 = float((k // 50) * 1.0)
        ring = [
            {"lon": x0, "lat": y0},
            {"lon": x0 + 0.95, "lat": y0},
            {"lon": x0 + 0.95, "lat": y0 + 0.95},
            {"lon": x0, "lat": y0 + 0.95},
            {"lon": x0, "lat": y0},
        ]
        brows.append(
            (k, f"b{k:04d}", 8, x0, y0, x0 + 0.95, y0 + 0.95, [[ring]])
        )
    bschema = (
        "relation_id long, name string, admin_level int, "
        "sw_lon double, sw_lat double, ne_lon double, ne_lat double, "
        "polygons array<array<array<struct<lon:double,lat:double>>>>"
    )
    bdf = spark.createDataFrame(brows, bschema)

    srows = []
    for i in range(n_s):
        x = float(rng.uniform(0, 50))
        y = float(rng.uniform(0, 40))
        coords = [
            {"lon": x, "lat": y},
            {"lon": x + 0.3, "lat": y + 0.2},
        ]
        srows.append(
            (1000 + i, f"st{i:03d}", None, 0.36, x, y,
             [{"way_id": 1000 + i, "coords": coords}])
        )
    sdf = spark.createDataFrame(srows, STREET_SCHEMA).repartition(8)

    dist = split_streets_by_cells(sdf, bdf)
    bcast = split_streets_broadcast(sdf, _boundaries_flat(bdf).toPandas())
    got = sorted((r["id"], r["name"], r["boundary"]) for r in dist.collect())
    want = sorted((r["id"], r["name"], r["boundary"]) for r in bcast.collect())
    assert got == want and len(got) >= n_s
    assert sum(1 for _, _, b in got if b is not None) > n_s // 2


def test_split_batch_matches_scalar_reference():
    """The batched J4/J5/J7 split kernel (per-boundary vectorized
    intersect + ownership, reduceat group assembly) is row-for-row
    equal to a scalar reference built from linestring_intersects_polygon
    + per-seg line_centroid + _street_row — randomized streets (multi
    segment, single-point and duplicate-way cases) against overlapping
    boundary grids including same-name boundaries (which must merge), a
    boundary with a hole, one whose only ring has 2 points and one with
    empty polygon parts."""
    import numpy as np
    import pandas as pd

    from osm_pbf2json_spark.functions.geometry import (
        line_centroid,
        linestring_intersects_polygon,
    )
    from osm_pbf2json_spark.operators.streets import (
        _parse_boundaries_flat,
        _split_batch,
        _street_row,
    )

    def scalar_split(pdf, bnds, polys, bb):
        n = len(pdf)
        parsed = []
        for r in pdf.to_dict("records"):
            segs = [
                {"way_id": s["way_id"],
                 "xy": np.column_stack([np.asarray(s["lons"], np.float64),
                                        np.asarray(s["lats"], np.float64)])}
                for s in r["segments"]
            ]
            pts = np.vstack([s["xy"] for s in segs])
            parsed.append((r, segs, (pts[:, 0].min(), pts[:, 1].min(),
                                     pts[:, 0].max(), pts[:, 1].max())))
        sb = np.array([p[2] for p in parsed]).reshape(-1, 4)
        cand3 = [
            [k for k in range(len(bnds))
             if bb[k, 0] <= sb[i, 2] and bb[k, 2] >= sb[i, 0]
             and bb[k, 1] <= sb[i, 3] and bb[k, 3] >= sb[i, 1]]
            for i in range(n)
        ]
        cand4 = [
            [k for k in cand3[i]
             if any(linestring_intersects_polygon(s["xy"], polys[k])
                    for s in parsed[i][1])]
            for i in range(n)
        ]
        from osm_pbf2json_spark.functions.geometry import points_in_polygons

        seg_street, seg_objs, cents = [], [], []
        for i, (_, segs, _) in enumerate(parsed):
            if not cand4[i]:
                continue
            for s in segs:
                seg_street.append(i)
                seg_objs.append(s)
                cents.append(line_centroid(s["xy"]))
        rows = []
        if seg_objs:
            m = len(seg_objs)
            seg_street_arr = np.array(seg_street)
            cent_arr = np.array(cents).reshape(-1, 2)
            elig = np.zeros((m, len(bnds)), dtype=bool)
            for i, ks in enumerate(cand4):
                if ks:
                    rr = np.flatnonzero(seg_street_arr == i)
                    elig[np.ix_(rr, ks)] = True
            owner = np.full(m, -1, dtype=np.int64)
            for k in np.flatnonzero(elig.any(axis=0)).tolist():
                idx = np.flatnonzero((owner < 0) & elig[:, k])
                if len(idx):
                    inside = points_in_polygons(cent_arr[idx], polys[k])
                    owner[idx[inside]] = k
            for i, (r, _, _) in enumerate(parsed):
                if not cand4[i]:
                    continue
                groups = {}
                for j in np.flatnonzero(seg_street_arr == i).tolist():
                    o = int(owner[j]) if owner[j] >= 0 else cand4[i][0]
                    groups.setdefault(bnds[o]["name"], []).append(seg_objs[j])
                for bname, members in groups.items():
                    rows.append(_street_row(r["name"], bname, members))
        for i, (r, _, _) in enumerate(parsed):
            if not cand4[i]:
                rows.append(r)
        return rows

    rng = np.random.default_rng(11)
    brows = []
    for k in range(40):
        x0 = float(k % 8) * 1.1
        y0 = float(k // 8) * 1.1
        ring = [{"lon": x0, "lat": y0}, {"lon": x0 + 1.0, "lat": y0},
                {"lon": x0 + 1.0, "lat": y0 + 1.0}, {"lon": x0, "lat": y0 + 1.0},
                {"lon": x0, "lat": y0}]
        brows.append({
            # every 4th pair shares a name -> same-name merge exercised
            "relation_id": k, "name": f"b{k // 2:02d}", "admin_level": 8,
            "sw_lon": x0, "sw_lat": y0, "ne_lon": x0 + 1.0, "ne_lat": y0 + 1.0,
            "polygons": [[ring]],
        })

    def square(x0, y0, x1, y1):
        return [{"lon": x, "lat": y}
                for x, y in ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))]

    # level 7 sorts before the grid, so these own segments where they can
    brows += [
        {"relation_id": 40, "name": "holed", "admin_level": 7,
         "sw_lon": 2.0, "sw_lat": 1.0, "ne_lon": 5.0, "ne_lat": 4.0,
         "polygons": [[square(2.0, 1.0, 5.0, 4.0), square(3.0, 2.0, 4.0, 3.0)]]},
        {"relation_id": 41, "name": "two-point", "admin_level": 7,
         "sw_lon": 6.0, "sw_lat": 1.0, "ne_lon": 7.0, "ne_lat": 2.0,
         "polygons": [[[{"lon": 6.0, "lat": 1.0}, {"lon": 7.0, "lat": 2.0}]]]},
        {"relation_id": 42, "name": "empty-parts", "admin_level": 7,
         "sw_lon": 0.5, "sw_lat": 3.5, "ne_lon": 1.5, "ne_lat": 4.5,
         "polygons": [[], [square(0.5, 3.5, 1.5, 4.5)], []]},
    ]
    bnds = sorted(brows, key=lambda b: (b["admin_level"], b["name"], b["relation_id"]))
    polys = [
        [[np.array([(c["lon"], c["lat"]) for c in ring], np.float64).reshape(-1, 2)
          for ring in rings] for rings in b["polygons"]]
        for b in bnds
    ]
    bb = np.array([[b["sw_lon"], b["sw_lat"], b["ne_lon"], b["ne_lat"]] for b in bnds])
    # the kernel reads the flat boundary layout _boundaries_flat builds
    # JVM-side, in any row order
    cols = ["relation_id", "name", "admin_level", "sw_lon", "sw_lat", "ne_lon", "ne_lat"]
    bframe = pd.DataFrame({
        **{c: [b[c] for b in brows] for c in cols},
        "_plens": [[len(rings) for rings in b["polygons"]] for b in brows],
        "_rlens": [[len(r) for rings in b["polygons"] for r in rings] for b in brows],
        "_bfx": [[c["lon"] for rings in b["polygons"] for r in rings for c in r] for b in brows],
        "_bfy": [[c["lat"] for rings in b["polygons"] for r in rings for c in r] for b in brows],
    })

    rows = []
    for i in range(300):
        nseg = int(rng.integers(1, 4))
        segs = []
        for s in range(nseg):
            npts = int(rng.integers(1, 5))
            x = rng.uniform(0, 9, npts)
            y = rng.uniform(0, 6, npts)
            segs.append({"way_id": int(rng.integers(1, 6)) * 100 + s,
                         "lons": x, "lats": y})
        rows.append({"id": i, "name": f"st{i % 37}", "boundary": None,
                     "length": 0.0, "loc_lon": 0.0, "loc_lat": 0.0,
                     "segments": segs})
    pdf = pd.DataFrame(rows)

    def norm(rs):
        out = []
        for r in rs:
            out.append((
                int(r["id"]), r["name"], r["boundary"],
                round(float(r["length"]), 9),
                round(float(r["loc_lon"]), 9), round(float(r["loc_lat"]), 9),
                tuple(
                    (int(s["way_id"]),
                     tuple(np.round(np.asarray(s["lons"], np.float64), 9)),
                     tuple(np.round(np.asarray(s["lats"], np.float64), 9)))
                    for s in r["segments"]
                ),
            ))
        return sorted(out)

    # the batched kernel consumes the pre-flattened parallel-column
    # layout that _segments_flat_cols builds JVM-side
    flat_pdf = pd.DataFrame(
        {
            "id": pdf["id"], "name": pdf["name"], "boundary": pdf["boundary"],
            "length": pdf["length"],
            "loc_lon": pdf["loc_lon"], "loc_lat": pdf["loc_lat"],
            "_wids": [
                np.array([s["way_id"] for s in segs], np.int64)
                for segs in pdf["segments"]
            ],
            "_npts": [
                np.array([len(s["lons"]) for s in segs], np.int64)
                for segs in pdf["segments"]
            ],
            "_flons": [
                np.concatenate([np.asarray(s["lons"], np.float64) for s in segs])
                if segs else np.zeros(0)
                for segs in pdf["segments"]
            ],
            "_flats": [
                np.concatenate([np.asarray(s["lats"], np.float64) for s in segs])
                if segs else np.zeros(0)
                for segs in pdf["segments"]
            ],
        }
    )
    got = norm(_split_batch(flat_pdf, _parse_boundaries_flat(bframe)).to_dict("records"))
    want = norm(scalar_split(pdf, bnds, polys, bb))
    assert got == want


def test_split_batch_kernel_contract():
    """_split_batch driven as plain pandas (no Spark): an empty batch, one
    row, no boundaries, and a street of single-point segments plus an
    empty one (a NaN head, never inside) each give a street frame."""
    import numpy as np
    import pandas as pd

    from osm_pbf2json_spark.operators.streets import (
        _FLAT_COLS,
        _STREET_COLS,
        _parse_boundaries_flat,
        _split_batch,
    )

    def batch(rows):  # (id, [(way_id, lons, lats), ...])
        return pd.DataFrame({
            "id": [r[0] for r in rows], "name": ["s"] * len(rows),
            "boundary": [None] * len(rows), "length": [0.5] * len(rows),
            "loc_lon": [0.5] * len(rows), "loc_lat": [0.5] * len(rows),
            "_wids": [np.array([g[0] for g in r[1]], np.int64) for r in rows],
            "_npts": [np.array([len(g[1]) for g in r[1]], np.int64) for r in rows],
            "_flons": [np.array([x for g in r[1] for x in g[1]], np.float64) for r in rows],
            "_flats": [np.array([y for g in r[1] for y in g[2]], np.float64) for r in rows],
        }, columns=_FLAT_COLS)

    def bounds(squares):  # (relation_id, name, x0, y0, x1, y1)
        cols = ["relation_id", "name", "admin_level", "sw_lon", "sw_lat", "ne_lon",
                "ne_lat", "_plens", "_rlens", "_bfx", "_bfy"]
        return _parse_boundaries_flat(pd.DataFrame([
            (rid, name, 10, x0, y0, x1, y1, [1], [5],
             [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0])
            for rid, name, x0, y0, x1, y1 in squares
        ], columns=cols))

    def rows(out):
        assert list(out.columns) == _STREET_COLS
        return [
            (r["id"], r["boundary"], r["length"], r["loc_lon"], r["loc_lat"],
             [(g["way_id"], list(g["lons"]), list(g["lats"])) for g in r["segments"]])
            for r in out.to_dict("records")
        ]

    none, one = bounds([]), bounds([(1, "A", 0.0, 0.0, 2.0, 2.0)])
    assert rows(_split_batch(batch([]), none)) == []
    assert rows(_split_batch(batch([]), one)) == []
    line = (5, [(10, [0.5, 1.5], [0.5, 0.5])])
    # no boundaries: the row passes through with its own attributes
    assert rows(_split_batch(batch([line]), none)) == [
        (5, None, 0.5, 0.5, 0.5, [(10, [0.5, 1.5], [0.5, 0.5])])
    ]
    # one row inside A: split output with the A4 length and A5 midpoint
    assert rows(_split_batch(batch([line]), one)) == [
        (10, "A", 1.0, 0.5, 0.5, [(10, [0.5, 1.5], [0.5, 0.5])])
    ]
    # single-point segments have no edges: the head inside A makes A a
    # candidate; the point outside and the empty segment fall back to it
    points = (6, [(11, [0.5], [0.5]), (12, [3.0], [3.0]), (13, [], [])])
    assert rows(_split_batch(batch([points]), one)) == [
        (11 ^ 12 ^ 13, "A", 0.0, 0.5, 0.5,
         [(11, [0.5], [0.5]), (12, [3.0], [3.0]), (13, [], [])])
    ]
    far = (7, [(14, [5.0], [5.0])])
    assert [r[:2] for r in rows(_split_batch(batch([far, points]), one))] == [
        (11 ^ 12 ^ 13, "A"), (7, None)
    ]


def test_union_find_dense_cell_chunked():
    """VERDICT r4 #3: a mega-dense same-name cell (10⁴ co-located
    segments, all within one 0.02° grid cell) must not allocate the
    dense m×m pair matrix — the chunked kernel bounds every boolean
    temporary at ~_PAIR_CHUNK_CELLS cells (a 10⁴² block would be 100 MB;
    the cap keeps peak allocation ~2 MB per temporary) and still
    produces the single connected component streets.rs:125-141 implies
    for mutually overlapping padded bboxes."""
    import tracemalloc

    import numpy as np

    from osm_pbf2json_spark.operators.streets import _union_find_clusters

    rng = np.random.default_rng(11)
    n = 10_000
    # all inside one 0.02° cell → one bucket of 10k segments
    x0 = rng.uniform(0.001, 0.015, n)
    y0 = rng.uniform(0.001, 0.015, n)
    x1 = x0 + rng.uniform(0, 0.003, n)
    y1 = y0 + rng.uniform(0, 0.003, n)
    tracemalloc.start()
    labels = _union_find_clusters(x0, y0, x1, y1)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # bboxes spread over ~0.017° with pad 0.002 → everything chains into
    # one component
    assert len(set(labels.tolist())) == 1
    # the dominant allocations are the O(n) edge arrays; the pair
    # matrices stay chunk-bounded (un-chunked would need >100 MB here)
    assert peak < 400 * 1024 * 1024


def test_union_find_chunked_matches_unchunked(monkeypatch):
    """Forcing a tiny chunk must not change the component labels."""
    import numpy as np

    from osm_pbf2json_spark.operators import streets as st

    rng = np.random.default_rng(5)
    n = 600
    x0 = rng.uniform(0, 0.2, n)
    y0 = rng.uniform(0, 0.2, n)
    x1 = x0 + rng.uniform(0, 0.01, n)
    y1 = y0 + rng.uniform(0, 0.01, n)
    full = st._union_find_clusters(x0, y0, x1, y1)
    monkeypatch.setattr(st, "_PAIR_CHUNK_CELLS", 7)
    tiny = st._union_find_clusters(x0, y0, x1, y1)
    assert (full == tiny).all()


def test_group_midpoints_matches_scalar_midpoint():
    """ADVICE r4: the batched sequential-reduceat group mean can differ
    from the scalar pairwise midpoint() mean in the last ulps; the
    ambiguity screen must recompute any group where that could flip the
    closest-point argmin. Exercised with large groups (>128 points,
    where numpy's pairwise summation actually diverges from reduceat)
    plus exact symmetric ties."""
    import numpy as np

    from osm_pbf2json_spark.functions.geometry import midpoint
    from osm_pbf2json_spark.operators.streets import _group_midpoints

    rng = np.random.default_rng(17)
    groups = []
    for t in range(120):
        m = int(rng.integers(2, 800))
        base = rng.uniform(-180, 180)
        pts = base + rng.standard_normal((m, 2)) * rng.uniform(1e-6, 10)
        groups.append(pts)
    # exact symmetric tie: two points equidistant from the mean — the
    # first-minimal rule must pick the first in both formulations
    groups.append(np.array([[1.0, 0.0], [-1.0, 0.0], [0.5, 0.5], [-0.5, 0.5]]))
    counts = np.array([len(g) for g in groups], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts[:-1])])
    px = np.concatenate([g[:, 0] for g in groups])
    py = np.concatenate([g[:, 1] for g in groups])
    lx, ly = _group_midpoints(px, py, starts, counts)
    for i, g in enumerate(groups):
        ex, ey = midpoint(g)
        assert lx[i] == ex and ly[i] == ey, f"group {i}"


def test_group_midpoints_adversarial_ulp_flip():
    """Constructs groups where the raw reduceat fast path PROVABLY picks
    a different point than the scalar pairwise midpoint() (mixed-
    magnitude sums + two candidates symmetric about the mean, so the
    last-ulp mean difference flips the argmin), then asserts the
    ambiguity screen routes them to the exact scalar recompute."""
    import numpy as np

    from osm_pbf2json_spark.functions.geometry import midpoint
    from osm_pbf2json_spark.operators.streets import _group_midpoints

    rng = np.random.default_rng(0)
    flips = []
    for trial in range(200):
        m = int(rng.integers(130, 400))
        vals = rng.standard_normal(m) * (10.0 ** rng.integers(-3, 4, m))
        pts = np.column_stack([vals, rng.standard_normal(m) * 0.01])
        cx = pts[:, 0].mean()
        D = rng.uniform(0.1, 1.0)
        g = np.vstack([pts, [[cx - D, 0.0], [cx + D, 0.0]]])
        for _ in range(6):
            cx2 = g[:, 0].mean()
            g[-2, 0] = cx2 - D
            g[-1, 0] = cx2 + D
        px, py = g[:, 0].copy(), g[:, 1].copy()
        n = len(g)
        fmx = np.add.reduceat(px, [0])[0] / n
        fmy = np.add.reduceat(py, [0])[0] / n
        d2 = (px - fmx) ** 2 + (py - fmy) ** 2
        fi = int(np.argmin(d2))
        ex, ey = midpoint(g)
        if (px[fi], py[fi]) != (ex, ey):
            flips.append(g)
    # the construction must actually produce fast-path flips, otherwise
    # this test pins nothing
    assert len(flips) >= 1
    counts = np.array([len(g) for g in flips], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts[:-1])])
    px = np.concatenate([g[:, 0] for g in flips])
    py = np.concatenate([g[:, 1] for g in flips])
    lx, ly = _group_midpoints(px, py, starts, counts)
    for i, g in enumerate(flips):
        ex, ey = midpoint(g)
        assert lx[i] == ex and ly[i] == ey, f"flip group {i}"


def test_split_cells_passthrough_only_cells_survive_cogroup(spark):
    """Streets whose owner cell has NO bundle (no boundary anywhere near)
    make the cogroup deliver left groups with no matching right group —
    the Spark 4.1 empty-substitute-batch path that segfaults the Python
    worker when the right schema carries nested array-of-struct columns.
    The flat bundle layout (_plens/_rlens/_bfx/_bfy) must survive it and
    pass such streets through with NULL boundary."""
    from osm_pbf2json_spark.operators.streets import (
        STREET_SCHEMA,
        split_streets_by_cells,
    )

    ring = [
        {"lon": 0.0, "lat": 0.0},
        {"lon": 1.0, "lat": 0.0},
        {"lon": 1.0, "lat": 1.0},
        {"lon": 0.0, "lat": 1.0},
        {"lon": 0.0, "lat": 0.0},
    ]
    bdf = spark.createDataFrame(
        [(1, "b", 8, 0.0, 0.0, 1.0, 1.0, [[ring]])],
        "relation_id long, name string, admin_level int, sw_lon double, "
        "sw_lat double, ne_lon double, ne_lat double, "
        "polygons array<array<array<struct<lon:double,lat:double>>>>",
    )
    srows = [
        # inside the boundary → owned
        (1, "in", None, 0.1, 0.2, 0.2,
         [{"way_id": 1, "coords": [{"lon": 0.2, "lat": 0.2},
                                   {"lon": 0.3, "lat": 0.25}]}]),
    ] + [
        # far away, several distinct owner cells → left-only cogroup
        # groups (empty right batches)
        (10 + i, f"far{i}", None, 0.1, 30.0 + 3.0 * i, 40.0,
         [{"way_id": 10 + i, "coords": [{"lon": 30.0 + 3.0 * i, "lat": 40.0},
                                        {"lon": 30.1 + 3.0 * i, "lat": 40.05}]}])
        for i in range(4)
    ]
    sdf = spark.createDataFrame(srows, STREET_SCHEMA)
    rows = {r["name"]: r["boundary"] for r in split_streets_by_cells(sdf, bdf).collect()}
    assert rows == {"in": "b", "far0": None, "far1": None,
                    "far2": None, "far3": None}


def test_cluster_group_kernel_degenerate_groups():
    """`_cluster_group` driven as plain pandas, no Spark: one row, a
    group whose coordinate arrays are all None or empty, and a one-point
    way. The empty result keeps the kernel's column order."""
    import pandas as pd

    from osm_pbf2json_spark.operators.streets import _cluster_group

    cols = ["id", "name", "boundary", "length", "loc_lon", "loc_lat", "segments"]

    def run(*rows):
        out = _cluster_group(pd.DataFrame(rows, columns=["way_id", "name", "_lons", "_lats"]))
        assert list(out.columns) == cols
        return out

    one = run((7, "a", [0.0, 3.0], [0.0, 4.0]))
    assert len(one) == 1
    assert (one["id"][0], one["length"][0]) == (7, 5.0)
    assert len(run((1, "a", None, None), (2, "a", [], []))) == 0
    pt = run((1, "a", None, None), (2, "a", [0.5], [0.25]))
    assert len(pt) == 1
    assert (pt["id"][0], pt["length"][0], pt["loc_lon"][0], pt["loc_lat"][0]) == (2, 0.0, 0.5, 0.25)
    assert [seg["way_id"] for seg in pt["segments"][0]] == [2]
