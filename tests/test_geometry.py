"""Geometry kernel goldens ported from the reference unit tests:
geo.rs:358-427, mod.rs:250-436, streets.rs:355-368. Float tolerance uses
the reference's EQ_PRECISION = 1e-5 (geo.rs:7) unless the reference test
itself asserts to f64::EPSILON, in which case we use 1e-12."""

import math

import numpy as np
import pytest

from osm_pbf2json_spark.functions import geometry as g

EPS = 1e-12


def test_line_centroid():
    # geo.rs:369-377
    c = g.line_centroid([(9.0, 50.0), (9.0, 51.0), (10.0, 51.0)])
    assert c == pytest.approx((9.25, 50.75), abs=EPS)


def test_geo_info_open():
    # geo.rs:395-408
    info = g.geo_info([(5.0, 49.0), (6.0, 50.0), (7.0, 49.0)])
    lon, lat, e, n, s, w = info
    assert (lon, lat) == pytest.approx((6.0, 49.5), abs=1e-5)
    assert (e, n, s, w) == (7.0, 50.0, 49.0, 5.0)


def test_geo_info_closed():
    # geo.rs:410-426
    info = g.geo_info([(5.0, 49.0), (6.0, 50.0), (7.0, 49.0), (5.0, 49.0)])
    lon, lat, e, n, s, w = info
    assert (lon, lat) == pytest.approx((6.0, 49.333333), abs=1e-5)
    assert (e, n, s, w) == (7.0, 50.0, 49.0, 5.0)


def test_midpoint():
    # geo.rs:379-393: two segments, centroid of all points → closest point
    coords = [(9.0, 50.0), (9.0, 51.0), (10.0, 51.0), (12.0, 51.0), (12.0, 50.0)]
    assert g.midpoint(coords) == pytest.approx((10.0, 51.0), abs=EPS)


def test_street_length_bbox_diagonal():
    # streets.rs:355-368: 2 + sqrt(2), NOT polyline length
    total = g.bbox_diag_length([(0.0, 1.0), (0.0, 3.0)]) + g.bbox_diag_length(
        [(0.0, 3.0), (1.0, 4.0)]
    )
    assert total == pytest.approx(2.0 + math.sqrt(2.0), abs=EPS)


# --- convex hull / compound coordinates (mod.rs tests) ----------------------


def test_hull_empty():
    # mod.rs:300-307
    assert g.compound_coordinates([]) == []


def test_hull_single_point():
    # mod.rs:339-350: single point passes through unclosed
    assert g.compound_coordinates([(5.0, 49.0)]) == [(5.0, 49.0)]


def test_hull_triangle_closed():
    # mod.rs:309-337: 3 points → input order, closed
    got = g.compound_coordinates([(9.0, 50.0), (9.0, 51.0), (10.0, 51.0)])
    assert got == [(9.0, 50.0), (9.0, 51.0), (10.0, 51.0), (9.0, 50.0)]


def test_hull_rectangle_drops_interior():
    # mod.rs:352-386: interior point dropped, CCW from min
    got = g.compound_coordinates(
        [(6.0, 52.0), (6.0, 50.0), (8.0, 50.0), (8.0, 52.0), (7.0, 51.0)]
    )
    assert got == [(6.0, 50.0), (8.0, 50.0), (8.0, 52.0), (6.0, 52.0), (6.0, 50.0)]


def test_hull_nested_relation_composition():
    # mod.rs:388-414: child hull (2 pts, closed) + node, re-hulled
    child = g.compound_coordinates([(6.0, 52.0), (6.0, 50.0)])
    assert child == [(6.0, 52.0), (6.0, 50.0), (6.0, 52.0)]
    parent = g.compound_coordinates(child + [(8.0, 52.0)])
    assert parent == [(6.0, 50.0), (8.0, 52.0), (6.0, 52.0), (6.0, 50.0)]


# --- point in polygon / intersections ---------------------------------------


SQUARE = [np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)])]
SQUARE_WITH_HOLE = [
    SQUARE[0],
    np.array([(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]),
]


def test_points_in_polygons():
    pts = np.array([(2.0, 2.0), (5.0, 5.0), (-1.0, 2.0), (3.5, 0.5)])
    got = g.points_in_polygons(pts, [SQUARE])
    assert list(got) == [True, False, False, True]


def test_points_in_polygon_with_hole():
    pts = np.array([(2.0, 2.0), (0.5, 0.5), (3.5, 3.5)])
    got = g.points_in_polygons(pts, [SQUARE_WITH_HOLE])
    assert list(got) == [False, True, True]


def test_segments_intersect_crossing_and_touching():
    a = np.array([[0.0, 1.0, 3.0, 1.0]])
    b = np.array([[2.0, 0.0, 2.0, 3.0], [3.0, 1.0, 2.0, 3.0], [5.0, 5.0, 6.0, 6.0]])
    got = g.segments_intersect(a, b)[0]
    assert list(got) == [True, True, False]  # crossing, touching, disjoint


def test_linestring_intersects_polygon_cases():
    # crossing boundary
    assert g.linestring_intersects_polygon([(-1.0, 2.0), (2.0, 2.0)], [SQUARE])
    # fully inside (containment counts as intersecting)
    assert g.linestring_intersects_polygon([(1.0, 1.0), (2.0, 2.0)], [SQUARE])
    # fully outside
    assert not g.linestring_intersects_polygon([(5.0, 5.0), (6.0, 6.0)], [SQUARE])


# --- ring stitching (A10 analog, admin.rs:89-118 shape) ----------------------


def test_stitch_square_ring():
    # four ways forming a closed square, mixed directions
    ids = [[1, 2], [3, 2], [3, 4], [4, 1]]
    xy = [
        [(13.0, 52.0), (14.0, 52.0)],
        [(14.0, 53.0), (14.0, 52.0)],
        [(14.0, 53.0), (13.0, 53.0)],
        [(13.0, 53.0), (13.0, 52.0)],
    ]
    rings = g.stitch_rings(ids, xy)
    assert len(rings) == 1
    ring = rings[0]
    assert len(ring) == 5  # closed: 4 corners + repeat
    assert tuple(ring[0]) == tuple(ring[-1])


def test_stitch_drops_unclosed():
    ids = [[1, 2], [2, 3]]
    xy = [[(0.0, 0.0), (1.0, 0.0)], [(1.0, 0.0), (1.0, 1.0)]]
    assert g.stitch_rings(ids, xy) == []


def test_assemble_multipolygon_hole_assignment():
    outer = [np.array(SQUARE[0])]
    inner = [np.array(SQUARE_WITH_HOLE[1])]
    polys = g.assemble_multipolygon(outer, inner)
    assert len(polys) == 1
    assert len(polys[0]) == 2

    def sq(x0, y0, x1, y1):
        return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])

    # two overlapping outers: a hole in both goes to the first, a hole
    # only in the second goes there, a hole in neither is dropped
    outer = [sq(0, 0, 4, 4), sq(2, 0, 8, 4)]
    both, second, neither = sq(2.5, 1, 3, 2), sq(6, 1, 7, 2), sq(10, 10, 11, 11)
    polys = g.assemble_multipolygon(outer, [neither, second, both])
    assert [len(p) for p in polys] == [2, 2]
    assert polys[0][1] is both and polys[1][1] is second


def test_pip_contains_col_matches_numpy_kernel(spark):
    """The Catalyst ray-cast must agree with points_in_polygons bit-for-bit
    on polygons with holes, multiple parts, and degenerate rings."""
    import numpy as np
    import pyspark.sql.functions as F

    from osm_pbf2json_spark.functions.geometry import (
        pip_contains_col,
        points_in_polygons,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    outer = [(0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (0.0, 6.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)]
    tri = [(8.0, 8.0), (9.5, 8.2), (8.7, 9.6), (8.0, 8.0)]
    degenerate = [(1.0, 1.0), (2.0, 2.0)]  # <3 points: never contains
    polysets = [
        [[outer, hole]],            # square with hole
        [[outer, hole], [tri]],     # multipolygon
        [[degenerate]],             # degenerate only
        [],                         # empty
    ]
    n = 400
    px = rng.uniform(-1, 11, n)
    py = rng.uniform(-1, 11, n)
    pts_df = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n)],
        "id long, lon double, lat double",
    )
    for polys in polysets:
        want = points_in_polygons(
            np.stack([px, py], axis=1),
            [[np.array(r, np.float64) for r in rings] for rings in polys],
        )
        pdf = spark.createDataFrame(
            [([[ [{"lon": x, "lat": y} for x, y in ring] for ring in rings] for rings in polys],)],
            "polygons array<array<array<struct<lon:double,lat:double>>>>",
        )
        got_rows = pts_df.crossJoin(pdf).select(
            "id",
            pip_contains_col(F.col("lon"), F.col("lat"), F.col("polygons")).alias("inside"),
        ).collect()
        got = np.array([r["inside"] for r in sorted(got_rows, key=lambda r: r["id"])])
        assert (got == want).all(), f"mismatch for {len(polys)}-polygon set"
