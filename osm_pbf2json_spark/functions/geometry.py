"""Vectorized NumPy geometry kernels.

These are the exact-math counterparts of the reference's geometry layer
(`/root/reference/src/lib/geo.rs`, geo crate 0.14 semantics). They run
inside Arrow-batched pandas UDFs / applyInPandas — never per-row Python
over Spark rows. Golden values from the reference unit tests
(`geo.rs:358-427`, `mod.rs:250-436`, `streets.rs:355-368`) are locked in
tests/test_geometry.py.

Conventions: coordinates are (lon, lat) float64 pairs, matching the
reference's ``(f64, f64)`` tuples (x=lon, y=lat).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "line_centroid",
    "polygon_centroid",
    "shape_centroid",
    "bounds",
    "geo_info",
    "convex_hull",
    "compound_coordinates",
    "multipoint_centroid",
    "midpoint",
    "bbox_diag_length",
    "points_in_ring",
    "points_in_polygons",
    "flatten_rings",
    "EdgeTable",
    "segments_intersect",
    "linestring_intersects_polygon",
    "stitch_rings",
    "assemble_multipolygon",
]


def _as_xy(coords) -> np.ndarray:
    a = np.asarray(coords, dtype=np.float64)
    if a.size == 0:
        return a.reshape(0, 2)
    return a.reshape(-1, 2)


def line_centroid(coords) -> tuple[float, float] | None:
    """LineString centroid: per-segment midpoint weighted by segment length.

    Mirrors geo 0.14 ``LineString::centroid`` (golden: geo.rs:369-377 →
    (9.25, 50.75) for [(9,50),(9,51),(10,51)]).
    """
    xy = _as_xy(coords)
    n = len(xy)
    if n == 0:
        return None
    if n == 1:
        return float(xy[0, 0]), float(xy[0, 1])
    d = np.diff(xy, axis=0)
    seg_len = np.hypot(d[:, 0], d[:, 1])
    total = seg_len.sum()
    if total == 0.0:
        # degenerate: all points identical — geo returns the point
        return float(xy[0, 0]), float(xy[0, 1])
    mid = (xy[:-1] + xy[1:]) * 0.5
    cx = float((mid[:, 0] * seg_len).sum() / total)
    cy = float((mid[:, 1] * seg_len).sum() / total)
    return cx, cy


def polygon_centroid(ring) -> tuple[float, float] | None:
    """Area-weighted (shoelace) centroid of a closed exterior ring.

    Mirrors geo 0.14 ``Polygon::centroid`` (golden: geo.rs:411-426 →
    (6, 49.333333) for the closed triangle). Zero-area polygons fall back
    to the linestring centroid, as geo does.
    """
    xy = _as_xy(ring)
    if len(xy) == 0:
        return None
    x = xy[:, 0]
    y = xy[:, 1]
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    area2 = cross.sum()
    if area2 == 0.0:
        return line_centroid(xy)
    cx = float(((x[:-1] + x[1:]) * cross).sum() / (3.0 * area2))
    cy = float(((y[:-1] + y[1:]) * cross).sum() / (3.0 * area2))
    return cx, cy


def _is_closed(xy: np.ndarray) -> bool:
    return len(xy) >= 2 and xy[0, 0] == xy[-1, 0] and xy[0, 1] == xy[-1, 1]


def shape_centroid(coords) -> tuple[float, float] | None:
    """Shape dispatch per geo.rs:291-301: closed ring → polygon centroid,
    open → linestring centroid, empty → None."""
    xy = _as_xy(coords)
    if len(xy) == 0:
        return None
    if _is_closed(xy):
        return polygon_centroid(xy)
    return line_centroid(xy)


def bounds(coords) -> tuple[float, float, float, float] | None:
    """(e, n, s, w) bounding values — geo.rs:303-315."""
    xy = _as_xy(coords)
    if len(xy) == 0:
        return None
    return (
        float(xy[:, 0].max()),
        float(xy[:, 1].max()),
        float(xy[:, 1].min()),
        float(xy[:, 0].min()),
    )


def geo_info(coords):
    """(centroid_lon, centroid_lat, e, n, s, w) or None — geo.rs:339-346."""
    c = shape_centroid(coords)
    if c is None:
        return None
    b = bounds(coords)
    return (c[0], c[1]) + b


def convex_hull(coords) -> np.ndarray:
    """Convex hull exterior ring, reproducing geo 0.14 output shape:

    - 0 points → empty; 1 point → that point (unclosed)
    - 2–3 points → input order, closed (geo's trivial hull)
    - ≥4 points → monotone chain CCW starting from the lexicographic
      minimum, closed — verified against the reference goldens
      (mod.rs:352-386 rectangle, mod.rs:388-414 nested)
    """
    xy = _as_xy(coords)
    n = len(xy)
    if n == 0:
        return xy
    if n == 1:
        return xy
    if n < 4:
        return np.vstack([xy, xy[:1]])
    order = np.lexsort((xy[:, 1], xy[:, 0]))
    pts = xy[order]
    # de-dup consecutive equal points after sort
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = (np.diff(pts, axis=0) != 0).any(axis=1)
    pts = pts[keep]
    if len(pts) == 1:
        return pts
    if len(pts) == 2:
        return np.vstack([pts, pts[:1]])

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1] + [lower[0]])
    return hull


def compound_coordinates(coords) -> list[tuple[float, float]]:
    """get_compound_coordinates (geo.rs:348-356): hull as list of tuples."""
    return [(float(x), float(y)) for x, y in convex_hull(coords)]


def multipoint_centroid(coords) -> tuple[float, float] | None:
    """MultiPoint centroid = arithmetic mean (geo 0.14)."""
    xy = _as_xy(coords)
    if len(xy) == 0:
        return None
    return float(xy[:, 0].mean()), float(xy[:, 1].mean())


def midpoint(coords) -> tuple[float, float] | None:
    """Street midpoint (geo.rs:256-274): mean of all points, then the
    closest actual input point (first minimal wins on ties)."""
    xy = _as_xy(coords)
    if len(xy) == 0:
        return None
    cx = xy[:, 0].mean()
    cy = xy[:, 1].mean()
    d2 = (xy[:, 0] - cx) ** 2 + (xy[:, 1] - cy) ** 2
    i = int(np.argmin(d2))  # argmin returns first minimal index
    return float(xy[i, 0]), float(xy[i, 1])


def bbox_diag_length(coords) -> float:
    """Reference street-segment 'length' = euclidean length of the bbox
    diagonal, NOT the polyline length (geo.rs:176-183; golden 2+√2 at
    streets.rs:355-368)."""
    xy = _as_xy(coords)
    if len(xy) == 0:
        return 0.0
    dx = xy[:, 0].max() - xy[:, 0].min()
    dy = xy[:, 1].max() - xy[:, 1].min()
    return float(np.hypot(dx, dy))


# --- point-in-polygon -------------------------------------------------------


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-casting crossing test of N points against one ring.

    Boundary points are not guaranteed either way (geo's contains is
    strict-interior; real-data points are never exactly on a boundary).
    Vectorized over points AND edges: O(N*E) numpy ops.
    """
    ring = _as_xy(ring)
    if len(ring) < 3:
        return np.zeros(len(px), dtype=bool)
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = cond & (px < xint)
    return crossings.sum(axis=1) % 2 == 1


def points_in_polygons(points: np.ndarray, polygons) -> np.ndarray:
    """MultiPolygon::contains for N points (geo.rs:75-81 `owns` refine),
    one polygon at a time: the scalar reference that tests and kernel
    timings compare `EdgeTable` against; engine code uses `EdgeTable`.

    ``polygons`` is a list of polygons; each polygon a list of rings
    (ring 0 = exterior, rest = holes). Returns bool[N]: inside any
    polygon's exterior and not inside any of that polygon's holes.
    """
    pts = _as_xy(points)
    px, py = pts[:, 0], pts[:, 1]
    out = np.zeros(len(pts), dtype=bool)
    for rings in polygons:
        if not len(rings):
            continue
        inside = points_in_ring(px, py, np.asarray(rings[0], dtype=np.float64))
        for hole in rings[1:]:
            inside &= ~points_in_ring(px, py, np.asarray(hole, dtype=np.float64))
        out |= inside
    return out


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated aranges: starts[i] .. starts[i] + counts[i] - 1 for
    each i, in order (the flat index of a CSR pair expansion)."""
    return np.arange(int(counts.sum())) + np.repeat(
        starts - (np.cumsum(counts) - counts), counts
    )


def flat_arrays(col, dtype) -> tuple[np.ndarray, np.ndarray]:
    """A column of arrays (an Arrow list column as pandas sees it; None
    counts as empty) → (per-row counts, every row's values back to back
    as one `dtype` buffer)."""
    arrs = [np.empty(0, dtype) if a is None else np.asarray(a, dtype) for a in col]
    counts = np.fromiter(map(len, arrs), np.int64, len(arrs))
    return counts, np.concatenate([np.empty(0, dtype), *arrs])


def flatten_rings(multipolygons):
    """Candidates (each a list of polygons, a polygon a list of rings of
    (lon, lat) points) → the flat ring layout `EdgeTable` reads: all
    points back to back, points per ring, candidate per ring, and
    whether each ring is a hole (ring 1.. of its polygon)."""
    arrs: list[np.ndarray] = []
    cand: list[int] = []
    hole: list[bool] = []
    for c, polygons in enumerate(multipolygons):
        for rings in polygons:
            for i, ring in enumerate(rings):
                arrs.append(_as_xy(ring))
                cand.append(c)
                hole.append(i > 0)
    xy = np.concatenate(arrs) if arrs else np.empty((0, 2))
    npts = np.array([len(a) for a in arrs], np.int64)
    return xy, npts, np.array(cand, np.int64), np.array(hole, bool)


class EdgeTable:
    """The engine's point-in-polygon test: every ring edge of `ncand`
    candidate multipolygons in one flat table, ray-cast against
    (point, candidate) pairs in one vectorized pass.

    Input is the `flatten_rings` layout: a candidate's rings are
    contiguous, and a polygon's rings are contiguous and start with its
    exterior. Answers are those of `points_in_polygons`, with its
    crossing convention: a ring under 3 points has no edges (never
    inside, never a hole hit), and NaN points are never inside."""

    # edges per ray-cast chunk: a 65k-point flagship batch ray-casts ~2x
    # faster in 64k-edge chunks than whole (a dozen arrays of this length)
    CHUNK_EDGES = 1 << 16

    def __init__(self, xy, npts, ring_cand, ring_hole, ncand: int):
        pt0 = np.cumsum(npts) - npts  # first point of each ring
        ecnt = np.where(npts >= 3, npts - 1, 0)
        # edge j runs from point j to j + 1 of its ring, so a candidate's
        # edges are contiguous and start on its first ring's first edge
        e = _ranges(pt0, ecnt)
        self.x0, self.y0 = xy[e, 0], xy[e, 1]
        self.x1, self.y1 = xy[e + 1, 0], xy[e + 1, 1]
        self.edge_ring = np.repeat(np.arange(len(npts)), ecnt)
        self._first = np.zeros(len(e), bool)
        self._first[(np.cumsum(ecnt) - ecnt)[ecnt > 0]] = True
        self._hole = ring_hole
        self._poly = np.cumsum(~ring_hole) - 1
        self._etot = np.bincount(ring_cand, weights=ecnt, minlength=ncand).astype(np.int64)
        self._estart = np.cumsum(self._etot) - self._etot

    def pairs_inside(self, px, py, pp, pc) -> np.ndarray:
        """Ascending indices of the (point pp, candidate pc) pairs whose
        point (px[pp], py[pp]) lies in the exterior and in none of the
        holes of one of the candidate's polygons; a pair inside two of
        its candidate's polygons is listed twice. One parity pass per
        chunk of about CHUNK_EDGES edges."""
        out = []
        csum = np.cumsum(self._etot[pc])
        b = 0
        while b < len(pp):
            a = b
            budget = (csum[a - 1] if a else 0) + self.CHUNK_EDGES
            b = max(int(np.searchsorted(csum, budget, side="right")), a + 1)
            ecnt = self._etot[pc[a:b]]
            er = np.repeat(np.arange(a, b), ecnt)  # pair per edge row
            eidx = _ranges(self._estart[pc[a:b]], ecnt)
            # (pair, ring) runs: each pair's edges start on a ring's first edge
            rs = np.flatnonzero(self._first[eidx])
            if not len(rs):
                continue
            x0, y0 = self.x0[eidx], self.y0[eidx]
            x1, y1 = self.x1[eidx], self.y1[eidx]
            qx, qy = px[pp[er]], py[pp[er]]
            with np.errstate(divide="ignore", invalid="ignore"):
                cross = ((y0 > qy) != (y1 > qy)) & (qx < x0 + (qy - y0) * (x1 - x0) / (y1 - y0))
            par = np.bitwise_xor.reduceat(cross, rs)
            ring = self.edge_ring[eidx[rs]]
            hole = self._hole[ring]
            rpair, rpoly = er[rs], self._poly[ring]
            # (pair, polygon) groups: inside the exterior, in none of the holes
            gs = np.flatnonzero(np.concatenate(
                [[True], (rpair[1:] != rpair[:-1]) | (rpoly[1:] != rpoly[:-1])]
            ))
            inside = np.logical_or.reduceat(par & ~hole, gs) & ~np.logical_or.reduceat(par & hole, gs)
            out.append(rpair[gs[inside]])
        return np.concatenate(out) if out else np.empty(0, np.int64)


# --- segment intersection ---------------------------------------------------


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise proper/improper intersection test between segment sets.

    a: (N,4) [x0,y0,x1,y1], b: (M,4). Returns bool (N,M). Includes
    touching endpoints and collinear overlap (geo Line/Line semantics).
    """
    ax0, ay0, ax1, ay1 = (a[:, i][:, None] for i in range(4))
    bx0, by0, bx1, by1 = (b[:, i][None, :] for i in range(4))
    d1 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d4 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(px, py, qx, qy, rx, ry, d):
        return (
            (d == 0)
            & (np.minimum(px, qx) <= rx)
            & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry)
            & (ry <= np.maximum(py, qy))
        )

    touch = (
        on_seg(ax0, ay0, ax1, ay1, bx0, by0, d1)
        | on_seg(ax0, ay0, ax1, ay1, bx1, by1, d2)
        | on_seg(bx0, by0, bx1, by1, ax0, ay0, d3)
        | on_seg(bx0, by0, bx1, by1, ax1, ay1, d4)
    )
    return proper | touch


def _edges(coords: np.ndarray) -> np.ndarray:
    xy = _as_xy(coords)
    if len(xy) < 2:
        return np.zeros((0, 4))
    return np.hstack([xy[:-1], xy[1:]])


def linestring_intersects_polygon(line_coords, polygons) -> bool:
    """Polygon-vs-LineString intersects (geo.rs:68-73 refine, J4):
    true if any polygon ring edge intersects any line edge, or the line's
    first point lies inside the polygon (containment case)."""
    line = _as_xy(line_coords)
    if len(line) == 0:
        return False
    ledges = _edges(line)
    for rings in polygons:
        for ring in rings:
            redges = _edges(np.asarray(ring, dtype=np.float64))
            if len(ledges) and len(redges) and segments_intersect(ledges, redges).any():
                return True
        if len(rings) and points_in_polygons(line[:1], [rings])[0]:
            return True
    # single-point "line" inside check when no edges
    if not len(ledges):
        return bool(points_in_polygons(line[:1], polygons)[0])
    return False


# --- admin-boundary ring assembly (A10) -------------------------------------


def stitch_rings(way_node_ids: list[list[int]], way_coords: list[np.ndarray]):
    """Stitch ways end-to-end into closed rings by matching endpoint NODE
    IDS (not coordinates), the way osm_boundaries_utils' build_boundary
    does (call site /root/reference/src/lib/admin.rs:27). Unclosable
    chains are dropped. Returns list of rings (np.ndarray of xy)."""
    unused = set(range(len(way_node_ids)))
    rings = []
    while unused:
        i = min(unused)
        unused.remove(i)
        chain_ids = list(way_node_ids[i])
        chain_xy = [np.asarray(way_coords[i], dtype=np.float64).reshape(-1, 2)]
        if not chain_ids:
            continue
        while chain_ids[0] != chain_ids[-1]:
            found = None
            for j in unused:
                ids = way_node_ids[j]
                if not ids:
                    continue
                if ids[0] == chain_ids[-1]:
                    found, rev = j, False
                elif ids[-1] == chain_ids[-1]:
                    found, rev = j, True
                elif ids[-1] == chain_ids[0]:
                    # prepend
                    chain_ids = list(ids[:-1]) + chain_ids
                    chain_xy.insert(
                        0, np.asarray(way_coords[j], dtype=np.float64).reshape(-1, 2)[:-1]
                    )
                    unused.remove(j)
                    found = -1
                    break
                elif ids[0] == chain_ids[0]:
                    chain_ids = list(ids[::-1][:-1]) + chain_ids
                    chain_xy.insert(
                        0,
                        np.asarray(way_coords[j], dtype=np.float64).reshape(-1, 2)[::-1][:-1],
                    )
                    unused.remove(j)
                    found = -1
                    break
                else:
                    continue
                if found >= 0:
                    xy = np.asarray(way_coords[j], dtype=np.float64).reshape(-1, 2)
                    if rev:
                        ids = ids[::-1]
                        xy = xy[::-1]
                    chain_ids = chain_ids + list(ids[1:])
                    chain_xy.append(xy[1:])
                    unused.remove(j)
                    break
            if found is None:
                chain_ids = None  # unclosable — drop
                break
        if chain_ids is not None and len(chain_ids) >= 4:
            rings.append(np.vstack(chain_xy))
    return rings


def assemble_multipolygon(outer_rings, inner_rings):
    """Classify stitched rings into polygons-with-holes: each inner ring is
    attached to the first outer ring containing its first point, and
    dropped when none does. Returns the engine's multipolygon structure:
    list[ list[ring ndarray] ]."""
    polys = [[r] for r in outer_rings]
    no, nh = len(outer_rings), len(inner_rings)
    if not (no and nh):
        return polys
    table = EdgeTable(*flatten_rings([[[r]] for r in outer_rings]), no)
    head = np.array([_as_xy(r)[0] for r in inner_rings])
    hp, oc = np.repeat(np.arange(nh), no), np.tile(np.arange(no), nh)
    h = table.pairs_inside(head[:, 0], head[:, 1], hp, oc)
    first = np.full(nh, no)
    np.minimum.at(first, hp[h], oc[h])
    for i in np.flatnonzero(first < no).tolist():
        polys[first[i]].append(inner_rings[i])
    return polys


# --- Catalyst-native PIP (Column expression) ----------------------------------


def pip_contains_col(px, py, polygons):
    """MultiPolygon contains-point as a PURE Catalyst expression — the
    whole-stage-codegen twin of `EdgeTable` (identical ray-cast
    conventions: strict `y0 > py != y1 > py` edge straddle, strict
    `px < xint` crossing), for plans where the polygon column rides the
    rows and a Python kernel would be the only non-JVM stage.

    `polygons`: Column of array<array<array<struct<lon,lat>>>> (polygons →
    rings → points; ring 0 = exterior, rest holes). Double division by a
    zero dy yields ±Inf exactly like the numpy kernel's masked divide —
    the straddle conjunct is false for horizontal edges either way.
    """
    import pyspark.sql.functions as F

    def in_ring(ring):
        # ANSI-safe: element_at throws out-of-bounds, so degenerate rings
        # (<3 points, no edges) get an empty edge-index array up front
        idx = F.when(
            F.size(ring) >= 3, F.sequence(F.lit(0), F.size(ring) - 2)
        ).otherwise(F.array().cast("array<int>"))

        def crosses(i):
            a = F.element_at(ring, i + 1)
            b = F.element_at(ring, i + 2)
            straddles = (a["lat"] > py) != (b["lat"] > py)
            xint = a["lon"] + (py - a["lat"]) * (b["lon"] - a["lon"]) / (
                b["lat"] - a["lat"]
            )
            return straddles & (px < xint)

        n = F.size(F.filter(F.transform(idx, crosses), lambda c: c))
        return n % 2 == 1

    def in_polygon(rings):
        holes = F.slice(rings, 2, F.greatest(F.size(rings) - 1, F.lit(0)))
        return F.when(
            F.size(rings) >= 1,
            in_ring(F.element_at(rings, 1)) & ~F.exists(holes, in_ring),
        ).otherwise(F.lit(False))

    return F.exists(polygons, in_polygon)
