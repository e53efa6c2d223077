"""`streets()` pipeline — segment clustering into street entities.

Reference: `/root/reference/src/lib/mod.rs:159-184` + `streets.rs`.

Semantics preserved:
- pre-filter F5: highway ∈ {primary … pedestrian} × (name~<n> | name
  presence) (mod.rs:89-109); only ways participate (streets.rs:166-174);
- a segment is a way with ≥1 resolvable node (SegmentGeometry::new fails
  only on an empty coordinate set, streets.rs:119-123);
- connectivity = PADDED-BBOX OVERLAP (pad 0.002°, streets.rs:14,125-141),
  NOT exact geometric intersection (locked by streets.rs:401-408);
- street id = XOR of way ids (streets.rs:38-45); length = Σ bbox-diagonal
  (streets.rs:16-25); middle = mean-then-closest-point (geo.rs:256-274);
- boundary split: candidate boundaries by street-AABB ∩ boundary-AABB and
  exact segment×polygon intersection, then per-segment ownership by
  point-in-polygon on the segment's line centroid, fallback = first
  candidate (streets.rs:56-102). The reference's fallback order is R-tree
  internal; we define the deterministic order (admin_level, name,
  relation_id) — see SURVEY.md §4.

Spark shape: filter → J1 node join → shuffle once by street name →
applyInPandas(grid-bucketed union-find) → optional broadcast boundary
split (mapInPandas) → aggregates computed in the same grouped kernels.
Name groups distribute well; within a group the union-find pair test is
grid-bucketed so continent-wide common names ("Hauptstraße") stay
near-linear rather than O(k²).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..functions.filter_dsl import build_admin_groups, build_street_groups, compile_groups
from ..functions.geometry import (
    EdgeTable,
    _ranges,
    bbox_diag_length,
    flat_arrays,
    midpoint,
    segments_intersect,
)
from .boundaries import boundaries_from_closure
from .closure import EntityTables, closure
from .resolve import way_points

RTREE_PADDING = 0.002  # streets.rs:14
# target cell count for chunked dense pair/probe matrices (kept small
# enough that any single boolean/float temporary stays a few MB)
_PAIR_CHUNK_CELLS = 2_000_000

SEGMENTS_T = "array<struct<way_id:bigint,coords:array<struct<lon:double,lat:double>>>>"
STREET_SCHEMA = (
    "id bigint, name string, boundary string, length double, "
    f"loc_lon double, loc_lat double, segments {SEGMENTS_T}"
)


def _group_midpoints(
    px: np.ndarray, py: np.ndarray, gp_start: np.ndarray, gnpts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """A5 mean-then-closest midpoint per group over flattened point
    buffers (all groups non-empty; `gp_start`/`gnpts` are reduceat
    offsets/counts).

    Fast path: sequential np.add.reduceat means + first-minimal argmin.
    numpy's pairwise `.mean()` (the scalar reference `midpoint()`,
    geo.rs:256-274 semantics) and reduceat's sequential sum differ in
    the last ulps, which can flip the closest-point argmin only when two
    points are near-equidistant from the mean — so any group whose
    winner is within a conservative float-error bound of another
    candidate is recomputed with the scalar `midpoint()` itself,
    making batched == scalar on every row without a per-group Python
    loop in the common case."""
    mx = np.add.reduceat(px, gp_start) / gnpts
    my = np.add.reduceat(py, gp_start) / gnpts
    dx = px - np.repeat(mx, gnpts)
    dy = py - np.repeat(my, gnpts)
    d2 = dx * dx + dy * dy
    dmin = np.minimum.reduceat(d2, gp_start)
    P = len(px)
    cand = np.where(d2 == np.repeat(dmin, gnpts), np.arange(P), P)
    first = np.minimum.reduceat(cand, gp_start)
    loc_x = px[first]
    loc_y = py[first]
    # ambiguity screen: |mean_seq − mean_pairwise| ≤ n·eps·(Σ-scale),
    # which perturbs d2 by ≤ 2·|p−m|·δ + 2δ²; groups with >1 candidate
    # inside that band get the exact scalar recompute
    eps = np.finfo(np.float64).eps
    gabs = np.maximum.reduceat(np.abs(px) + np.abs(py), gp_start)
    delta = gnpts * eps * (gabs + np.abs(mx) + np.abs(my))
    gmaxd = np.maximum.reduceat(np.abs(dx) + np.abs(dy), gp_start)
    bound = 2.0 * gmaxd * delta + 2.0 * delta * delta
    near = (d2 <= np.repeat(dmin + bound, gnpts)).astype(np.int64)
    ambiguous = np.flatnonzero(np.add.reduceat(near, gp_start) > 1)
    if len(ambiguous):
        # exact-equidistant candidates (e.g. EVERY 2-point group: both
        # points tie around their mean) make `ambiguous` the COMMON
        # case, so the recompute is batched by group length instead of
        # one scalar midpoint() call per group. Each length class is
        # gathered as a C-contiguous (g, L, 2) block whose column views
        # have the same stride-2, length-L layout as midpoint()'s
        # xy[:, 0] — numpy's (pairwise) reduction tree depends on
        # length/stride only, so the batched mean is bit-identical to
        # the scalar one. Very long groups fall back to the scalar call
        # to bound the padded gather.
        lens = gnpts[ambiguous]
        small = lens <= 4096
        for L in np.unique(lens[small]).tolist():
            sel = ambiguous[small][lens[small] == L]
            gidx = gp_start[sel][:, None] + np.arange(L)[None, :]
            blk = np.empty((len(sel), L, 2))
            blk[:, :, 0] = px[gidx]
            blk[:, :, 1] = py[gidx]
            cx = blk[:, :, 0].mean(axis=1)
            cy = blk[:, :, 1].mean(axis=1)
            d2b = (blk[:, :, 0] - cx[:, None]) ** 2 + (blk[:, :, 1] - cy[:, None]) ** 2
            win = np.argmin(d2b, axis=1)  # first minimal, like midpoint()
            rows = np.arange(len(sel))
            loc_x[sel] = blk[rows, win, 0]
            loc_y[sel] = blk[rows, win, 1]
        for g in ambiguous[~small].tolist():
            s0 = int(gp_start[g])
            s1 = s0 + int(gnpts[g])
            loc_x[g], loc_y[g] = midpoint(np.column_stack([px[s0:s1], py[s0:s1]]))
    return loc_x, loc_y


def _connected_labels(n: int, ei: np.ndarray, ej: np.ndarray) -> np.ndarray:
    """Vectorized connected components over edge arrays: hash-to-min
    label propagation with pointer doubling — O(E) numpy work per round,
    O(log n) rounds; no per-edge Python."""
    labels = np.arange(n)
    if len(ei):
        while True:
            mn = labels.copy()
            np.minimum.at(mn, ei, labels[ej])
            np.minimum.at(mn, ej, labels[ei])
            mn = np.minimum(mn, mn[mn])  # pointer doubling
            if (mn == labels).all():
                break
            labels = mn
    return labels


def _union_find_clusters(swx, swy, nex, ney) -> np.ndarray:
    """Cluster ids for segments whose padded bboxes overlap (J6 edges).

    Grid-bucketed: each padded bbox registers in the ~0.02° cells it
    covers (one vectorized repeat/arange pass, no per-segment Python);
    only same-cell pairs are tested (exact test reproduces
    streets.rs:125-141 — pad one side by 0.002°; symmetric), and the
    edges feed a vectorized min-label propagation instead of a
    per-pair Python union-find.
    """
    n = len(swx)
    p = RTREE_PADDING
    cell = 0.02
    cx0 = np.floor((swx - p) / cell).astype(np.int64)
    cx1 = np.floor((nex + p) / cell).astype(np.int64)
    cy0 = np.floor((swy - p) / cell).astype(np.int64)
    cy1 = np.floor((ney + p) / cell).astype(np.int64)
    wid = cx1 - cx0 + 1
    hei = cy1 - cy0 + 1
    ncell = wid * hei
    seg_of = np.repeat(np.arange(n), ncell)
    offs = np.arange(ncell.sum()) - np.repeat(
        np.concatenate([[0], np.cumsum(ncell[:-1])]), ncell
    )
    wrep = np.repeat(wid, ncell)
    cellx = np.repeat(cx0, ncell) + offs % wrep
    celly = np.repeat(cy0, ncell) + offs // wrep
    key = cellx * np.int64(1 << 32) + celly  # cells are few enough not to collide
    order = np.lexsort((seg_of, key))
    ks, ss = key[order], seg_of[order]
    bounds = np.flatnonzero(np.concatenate([[True], ks[1:] != ks[:-1], [True]]))

    eis, ejs = [], []
    for b0, b1 in zip(bounds[:-1], bounds[1:]):
        if b1 - b0 < 2:
            continue
        ids = ss[b0:b1]
        m = len(ids)
        csx0, csy0 = swx[ids], swy[ids]
        csx1, csy1 = nex[ids], ney[ids]
        # chunk the row axis so the pair matrix stays at ~2M cells per
        # temporary — a mega-dense same-name cell (10⁴+ co-located
        # segments) must not allocate an m×m boolean block
        step = max(1, _PAIR_CHUNK_CELLS // m)
        for c0 in range(0, m, step):
            c1 = min(c0 + step, m)
            # the reference discovers pairs from BOTH endpoints' padded
            # R-tree queries (streets.rs:125-141), so an edge exists if
            # EITHER directional test passes — they can disagree exactly
            # at pad-boundary floats, where a+p and b-p round differently
            fwd = (
                (csx0[c0:c1, None] - p <= csx1[None, :])
                & (csx1[c0:c1, None] + p >= csx0[None, :])
                & (csy0[c0:c1, None] - p <= csy1[None, :])
                & (csy1[c0:c1, None] + p >= csy0[None, :])
            )
            rev = (
                (csx0[None, :] - p <= csx1[c0:c1, None])
                & (csx1[None, :] + p >= csx0[c0:c1, None])
                & (csy0[None, :] - p <= csy1[c0:c1, None])
                & (csy1[None, :] + p >= csy0[c0:c1, None])
            )
            hit = fwd | rev
            ii, jj = np.nonzero(hit)
            upper = c0 + ii < jj  # strict upper triangle in global indices
            eis.append(ids[c0 + ii[upper]])
            ejs.append(ids[jj[upper]])
    ei = np.concatenate(eis) if eis else np.empty(0, np.int64)
    ej = np.concatenate(ejs) if ejs else np.empty(0, np.int64)
    return _connected_labels(n, ei, ej)


def _street_row(name: str, boundary, seg_rows: list[dict]) -> dict:
    """SCALAR REFERENCE street-row assembly (A3 xor id, A4 bbox-diag
    length, A5 midpoint), raw lons/lats segment layout. The engine runs
    the batched `_street_frame`; this per-row version is kept as the
    oracle for the randomized split parity test (test_streets.py)."""
    seg_rows = sorted(seg_rows, key=lambda s: s["way_id"])
    street_id = 0
    for s in seg_rows:
        street_id ^= int(s["way_id"])  # A3, streets.rs:38-45
    length = float(sum(bbox_diag_length(s["xy"]) for s in seg_rows))
    all_pts = np.vstack([s["xy"] for s in seg_rows])
    mid = midpoint(all_pts)
    return {
        "id": street_id,
        "name": name,
        "boundary": boundary,
        "length": length,
        "loc_lon": mid[0],
        "loc_lat": mid[1],
        "segments": [
            {
                "way_id": int(s["way_id"]),
                "lons": s["xy"][:, 0],
                "lats": s["xy"][:, 1],
            }
            for s in seg_rows
        ],
    }


def _segment_lists(seg_way, pt_off, fx, fy, order, cuts) -> list:
    """Per group, its segments `order[cuts[g]:cuts[g + 1]]` as
    {way_id, lons, lats} dicts whose coordinates are views over the flat
    point buffers (segment `i` holds points `pt_off[i]:pt_off[i + 1]`);
    a group may be empty."""
    # bulk .tolist() conversions: numpy-scalar indexing and int() casts
    # per segment dominated the assembly loop
    way_l, po_l, order_l = seg_way.tolist(), pt_off.tolist(), order.tolist()
    ends = np.append(cuts[1:], len(order)).tolist()
    return [
        [
            {
                "way_id": way_l[i],
                "lons": fx[po_l[i] : po_l[i + 1]],
                "lats": fy[po_l[i] : po_l[i + 1]],
            }
            for i in order_l[b0:b1]
        ]
        for b0, b1 in zip(cuts.tolist(), ends)
    ]


def _street_frame(seg_way, pt_off, fx, fy, order, cuts, names, boundaries) -> pd.DataFrame:
    """The engine's street-row assembly: one `_STREET_COLS` row per
    group of segments, batched over flat buffers (`_street_row` is its
    scalar oracle).

    Segment `i` is way `seg_way[i]` with points `pt_off[i]:pt_off[i + 1]`
    of `fx`/`fy`. `order` lists the segments group by group, each group
    sorted by way id (the reference's member order, streets.rs:222-234),
    and `cuts` holds each group's first position in `order` (no group is
    empty). A3 is the XOR of the way ids (streets.rs:38-45), A4 the sum
    of the segments' bbox diagonals (streets.rs:16-25), A5 the
    mean-then-closest midpoint of the group's points (geo.rs:256-274,
    NaN for a group without points); each is one reduceat pass over the
    group-ordered buffers."""
    plen = np.diff(pt_off)[order]
    gather = _ranges(pt_off[:-1][order], plen)
    px, py = fx[gather], fy[gather]
    diag = np.zeros(len(order))
    nz = plen > 0
    if nz.any():
        s0 = (np.cumsum(plen) - plen)[nz]
        diag[nz] = np.hypot(
            np.maximum.reduceat(px, s0) - np.minimum.reduceat(px, s0),
            np.maximum.reduceat(py, s0) - np.minimum.reduceat(py, s0),
        )
    gnpts = np.add.reduceat(plen, cuts)
    loc_x = np.full(len(cuts), np.nan)
    loc_y = np.full(len(cuts), np.nan)
    gnz = gnpts > 0
    if gnz.any():
        gp_start = (np.cumsum(gnpts) - gnpts)[gnz]
        loc_x[gnz], loc_y[gnz] = _group_midpoints(px, py, gp_start, gnpts[gnz])
    return pd.DataFrame({
        "id": np.bitwise_xor.reduceat(seg_way[order], cuts),
        "name": names,
        "boundary": boundaries,
        "length": np.add.reduceat(diag, cuts),
        "loc_lon": loc_x,
        "loc_lat": loc_y,
        "segments": _segment_lists(seg_way, pt_off, fx, fy, order, cuts),
    })


def _cluster_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: one street name → one row per connected
    component (A2). Coordinates arrive as parallel double arrays
    (`_lons`/`_lats`, extracted from the struct array JVM-side) and
    flatten into one buffer; the per-segment bboxes are one reduceat
    pass over it and `_street_frame` assembles the components — no
    iterrows, no per-point dict access in either direction."""
    npts, fx = flat_arrays(pdf["_lons"], np.float64)
    _, fy = flat_arrays(pdf["_lats"], np.float64)
    pt_off = np.concatenate([[0], np.cumsum(npts)])
    # empty segments are dropped (SegmentGeometry::new fails on an empty
    # coordinate set)
    keep = np.flatnonzero(npts)
    if not len(keep):
        return pd.DataFrame(columns=_STREET_COLS)
    starts = pt_off[:-1][keep]
    labels = _union_find_clusters(
        np.minimum.reduceat(fx, starts), np.minimum.reduceat(fy, starts),
        np.maximum.reduceat(fx, starts), np.maximum.reduceat(fy, starts),
    )
    # segments sort (component, way_id): the reference's member order
    wids = pdf["way_id"].to_numpy(np.int64)
    glex = np.lexsort((wids[keep], labels))
    ls = labels[glex]
    cuts = np.flatnonzero(np.concatenate([[True], ls[1:] != ls[:-1]]))
    order = keep[glex]
    return _street_frame(
        wids, pt_off, fx, fy, order, cuts,
        pdf["name"].to_numpy()[order[cuts]], [None] * len(cuts),
    )


_STREET_RAW_SCHEMA = (
    "id bigint, name string, boundary string, length double, "
    "loc_lon double, loc_lat double, "
    "segments array<struct<way_id:bigint,lons:array<double>,lats:array<double>>>"
)
_STREET_COLS = ["id", "name", "boundary", "length", "loc_lon", "loc_lat", "segments"]


_FLAT_COLS = [
    "id", "name", "boundary", "length", "loc_lon", "loc_lat",
    "_wids", "_npts", "_flons", "_flats",
]


def _segments_flat_cols(col: str = "segments") -> list:
    """JVM-side: public coords struct array → FOUR parallel columns
    (way ids, per-segment point counts, street-flattened lon/lat
    buffers). The split kernel consumes these as Arrow primitive
    buffers with one np.concatenate per column — no per-segment dict
    gather in Python at all (VERDICT r4 #4)."""
    return [
        F.transform(col, lambda s: s["way_id"]).alias("_wids"),
        F.transform(col, lambda s: F.size(s["coords"])).alias("_npts"),
        F.flatten(
            F.transform(col, lambda s: F.transform(s["coords"], lambda c: c["lon"]))
        ).alias("_flons"),
        F.flatten(
            F.transform(col, lambda s: F.transform(s["coords"], lambda c: c["lat"]))
        ).alias("_flats"),
    ]


def _segments_to_coords(col: str = "segments"):
    """JVM-side: arrays_zip the kernel-output parallel
    buffers back into the public coords struct array."""
    return F.transform(
        col,
        lambda s: F.struct(
            s["way_id"].alias("way_id"),
            F.transform(
                F.arrays_zip(s["lons"], s["lats"]),
                lambda p: F.struct(p["lons"].alias("lon"), p["lats"].alias("lat")),
            ).alias("coords"),
        ),
    )


def extract_streets(ways_filtered: DataFrame, nodes: DataFrame) -> DataFrame:
    """F5-filtered ways + nodes → street rows (one per component).

    J1 (`resolve.way_points`) is FUSED with the name attach: `name`
    rides the ref-explode join and comes back out of the per-way
    aggregation, so the pipeline is explode→join→groupBy(way)→
    groupBy(name) with no way-id re-join anywhere. The grouped kernel
    exchanges coordinates as parallel double arrays (Arrow primitive
    buffers); the public `coords` struct array is reassembled JVM-side
    by arrays_zip — Python never touches per-point structs."""
    named = ways_filtered.select(
        "id", F.col("tags").getItem("name").alias("name"), "refs"
    ).filter(F.col("name").isNotNull())
    seg_input = way_points(named, nodes, "name").select(
        F.col("id").alias("way_id"), "name",
        F.col("pts.lon").alias("_lons"),
        F.col("pts.lat").alias("_lats"),
    )
    raw = seg_input.groupBy("name").applyInPandas(_cluster_group, _STREET_RAW_SCHEMA)
    return raw.withColumn("segments", _segments_to_coords())


def _boundaries_flat(boundaries_df: DataFrame) -> DataFrame:
    """Boundary rows projected to the split kernels' one layout: each
    multipolygon as FLAT parallel primitive arrays (`_plens`
    rings-per-polygon, `_rlens` points-per-ring, `_bfx`/`_bfy`
    flattened vertices). They reach Python as Arrow primitive buffers,
    so a planet-scale admin ring never marshals per-vertex dicts, and
    (load-bearing for the cogroup path) Spark 4.1's cogroup serializer
    segfaults the Python worker (pyarrow arrow_to_pandas on the empty
    substitute batch) whenever a left group has no right group and the
    right schema carries nested array-of-struct columns; single-level
    primitive arrays deserialize fine in every missing-group/empty
    combination (verified by
    test_split_cells_passthrough_only_cells_survive_cogroup)."""
    return boundaries_df.select(
        "relation_id", "name", "admin_level",
        "sw_lon", "sw_lat", "ne_lon", "ne_lat",
        F.transform("polygons", lambda p: F.size(p)).alias("_plens"),
        F.flatten("polygons").alias("_rings"),
    ).select(
        "relation_id", "name", "admin_level",
        "sw_lon", "sw_lat", "ne_lon", "ne_lat", "_plens",
        F.transform("_rings", lambda r: F.size(r)).alias("_rlens"),
        F.flatten(
            F.transform("_rings", lambda r: F.transform(r, lambda c: c["lon"]))
        ).alias("_bfx"),
        F.flatten(
            F.transform("_rings", lambda r: F.transform(r, lambda c: c["lat"]))
        ).alias("_bfy"),
    )


class _Boundaries(NamedTuple):
    """A boundary set parsed for `_split_batch`, in the deterministic
    (admin_level, name, relation_id) order that indexes every field."""

    names: list
    bb: np.ndarray  # (nb, 4): sw_lon, sw_lat, ne_lon, ne_lat
    redges: np.ndarray  # (E, 4) ring edges x0, y0, x1, y1 for the J4 intersect
    roff: np.ndarray  # nb + 1 offsets of each boundary's edges in redges
    table: EdgeTable  # the point-in-polygon test over the same rings


def _parse_boundaries_flat(right: pd.DataFrame) -> _Boundaries:
    """Parse a `_boundaries_flat` frame (vertices stay in flat buffers;
    no per-ring Python objects)."""
    b = right.sort_values(["admin_level", "name", "relation_id"])
    nb = len(b)

    nrings, npts = flat_arrays(b["_rlens"], np.int64)
    plens = flat_arrays(b["_plens"], np.int64)[1]
    xy = np.column_stack([flat_arrays(b[c], np.float64)[1] for c in ("_bfx", "_bfy")])
    ring_cand = np.repeat(np.arange(nb), nrings)
    # ring 0 of each non-empty polygon is its exterior, the rest holes
    ring_hole = np.ones(len(npts), bool)
    ring_hole[(np.cumsum(plens) - plens)[plens > 0]] = False
    # the J4 intersect takes every edge of a ring of >= 2 points
    secnt = np.maximum(npts - 1, 0)
    e = _ranges(np.cumsum(npts) - npts, secnt)
    roff = np.cumsum(np.bincount(ring_cand, weights=secnt, minlength=nb), dtype=np.int64)
    return _Boundaries(
        names=b["name"].tolist(),
        bb=b[["sw_lon", "sw_lat", "ne_lon", "ne_lat"]].to_numpy(np.float64),
        redges=np.column_stack([xy[e], xy[e + 1]]),
        roff=np.concatenate([[0], roff]),
        table=EdgeTable(xy, npts, ring_cand, ring_hole, nb),
    )


def _split_batch(pdf: pd.DataFrame, bounds: _Boundaries) -> pd.DataFrame:
    """Vectorized J3→J7 boundary split of one Arrow batch of street rows
    into the street frame (`_STREET_COLS`).

    Fully offsets-based: segments arrive PRE-FLATTENED as four parallel
    columns (`_wids`/`_npts` + street-flattened `_flons`/`_flats`,
    built JVM-side by _segments_flat_cols), so the global point buffers
    are one `flat_arrays` call per column — no per-segment dict gather,
    no pdf.to_dict("records"); every later stage works on those buffers
    and per-row Python never touches coordinates:

    - J3 AABB probe: per-street bboxes by reduceat; one
      streets×boundaries broadcast (or the cell join's pre-candidates);
    - J4 exact refine: per BOUNDARY one segments_intersect call over
      the candidate streets' within-seg edges × the boundary's ring
      edges, and one EdgeTable pass over every (segment first point,
      candidate boundary) pair (the containment case);
    - J5 ownership: per-seg length-weighted line centroids from one
      masked-edge bincount pass, then one EdgeTable pass over every
      (centroid, J4 boundary) pair; the owner is the lowest containing
      boundary index (the deterministic first-match order);
    - J7 fallback: first candidate in deterministic order;
    - assembly: output groups keyed (street, owner NAME) — same-name
      boundaries merge, streets.rs:75-78 — assembled by `_street_frame`,
      as `_cluster_group` assembles its components. A street with no J4
      candidate passes through with its own id, length and loc (boundary
      NULL), after the split rows.

    Row-for-row parity with the scalar reference formulation
    (linestring_intersects_polygon + per-seg line_centroid +
    _street_row) is pinned by test_split_batch_matches_scalar_reference.
    """
    n = len(pdf)
    st_seg_cnt, seg_way = flat_arrays(pdf["_wids"], np.int64)
    _, seg_npts = flat_arrays(pdf["_npts"], np.int64)
    _, fx = flat_arrays(pdf["_flons"], np.float64)
    _, fy = flat_arrays(pdf["_flats"], np.float64)
    S = len(seg_way)
    pt_off = np.concatenate([[0], np.cumsum(seg_npts)])  # S+1 offsets
    seg_off0 = np.concatenate([[0], np.cumsum(st_seg_cnt)])  # street→segs
    st_of_seg = np.repeat(np.arange(n), st_seg_cnt)
    st_npts = np.bincount(st_of_seg, weights=seg_npts, minlength=n).astype(
        np.int64
    )
    st_pt_off = np.concatenate([[0], np.cumsum(st_npts)])

    # per-street bbox; a street with no points gets an empty bbox that
    # can never satisfy the overlap test
    sb = np.empty((n, 4))
    sb[:, 0] = sb[:, 1] = np.inf
    sb[:, 2] = sb[:, 3] = -np.inf
    nzst = st_npts > 0
    if nzst.any():
        starts = st_pt_off[:-1][nzst]
        sb[nzst, 0] = np.minimum.reduceat(fx, starts)
        sb[nzst, 1] = np.minimum.reduceat(fy, starts)
        sb[nzst, 2] = np.maximum.reduceat(fx, starts)
        sb[nzst, 3] = np.maximum.reduceat(fy, starts)

    bb = bounds.bb
    nb = len(bb)
    # J3: candidate (street, boundary) pairs as parallel index arrays,
    # straight off np.nonzero of the chunked bbox-overlap block (row
    # major ⇒ street-ascending within a chunk), stably sorted by
    # boundary so per-boundary street lists stay ascending — no
    # per-street Python list building anywhere
    p3i_parts: list = []
    p3k_parts: list = []
    if nb:
        # chunk the streets axis so the n×nb broadcast stays at ~2M
        # cells per temporary (a 10k-row batch × 5k broadcast
        # boundaries would otherwise allocate ~50 MB per comparison)
        step = max(1, _PAIR_CHUNK_CELLS // nb)
        for c0 in range(0, n, step):
            blk = sb[c0 : c0 + step]
            hit = (
                (bb[None, :, 0] <= blk[:, None, 2])
                & (bb[None, :, 2] >= blk[:, None, 0])
                & (bb[None, :, 1] <= blk[:, None, 3])
                & (bb[None, :, 3] >= blk[:, None, 1])
            )
            r, c = np.nonzero(hit)
            p3i_parts.append(r.astype(np.int64) + c0)
            p3k_parts.append(c.astype(np.int64))
    p3i = np.concatenate(p3i_parts) if p3i_parts else np.empty(0, np.int64)
    p3k = np.concatenate(p3k_parts) if p3k_parts else np.empty(0, np.int64)
    korder = np.argsort(p3k, kind="stable")
    p3i, p3k = p3i[korder], p3k[korder]
    kcuts = (
        np.flatnonzero(np.concatenate([[True], p3k[1:] != p3k[:-1], [True]]))
        if len(p3k)
        else np.array([0], np.int64)
    )

    # global within-seg edge buffers (street-contiguous by construction)
    pt_seg = np.repeat(np.arange(S), seg_npts)
    emask = pt_seg[1:] == pt_seg[:-1] if len(pt_seg) > 1 else np.zeros(0, bool)
    e_seg = pt_seg[:-1][emask] if len(pt_seg) else np.zeros(0, np.int64)
    ex0, ey0 = fx[:-1][emask], fy[:-1][emask]
    ex1, ey1 = fx[1:][emask], fy[1:][emask]
    st_e_cnt = (
        np.bincount(st_of_seg[e_seg], minlength=n).astype(np.int64)
        if len(e_seg)
        else np.zeros(n, np.int64)
    )
    st_e_off = np.concatenate([[0], np.cumsum(st_e_cnt)])
    # per-seg first points (containment probes; nan for empty segs —
    # nan never tests inside, matching the scalar skip)
    if len(fx):
        fp_idx = np.minimum(pt_off[:-1], len(fx) - 1)
        head_x = np.where(seg_npts > 0, fx[fp_idx], np.nan)
        head_y = np.where(seg_npts > 0, fy[fp_idx], np.nan)
    else:
        head_x = head_y = np.full(S, np.nan)

    # J4 containment case: one pass over every (segment head, boundary)
    # pair of the J3 pairs, folded to "any" per J3 pair
    hcnt = st_seg_cnt[p3i]
    hp = _ranges(seg_off0[p3i], hcnt)
    hin = bounds.table.pairs_inside(head_x, head_y, hp, np.repeat(p3k, hcnt))
    hit4 = np.zeros(len(p3i), bool)
    hit4[np.repeat(np.arange(len(p3i)), hcnt)[hin]] = True
    # J4 intersect case, per boundary over edge gathers
    E_all = np.column_stack([ex0, ey0, ex1, ey1])
    for kb in range(len(kcuts) - 1):
        b0k, b1k = kcuts[kb], kcuts[kb + 1]
        k = int(p3k[b0k])
        idxs = p3i[b0k:b1k]
        redges = bounds.redges[bounds.roff[k]:bounds.roff[k + 1]]
        e_cnt = st_e_cnt[idxs]
        if len(redges) and e_cnt.sum():
            eidx = _ranges(st_e_off[idxs], e_cnt)
            owner_t = np.repeat(np.arange(len(idxs)), e_cnt)
            # chunk the E×R orientation matrix at ~2M cells
            step = max(1, _PAIR_CHUNK_CELLS // max(1, len(redges)))
            for c0 in range(0, len(eidx), step):
                m = segments_intersect(E_all[eidx[c0 : c0 + step]], redges).any(
                    axis=1
                )
                # bincount-as-any: C-speed scatter (ufunc.at is per-element)
                hit4[b0k:b1k] |= (
                    np.bincount(
                        owner_t[c0 : c0 + step], weights=m, minlength=len(idxs)
                    )
                    > 0
                )
    # passing (street, boundary) pairs in ascending-k blocks with
    # ascending streets inside
    c4i, c4k = p3i[hit4], p3k[hit4]

    frames = []
    has4 = np.zeros(n, dtype=bool)
    has4[c4i] = True
    if len(c4i):
        # per-seg line centroid (== line_centroid): one bincount pass;
        # single-point/degenerate segs fall back to their first point
        elen = np.hypot(ex1 - ex0, ey1 - ey0)
        tot = np.bincount(e_seg, weights=elen, minlength=S)
        wx = np.bincount(e_seg, weights=(ex0 + ex1) * 0.5 * elen, minlength=S)
        wy = np.bincount(e_seg, weights=(ey0 + ey1) * 0.5 * elen, minlength=S)
        safe_tot = np.where(tot > 0, tot, 1.0)
        cent_x = np.where(tot > 0, wx / safe_tot, head_x)
        cent_y = np.where(tot > 0, wy / safe_tot, head_y)

        # J5 ownership: the lowest J4 boundary containing the centroid
        scnt = st_seg_cnt[c4i]
        sp = _ranges(seg_off0[c4i], scnt)
        sk = np.repeat(c4k, scnt)
        h = bounds.table.pairs_inside(cent_x, cent_y, sp, sk)
        none = np.iinfo(np.int64).max
        owner = np.full(S, none, np.int64)
        np.minimum.at(owner, sp[h], sk[h])

        # J7 fallback (min k per street = first candidate in ascending
        # order) + grouping by (street, owner NAME)
        sub = np.flatnonzero(has4[st_of_seg])
        fallback_st = np.full(n, none, np.int64)
        np.minimum.at(fallback_st, c4i, c4k)
        fown = owner[sub]
        fown = np.where(fown < none, fown, fallback_st[st_of_seg[sub]])
        name_codes, name_uniques = pd.factorize(pd.Series(bounds.names))
        gname = name_codes[fown]
        gst = st_of_seg[sub]
        # stable (street, name, way_id, original order) — matches the
        # scalar sorted(key=way_id) within each group
        order_l = np.lexsort((sub, seg_way[sub], gname, gst))
        o_sub = sub[order_l]
        gc, gn = gst[order_l], gname[order_l]
        cuts = np.flatnonzero(
            np.concatenate([[True], (gc[1:] != gc[:-1]) | (gn[1:] != gn[:-1])])
        )
        frames.append(_street_frame(
            seg_way, pt_off, fx, fy, o_sub, cuts,
            pdf["name"].to_numpy()[gc[cuts]], name_uniques.to_numpy()[gn[cuts]],
        ))
    no_cand = np.flatnonzero(~has4)
    if len(no_cand):
        # passthrough (boundary stays NULL): each row keeps its own
        # attributes and only its segment lists are rebuilt
        cnt = st_seg_cnt[no_cand]
        segs = _segment_lists(
            seg_way, pt_off, fx, fy, _ranges(seg_off0[no_cand], cnt), np.cumsum(cnt) - cnt
        )
        frames.append(pdf.take(no_cand)[_STREET_COLS[:-1]].assign(segments=segs))
    if not frames:  # an empty batch
        return pd.DataFrame(columns=_STREET_COLS)
    return pd.concat(frames, ignore_index=True)


def split_streets_broadcast(streets_df: DataFrame, boundaries: pd.DataFrame) -> DataFrame:
    """Boundary split against a driver-collected `_boundaries_flat`
    frame, parsed once here and shipped in the kernel closure: segments
    flatten JVM-side into four parallel primitive-buffer columns, the
    mapInPandas J3→J7 kernel consumes those directly, and the public
    coords layout is rebuilt at the end."""
    bounds = _parse_boundaries_flat(boundaries)

    def split(iterator):
        for pdf in iterator:
            yield _split_batch(pdf, bounds)

    return (
        streets_df.select(
            "id", "name", "boundary", "length", "loc_lon", "loc_lat",
            *_segments_flat_cols(),
        )
        .mapInPandas(split, _STREET_RAW_SCHEMA)
        .withColumn("segments", _segments_to_coords())
    )


def split_streets_by_cells(
    streets_df: DataFrame,
    boundaries_df: DataFrame,
    cell: float = 0.5,
    group_cell: float | None = None,
) -> DataFrame:
    """Distributed boundary split for LARGE boundary sets (no driver
    collect, no broadcast of the polygon side).

    Shuffle-volume shape (the 100-TB concern): polygon geometry never
    rides the candidate join, and street segments shuffle exactly ONCE
    (the cogroup exchange). Two phases:

    1. LIGHT need-set: both sides explode to covering cells of their
       bboxes (pure Catalyst, bboxes only — street ids never enter this
       pass); the cell equi-join + bbox-overlap filter yields the
       distinct (owner cell, relation_id) set, where a street's owner
       cell is the `group_cell` cell of its bbox SW corner. A boundary
       whose bbox overlaps a street's bbox always shares a covering
       cell with it, so the street's owner-cell bundle provably holds
       every boundary its own J3 bbox probe can accept — which is why
       no per-street candidate-id attach join is needed at all (the r5
       formulation aggregated per-street id-sets and sort-merge-joined
       them back onto the payload: one extra shuffle of every street's
       segments plus a per-street Python candidate-list rebuild in the
       kernel, all deleted here).
    2. COGROUP on owner cell: each boundary's multipolygon ships once
       per owner cell that needs it (not once per candidate street, not
       once per covering cell of its own bbox); streets and their
       cell's boundary bundle meet in one applyInPandas group, each
       boundary is parsed once per group, and the vectorized J3→J7
       kernel runs with its own chunked bbox probe. Streets with no
       overlapping boundary take the kernel's passthrough branch
       (boundary NULL) — identical rows to the r5 union path.

    `cell` controls pair-join selectivity (smaller → fewer candidate
    rows through the equi-join); `group_cell` (default 4×cell) controls
    cogroup granularity — coarser groups amortize the per-group
    applyInPandas invocation overhead AND ship each boundary to fewer
    consumer groups. They are deliberately decoupled: join selectivity
    and group size optimize in opposite directions.
    """
    from .spatial import _bbox_cells

    gcell = group_cell if group_cell is not None else 4.0 * cell

    # the two passes below (light need-set, payload) share one
    # materialization of the street table — without this the upstream
    # pipeline (extract_streets' grouped clustering in the e2e path)
    # would execute twice
    streets_df = streets_df.localCheckpoint(eager=False)

    lons = F.flatten(
        F.transform("segments", lambda s: F.transform(s["coords"], lambda c: c["lon"]))
    )
    lats = F.flatten(
        F.transform("segments", lambda s: F.transform(s["coords"], lambda c: c["lat"]))
    )

    # phase 1: light need-set — NO polygons, NO street ids/payload.
    # Each flatten is evaluated once: the second select references the
    # materialized arrays (CollapseProject keeps non-cheap aliases
    # un-inlined; the r5 chain evaluated the lon flatten twice and the
    # lat flatten twice for the four bbox columns)
    st_bb = streets_df.select(lons.alias("_fl"), lats.alias("_fa")).select(
        F.array_min("_fl").alias("_sx0"),
        F.array_max("_fl").alias("_sx1"),
        F.array_min("_fa").alias("_sy0"),
        F.array_max("_fa").alias("_sy1"),
    )
    bd_light = boundaries_df.select(
        "relation_id",
        "sw_lon", "sw_lat", "ne_lon", "ne_lat",
        F.explode(
            _bbox_cells(F.col("sw_lon"), F.col("sw_lat"), F.col("ne_lon"), F.col("ne_lat"), 0.0, cell)
        ).alias("_cell"),
    )
    # (keys named _bcx/_bcy on the bundle side: cogroup matches grouping
    # keys positionally, not by name, and distinct column names keep the
    # two sides' lineages unambiguous)
    need = (
        st_bb.select(
            "_sx0", "_sy0", "_sx1", "_sy1",
            F.floor(F.col("_sx0") / gcell).cast("long").alias("_bcx"),
            F.floor(F.col("_sy0") / gcell).cast("long").alias("_bcy"),
            F.explode(
                _bbox_cells(F.col("_sx0"), F.col("_sy0"), F.col("_sx1"), F.col("_sy1"), 0.0, cell)
            ).alias("_cell"),
        )
        .join(bd_light, "_cell")
        .filter(
            (F.col("sw_lon") <= F.col("_sx1"))
            & (F.col("ne_lon") >= F.col("_sx0"))
            & (F.col("sw_lat") <= F.col("_sy1"))
            & (F.col("ne_lat") >= F.col("_sy0"))
        )
        .select("_bcx", "_bcy", "relation_id")
        .distinct()
    )

    # phase 2a: each boundary's geometry ships once per owner cell, in
    # the flat layout of `_boundaries_flat`
    bd_payload = _boundaries_flat(boundaries_df)
    bundles = need.join(bd_payload, "relation_id")

    # phase 2b: payload pass — segments flatten ONCE into the four
    # parallel primitive-buffer columns the kernel reads, and the owner
    # cell derives from the already-materialized buffers
    left_df = streets_df.select(
        "id", "name", "boundary", "length", "loc_lon", "loc_lat",
        *_segments_flat_cols(),
    ).select(
        *_FLAT_COLS,
        F.floor(F.array_min("_flons") / gcell).cast("long").alias("_ocx"),
        F.floor(F.array_min("_flats") / gcell).cast("long").alias("_ocy"),
    )

    # phase 2c: cogroup — boundaries parsed once per owner-cell group;
    # the kernel's own chunked J3 bbox probe computes the exact same
    # candidate sets the r5 attach join delivered (see docstring)
    def split(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=_STREET_COLS)
        return _split_batch(left[_FLAT_COLS], _parse_boundaries_flat(right))

    return (
        left_df.groupBy("_ocx", "_ocy")
        .cogroup(bundles.groupBy("_bcx", "_bcy"))
        .applyInPandas(split, _STREET_RAW_SCHEMA)
        .withColumn("segments", _segments_to_coords())
    )


def streets(
    tables: EntityTables,
    name: str | None = None,
    boundary: int | None = None,
    max_broadcast_boundaries: int = 5000,
) -> DataFrame:
    """Full pipeline (mod.rs:159-184). `boundary` = admin level to split by.

    The boundary set is size-gated: up to `max_broadcast_boundaries`
    assembled multipolygons are collected and broadcast into the split
    kernel (admin levels have at most a few thousand globally); above the
    gate — e.g. a planet-scale level-10 run — the split switches to the
    distributed cell-join path so the driver never materializes the
    polygon side.
    """
    pred = compile_groups(build_street_groups(name))
    closed = closure(tables, pred)
    # extract_streets consumes EVERY named way present in the closure —
    # including dependency ways pulled in as members of a pred-matched
    # relation (streets.rs:166-193 iterates all objs, not re-filtered).
    result = extract_streets(closed.ways, closed.nodes)
    # lazy checkpoints before the global sorts: orderBy's
    # range-partitioner sampling pass would otherwise recompute the
    # whole pipeline a second time (sample job + sort job)
    if boundary is None:
        return result.localCheckpoint(eager=False).orderBy("name", "id")
    admin_pred = compile_groups(build_admin_groups([boundary]))
    admin_closed = closure(tables, admin_pred)
    # lazy: the gate's toPandas (or the cell split) materializes it once
    bdf = boundaries_from_closure(admin_closed).localCheckpoint(eager=False)
    # one action both gates on the set's size and collects it
    bpdf = _boundaries_flat(bdf).limit(max_broadcast_boundaries + 1).toPandas()
    if len(bpdf) <= max_broadcast_boundaries:
        split = split_streets_broadcast(result, bpdf)
    else:
        split = split_streets_by_cells(result, bdf)
    return split.localCheckpoint(eager=False).orderBy("name", "boundary", "id")
