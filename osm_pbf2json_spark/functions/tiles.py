"""Tiling layer: hex cells (H3-style) + Hilbert quad cells (S2-style).

The reference has no tiling; this layer is the graft's scale machinery
(BASELINE.json north_star: "batched H3 (res 7-11) and S2 covering encodes
feed a broadcast-STRtree point-in-polygon join, H3 k-ring kNN search, and
raster↔vector tile assignment"). Per SURVEY.md §7 (documented fallback
decision) cell ids are NOT bit-compatible with Uber H3 / Google S2 — no
such library exists in this sandbox and parity targets are reference
outputs, not cell ids. What *is* preserved:

- hex grid with aperture-7 resolution scaling (res 0-15, k-ring ops,
  ring-by-ring kNN expansion) — axial coordinates on an equirectangular
  plane, cube-rounded; ids pack (res,q,r) into one int64;
- S2-style space-filling-curve cells: Hilbert curve over a 2^level grid
  (levels 0-29), hierarchical parent/child by id arithmetic, adaptive
  bbox coverings.

Everything is NumPy-vectorized over arrays of points so the pandas UDF
wrappers in operators/ run one kernel per Arrow batch.
"""

from __future__ import annotations

import numpy as np

# --- hex grid ("h3-style") ---------------------------------------------------

HEX_BASE_SIZE = 8.0  # degrees at res 0
HEX_APERTURE = 7.0
_SQRT3 = np.sqrt(3.0)
_Q_OFF = 1 << 29  # axial offsets packed into 30-bit fields


def hex_size(res) -> float:
    return HEX_BASE_SIZE / HEX_APERTURE ** (np.asarray(res, dtype=np.float64) / 2.0)


def _axial_round(qf: np.ndarray, rf: np.ndarray):
    """Cube-rounding of fractional axial coords (standard hex math)."""
    sf = -qf - rf
    q = np.round(qf)
    r = np.round(rf)
    s = np.round(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def hex_cell(lon, lat, res: int) -> np.ndarray:
    """Vectorized (lon, lat) → packed int64 hex cell id at `res`."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    size = float(hex_size(res))
    qf = (_SQRT3 / 3.0 * lon - lat / 3.0) / size
    rf = (2.0 / 3.0 * lat) / size
    q, r = _axial_round(qf, rf)
    return (np.int64(res) << np.int64(60)) | ((q + _Q_OFF) << np.int64(30)) | (r + _Q_OFF)


def hex_unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(60)) & np.int64(0xF)
    q = ((cell >> np.int64(30)) & np.int64(0x3FFFFFFF)) - _Q_OFF
    r = (cell & np.int64(0x3FFFFFFF)) - _Q_OFF
    return res, q, r


def hex_covering_bbox(
    lon_min, lat_min, lon_max, lat_max, res: int, max_cells: int = 2_000_000
) -> np.ndarray:
    """Hex cells covering a bbox (superset cover via center-grid sweep +
    one-ring dilation). Raises before allocating when the sweep would
    exceed `max_cells` — a corrupt world-spanning geometry must fail
    loudly with its bbox, not OOM an executor task."""
    size = float(hex_size(res))
    n_est = ((lat_max - lat_min) / (1.5 * size) + 4) * (
        (lon_max - lon_min) / (_SQRT3 * size / 2.0) + 4
    )
    if n_est > max_cells:
        raise ValueError(
            f"hex covering of bbox ({lon_min},{lat_min})-({lon_max},{lat_max}) "
            f"at res {res} needs ~{int(n_est)} cells (> {max_cells}); "
            "coarsen res or fix the geometry"
        )
    lats = np.arange(lat_min - 2 * size, lat_max + 2 * size, 1.5 * size)
    lons = np.arange(lon_min - 2 * size, lon_max + 2 * size, _SQRT3 * size / 2.0)
    gx, gy = np.meshgrid(lons, lats)
    return np.unique(hex_cell(gx.ravel(), gy.ravel(), res))


def hex_covering_bbox_batch(
    xmin, ymin, xmax, ymax, res: int, max_cells: int = 2_000_000
) -> list[np.ndarray]:
    """Batched hex_covering_bbox over B bboxes: identical sample-point
    arithmetic (start + k*step, the np.arange fill rule) and per-bbox
    guard, but ONE hex_cell call for every sample point of every bbox
    and per-bbox unique via one lexsort — no per-bbox Python in the
    sweep. Returns one sorted cell array per input bbox."""
    size = float(hex_size(res))
    sy, sx = 1.5 * size, _SQRT3 * size / 2.0
    xmin = np.asarray(xmin, np.float64)
    ymin = np.asarray(ymin, np.float64)
    xmax = np.asarray(xmax, np.float64)
    ymax = np.asarray(ymax, np.float64)
    n_est = ((ymax - ymin) / sy + 4) * ((xmax - xmin) / sx + 4)
    if np.any(n_est > max_cells):
        b = int(np.argmax(n_est))
        raise ValueError(
            f"hex covering of bbox ({xmin[b]},{ymin[b]})-({xmax[b]},{ymax[b]}) "
            f"at res {res} needs ~{int(n_est[b])} cells (> {max_cells}); "
            "coarsen res or fix the geometry"
        )
    lat0, lon0 = ymin - 2 * size, xmin - 2 * size
    # np.arange length rule: ceil((stop - start) / step)
    nlat = np.ceil(((ymax + 2 * size) - lat0) / sy).astype(np.int64)
    nlon = np.ceil(((xmax + 2 * size) - lon0) / sx).astype(np.int64)
    counts = nlat * nlon
    B = len(counts)
    total = int(counts.sum())
    if total == 0:  # empty batch: the dedup mask below assumes >=1 point
        return [np.array([], np.int64)] * B
    bbox_of = np.repeat(np.arange(B), counts)
    offs = np.concatenate([[0], np.cumsum(counts[:-1])])
    within = np.arange(total) - np.repeat(offs, counts)
    nlon_rep = np.repeat(nlon, counts)
    glat = np.repeat(lat0, counts) + (within // nlon_rep) * sy
    glon = np.repeat(lon0, counts) + (within % nlon_rep) * sx
    cells = hex_cell(glon, glat, res)
    order = np.lexsort((cells, bbox_of))
    cs, bs = cells[order], bbox_of[order]
    keep = np.concatenate([[True], (cs[1:] != cs[:-1]) | (bs[1:] != bs[:-1])])
    cs, bs = cs[keep], bs[keep]
    cuts = np.flatnonzero(np.concatenate([[True], bs[1:] != bs[:-1]]))
    outs: list[np.ndarray] = [np.array([], np.int64)] * B
    for b, piece in zip(bs[cuts], np.split(cs, cuts[1:])):
        outs[int(b)] = piece
    return outs


# --- Hilbert quad cells ("s2-style") -----------------------------------------

MAX_LEVEL = 29
_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _hilbert_d(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert curve xy→d for a 2^order grid (classic
    bit-rotation algorithm, public domain)."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << np.int64(order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        s >>= np.int64(1)
    return d


def quad_cell(lon, lat, level: int) -> np.ndarray:
    """(lon,lat) → int64 cell id: level (5 bits) | hilbert position."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << np.int64(level)
    fx = (lon - _WORLD[0]) / (_WORLD[2] - _WORLD[0])
    fy = (lat - _WORLD[1]) / (_WORLD[3] - _WORLD[1])
    i = np.clip((fx * n).astype(np.int64), 0, n - 1)
    j = np.clip((fy * n).astype(np.int64), 0, n - 1)
    d = _hilbert_d(level, i, j) if level > 0 else np.zeros_like(i)
    return (np.int64(level) << np.int64(58)) | d


def quad_level(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> np.int64(58)) & np.int64(0x1F)


def quad_parent(cell, parent_level: int) -> np.ndarray:
    """Hierarchy: Hilbert position at level L → position at coarser level
    by dropping 2 bits per level step (Hilbert nesting property)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = quad_level(cell)
    pos = cell & ((np.int64(1) << np.int64(58)) - 1)
    shift = (2 * (level - parent_level)).astype(np.int64)
    return (np.int64(parent_level) << np.int64(58)) | (pos >> shift)


def quad_covering_bbox(
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    level: int,
    max_cells: int | None = 256,
) -> np.ndarray:
    """Cells covering a bbox at `level`, coarsening until ≤ max_cells
    (adaptive covering in the S2 spirit). Cell ids embed their level, so
    an adapted covering does NOT equi-join with fixed-level cells — pass
    max_cells=None for an exact-level covering (cell equi-join plans)."""
    exact_level = max_cells is None
    if max_cells is None:
        max_cells = 1 << 62
    while level > 0:
        n = 1 << level
        sx = (_WORLD[2] - _WORLD[0]) / n
        sy = (_WORLD[3] - _WORLD[1]) / n
        i0 = max(0, int((lon_min - _WORLD[0]) / sx))
        i1 = min(n - 1, int((lon_max - _WORLD[0]) / sx))
        j0 = max(0, int((lat_min - _WORLD[1]) / sy))
        j1 = min(n - 1, int((lat_max - _WORLD[1]) / sy))
        count = (i1 - i0 + 1) * (j1 - j0 + 1)
        if exact_level and count > 2_000_000:
            # exact-level contract can't coarsen: fail loudly with the
            # bbox instead of OOMing the executor on a corrupt geometry
            raise ValueError(
                f"exact-level quad covering of bbox ({lon_min},{lat_min})-"
                f"({lon_max},{lat_max}) at level {level} needs {count} "
                "cells; coarsen the level or fix the geometry"
            )
        if count <= max_cells:
            ii, jj = np.meshgrid(np.arange(i0, i1 + 1), np.arange(j0, j1 + 1))
            d = _hilbert_d(level, ii.ravel(), jj.ravel())
            return (np.int64(level) << np.int64(58)) | d
        level -= 1
    return np.array([np.int64(0)], dtype=np.int64)


def quad_covering_bbox_batch(
    xmin, ymin, xmax, ymax, level: int
) -> list[np.ndarray]:
    """Batched EXACT-LEVEL quad covering (the assign_tiles path — no
    adaptive coarsening, which is inherently per-bbox): identical
    index-range arithmetic to quad_covering_bbox(max_cells=None), one
    _hilbert_d call over every cell of every bbox, original raveled
    (j-outer, i-inner) order preserved per bbox."""
    n = 1 << level
    sx = (_WORLD[2] - _WORLD[0]) / n
    sy = (_WORLD[3] - _WORLD[1]) / n
    xmin = np.asarray(xmin, np.float64)
    ymin = np.asarray(ymin, np.float64)
    xmax = np.asarray(xmax, np.float64)
    ymax = np.asarray(ymax, np.float64)
    i0 = np.maximum(0, ((xmin - _WORLD[0]) / sx).astype(np.int64))
    i1 = np.minimum(n - 1, ((xmax - _WORLD[0]) / sx).astype(np.int64))
    j0 = np.maximum(0, ((ymin - _WORLD[1]) / sy).astype(np.int64))
    j1 = np.minimum(n - 1, ((ymax - _WORLD[1]) / sy).astype(np.int64))
    # a bbox entirely beyond the world bounds yields i0 > i1 after the
    # clamps — an EMPTY covering (scalar parity), never a negative count
    nx = np.maximum(0, i1 - i0 + 1)
    ny = np.maximum(0, j1 - j0 + 1)
    counts = nx * ny
    if np.any(counts > 2_000_000):
        b = int(np.argmax(counts))
        raise ValueError(
            f"exact-level quad covering of bbox ({xmin[b]},{ymin[b]})-"
            f"({xmax[b]},{ymax[b]}) at level {level} needs {counts[b]} "
            "cells; coarsen the level or fix the geometry"
        )
    B = len(counts)
    total = int(counts.sum())
    bbox_of = np.repeat(np.arange(B), counts)
    offs = np.concatenate([[0], np.cumsum(counts[:-1])])
    within = np.arange(total) - np.repeat(offs, counts)
    ni = np.repeat(nx, counts)
    ii = np.repeat(i0, counts) + within % ni
    jj = np.repeat(j0, counts) + within // ni
    cells = (np.int64(level) << np.int64(58)) | _hilbert_d(level, ii, jj)
    return [cells[offs[b] : offs[b] + counts[b]] for b in range(B)]

