"""Seeded inputs for the benchmark, and the truth every check compares to.

Everything here is a pure function of the seed (NumPy PCG64 only) and
never calls the engine: the expected outputs come from the generator's
own construction, so a wrong engine result cannot hide in the truth.

- `points`: the flagship's point sets over the 16x16 district grid
  (`GRID_POLYGONS`): Gaussian hotspots (`hot`) or uniform (`sparse`).
- `city`: a synthetic OSM extract (FIXTURES.md section 1 rules): named
  street chains with reused names, amenity POI nodes, closed building
  ways, cafe multipolygon and site relations, and admin level 8 / 10
  boundaries built from 4-way rings.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np

# --- flagship point sets -------------------------------------------------------

GRID_N = 16
GRID_PITCH = 0.625
GRID_LO = 0.01
GRID_HI = 0.615

# same arithmetic as the repository's flagship district grid
GRID_POLYGONS = [
    {
        "key": f"P{gx:02d}{gy:02d}",
        "polygons": [
            [
                [
                    (gx * GRID_PITCH + GRID_LO, gy * GRID_PITCH + GRID_LO),
                    (gx * GRID_PITCH + GRID_HI, gy * GRID_PITCH + GRID_LO),
                    (gx * GRID_PITCH + GRID_HI, gy * GRID_PITCH + GRID_HI),
                    (gx * GRID_PITCH + GRID_LO, gy * GRID_PITCH + GRID_HI),
                    (gx * GRID_PITCH + GRID_LO, gy * GRID_PITCH + GRID_LO),
                ]
            ]
        ],
    }
    for gx in range(GRID_N)
    for gy in range(GRID_N)
]

EXTENT = GRID_N * GRID_PITCH  # points live in [0, EXTENT)^2
HOTSPOTS = 32
UNIFORM_SHARE = 0.01


def points(seed: int, kind: str, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) float64 arrays of `n` points, in random row order.

    hot: HOTSPOTS Gaussian blobs (sigma 0.003-0.008 degrees, so a hex res-9
    tile near a centre holds hundreds of points) plus UNIFORM_SHARE of
    uniform points over a slightly padded extent, some outside every
    district. sparse: uniform over the extent, about one point per tile.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    if kind == "sparse":
        lon = rng.uniform(0.0, EXTENT, n)
        lat = rng.uniform(0.0, EXTENT, n)
        return lon, lat
    if kind != "hot":
        raise ValueError(f"unknown point kind {kind!r}")
    n_uni = max(1, int(n * UNIFORM_SHARE))
    n_hot = n - n_uni
    centres = rng.uniform(0.3, EXTENT - 0.3, (HOTSPOTS, 2))
    sigma = rng.uniform(0.003, 0.008, HOTSPOTS)
    which = rng.integers(0, HOTSPOTS, n_hot)
    lon = np.concatenate(
        [centres[which, 0] + rng.standard_normal(n_hot) * sigma[which],
         rng.uniform(-0.3, EXTENT + 0.3, n_uni)]
    )
    lat = np.concatenate(
        [centres[which, 1] + rng.standard_normal(n_hot) * sigma[which],
         rng.uniform(-0.3, EXTENT + 0.3, n_uni)]
    )
    order = rng.permutation(n)
    return lon[order], lat[order]


def district_counts(lon: np.ndarray, lat: np.ndarray) -> dict:
    """Points strictly inside each grid district ({key: count}, key None
    for points outside every district). The districts are axis-aligned
    squares, so this is the exact point-in-polygon truth."""
    gx = np.floor(lon / GRID_PITCH).astype(np.int64)
    gy = np.floor(lat / GRID_PITCH).astype(np.int64)
    ok = (gx >= 0) & (gx < GRID_N) & (gy >= 0) & (gy < GRID_N)
    fx = gx * GRID_PITCH
    fy = gy * GRID_PITCH
    ok &= (lon > fx + GRID_LO) & (lon < fx + GRID_HI)
    ok &= (lat > fy + GRID_LO) & (lat < fy + GRID_HI)
    on_edge = np.isin(lon - fx, (GRID_LO, GRID_HI)) | np.isin(lat - fy, (GRID_LO, GRID_HI))
    if on_edge.any():
        raise ValueError("a generated point lies on a district edge")
    cnt = np.bincount((gx * GRID_N + gy)[ok], minlength=GRID_N * GRID_N)
    out = {
        f"P{i // GRID_N:02d}{i % GRID_N:02d}": int(c) for i, c in enumerate(cnt) if c
    }
    out[None] = int(len(lon) - ok.sum())
    return out


# --- synthetic city extract ----------------------------------------------------

LON0 = 130_000_000  # decimicro degrees: 13.0 E
LAT0 = 523_000_000  # 52.3 N
DW = 1_000_000  # district width, 0.1 degree
DH = 750_000  # district height, 0.075 degree
NX = NY = 4  # level-10 districts; level-8 boroughs are 2x2 districts
MARGIN = 60_000  # street chains keep this far from district edges
GAP = 60_000  # and from each other (> 2 x the 0.002 degree street padding)

HIGHWAYS = ("primary", "secondary", "tertiary", "residential", "service",
            "living_street", "pedestrian")
_STEMS = ("Linden", "Berliner ", "Garten", "Schul", "Kirch", "Bahnhof", "Haupt",
          "Wald", "Feld", "Berg", "See", "Park", "Mühlen", "Rosen", "Birken", "Ahorn")
_PREFIX = ("", "Alte ", "Neue ", "Große ", "Kleine ")
_SUFFIX = ("straße", "weg", "allee", "ring", "damm", "gasse")
_AMENITY = ("cafe", "restaurant", "bench", "bicycle_parking", "fountain",
            "pharmacy", "bar")
_AMENITY_P = (0.25, 0.2, 0.2, 0.15, 0.05, 0.05, 0.1)


def deg(dm) -> np.ndarray:
    """Decimicro integers to degrees exactly as the PBF decoder does."""
    return np.asarray(dm, dtype=np.int64) * 1e-7


@dataclass
class City:
    node_id: np.ndarray = None
    node_lat: np.ndarray = None  # decimicro
    node_lon: np.ndarray = None
    node_tags: dict = field(default_factory=dict)  # node index -> tags
    ways: list = field(default_factory=list)  # (id, refs, tags)
    relations: list = field(default_factory=list)  # (id, [(mtype, mid, role)], tags)
    # truth
    cafes: set = field(default_factory=set)  # {(type, id)}
    cafe_nodes: dict = field(default_factory=dict)  # id -> (lon, lat)
    boundaries10: dict = field(default_factory=dict)  # name -> (sw_lon, sw_lat, ne_lon, ne_lat)
    streets10: Counter = field(default_factory=Counter)  # (name, boundary) -> lines

    @property
    def n_entities(self) -> int:
        return len(self.node_id) + len(self.ways) + len(self.relations)


class _Builder:
    def __init__(self):
        self.lat: list[int] = []
        self.lon: list[int] = []
        self.tags: dict = {}
        self.ways: list = []
        self.relations: list = []

    def node(self, lon_dm: int, lat_dm: int, tags=None) -> int:
        if tags:
            self.tags[len(self.lat)] = tags
        self.lat.append(int(lat_dm))
        self.lon.append(int(lon_dm))
        return len(self.lat)  # ids 1..N in creation order

    def way(self, refs, tags) -> int:
        wid = 1_000_001 + len(self.ways)
        self.ways.append((wid, [int(r) for r in refs], tags))
        return wid

    def relation(self, members, tags) -> int:
        rid = 2_000_001 + len(self.relations)
        self.relations.append((rid, members, tags))
        return rid


def _ring(b: _Builder, rng, x0, y0, x1, y1, per_side: int) -> list[int]:
    """Four side ways around a rectangle, sharing corner nodes, in
    shuffled member order with some sides reversed (the stitcher must
    reorder and flip them)."""
    corners = [b.node(x0, y0), b.node(x1, y0), b.node(x1, y1), b.node(x0, y1)]
    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    wids = []
    for s in range(4):
        (ax, ay), (bx, by) = pts[s], pts[(s + 1) % 4]
        mids = [
            b.node(ax + (bx - ax) * k // (per_side + 1), ay + (by - ay) * k // (per_side + 1))
            for k in range(1, per_side + 1)
        ]
        refs = [corners[s], *mids, corners[(s + 1) % 4]]
        if rng.random() < 0.5:
            refs = refs[::-1]
        wids.append(b.way(refs, {}))
    return [wids[i] for i in rng.permutation(4)]


def _line_centroid(x: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Length-weighted segment-midpoint centroid (the street split's
    per-segment ownership point)."""
    seg = np.hypot(np.diff(x), np.diff(y))
    tot = seg.sum()
    return (
        float(((x[:-1] + x[1:]) * 0.5 * seg).sum() / tot),
        float(((y[:-1] + y[1:]) * 0.5 * seg).sum() / tot),
    )


def city(seed: int, rows: int = 8, chains_per_row: int = 3, pois: int = 600,
         buildings: int = 120) -> City:
    """Synthetic city of NX x NY level-10 districts (see module doc).

    Per district: `rows` street rows (row 0 carries the chains that cross
    into the east neighbour), `chains_per_row` chains in every other row,
    `pois` amenity nodes and `buildings` closed ways."""
    if not 2 <= rows <= 11:
        raise ValueError("rows must be in 2..11 to keep street rows apart")
    rng = np.random.Generator(np.random.PCG64(seed))
    b = _Builder()
    c = City()
    rh = DH // (rows + 1)  # street row pitch; jitter stays within rh / 6
    names = [p + s + x for p in _PREFIX for s in _STEMS for x in _SUFFIX]
    n_chains = NX * NY * (rows - 1) * chains_per_row + (NX // 2) * NY
    pool = [names[i] for i in rng.permutation(len(names))[: max(8, int(n_chains * 0.6))]]

    districts = []  # (name, x0, y0, x1, y1, relation id)
    for dy in range(NY):
        for dx in range(NX):
            x0, y0 = LON0 + dx * DW, LAT0 + dy * DH
            name = f"Kiez {dy * NX + dx:02d}"
            wids = _ring(b, rng, x0, y0, x0 + DW, y0 + DH, per_side=3)
            rid = b.relation(
                [("way", w, "outer") for w in wids],
                {"boundary": "administrative", "admin_level": "10", "name": name,
                 "type": "boundary"},
            )
            districts.append((name, x0, y0, x0 + DW, y0 + DH, rid))
            c.boundaries10[name] = tuple(deg([x0, y0, x0 + DW, y0 + DH]).tolist())
    for by in range(NY // 2):
        for bx in range(NX // 2):
            x0, y0 = LON0 + 2 * bx * DW, LAT0 + 2 * by * DH
            wids = _ring(b, rng, x0, y0, x0 + 2 * DW, y0 + 2 * DH, per_side=5)
            subs = [
                d[5] for d in districts
                if x0 <= d[1] < x0 + 2 * DW and y0 <= d[2] < y0 + 2 * DH
            ]
            b.relation(
                [("way", w, "outer") for w in wids] + [("relation", r, "subarea") for r in subs],
                {"boundary": "administrative", "admin_level": "8",
                 "name": f"Bezirk {by * 2 + bx}", "type": "boundary"},
            )

    chains = []  # (name, x_dm, y_dm, way cut indexes)

    def chain(xa: int, xb: int, yc: int, edge: int | None = None):
        # node x positions on an even grid, lat jittered within rh / 6
        m = int(rng.integers(8, 21))
        if edge is None:
            xs = np.linspace(xa, xb, m + 1).astype(np.int64)
            inner = np.arange(1, m)
            must = []
        else:
            # nodes sit half a step off `edge`; the way over nodes
            # h-1..h+2 crosses it, with its centroid a step inside the
            # east district, and every other way lies wholly on one side
            h = m // 2
            step = (edge - xa) // h
            xs = edge + step * (np.arange(m + 1) - h) + step // 2
            inner = np.r_[1 : h - 1, h + 3 : m]
            must = [h - 1, h + 2]
        ys = yc + rng.integers(-rh // 6, rh // 6 + 1, len(xs))
        extra = rng.choice(inner, min(len(inner), int(rng.integers(1, 5))), replace=False)
        cuts = sorted({0, m, *must, *extra.tolist()})
        chains.append((pool[int(rng.integers(len(pool)))], xs, ys, cuts))

    for dy in range(NY):
        for dx in range(NX):
            x0, y0 = LON0 + dx * DW, LAT0 + dy * DH
            if dx % 2 == 0 and dx + 1 < NX:
                # row 0: one chain from the middle of this district to the
                # middle of its east neighbour, crossing the shared edge
                chain(x0 + DW // 2, x0 + DW + DW // 2, y0 + rh, edge=x0 + DW)
            slot = (DW - 2 * MARGIN) // chains_per_row
            for r in range(1, rows):
                for k in range(chains_per_row):
                    xa = x0 + MARGIN + k * slot + GAP // 2
                    chain(xa, xa + slot - GAP, y0 + (r + 1) * rh)

    # street ways, plus distractors the street filter must drop
    for name, xs, ys, cuts in chains:
        ids = [b.node(x, y) for x, y in zip(xs.tolist(), ys.tolist())]
        hw = HIGHWAYS[int(rng.integers(len(HIGHWAYS)))]
        owners = set()
        for a, e in zip(cuts[:-1], cuts[1:]):
            b.way(ids[a : e + 1], {"highway": hw, "name": name})
            cx, cy = _line_centroid(deg(xs[a : e + 1]), deg(ys[a : e + 1]))
            owners.add(_owner(districts, cx, cy))
        for o in owners:
            c.streets10[(name, o)] += 1
    for _ in range(len(chains) // 4):
        x = LON0 + int(rng.integers(0, NX * DW - 20_000))
        y = LAT0 + int(rng.integers(0, NY * DH))
        refs = [b.node(x, y), b.node(x + 20_000, y + 5_000)]
        if rng.random() < 0.5:
            b.way(refs, {"highway": "residential"})  # unnamed
        else:
            b.way(refs, {"highway": "footway", "name": pool[0]})  # not a street

    for d in districts:
        x0, y0 = d[1], d[2]
        kinds = rng.choice(len(_AMENITY), pois, p=_AMENITY_P)
        xs = x0 + rng.integers(1, DW, pois)
        ys = y0 + rng.integers(1, DH, pois)
        poi_ids = []
        for k, x, y in zip(kinds.tolist(), xs.tolist(), ys.tolist()):
            tags = {"amenity": _AMENITY[k]}
            if k in (0, 1, 6):
                tags["name"] = f"{_AMENITY[k].title()} {len(b.lat)}"
            nid = b.node(x, y, tags)
            poi_ids.append((nid, k))
            if k == 0:
                c.cafes.add(("node", nid))
                c.cafe_nodes[nid] = (float(deg(x)), float(deg(y)))
        for j in range(buildings):
            x = x0 + int(rng.integers(1_000, DW - 3_000))
            y = y0 + int(rng.integers(1_000, DH - 3_000))
            w, h = int(rng.integers(200, 2_000)), int(rng.integers(200, 2_000))
            ring = [b.node(x, y), b.node(x + w, y), b.node(x + w, y + h), b.node(x, y + h)]
            tags = {"building": "yes"}
            u = rng.random()
            if u < 0.2:
                tags["amenity"] = "cafe"
            elif u < 0.3:
                tags["amenity"] = "restaurant"
            wid = b.way(ring + ring[:1], tags)
            if u < 0.2:
                c.cafes.add(("way", wid))
            if j < 2:
                # cafe mapped as a multipolygon relation over an untagged way
                rid = b.relation([("way", wid, "outer")],
                                 {"type": "multipolygon", "amenity": "cafe"})
                c.cafes.add(("relation", rid))
            elif j == 2:
                # site relation nesting a plain multipolygon: the closure
                # needs a second fixpoint round to reach the inner relation
                inner = b.relation([("way", wid, "outer")],
                                   {"type": "multipolygon", "building": "yes"})
                poi = next(p for p, k in poi_ids if k != 0)
                rid = b.relation([("node", poi, ""), ("relation", inner, "")],
                                 {"type": "site", "amenity": "cafe", "name": f"Site {wid}"})
                c.cafes.add(("relation", rid))

    c.node_id = np.arange(1, len(b.lat) + 1, dtype=np.int64)
    c.node_lat = np.asarray(b.lat, np.int64)
    c.node_lon = np.asarray(b.lon, np.int64)
    c.node_tags = b.tags
    c.ways = b.ways
    c.relations = b.relations
    _check_chains_apart(chains)
    return c


def _owner(districts, cx: float, cy: float) -> str:
    """District strictly containing a segment's centroid."""
    for name, x0, y0, x1, y1, _ in districts:
        lx0, ly0, lx1, ly1 = deg([x0, y0, x1, y1]).tolist()
        if lx0 < cx < lx1 and ly0 < cy < ly1:
            if min(cx - lx0, lx1 - cx, cy - ly0, ly1 - cy) < 1e-6:
                raise ValueError("street segment centroid too close to an edge")
            return name
    raise ValueError("street segment centroid outside every district")


def _check_chains_apart(chains) -> None:
    """Same-name chains must be separate street components: their
    bounding boxes, padded by the 0.002 degree street padding on both
    sides, may not touch."""
    by_name: dict = {}
    for name, xs, ys, _ in chains:
        by_name.setdefault(name, []).append((xs.min(), ys.min(), xs.max(), ys.max()))
    pad = 2 * 20_000
    for boxes in by_name.values():
        for i in range(len(boxes)):
            for j in range(i + 1, len(boxes)):
                a, q = boxes[i], boxes[j]
                if (a[0] <= q[2] + pad and q[0] <= a[2] + pad
                        and a[1] <= q[3] + pad and q[1] <= a[3] + pad):
                    raise ValueError("two same-name street chains touch")
