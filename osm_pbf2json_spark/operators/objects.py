"""`objects()` pipeline — tag-filtered entity extraction with geometry.

Reference: `/root/reference/src/lib/mod.rs:206-248`. Output row per
matched entity: nodes carry (lon, lat); ways/relations carry centroid +
bounds (+ coordinates when retained). Dependency rows resolve geometry
but are re-filtered out of the output (mod.rs:220-222).

Spark shape: filter(F1 DNF) → closure(S2) → J1/J2 joins → Arrow-batched
geometry kernel → union → orderBy(type_rank, id) to reproduce the
BTreeMap output order (Node < Way < Relation, then id — mod.rs:218).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..functions.filter_dsl import Group, compile_groups, parse
from ..functions.geometry import flat_arrays
from .closure import EntityTables, closure
from .resolve import _located, resolve_relation_coords, resolve_way_coords

GEO_SCHEMA = (
    "struct<centroid:struct<lat:double,lon:double>,"
    "bounds:struct<e:double,n:double,s:double,w:double>>"
)


def _geo_info_batch(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
    """Shape→(centroid,bounds) over an Arrow batch, OFFSETS-BASED: all
    rows' coords are flattened into one buffer and every reduction
    (bounds max/min, segment lengths, shoelace sums) runs as a single
    `ufunc.reduceat` over the row-start offsets — no per-point Python.
    Per-row work is only the O(#rows) output-dict construction.

    Semantics are geo.rs:291-346 exactly (shape dispatch: closed ring →
    shoelace centroid with zero-area fallback to the linestring
    centroid; open → length-weighted segment-midpoint centroid with
    zero-length fallback to the first point)."""
    counts, x = flat_arrays(lons, np.float64)
    _, y = flat_arrays(lats, np.float64)
    cents: list = [None] * len(counts)
    bnds: list = [None] * len(counts)
    idxs = np.flatnonzero(counts)
    if not len(idxs):
        return pd.DataFrame({"centroid": cents, "bounds": bnds})
    lens = counts[idxs]
    starts = (np.cumsum(counts) - counts)[idxs]
    ends = starts + lens

    e = np.maximum.reduceat(x, starts)
    n = np.maximum.reduceat(y, starts)
    s = np.minimum.reduceat(y, starts)
    w = np.minimum.reduceat(x, starts)

    # global per-segment arrays (length N, one slot per point; the slot
    # at each row's LAST point is a row-crossing segment → zeroed), so
    # reduceat over `starts` buckets exactly each row's own segments
    N = len(x)
    dx = np.zeros(N)
    dy = np.zeros(N)
    dx[:-1] = x[1:] - x[:-1]
    dy[:-1] = y[1:] - y[:-1]
    cross = np.zeros(N)
    cross[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
    last = ends - 1
    dx[last] = 0.0
    dy[last] = 0.0
    cross[last] = 0.0

    seg_len = np.hypot(dx, dy)
    sum_x = np.zeros(N)
    sum_y = np.zeros(N)
    sum_x[:-1] = x[:-1] + x[1:]
    sum_y[:-1] = y[:-1] + y[1:]

    total = np.add.reduceat(seg_len, starts)
    # segment midpoint = sum * 0.5, weighted by the segment's length
    wx = np.add.reduceat(sum_x * 0.5 * seg_len, starts)
    wy = np.add.reduceat(sum_y * 0.5 * seg_len, starts)
    area2 = np.add.reduceat(cross, starts)
    cwx = np.add.reduceat(sum_x * cross, starts)
    cwy = np.add.reduceat(sum_y * cross, starts)

    closed = (lens >= 2) & (x[starts] == x[last]) & (y[starts] == y[last])
    use_poly = closed & (area2 != 0.0)
    # not a nonzero-area ring: the length-weighted line centroid, or the
    # first point when the line has zero length (single point / repeats)
    clon = np.where(
        use_poly,
        np.divide(cwx, 3.0 * area2, out=np.zeros_like(cwx), where=area2 != 0.0),
        np.divide(wx, total, out=x[starts].copy(), where=total != 0.0),
    )
    clat = np.where(
        use_poly,
        np.divide(cwy, 3.0 * area2, out=np.zeros_like(cwy), where=area2 != 0.0),
        np.divide(wy, total, out=y[starts].copy(), where=total != 0.0),
    )

    for i, la, lo, ee, nn, ss, ww in zip(
        idxs.tolist(), clat.tolist(), clon.tolist(),
        e.tolist(), n.tolist(), s.tolist(), w.tolist(),
    ):
        cents[i] = {"lat": la, "lon": lo}
        bnds[i] = {"e": ee, "n": nn, "s": ss, "w": ww}
    return pd.DataFrame({"centroid": cents, "bounds": bnds})


def _geo_info_udf():
    # created lazily: parsing the DDL return type needs an active session
    return F.pandas_udf(_geo_info_batch, GEO_SCHEMA)


def objects(
    tables: EntityTables,
    groups: list[Group] | str | None = None,
    retain_coordinates: bool = False,
) -> DataFrame:
    """Matched entities with computed geometry, ordered (type_rank, id).

    Output: id, type, tags, lon, lat, centroid, bounds[, coordinates].
    Node rows populate lon/lat; way/relation rows populate centroid/bounds
    (and coordinates when `retain_coordinates`).
    """
    if isinstance(groups, str):
        groups = parse(groups)
    pred: Column = compile_groups(groups) if groups is not None else F.lit(True)

    closed = closure(tables, pred)

    # re-filter (F8): only predicate matches are emitted, and a node
    # without a location has no output line (see `_located`)
    out_nodes = closed.nodes.filter(pred & _located())
    out_ways = closed.ways.filter(pred)
    out_rels = closed.relations.filter(pred)

    # pin: way coords feed both the way output branch and relation
    # resolve; lazy so materialization folds into the first consumer's
    # job instead of a separate barrier job here
    way_coords = resolve_way_coords(closed.ways, closed.nodes).localCheckpoint(
        eager=False
    )
    rel_coords = resolve_relation_coords(closed.relations, way_coords, closed.nodes)

    node_part = out_nodes.select(
        "id",
        F.lit("node").alias("type"),
        "tags",
        "lon",
        "lat",
        F.lit(None).cast(GEO_SCHEMA).alias("geo"),
        F.lit(None).cast("array<struct<lon:double,lat:double>>").alias("coordinates"),
    )

    def shape_part(out_df: DataFrame, coords_df: DataFrame, type_name: str) -> DataFrame:
        df = out_df.join(coords_df, "id", "left").select(
            "id",
            F.lit(type_name).alias("type"),
            "tags",
            F.lit(None).cast("double").alias("lon"),
            F.lit(None).cast("double").alias("lat"),
            _geo_info_udf()(F.col("coords.lon"), F.col("coords.lat")).alias("geo"),
            (
                F.col("coords") if retain_coordinates else F.lit(None).cast(
                    "array<struct<lon:double,lat:double>>"
                )
            ).alias("coordinates"),
        )
        return df

    unioned = (
        node_part.withColumn("type_rank", F.lit(0))
        .unionByName(shape_part(out_ways, way_coords, "way").withColumn("type_rank", F.lit(1)))
        .unionByName(
            shape_part(out_rels, rel_coords, "relation").withColumn("type_rank", F.lit(2))
        )
    )
    # NO checkpoint before this sort (unlike streets/boundaries): the
    # objects upstream is already pinned inside closure/resolve, so the
    # range-partitioner sampling pass re-reads cheap pinned frames —
    # checkpointing the wide geometry output here measured slower
    return (
        unioned.orderBy("type_rank", "id")
        .select(
            "id",
            "type",
            "tags",
            "lon",
            "lat",
            F.col("geo.centroid").alias("centroid"),
            F.col("geo.bounds").alias("bounds"),
            "coordinates",
        )
    )
