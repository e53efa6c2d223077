"""Coordinate resolution: J1 (way→node join) and J2 (recursive relations).

Reference: way resolution `/root/reference/src/lib/mod.rs:36-47` (ordered,
missing refs silently dropped), relation resolution `mod.rs:49-75`
(DFS over members with cycle guard, convex hull applied at every nesting
level).

Spark shape (scale-first):
- J1 (`way_points`) is the engine's one way→node join; it serves all
  three pipelines: objects (`resolve_way_coords`), streets
  (`extract_streets`, carrying the way's name) and boundaries
  (`boundaries_from_closure`, keeping node ids for ring stitching). It is
  `posexplode_outer(refs)` → LEFT hash join against nodes on id →
  `groupBy(way_id)` + `array_sort(collect_list(struct(pos, …)))`.
  The join is the engine's hottest shuffle at 100 TB: node refs are
  skewed (mega-junction nodes), so AQE skew-join stays on and callers can
  pre-repartition; the aggregation is partial (map-side combine) because
  collect_list groups by the exploded way_id which the join already
  co-located.
- J2 resolves in bounded driver-side rounds (max relation nesting depth,
  ≤ a few in OSM). Each round pins the relations with no edge to a
  still-unresolved child and resolves them against the pool of earlier
  rounds. Cycles are broken by treating intra-cycle member edges as
  empty (deterministic; reference behavior is traversal-order
  dependent — see SURVEY.md §4 determinism notes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ..functions.geometry import _ranges, flat_arrays
from .closure import _pin

COORD_ARR = "array<struct<lon:double,lat:double>>"


def _located() -> Column:
    """True for a node whose lon and lat are both set and not NaN. Other
    nodes count as missing, like a ref with no node (parquet node tables
    can hold NULL or NaN coordinates; a decoded PBF never does)."""
    lon, lat = F.col("lon"), F.col("lat")
    return lon.isNotNull() & lat.isNotNull() & ~F.isnan(lon) & ~F.isnan(lat)


def way_points(
    ways: DataFrame, nodes: DataFrame, *carry: str, ref: bool = False
) -> DataFrame:
    """J1, the engine's one way→node join: (way id, refs) → the way's
    located refs (see `_located`) in ref order.

    Returns DataFrame(id, *carry, pts ARRAY<STRUCT<pos, [ref,] lon, lat>>).
    `carry` columns of `ways` ride the join and come back out of the
    per-way aggregation through `first()`; `ref=True` keeps each point's
    node id (ring stitching matches endpoints by node id). Ways whose refs
    all miss, or whose refs are empty, get an empty array (the reference
    yields an empty coordinate vec, mod.rs:36-47).
    """
    # LEFT join + null-skipping collect: the outer explode keeps one row
    # per way even for empty refs, and unresolved refs collect as NULL
    # entries that collect_list drops — so every way id reaches the
    # aggregation and ways with zero resolvable refs come out with an
    # empty array directly, with no second join back onto the way ids
    exploded = ways.select("id", *carry, F.posexplode_outer("refs").alias("pos", "ref"))
    joined = exploded.join(
        nodes.select(F.col("id").alias("ref"), "lon", "lat"), "ref", "left"
    )
    fields = ["pos", "ref", "lon", "lat"] if ref else ["pos", "lon", "lat"]
    return joined.groupBy("id").agg(
        *[F.first(c).alias(c) for c in carry],
        F.array_sort(
            F.collect_list(F.when(_located(), F.struct(*fields)))
        ).alias("pts"),
    )


def resolve_way_coords(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J1 for objects and relation members: (way id, refs) → ordered
    coords. Returns DataFrame(id BIGINT, coords ARRAY<STRUCT<lon,lat>>)."""
    return way_points(ways, nodes).select(
        "id",
        F.transform(
            "pts", lambda s: F.struct(s.lon.alias("lon"), s.lat.alias("lat"))
        ).alias("coords"),
    )


def resolve_relation_coords(
    relations: DataFrame,
    way_coords: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """J2: resolve every relation in `relations` to its compound (hull)
    coordinates, bottom-up in rounds.

    `relations` must already be the dependency-closure set (all member
    relations present). Returns DataFrame(id, coords ARRAY<STRUCT<lon,lat>>).
    """
    spark = relations.sparkSession
    members = relations.select(
        "id", F.posexplode_outer("members").alias("pos", "m")
    ).select("id", "pos", "m.mtype", "m.mid")

    # node + way member coordinates resolve in one shot
    node_part = (
        members.filter(F.col("mtype") == "node")
        .join(
            nodes.filter(_located()).select(F.col("id").alias("mid"), "lon", "lat"),
            "mid",
            "inner",
        )
        .select("id", "pos", F.array(F.struct("lon", "lat")).alias("mcoords"))
    )
    way_part = (
        members.filter(F.col("mtype") == "way")
        .join(
            way_coords.select(F.col("id").alias("mid"), F.col("coords").alias("mcoords")),
            "mid",
            "inner",
        )
        .select("id", "pos", "mcoords")
    )
    static_parts = _pin(node_part.unionByName(way_part))

    rel_members = _pin(
        members.filter(F.col("mtype") == "relation")
        .select("id", "pos", F.col("mid").alias("child"))
    )
    all_ids = _pin(relations.select("id").distinct())
    # only edges to children that are actually present can block
    real_edges = _pin(
        rel_members.select("id", "child")
        .distinct()
        .join(all_ids.select(F.col("id").alias("child")), "child", "left_semi")
    )

    hull_udf = F.pandas_udf(
        _hull_batch, "struct<lons:array<double>,lats:array<double>>"
    )

    def resolve(ids: DataFrame, resolved: DataFrame) -> DataFrame:
        """Hulls of `ids`, whose relation members come from `resolved`
        (a member not resolved yet contributes nothing)."""
        child_part = rel_members.join(
            resolved.select(F.col("id").alias("child"), F.col("coords").alias("mcoords")),
            "child",
            "inner",
        ).select("id", "pos", "mcoords")
        parts = static_parts.unionByName(child_part).join(ids, "id", "left_semi")
        return (
            parts.groupBy("id")
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "mcoords"))),
                        lambda s: s.mcoords,
                    )
                ).alias("flat")
            )
            .join(ids, "id", "right")
            .select(
                "id",
                F.coalesce("flat", F.array().cast(COORD_ARR)).alias("flat"),
            )
            .select(
                "id",
                hull_udf(F.col("flat.lon"), F.col("flat.lat")).alias("h"),
            )
            .select(
                "id",
                F.transform(
                    F.arrays_zip(F.col("h.lons"), F.col("h.lats")),
                    lambda p: F.struct(
                        p["lons"].alias("lon"), p["lats"].alias("lat")
                    ),
                ).alias("coords"),
            )
        )

    # Each round is DISTRIBUTED — an anti-join over the relation→relation
    # edge list (never over nodes/ways, and never a driver collect: the
    # planet has ~10⁷ relations): the remaining relations with no edge to
    # a remaining child are `ready` and resolve against every earlier
    # round. Rounds are bounded by nesting depth. Only each round's new
    # hulls are pinned; `resolved` is the plain union of the pinned
    # rounds, so no round copies an earlier round's hulls again.
    resolved = spark.createDataFrame([], "id long, coords " + COORD_ARR)
    remaining = all_ids
    for _ in range(max_rounds):
        if remaining.isEmpty():
            return resolved
        blocked = (
            real_edges.join(
                remaining.select(F.col("id").alias("child")), "child", "left_semi"
            )
            .select("id")
            .distinct()
        )
        ready = _pin(remaining.join(blocked, "id", "left_anti"))
        if ready.isEmpty():
            break  # every remaining relation sits in a cycle
        resolved = resolved.unionByName(_pin(resolve(ready, resolved)))
        remaining = _pin(remaining.join(ready, "id", "left_anti"))
    # cycle guard (or round cap): whatever remains resolves in one final
    # round; intra-cycle child edges find no earlier-resolved child and
    # thus contribute nothing (deterministic, matches SURVEY.md §4 notes)
    return resolved.unionByName(_pin(resolve(remaining, resolved)))


def _hull_chain(xs: list, ys: list) -> tuple[list, list]:
    """Andrew monotone chain over lexicographically sorted, deduped
    points — same stack rule, cross-product sign, and output ordering
    as functions.geometry.convex_hull (geo 0.14 shape), operating on
    plain Python floats (identical IEEE doubles)."""

    def half(idx_iter):
        out: list[int] = []
        for i in idx_iter:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (xs[a] - xs[o]) * (ys[i] - ys[o]) - (ys[a] - ys[o]) * (
                    xs[i] - xs[o]
                ) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = half(range(len(xs)))
    upper = half(range(len(xs) - 1, -1, -1))
    idx = lower[:-1] + upper[:-1] + [lower[0]]
    return [xs[i] for i in idx], [ys[i] for i in idx]


def _hull_batch(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
    """Arrow-batched hulls, offsets-based: ONE lexsort keyed
    (row, x, y) + one consecutive-dedup mask over every relation's
    flattened points replace the per-row sort/dedup/allocation; only
    the monotone-chain stack scan itself remains sequential (it is
    inherently a stack algorithm). Output is parallel lons/lats arrays
    — the public coords struct array is re-zipped JVM-side, so Python
    never builds per-point dicts. Trivial-hull shapes (0/1 point; 2-3
    points keep INPUT order, closed) match convex_hull exactly."""
    counts, x = flat_arrays(lons, np.float64)
    _, y = flat_arrays(lats, np.float64)
    starts = np.cumsum(counts) - counts
    out_x: list = [[]] * len(counts)
    out_y: list = [[]] * len(counts)
    for i in np.flatnonzero((counts > 0) & (counts < 4)).tolist():
        lo = x[starts[i] : starts[i] + counts[i]]
        la = y[starts[i] : starts[i] + counts[i]]
        if len(lo) == 1:
            out_x[i], out_y[i] = lo, la
        else:
            out_x[i] = np.concatenate([lo, lo[:1]])
            out_y[i] = np.concatenate([la, la[:1]])
    big = np.flatnonzero(counts >= 4)
    if len(big):
        g = _ranges(starts[big], counts[big])
        fx, fy = x[g], y[g]
        row_of = np.repeat(np.arange(len(big)), counts[big])
        order = np.lexsort((fy, fx, row_of))
        sx, sy, sr = fx[order], fy[order], row_of[order]
        keep = np.concatenate(
            [[True], (sr[1:] != sr[:-1]) | (sx[1:] != sx[:-1]) | (sy[1:] != sy[:-1])]
        )
        sx, sy, sr = sx[keep], sy[keep], sr[keep]
        cuts = np.flatnonzero(np.concatenate([[True], sr[1:] != sr[:-1]]))
        ends = np.concatenate([cuts[1:], [len(sr)]])
        for s0, s1 in zip(cuts.tolist(), ends.tolist()):
            i = int(big[int(sr[s0])])
            xs = sx[s0:s1].tolist()
            ys = sy[s0:s1].tolist()
            if len(xs) == 1:
                out_x[i], out_y[i] = xs, ys
            elif len(xs) == 2:
                out_x[i] = [xs[0], xs[1], xs[0]]
                out_y[i] = [ys[0], ys[1], ys[0]]
            else:
                out_x[i], out_y[i] = _hull_chain(xs, ys)
    return pd.DataFrame({"lons": out_x, "lats": out_y})
