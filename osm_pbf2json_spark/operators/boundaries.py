"""`boundaries()` pipeline — admin-boundary multipolygon assembly.

Reference: `/root/reference/src/lib/mod.rs:127-138` + `admin.rs:17-37`.
Semantics preserved exactly:

- the level filter selects the closure seed; the assembly stage then
  emits EVERY relation in the closure that is `boundary=administrative`
  with a `name` and a u8-parseable `admin_level` (admin.rs:18-26 has no
  level re-check — dependency relations can surface);
- ways with role outer/inner are stitched end-to-end by endpoint NODE id
  into closed rings (osm_boundaries_utils::build_boundary, admin.rs:27);
  unclosable chains are dropped; relations yielding no ring are dropped;
- bbox = min/max over the multipolygon (geo.rs:121-132).

Spark shape: filter → closure → per-relation applyInPandas (grouped ring
stitch; a boundary's ways are ≪10⁴ so per-group work is tiny, and groups
distribute by relation id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ..functions.filter_dsl import build_admin_groups, compile_groups
from ..functions.geometry import assemble_multipolygon, stitch_rings
from .closure import EntityTables, closure
from .resolve import way_points

RING = "array<struct<lon:double,lat:double>>"
BOUNDARY_SCHEMA = (
    "relation_id long, name string, admin_level int, "
    "sw_lon double, sw_lat double, ne_lon double, ne_lat double, "
    f"polygons array<array<{RING}>>"
)

_OUTER_ROLES = {"outer", ""}
_INNER_ROLES = {"inner"}


def _assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: one relation's member ways → multipolygon row."""
    rel_id = int(pdf["relation_id"].iloc[0])
    name = pdf["name"].iloc[0]
    admin_level = int(pdf["admin_level"].iloc[0])

    def rings_for(roles: set) -> list[np.ndarray]:
        sel = pdf[pdf["role"].isin(roles) & pdf["ids"].notna()]
        ids = [list(v) for v in sel["ids"]]
        # parallel primitive arrays (Arrow buffers) — a planet-scale
        # admin ring never marshals per-vertex dicts into Python
        coords = [
            np.column_stack(
                [np.asarray(lo, np.float64), np.asarray(la, np.float64)]
            )
            for lo, la in zip(sel["_lons"], sel["_lats"])
        ]
        # drop ways whose resolved id/coord lists are empty
        pairs = [(i, c) for i, c in zip(ids, coords) if len(i) and len(c) == len(i)]
        return stitch_rings([p[0] for p in pairs], [p[1] for p in pairs])

    outer = rings_for(_OUTER_ROLES)
    if not outer:
        return pd.DataFrame(
            columns=[
                "relation_id",
                "name",
                "admin_level",
                "sw_lon",
                "sw_lat",
                "ne_lon",
                "ne_lat",
                "polygons",
            ]
        )
    inner = rings_for(_INNER_ROLES)
    polys = assemble_multipolygon(outer, inner)
    all_pts = np.vstack([r for rings in polys for r in rings])
    out_polys = [
        [[{"lon": float(x), "lat": float(y)} for x, y in ring] for ring in rings]
        for rings in polys
    ]
    return pd.DataFrame(
        [
            {
                "relation_id": rel_id,
                "name": name,
                "admin_level": admin_level,
                "sw_lon": float(all_pts[:, 0].min()),
                "sw_lat": float(all_pts[:, 1].min()),
                "ne_lon": float(all_pts[:, 0].max()),
                "ne_lat": float(all_pts[:, 1].max()),
                "polygons": out_polys,
            }
        ]
    )


def boundaries_from_closure(closed: EntityTables) -> DataFrame:
    """Assembly stage (admin.rs:17-37) over an already-closed entity set."""
    rels = closed.relations.select(
        F.col("id").alias("relation_id"),
        F.col("tags").getItem("name").alias("name"),
        F.col("tags").getItem("admin_level").cast("int").alias("admin_level"),
        "members",
    ).filter(
        (F.col("tags").getItem("boundary") == "administrative")
        & F.col("name").isNotNull()
        & F.col("admin_level").isNotNull()
        & F.col("admin_level").between(0, 255)  # u8 parse (admin.rs:26)
    )

    members = rels.select(
        "relation_id",
        "name",
        "admin_level",
        F.posexplode("members").alias("pos", "m"),
    ).filter(
        (F.col("m.mtype") == "way")
        & (F.col("m.role").isin(list(_OUTER_ROLES | _INNER_ROLES)))
    )

    # stitching matches endpoints by node id, so keep each point's ref
    way_pts = way_points(closed.ways, closed.nodes, ref=True).select(
        F.col("id").alias("way_id"),
        F.col("pts.ref").alias("ids"),
        F.col("pts.lon").alias("_lons"),
        F.col("pts.lat").alias("_lats"),
    )

    grouped_input = members.join(
        way_pts, members["m.mid"] == way_pts["way_id"], "left"
    ).select(
        "relation_id",
        "name",
        "admin_level",
        F.col("m.role").alias("role"),
        "pos",
        "ids",
        "_lons",
        "_lats",
    )

    return grouped_input.groupBy("relation_id").applyInPandas(
        _assemble_group, BOUNDARY_SCHEMA
    )


def boundaries(tables: EntityTables, levels=None) -> DataFrame:
    """Full pipeline: admin filter (F6) → closure → assembly, ordered by
    relation id (BTreeMap output order, mod.rs:218 analog)."""
    pred = compile_groups(build_admin_groups(levels))
    closed = closure(tables, pred)
    # lazy checkpoint: see streets() — avoids the sort's double compute
    return (
        boundaries_from_closure(closed)
        .localCheckpoint(eager=False)
        .orderBy("relation_id")
    )
