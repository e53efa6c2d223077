"""Traced run: a per-layer breakdown of one workload.

Each layer's public function is called in pipeline order under its own
Spark job group (one span each); its output is materialized and pinned
with localCheckpoint, so the next span starts from materialized input.
The layers that objects(), boundaries() and streets() call run as child
spans inside their parent's span (`Tracer.children`).
The session writes an uncompressed event log, folded per job group
after the session stops (`eventlog.fold`). Kernels are also timed
directly on 65,536-row NumPy batches drawn from the workload's input,
outside Spark.

Layers a workload does not exercise are traced on its companion input,
so every layer metric is measured on every workload: the pip workloads
trace the OSM layers on the seed's city extract, and osm_cli traces the
spatial and tile layers on the city's node coordinates against its
level-10 districts.
"""

from __future__ import annotations

import io
import time
from contextlib import contextmanager

import numpy as np

import synth
from workloads import CLI_COMMANDS, HEX_RES, OsmWorkload, release_persisted

BATCH = 65_536
KERNEL_BATCHES = 8

# spark.* metric -> (folded event-log total, scale to the metric's unit)
SPARK_UNITS = {
    "spark.jobs": ("jobs", 1),
    "spark.stages": ("stages", 1),
    "spark.tasks": ("tasks", 1),
    "spark.executor_run_s": ("executor_run_ms", 1e-3),
    "spark.executor_cpu_s": ("executor_cpu_ns", 1e-9),
    "spark.gc_s": ("gc_ms", 1e-3),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", 1),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "spark.spill_bytes": ("spill_bytes", 1),
    "spark.python_data_sent_bytes": ("python_data_sent_bytes", 1),
    "spark.python_data_received_bytes": ("python_data_received_bytes", 1),
    "spark.python_boot_s": ("python_boot_ms", 1e-3),
    "spark.python_total_s": ("python_total_ms", 1e-3),
}


class Tracer:
    """Spans kept in memory; each span runs under its own job group, and a
    span opened inside another is its child."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: dict[str, dict] = {}
        self.stack: list[str] = []
        self.results: dict = {}  # last output of each wrapped layer call

    @contextmanager
    def span(self, name: str):
        """Time a block as span `name` (suffixed .2, .3, ... when the name
        is taken) under the job group of the same name."""
        sc = self.spark.sparkContext
        base, k = name, 2
        while name in self.spans:
            name, k = f"{base}.{k}", k + 1
        rec = {"name": name, "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter()}
        self.stack.append(name)
        sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - rec["start"]
            self.stack.pop()
            parent = self.stack[-1] if self.stack else "untraced"
            sc.setJobGroup(parent, parent)
            self.spans[name] = rec

    def dur(self, name: str) -> float:
        return self.spans[name]["dur_s"]

    def self_s(self, name: str) -> float:
        """A span's duration minus that of its direct children."""
        return self.dur(name) - sum(
            s["dur_s"] for s in self.spans.values() if s["parent"] == name
        )

    @contextmanager
    def children(self, module, spans: dict):
        """Wrap layer functions that `module` calls by name ({attribute:
        span name}) so each call runs as a child span whose output is
        pinned; the wrappers are removed on exit."""
        saved = {attr: getattr(module, attr) for attr in spans}

        def wrap(fn, name):
            def call(*args, **kwargs):
                with self.span(name):
                    out = _pin_any(fn(*args, **kwargs))
                self.results[name] = out
                return out
            return call

        for attr, name in spans.items():
            setattr(module, attr, wrap(saved[attr], name))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)


def _pin(df):
    return df.localCheckpoint(eager=True)


def _pin_any(out):
    """Pin a DataFrame or the three tables of an EntityTables."""
    from osm_pbf2json_spark.operators.closure import EntityTables

    if isinstance(out, EntityTables):
        return EntityTables(_pin(out.nodes), _pin(out.ways), _pin(out.relations))
    return _pin(out)


def _median_ms(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1e3)
    return float(np.median(out))


# --- OSM layers -----------------------------------------------------------------


def osm_layers(tr: Tracer, osm: OsmWorkload) -> dict:
    """Trace sources.pbf -> filter_dsl -> objects (closure, resolve) ->
    boundaries (closure) -> streets (closure, extract, split) -> sinks on
    `osm`'s extract. The child layers run as nested spans through
    `Tracer.children`. Metrics that need the event log are added by the
    caller once the session stops."""
    import pyspark.sql.functions as F

    from osm_pbf2json_spark.functions.filter_dsl import (
        build_admin_groups, build_street_groups, compile_groups, parse,
    )
    from osm_pbf2json_spark.operators import boundaries as B
    from osm_pbf2json_spark.operators import objects as O
    from osm_pbf2json_spark.operators import streets as S
    from osm_pbf2json_spark.sinks import (
        boundaries_json_lines, objects_json_lines, streets_json_lines,
    )
    from osm_pbf2json_spark.sources.pbf import load_pbf_distributed, scan_blob_index

    spark = tr.spark
    m: dict = {}
    entities = osm.city.n_entities

    with tr.span("pbf"):
        tables = _pin_any(load_pbf_distributed(spark, osm.pbf))
    m["pbf.decode_s"] = tr.dur("pbf")
    m["pbf.entities_per_s"] = entities / tr.dur("pbf")
    m["pbf.blobs"] = len(scan_blob_index(osm.pbf))

    preds = {
        "objects": compile_groups(parse("amenity~cafe")),
        "boundaries": compile_groups(build_admin_groups([10])),
        "streets": compile_groups(build_street_groups(None)),
    }
    matched = {}
    with tr.span("filter_dsl"):
        for cmd, pred in preds.items():
            matched[cmd] = [
                df.filter(pred).count() for df in (tables.nodes, tables.ways, tables.relations)
            ]
    for cmd, counts in matched.items():
        m[f"filter_dsl.match_share.{cmd}"] = sum(counts) / entities

    resolve = {"resolve_way_coords": "resolve.ways", "resolve_relation_coords": "resolve.relations"}
    with tr.children(O, {"closure": "closure", **resolve}), tr.span("objects"):
        obj = _pin(O.objects(tables, "amenity~cafe"))
    closed = tr.results["closure"]
    way_coords = tr.results["resolve.ways"]
    m["closure.s"] = tr.dur("closure")
    m["closure.rows_out"] = sum(df.count() for df in (closed.nodes, closed.ways, closed.relations))
    m["resolve.s"] = tr.dur("resolve.ways") + tr.dur("resolve.relations")
    refs = closed.ways.select(F.sum(F.size("refs"))).first()[0] or 0
    hits = way_coords.select(F.sum(F.size("coords"))).first()[0] or 0
    m["resolve.ref_hit_share"] = hits / refs if refs else 1.0
    m["objects.self_s"] = tr.self_s("objects")

    with tr.children(B, {"closure": "boundaries.closure"}), tr.span("boundaries"):
        bnd = _pin(B.boundaries(tables, [10]))
    m["boundaries.self_s"] = tr.self_s("boundaries")
    admin_rel = matched["boundaries"][2]
    m["boundaries.assembled_share"] = bnd.count() / admin_rel if admin_rel else 0.0

    street_children = {
        "closure": "streets.closure",
        "extract_streets": "streets.extract",
        "boundaries_from_closure": "streets.boundaries",
        "split_streets_broadcast": "streets.split",
    }
    with tr.children(S, street_children), tr.span("streets"):
        st = _pin(S.streets(tables, None, 10))
    m["streets.extract_s"] = tr.dur("streets.extract")
    m["streets.split_s"] = tr.dur("streets.split")
    # streets() collects this pinned boundary table to the driver for the split
    m["streets.split_boundaries"] = tr.results["streets.boundaries"].count()

    with tr.span("sinks"):
        lines = (
            objects_json_lines(obj).collect()
            + boundaries_json_lines(bnd).collect()
            + streets_json_lines(st).collect()
        )
    m["sinks.s"] = tr.dur("sinks")
    m["sinks.bytes"] = sum(len(r["value"].encode("utf-8")) + 1 for r in lines)
    m["cli.collect_rows"] = len(lines)
    release_persisted(spark)
    return m


def cli_spans(tr: Tracer, osm: OsmWorkload) -> dict:
    """The three CLI commands, one span each; outputs kept for the check."""
    from osm_pbf2json_spark import cli

    m = {"spark.leaked_rdds": 0}
    for name, argv in CLI_COMMANDS:
        buf = io.StringIO()
        with tr.span(f"cli.{name}"):
            cli.main([osm.pbf, *argv], spark=tr.spark, out=buf)
        osm.outputs[name] = buf.getvalue().splitlines()
        m[f"cli.{name}_s"] = tr.dur(f"cli.{name}")
        m["spark.leaked_rdds"] += release_persisted(tr.spark)
    return m


# --- spatial layers -------------------------------------------------------------


def spatial_layers(tr: Tracer, points_df, rows: int, polygon_rows: list, group: str) -> dict:
    """Trace pip_tile_rollup over pinned points; partial rows come from the
    shuffle records its map side writes (read from the event log)."""
    import pyspark.sql.functions as F

    from osm_pbf2json_spark.operators import spatial

    with tr.span(group):
        roll = _pin(spatial.pip_tile_rollup(points_df, polygon_rows, res=HEX_RES, grid="hex"))
    outside = roll.filter(F.col("polygon_key").isNull()).agg(F.sum("n_points")).first()[0] or 0
    return {"spatial.hit_share": 1.0 - outside / rows}


def kernel_timings(lon: np.ndarray, lat: np.ndarray, polygon_rows: list, seed: int) -> dict:
    """Kernels on local NumPy batches (no Spark): index build, lookup,
    hex encode and the per-polygon ray-cast."""
    from osm_pbf2json_spark.functions import tiles
    from osm_pbf2json_spark.functions.geometry import points_in_polygons
    from osm_pbf2json_spark.operators.spatial import BroadcastPolygonIndex

    if len(lon) < BATCH:  # small inputs: resample to one full batch
        pick = np.random.Generator(np.random.PCG64(seed)).integers(0, len(lon), BATCH)
        lon, lat = lon[pick], lat[pick]
    nb = min(KERNEL_BATCHES, len(lon) // BATCH)
    batches = [(lon[i * BATCH:(i + 1) * BATCH], lat[i * BATCH:(i + 1) * BATCH]) for i in range(nb)]
    index = BroadcastPolygonIndex(polygon_rows)
    m = {"spatial.index_build_ms": _median_ms(lambda: BroadcastPolygonIndex(polygon_rows), 3)}
    look, hexs = [], []
    for x, y in batches:
        look.append(_median_ms(lambda: index.lookup(x, y), 1))
        hexs.append(_median_ms(lambda: tiles.hex_cell(x, y, HEX_RES), 1))
    m["spatial.lookup_ms_per_batch"] = float(np.median(look))
    m["tiles.hex_cell_ms_per_batch"] = float(np.median(hexs))
    # the per-polygon ray-cast on each polygon's bbox candidates, as the
    # index's refine would see them
    x, y = batches[0]
    cands = []
    for p in polygon_rows:
        ring = np.asarray(p["polygons"][0][0], np.float64)
        sel = (x >= ring[:, 0].min()) & (x <= ring[:, 0].max()) & (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        if sel.any():
            cands.append((np.column_stack([x[sel], y[sel]]), p["polygons"]))
    m["geometry.points_in_polygons_ms_per_batch"] = _median_ms(
        lambda: [points_in_polygons(pts, polys) for pts, polys in cands], 3
    )
    return m


def stitch_timing(city) -> float:
    """geometry.stitch_rings over every level-10 boundary of `city`, in ms."""
    from osm_pbf2json_spark.functions.geometry import stitch_rings

    ways = {w[0]: w[1] for w in city.ways}
    groups = []
    for _, members, tags in city.relations:
        if tags.get("admin_level") != "10":
            continue
        ids = [ways[mid] for mt, mid, _ in members if mt == "way"]
        xy = [
            np.column_stack([synth.deg(city.node_lon[np.asarray(r) - 1]),
                             synth.deg(city.node_lat[np.asarray(r) - 1])])
            for r in ids
        ]
        groups.append((ids, xy))
    return _median_ms(lambda: [stitch_rings(i, x) for i, x in groups], 5)


def district_polygons(city) -> list:
    """The city's level-10 districts as polygon rows for the spatial index."""
    rows = []
    for name, (x0, y0, x1, y1) in sorted(city.boundaries10.items()):
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        rows.append({"key": name, "polygons": [[ring]]})
    return rows


def session_metrics(folded: dict, groups: list[str]) -> dict:
    """spark.* totals over the job groups of the traced workload pass."""
    out = {}
    for name, (key, scale) in SPARK_UNITS.items():
        out[name] = sum(folded.get(g, {}).get(key, 0) for g in groups) * scale
    return out
