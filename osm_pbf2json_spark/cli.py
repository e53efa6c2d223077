"""CLI mirroring the reference's subcommands (main.rs:10-40), for
`spark-submit --py-files osm_pbf2json_spark.zip -m osm_pbf2json_spark.cli`
or plain `python -m osm_pbf2json_spark.cli`.

    cli.py <entity_parquet_dir> objects [-t TAGS] [-r]
    cli.py <entity_parquet_dir> streets [--geojson] [-n NAME] [-b LEVEL]
    cli.py <entity_parquet_dir> boundaries [--geojson] [-l LEVEL ...]

Input is a directory of nodes/ways/relations parquet (see
sources.pbf.pbf_to_parquet for the one-time fixture ingest; at cluster
scale these are Iceberg/parquet tables). Output is JSON-lines (or one
GeoJSON FeatureCollection) on stdout, matching output.rs shapes.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="osm_pbf2json_spark")
    p.add_argument("path", help="directory with nodes/ways/relations parquet, or a .osm.pbf file (decoded on the fly)")
    sub = p.add_subparsers(dest="cmd", required=True)

    po = sub.add_parser("objects")
    po.add_argument("-t", "--tags", default=None)
    po.add_argument("-r", "--retain-coordinates", action="store_true")

    ps = sub.add_parser("streets")
    ps.add_argument("--geojson", action="store_true")
    ps.add_argument("-n", "--name", default=None)
    ps.add_argument("-b", "--boundary", type=int, default=None)

    pb = sub.add_parser("boundaries")
    pb.add_argument("--geojson", action="store_true")
    pb.add_argument("-l", "--levels", type=int, action="append", default=None)
    return p


def load_pbf_tables(spark, path: str, distributed: bool | None = None):
    """EntityTables from a .osm.pbf path. `distributed=None` decides
    from the master URL: blob-parallel executor decode needs every
    executor to open() the path, which holds for local masters (same
    machine) and shared filesystems; against a remote master with a
    driver-local PBF it would fail per-task with FileNotFoundError, so
    we decode on the driver and ship the Arrow batches through
    createDataFrame (works on any topology)."""
    if distributed is None:
        distributed = spark.conf.get("spark.master", "").startswith("local")
    if distributed:
        from .sources.pbf import load_pbf_distributed

        return load_pbf_distributed(spark, path)
    from .operators.closure import EntityTables
    from .sources.pbf import decode_pbf, to_arrow

    nodes, ways, relations = to_arrow(decode_pbf(path))
    return EntityTables(
        nodes=spark.createDataFrame(nodes),
        ways=spark.createDataFrame(ways),
        relations=spark.createDataFrame(relations),
    )


def main(argv=None, spark=None, out=None):
    args = build_parser().parse_args(argv)
    out = out or sys.stdout

    from .session import get_session

    spark = spark or get_session(app_name="osm-pbf2json-spark-cli")
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    try:
        _run(args, spark, out)
    finally:
        # a command pins its PBF decode cache and the closure's
        # localCheckpoints; release them (blocking), or a long-lived
        # session that runs many commands holds them all
        for rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            if rdd_id not in pinned:
                rdd.unpersist(True)
    return 0


def _run(args, spark, out) -> None:
    from .operators.boundaries import boundaries
    from .operators.objects import objects
    from .operators.streets import streets
    from .sinks import (
        boundaries_geojson,
        boundaries_json_lines,
        objects_json_lines,
        streets_geojson,
        streets_json_lines,
    )
    from .sources.fixtures import load_entities

    path = args.path
    if path.endswith(".pbf"):
        # blob-parallel executor decode (the reference's rayon pool,
        # mod.rs:211-215, in Spark form) when the topology allows it,
        # else driver-decode + Arrow ship — see load_pbf_tables
        tables = load_pbf_tables(spark, path)
    else:
        tables = load_entities(spark, path)

    # each command picks its frame and its sinks; one place writes them
    if args.cmd == "objects":
        df = objects(tables, args.tags, args.retain_coordinates)
        lines, geojson = objects_json_lines, None
    elif args.cmd == "streets":
        df = streets(tables, args.name, args.boundary)
        lines, geojson = streets_json_lines, streets_geojson
    else:
        df = boundaries(tables, args.levels)
        lines, geojson = boundaries_json_lines, boundaries_geojson
    if getattr(args, "geojson", False):
        out.write(geojson(df) + "\n")
    else:
        for r in lines(df).collect():
            out.write(r["value"] + "\n")


if __name__ == "__main__":
    sys.exit(main())
