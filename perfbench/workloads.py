"""The three workloads: inputs on disk, one timed pass, and its check.

A pass goes through the package's public entry points exactly as a user
runs them: `spatial.pip_tile_rollup` over a parquet point table written
back to parquet (pip_hot, pip_sparse), or three `cli.main` calls on a
`.osm.pbf` file (osm_cli).
"""

from __future__ import annotations

import io
import os
import shutil
import time

import numpy as np

import checks
import pbfwrite
import synth

PIP_POINTS = 1_000_000
HEX_RES = 9
CLI_COMMANDS = (
    ("objects", ["objects", "-t", "amenity~cafe"]),
    ("boundaries", ["boundaries", "-l", "10"]),
    ("streets", ["streets", "-b", "10"]),
)
# the warm-up extract: same generator, a few streets and POIs per district
WARM_CITY = dict(rows=3, chains_per_row=2, pois=60, buildings=12)


def release_persisted(spark) -> int:
    """Unpersist every RDD a pass left cached or checkpointed; returns
    how many there were."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for r in rdds:
        r.unpersist(True)
    return len(rdds)


class PipWorkload:
    """pip_tile_rollup (hex res 9) over the 16x16 district grid."""

    def __init__(self, kind: str, seed: int, work: str, nproc: int):
        self.kind = kind
        self.seed = seed
        self.points_dir = os.path.join(work, "points")
        self.out_dir = os.path.join(work, "rollup")
        self.files = 2 * nproc
        self.rows = PIP_POINTS
        self.lon = self.lat = self.truth = None

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.lon, self.lat = synth.points(self.seed, self.kind, self.rows)
        self.truth = synth.district_counts(self.lon, self.lat)
        shutil.rmtree(self.points_dir, ignore_errors=True)
        os.makedirs(self.points_dir)
        n = self.rows
        ids = np.arange(n, dtype=np.int64)
        for i in range(self.files):
            sl = slice(i * n // self.files, (i + 1) * n // self.files)
            pq.write_table(
                pa.table({"point_id": ids[sl], "lon": self.lon[sl], "lat": self.lat[sl]}),
                os.path.join(self.points_dir, f"part-{i:03d}.parquet"),
            )

    def run_pass(self, spark) -> dict:
        from osm_pbf2json_spark.operators import spatial

        t0 = time.perf_counter()
        points = spark.read.parquet(self.points_dir)
        spatial.pip_tile_rollup(points, synth.GRID_POLYGONS, res=HEX_RES, grid="hex").write.mode(
            "overwrite"
        ).parquet(self.out_dir)
        return {"wall_s": time.perf_counter() - t0}

    # the first pass is cold (JIT, worker start, ~8x a warm pass), and pass
    # times keep falling through about the fifth
    warm_passes = 6

    def warm_up(self, spark, passes: int | None = None) -> None:
        for _ in range(passes or self.warm_passes):
            self.run_pass(spark)

    def input_problems(self) -> list[str]:
        """pyarrow writes and Spark reads the points; nothing to compare."""
        return []

    def check(self) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.out_dir, columns=["polygon_key", "n_points"])
        return checks.check_rollup(
            t.column("polygon_key").to_pylist(), t.column("n_points").to_numpy(), self.truth
        )


class OsmWorkload:
    """objects / boundaries / streets through cli.main on a synthetic
    multi-blob .osm.pbf city extract."""

    def __init__(self, seed: int, work: str, city_size: dict | None = None):
        self.seed = seed
        self.work = work
        self.city_size = city_size or {}
        self.pbf = os.path.join(work, "city.osm.pbf")
        self.warm_pbf = os.path.join(work, "warm.osm.pbf")
        self.city = None
        self.rows = 0
        self.outputs: dict = {}

    def setup(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.city = synth.city(self.seed, **self.city_size)
        blobs = pbfwrite.write_pbf(self.pbf, self.city)
        self.rows = self.city.n_entities
        # as many blobs as the timed file, so the warm-up decode starts as
        # many Python workers
        warm = synth.city(self.seed + 1, **WARM_CITY)
        per_block = max(64, warm.n_entities // (blobs + 2))
        pbfwrite.write_pbf(self.warm_pbf, warm, per_block=per_block)

    def cli_round(self, spark, pbf: str) -> dict:
        from osm_pbf2json_spark import cli

        res = {"leaked_rdds": 0}
        total = 0.0
        for name, argv in CLI_COMMANDS:
            buf = io.StringIO()
            t0 = time.perf_counter()
            cli.main([pbf, *argv], spark=spark, out=buf)
            dt = time.perf_counter() - t0
            total += dt
            res[f"{name}_s"] = dt
            self.outputs[name] = buf.getvalue().splitlines()
            res["leaked_rdds"] += release_persisted(spark)
        res["wall_s"] = total
        return res

    def run_pass(self, spark) -> dict:
        return self.cli_round(spark, self.pbf)

    # a second round still runs objects ~40% faster than the first
    warm_passes = 2

    def warm_up(self, spark, passes: int | None = None) -> None:
        for _ in range(passes or self.warm_passes):
            self.cli_round(spark, self.warm_pbf)

    def check(self) -> list[str]:
        return (
            [f"objects: {p}" for p in checks.check_objects(self.outputs["objects"], self.city)]
            + [f"boundaries: {p}" for p in checks.check_boundaries(self.outputs["boundaries"], self.city)]
            + [f"streets: {p}" for p in checks.check_streets(self.outputs["streets"], self.city)]
        )

    def input_problems(self) -> list[str]:
        """Decode the written PBF with the package's own decoder and
        compare every entity with the generator's lists."""
        from osm_pbf2json_spark.sources.pbf import decode_pbf

        d = decode_pbf(self.pbf)
        c = self.city
        want_nodes = [
            (int(i), la * 1e-7, lo * 1e-7, c.node_tags.get(k, {}))
            for k, (i, la, lo) in enumerate(
                zip(c.node_id.tolist(), c.node_lat.tolist(), c.node_lon.tolist())
            )
        ]
        problems = []
        if d.nodes != want_nodes:
            problems.append("decoded nodes differ from the generator's")
        if d.ways != [tuple(w) for w in c.ways]:
            problems.append("decoded ways differ from the generator's")
        if d.relations != [tuple(r) for r in c.relations]:
            problems.append("decoded relations differ from the generator's")
        return problems


def make(workload: str, seed: int, work: str, nproc: int):
    if workload == "pip_hot":
        return PipWorkload("hot", seed, work, nproc)
    if workload == "pip_sparse":
        return PipWorkload("sparse", seed, work, nproc)
    if workload == "osm_cli":
        return OsmWorkload(seed, work)
    raise ValueError(f"unknown workload {workload!r}")
