"""Repository benchmark: seeded workloads through the package's public
entry points on local[<nproc>], with output checks and a traced mode.

    python3 perfbench/run.py --workload pip_hot --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Inputs, Spark scratch space and the event log live under
.perfbench/work/ and are removed at exit; a JSON artifact per run (with
the machine fingerprint, every sample and every span) is kept under
.perfbench/artifacts/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import io
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pip_hot", "pip_sparse", "osm_cli")
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS (Linux clear_refs code 5)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and all its descendants: the driver, the JVM and the
    Python workers."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def fingerprint() -> dict:
    import numpy
    import pyspark

    cpu = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    rev = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        rev = r.stdout.strip() or "unknown"
    src = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "osm_pbf2json_spark", "**", "*.py"), recursive=True)):
        src.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            src.update(f.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": cpu,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "git_revision": rev,
        "package_sha256": src.hexdigest()[:16],
    }


class RunEnv:
    """Work directories, environment and the Spark session of one run."""

    def __init__(self, workload: str, seed: int, trace: int):
        self.nproc = len(os.sched_getaffinity(0))
        self.base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.base, "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # Python workers import the package and these modules by path, and
        # every scratch file stays inside the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        self.spark = None

    def start(self, event_log: bool = False):
        from osm_pbf2json_spark.session import get_session

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_session(
            master=f"local[{self.nproc}]",
            app_name="perfbench",
            shuffle_partitions=2 * self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM (and with it the Python workers) and
        wait for it, then drop the work directory."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def run_checked(wl, spark, release) -> dict:
    """One pass and its check; an exception counts as a failed pass."""
    rec: dict = {}
    try:
        cpu0 = tree_cpu_s()
        rec = wl.run_pass(spark)
        rec["cpu_s"] = tree_cpu_s() - cpu0
        rec["peak_mb"] = peak_rss_mb()
        rec["problems"] = wl.check()
    except Exception:  # the benchmark keeps measuring; the pass is failed
        rec["problems"] = [traceback.format_exc(limit=4)]
    rec["leaked_rdds"] = rec.get("leaked_rdds", 0) + release(spark)
    for p in rec["problems"]:
        log(f"check failed: {p}")
    return rec


def timed_run(env: RunEnv, wl, seconds: int, t_start: float):
    from workloads import release_persisted

    spark = env.start()
    wl.setup()
    wl.warm_up(spark)
    release_persisted(spark)
    setup_s = time.perf_counter() - t_start
    log(f"setup {setup_s:.1f}s; measuring for {seconds}s")
    samples = []
    t0 = time.perf_counter()
    while True:
        reset_peak_rss()
        samples.append(run_checked(wl, spark, release_persisted))
        if time.perf_counter() - t0 >= seconds:
            break
    extra = wl.input_problems()
    for p in extra:
        log(f"input check failed: {p}")
    ok = [s for s in samples if not s["problems"]]
    timed = [s for s in (ok or samples) if "wall_s" in s]
    if not timed:
        raise RuntimeError("no pass completed; nothing to report")
    values = {
        "rows_per_cpu_s": wl.rows / statistics.median(s["cpu_s"] for s in timed),
        "driver_peak_mb": statistics.median(s["peak_mb"] for s in timed),
        "setup_s": setup_s,
    }
    # wall-time throughput stays in the artifact: on a shared host it
    # drifts too much between runs to gate on (see README)
    log(f"rows_per_s {wl.rows / statistics.median(s['wall_s'] for s in timed):.1f}")
    return samples, values, extra


def traced_run(env: RunEnv, wl, seed: int):
    import eventlog
    import layers as T
    import pandas as pd
    import synth
    from osm_pbf2json_spark import cli
    from workloads import WARM_CITY, OsmWorkload, PipWorkload, release_persisted

    # one session with the event log on; a shorter warm-up than the timed
    # run, so that the traced run stays well inside its time limit
    pip = isinstance(wl, PipWorkload)
    spark = env.start(event_log=True)
    sc = spark.sparkContext
    wl.setup()
    sc.setJobGroup("warmup", "warm-up")
    wl.warm_up(spark, passes=3 if pip else 1)
    release_persisted(spark)
    tr = T.Tracer(spark)
    m: dict = {}
    samples = []

    def traced(fn) -> dict:
        rec: dict = {}
        try:
            rec = fn() or {}
            rec["problems"] = wl.check()
        except Exception:  # the pass is failed; the trace goes on
            rec["problems"] = [traceback.format_exc(limit=4)]
        samples.append(rec)
        return rec

    if pip:
        # tracing overhead: untraced and traced passes, alternating
        def traced_pass(name):
            with tr.span(name):
                return wl.run_pass(spark)

        for i in range(2):
            sc.setJobGroup("untraced", "outside spans")
            samples.append(run_checked(wl, spark, release_persisted))
            traced(lambda: traced_pass(f"workload.{i}"))
            m["spark.leaked_rdds"] = release_persisted(spark)
        groups = ["workload.1"]
        untraced_s = min(s["wall_s"] for s in samples[0::2])
        traced_s = min(s["wall_s"] for s in samples[1::2])
        m["trace.rows_per_s"] = wl.rows / traced_s
    else:
        # tracing overhead: one boundaries call outside any span against
        # the traced one in the round that follows
        sc.setJobGroup("untraced", "outside spans")
        t0 = time.perf_counter()
        cli.main([wl.pbf, "boundaries", "-l", "10"], spark=spark, out=io.StringIO())
        untraced_s = time.perf_counter() - t0
        release_persisted(spark)
        traced(lambda: m.update(T.cli_spans(tr, wl)))
        groups = [f"cli.{n}" for n, _ in T.CLI_COMMANDS]
        traced_s = tr.dur("cli.boundaries")
        m["trace.rows_per_s"] = wl.rows / sum(tr.dur(g) for g in groups)
    m["trace.overhead_share"] = traced_s / untraced_s - 1.0

    if pip:
        # companion: the OSM layers on the seed's small city extract; its
        # CLI spans go first so that the layer spans after them run warm
        city_wl = OsmWorkload(seed, os.path.join(env.work, "city"), WARM_CITY)
        city_wl.setup()
        cli_m = T.cli_spans(tr, city_wl)
        cli_m.pop("spark.leaked_rdds")  # session metrics describe the workload pass
        m.update(cli_m)
        extra = city_wl.check()
        lon, lat, polys, rows = wl.lon, wl.lat, synth.GRID_POLYGONS, wl.rows
        with tr.span("pip.read"):
            pts = T._pin(spark.read.parquet(wl.points_dir))
    else:
        # companion: the spatial layers on the city's node coordinates
        # against its level-10 districts
        city_wl = wl
        extra = wl.input_problems()
        lon, lat = synth.deg(wl.city.node_lon), synth.deg(wl.city.node_lat)
        polys, rows = T.district_polygons(wl.city), len(lon)
        with tr.span("pip.read"):
            pts = T._pin(spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})))
    for p in extra:
        log(f"check failed: {p}")
    m.update(T.spatial_layers(tr, pts, rows, polys, "spatial"))
    m.update(T.osm_layers(tr, city_wl))
    m["geometry.stitch_rings_ms"] = T.stitch_timing(city_wl.city)
    m.update(T.kernel_timings(lon, lat, polys, seed))
    release_persisted(spark)
    env.stop()

    logs = glob.glob(os.path.join(env.event_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    folded = eventlog.fold_file(logs[0])
    m.update(T.session_metrics(folded, groups))
    m["pbf.python_total_s"] = folded["pbf"]["python_total_ms"] * 1e-3
    m["closure.jobs"] = folded["closure"]["jobs"]
    m["streets.cluster_s"] = folded["streets.extract"]["python_total_ms"] * 1e-3
    m["spatial.partial_rows"] = folded["spatial"]["shuffle_records_written"]
    m["spatial.combine_ratio"] = rows / m["spatial.partial_rows"]
    spans = [
        {**{k: v for k, v in s.items() if k != "start"}, "spark": dict(folded.get(name, {}))}
        for name, s in tr.spans.items()
    ]
    return samples, m, extra, spans


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]
    try:
        import osm_pbf2json_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the osm_pbf2json_spark package from {ROOT}: {e}")
        return 2
    import metrics
    import workloads

    load_before = os.getloadavg()
    env = RunEnv(args.workload, args.seed, args.trace)
    wl = workloads.make(args.workload, args.seed, os.path.join(env.work, "input"), env.nproc)
    try:
        if args.trace:
            samples, values, extra, spans = traced_run(env, wl, args.seed)
            printed = metrics.render(values, metrics.PER_LAYER)
        else:
            samples, values, extra = timed_run(env, wl, args.seconds, t_start)
            spans = []
            printed = metrics.render(values, metrics.END_TO_END)
    finally:
        env.close()

    failed = sum(1 for s in samples if s["problems"])
    result = {
        "correct": failed == 0 and not extra,
        "attempted": len(samples),
        "failed": failed,
        "metrics": printed,
    }
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "rows": wl.rows,
        "fingerprint": fingerprint(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "samples": samples,
        "spans": spans,
        "result": result,
    }
    art_dir = os.path.join(env.base, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    path = os.path.join(
        art_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    log(f"artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
