"""Tests of the benchmark itself: seeded inputs, the PBF writer, the
output checkers and the event-log fold.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import eventlog  # noqa: E402
import metrics  # noqa: E402
import pbfwrite  # noqa: E402
import synth  # noqa: E402
import workloads  # noqa: E402

SMALL_CITY = workloads.WARM_CITY


def test_same_seed_gives_identical_points():
    for kind in ("hot", "sparse"):
        a = synth.points(11, kind, 50_000)
        b = synth.points(11, kind, 50_000)
        c = synth.points(12, kind, 50_000)
        assert all(x.tobytes() == y.tobytes() for x, y in zip(a, b))
        assert a[0].tobytes() != c[0].tobytes()


def test_same_seed_gives_byte_identical_pbf(tmp_path):
    paths = []
    for i, seed in enumerate((5, 5, 6)):
        p = tmp_path / f"c{i}.osm.pbf"
        pbfwrite.write_pbf(str(p), synth.city(seed, **SMALL_CITY))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_pip_inputs_byte_identical(tmp_path):
    files = []
    for d in ("a", "b"):
        wl = workloads.PipWorkload("hot", 3, str(tmp_path / d), nproc=2)
        wl.rows = 20_000
        wl.setup()
        files.append([open(p, "rb").read() for p in sorted(glob.glob(os.path.join(wl.points_dir, "*")))])
    assert files[0] == files[1] and len(files[0]) == 4


def test_pbf_round_trips_through_decoder(tmp_path):
    osm = workloads.OsmWorkload(9, str(tmp_path))
    osm.city = synth.city(9, **SMALL_CITY)
    blobs = pbfwrite.write_pbf(osm.pbf, osm.city, per_block=500)
    assert blobs > 3  # several OSMData blobs
    assert osm.input_problems() == []
    # the comparison is not vacuous: a changed tag is reported
    osm.city.ways[0] = (osm.city.ways[0][0], osm.city.ways[0][1], {"highway": "x"})
    assert osm.input_problems() == ["decoded ways differ from the generator's"]


def test_varints_match_scalar_encoding():
    vals = [0, 1, 127, 128, 300, 2**31, 2**63 - 1] * 20  # NumPy path (>= 64 values)
    assert pbfwrite.varints(vals) == b"".join(pbfwrite.varints([v]) for v in vals)


def test_city_truth_shapes():
    c = synth.city(4)
    assert len(c.boundaries10) == synth.NX * synth.NY
    # every boundary-crossing chain splits into two lines
    crossing = synth.NY * (synth.NX // 2)
    names = Counter(n for n, _ in c.streets10.elements())
    assert sum(c.streets10.values()) >= crossing
    assert any(v > 1 for v in names.values())  # reused names
    assert {t for t, _ in c.cafes} == {"node", "way", "relation"}


# --- checkers -------------------------------------------------------------------


def _objects_lines(city):
    lines = []
    for t, i in sorted(city.cafes):
        o = {"id": i, "type": t, "tags": {"amenity": "cafe"}}
        if t == "node":
            o["lon"], o["lat"] = city.cafe_nodes[i]
        lines.append(json.dumps(o))
    return lines


def _boundary_lines(city):
    return [
        json.dumps({"name": n, "admin_level": 10, "bbox": {"sw": [b[0], b[1]], "ne": [b[2], b[3]]}})
        for n, b in city.boundaries10.items()
    ]


def _street_lines(city):
    return [
        json.dumps({"id": k, "name": n, "boundary": b, "length": 1.0, "loc": [0, 0]})
        for k, (n, b) in enumerate(city.streets10.elements())
    ]


def test_checkers_accept_truth_and_flag_dropped_rows():
    city = synth.city(8, **SMALL_CITY)
    for check, lines in (
        (checks.check_objects, _objects_lines(city)),
        (checks.check_boundaries, _boundary_lines(city)),
        (checks.check_streets, _street_lines(city)),
    ):
        assert check(lines, city) == []
        assert check(lines[:-1], city) != []


def test_checkers_flag_shifted_coordinates():
    city = synth.city(8, **SMALL_CITY)
    lines = _objects_lines(city)
    k = next(i for i, line in enumerate(lines) if '"node"' in line)
    o = json.loads(lines[k])
    o["lat"] += 1e-7  # one decimicro
    assert checks.check_objects(lines[:k] + [json.dumps(o)] + lines[k + 1:], city)
    b = [json.loads(x) for x in _boundary_lines(city)]
    b[0]["bbox"]["ne"][0] += 1e-7
    assert checks.check_boundaries([json.dumps(x) for x in b], city)


def test_rollup_check_flags_dropped_row_and_moved_point():
    lon, lat = synth.points(2, "hot", 30_000)
    truth = synth.district_counts(lon, lat)
    keys = list(truth)
    counts = [truth[k] for k in keys]
    assert checks.check_rollup(keys, counts, truth) == []
    assert checks.check_rollup(keys[1:], counts[1:], truth)
    moved = list(counts)
    moved[0] -= 1
    moved[1] += 1  # grand total unchanged, one point in the wrong district
    assert checks.check_rollup(keys, moved, truth)


def test_grid_is_the_flagship_grid():
    import __spark_entry__

    assert synth.GRID_POLYGONS == __spark_entry__.GRID_POLYGONS


def test_district_counts_match_bruteforce():
    lon, lat = synth.points(6, "sparse", 20_000)
    want = Counter()
    for x, y in zip(lon.tolist(), lat.tolist()):
        key = None
        for p in synth.GRID_POLYGONS:
            (x0, y0), _, (x1, y1) = p["polygons"][0][0][:3]
            if x0 < x < x1 and y0 < y < y1:
                key = p["key"]
                break
        want[key] += 1
    assert synth.district_counts(lon, lat) == dict(want)


# --- metrics and event log ------------------------------------------------------


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert listed == table
    assert {w["name"] for w in spec["workloads"]} <= set(__import__("run").WORKLOADS)


def test_fold_synthetic_log():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "h"}},  # stage 1 skipped, stays in g
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    for stage, run_ms in ((0, 5), (0, 7), (1, 1), (2, 3)):
        ev.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Records Written": 2}},
            "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "4"}]},
        })
    out = eventlog.fold(json.dumps(e) for e in ev)
    assert (out["g"]["jobs"], out["g"]["stages"], out["g"]["tasks"]) == (1, 2, 3)
    assert (out["h"]["jobs"], out["h"]["stages"], out["h"]["tasks"]) == (1, 1, 1)
    assert out["g"]["executor_run_ms"] == 13 and out["g"]["python_total_ms"] == 12
    assert out["h"]["shuffle_records_written"] == 2


@pytest.fixture(scope="module")
def spark_eventlog(tmp_path_factory):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    d = tmp_path_factory.mktemp("eventlog")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH, os.environ.get("PYTHONPATH", "")])
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(d))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setJobGroup("one_stage", "3 tasks")
    sc.parallelize(range(30), 3).map(lambda x: x * 2).count()
    sc.setJobGroup("two_stages", "3 map + 2 reduce tasks")
    sc.parallelize(range(30), 3).map(lambda x: (x % 5, 1)).reduceByKey(lambda a, b: a + b, 2).collect()
    spark.stop()
    (log,) = glob.glob(str(d / "*"))
    yield eventlog.fold_file(log)
    shutil.rmtree(d, ignore_errors=True)


def test_fold_counts_a_tiny_known_job(spark_eventlog):
    one, two = spark_eventlog["one_stage"], spark_eventlog["two_stages"]
    assert (one["jobs"], one["stages"], one["tasks"]) == (1, 1, 3)
    assert (two["jobs"], two["stages"], two["tasks"]) == (1, 2, 5)
    assert two["shuffle_records_written"] > 0 and two["shuffle_read_bytes"] > 0
    assert one["shuffle_write_bytes"] == 0
