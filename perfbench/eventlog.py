"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
totals: jobs, stages, tasks, executor time, GC, shuffle, spill and the
Python runner SQL metrics that Spark 4.1 attaches to task accumulables."""

from __future__ import annotations

import json
from collections import Counter, defaultdict

# SQL metric display names of the Python runners (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, ...) -> folded key
PYTHON_METRICS = {
    "data sent to Python workers": "python_data_sent_bytes",
    "data returned from Python workers": "python_data_received_bytes",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_total_ms",
}


def fold(lines) -> dict[str, Counter]:
    """{job group id ('' when unset): Counter of totals} from event-log
    lines. A stage is attributed to the group of the first job that
    lists it; only stages that ran (StageCompleted) are counted."""
    stage_group: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[g]["jobs"] += 1
            for s in e.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif ev == "SparkListenerStageCompleted":
            out[stage_group.get(e["Stage Info"]["Stage ID"], "")]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            c = out[stage_group.get(e.get("Stage ID"), "")]
            c["tasks"] += 1
            m = e.get("Task Metrics") or {}
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(a.get("Name"))
                if key:
                    c[key] += int(a.get("Update") or 0)
    return dict(out)


def fold_file(path: str) -> dict[str, Counter]:
    with open(path, encoding="utf-8") as f:
        return fold(f)
