"""Output checks against the generator's truth (never against the engine).

Each check returns a list of problems; an empty list means the output is
correct. A run whose pass raises or returns problems counts as failed.
"""

from __future__ import annotations

import json
from collections import Counter

import numpy as np

COORD_TOL = 1e-9  # degrees; a decimicro shift (1e-7) must be caught


def check_rollup(keys, counts, truth: dict) -> list[str]:
    """pip_tile_rollup output (polygon_key, n_points per row) against the
    strict-inside district counts; key None = outside every district."""
    got: Counter = Counter()
    for k, n in zip(keys, np.asarray(counts, dtype=np.int64).tolist()):
        got[k] += n
    problems = []
    total, want_total = sum(got.values()), sum(truth.values())
    if total != want_total:
        problems.append(f"grand total {total} != {want_total}")
    for k in sorted(set(got) | set(truth), key=str):
        if got.get(k, 0) != truth.get(k, 0):
            problems.append(f"polygon {k}: {got.get(k, 0)} points != {truth.get(k, 0)}")
    return problems[:20]


def check_objects(lines: list[str], city) -> list[str]:
    """`objects -t amenity~cafe`: exact (type, id) set; node coordinates."""
    problems = []
    seen = set()
    for line in lines:
        o = json.loads(line)
        key = (o["type"], int(o["id"]))
        if key in seen:
            problems.append(f"duplicate object {key}")
        seen.add(key)
        if o["type"] == "node" and key in city.cafes:
            lon, lat = city.cafe_nodes[key[1]]
            if abs(o["lon"] - lon) > COORD_TOL or abs(o["lat"] - lat) > COORD_TOL:
                problems.append(f"node {key[1]} at ({o['lon']}, {o['lat']}) != ({lon}, {lat})")
    missing = city.cafes - seen
    extra = seen - city.cafes
    if missing:
        problems.append(f"{len(missing)} objects missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected objects, e.g. {sorted(extra)[:3]}")
    return problems[:20]


def check_boundaries(lines: list[str], city) -> list[str]:
    """`boundaries -l 10`: every level-10 district once, with its exact bbox."""
    problems = []
    got = {}
    for line in lines:
        b = json.loads(line)
        if b["name"] in got:
            problems.append(f"duplicate boundary {b['name']}")
        if int(b["admin_level"]) != 10:
            problems.append(f"boundary {b['name']} has admin_level {b['admin_level']}")
        got[b["name"]] = (*b["bbox"]["sw"], *b["bbox"]["ne"])
    if set(got) != set(city.boundaries10):
        problems.append(
            f"boundary names differ: missing {sorted(set(city.boundaries10) - set(got))}, "
            f"extra {sorted(set(got) - set(city.boundaries10))}"
        )
    for name, want in city.boundaries10.items():
        have = got.get(name)
        if have is not None and max(abs(a - b) for a, b in zip(have, want)) > COORD_TOL:
            problems.append(f"boundary {name} bbox {have} != {want}")
    return problems[:20]


def check_streets(lines: list[str], city) -> list[str]:
    """`streets -b 10`: line count and (name, boundary) multiset."""
    got = Counter()
    for line in lines:
        s = json.loads(line)
        got[(s["name"], s.get("boundary"))] += 1
    problems = []
    n, want_n = sum(got.values()), sum(city.streets10.values())
    if n != want_n:
        problems.append(f"{n} street lines != {want_n}")
    diff = (got - city.streets10) + (city.streets10 - got)
    if diff:
        problems.append(f"(name, boundary) multiset differs on {len(diff)} keys, e.g. {list(diff)[:3]}")
    return problems
