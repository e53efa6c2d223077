"""Every package module is reached from a non-test entry point.

A stdlib `ast` walk, no Spark. It starts at the declared queries
(`__spark_entry__.py`), the bench harnesses, `tools/*.py`,
`perfbench/*.py`, the CLI and the package `__init__`, follows every
import it finds (module level or inside a function), and asserts that
each `osm_pbf2json_spark` module is reached or is on `ALLOWED_UNREACHED`
with a reason. A module that only tests import fails here.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "osm_pbf2json_spark"

ALLOWED_UNREACHED = {
    f"{PKG}._daemon": "loaded by name through spark.python.daemon.module",
    f"{PKG}.plans.lineage": "north-star lineage manifests and restart, reached only by tests so far",
    f"{PKG}.sources.pages": "north-star pages table, reached only by tests so far",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _entry_points() -> list[Path]:
    return [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
        ROOT / PKG / "cli.py",
        ROOT / PKG / "__init__.py",
    ]


def _imported(path: Path, module: str | None, mods: dict[str, Path]) -> set[str]:
    """Package modules that `path` imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                if not is_pkg:
                    parts.pop()
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for name in found:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                reached.add(prefix)
    return reached


def reachable() -> set[str]:
    mods = _package_modules()
    by_path = {p: m for m, p in mods.items()}
    seen: set[str] = set()
    todo = [(p, by_path.get(p)) for p in _entry_points()]
    while todo:
        path, module = todo.pop()
        for m in _imported(path, module, mods) - seen:
            seen.add(m)
            todo.append((mods[m], m))
    return seen


def test_entry_points_exist():
    missing = [str(p) for p in _entry_points() if not p.exists()]
    assert not missing, missing


def test_every_package_module_is_reached():
    unreached = set(_package_modules()) - reachable() - set(ALLOWED_UNREACHED)
    assert not unreached, f"modules only tests reach: {sorted(unreached)}"


def test_allowlist_is_current():
    mods = set(_package_modules())
    stale = sorted(m for m in ALLOWED_UNREACHED if m not in mods or m in reachable())
    assert not stale, f"allowlisted modules that are gone or now reached: {stale}"
