"""Guards against names nothing uses.

``test_every_package_definition_has_a_caller``: every top-level
definition of the package is referenced by name (AST Name, Attribute or
import, or an ``__all__`` entry) somewhere outside ``tests/`` — the
package itself, ``bench.py``, ``__spark_entry__.py``, ``scale_data.py``
or the non-test files of ``perfbench/``. ``@query`` builders count as
referenced (the registry calls them). A definition only tests reach is
either a SURVEY capability COVERAGE.md maps it to (``COVERED``), kept for
a reason stated in ``KEPT``, or dead code to delete. Reference forms the
tests compare production paths against live in tests/reference_forms.py.

``test_slow_test_names_exist``: every name in ``conftest.SLOW_TESTS`` is
a test defined in its file, so the slow marker cannot go stale.

Run: ``python -m pytest tests/test_no_dead_defs.py -q``
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "f1_data_pipeline_spark"

# Only tests call these; each maps to the SURVEY §2 capability COVERAGE.md
# lists it under (the name and the ID both appear there).
COVERED = {
    "recent_counts": "A4–A6",
    "observed_run": "K8",
    "verify_tables": "S5",
    "analyze_wire": "S5",
    "read_jdbc": "S4",
    "table_stats_query": "S4",
    "jdbc_merge_upsert_writer": "K6",
    "upsert_parquet": "K5",
    "stream_silver": "T11",
    "stream_silver_from_socket": "S1",
    "stream_race_control": "A2",
    "stream_weather_windows": "T7",
    "stream_driver_sessions": "T7",
    "stream_quarantine": "T10",
    "stop_all": "T9",
    "RateObserver": "T2",
    "stream_running_driver_stats": "custom stateful op",
    "stream_enriched_telemetry": "cross-batch cache",
    "stream_keyed_upsert": "K4",
}

# Only tests call these either; kept for the reason given.
_SILVER_DDL = "silver DDL contract checked by test_silver_schema_contracts"
_MAINTENANCE = "table maintenance an operator runs; no engine path calls it"
KEPT = {
    "connector": "pgwire's DB-API connection factory for the K4/K5 PostgreSQL tests",
    "DERBY_EMBEDDED_DRIVER": "the S4 JDBC tests' embedded Derby driver class",
    "SWEEP_ONLY": "why each §2.12 query sits outside the driver window (test_registry)",
    "SESSIONS": _SILVER_DDL,
    "LAP_DATA": _SILVER_DDL,
    "DRIVER_POSITIONS": _SILVER_DDL,
    "CAR_TELEMETRY": _SILVER_DDL,
    "CAR_POSITIONS": _SILVER_DDL,
    "RACE_CONTROL": _SILVER_DDL,
    "WEATHER": _SILVER_DDL,
    "snapshot_vacuum": _MAINTENANCE,
    "snapshot_optimize": _MAINTENANCE,
    "snapshot_clean_orphans": _MAINTENANCE,
}


def _non_test_files() -> list[pathlib.Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / n for n in ("bench.py", "__spark_entry__.py", "scale_data.py")]
    files += sorted(
        p
        for p in (ROOT / "perfbench").rglob("*.py")
        if not p.name.startswith("test_") and p.name != "conftest.py"
    )
    return files


def _is_query_builder(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", [])
    )


def _defined_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_query_builder(node):
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [t.id for t in targets if isinstance(t, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _referenced_names(tree: ast.Module) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif (
            isinstance(node, ast.Assign)
            and any(getattr(t, "id", None) == "__all__" for t in node.targets)
        ):
            refs |= {
                e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)
            }
    return refs


def _unreferenced() -> dict[str, str]:
    """{name: module} for package definitions no non-test file names."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _non_test_files()}
    refs = set().union(*(_referenced_names(t) for t in trees.values()))
    return {
        name: str(p.relative_to(ROOT))
        for p, tree in trees.items()
        if PKG in p.parents
        for name in _defined_names(tree)
        if name not in refs
    }


def test_every_package_definition_has_a_caller():
    dead = _unreferenced()
    unexplained = {n: m for n, m in dead.items() if n not in COVERED and n not in KEPT}
    assert not unexplained, (
        "package definitions only tests reach — give each a caller, map it "
        f"to its SURVEY capability in COVERED, or delete it: {unexplained}"
    )
    coverage = (ROOT / "COVERAGE.md").read_text()
    unmapped = {
        n: cap for n, cap in COVERED.items() if n not in coverage or cap not in coverage
    }
    assert not unmapped, f"COVERED entries COVERAGE.md does not map: {unmapped}"
    stale = sorted((set(COVERED) | set(KEPT)) - set(dead))
    assert not stale, f"allowlisted names now have a non-test caller: {stale}"


def test_slow_test_names_exist():
    from tests.conftest import SLOW_TESTS

    missing = {}
    for fname, names in SLOW_TESTS.items():
        tree = ast.parse((ROOT / "tests" / fname).read_text())
        defined = {
            n.name for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        if names - defined:
            missing[fname] = sorted(names - defined)
    assert not missing, f"SLOW_TESTS names no test defines: {missing}"
