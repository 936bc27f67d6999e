"""Every top-level def and class in the package must be reachable from
something other than ``tests/``: a registered query, the HTTP server, the
stream, the bench, a tool, or the package's declared public API.

Pure-AST scan (imports nothing from the package, starts no Spark):

- roots: the module-level code of every package module (``__all__``
  entries count as uses), plus all of ``bench.py``, ``__spark_entry__.py``,
  ``tools/`` and ``perfbench/``;
- a top-level def is live once a live scope names it, as a bare name or
  as an attribute; its own body is then scanned, up to a fixpoint.

Names are matched without their module, so two defs sharing a name stay
alive together: the scan can miss dead code, never flag live code.
Import statements are not uses, so a re-export alone keeps nothing alive.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "duckdb_webhook_gateway_spark"

# Reference implementations that tests compare live code against.
ALLOWED_TEST_ONLY = {
    "operators/dedup.py::shingles": (
        "exploded (doc_id, shingle) input of the wide-band reference in "
        "test_inrow_bands_equal_wide_bands"
    ),
    "operators/dedup.py::minhash_bands_wide": (
        "reference banding that test_inrow_bands_equal_wide_bands holds "
        "minhash_bands_inrow equal to"
    ),
    "workloads/datapipe.py::passage_dedup": (
        "retired registry entry; test_passage_dedup_semantics_retired_entry "
        "replays it against its oracle"
    ),
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _all_entries(stmt: ast.stmt) -> set[str]:
    if isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    ):
        return {
            e.value
            for e in ast.walk(stmt.value)
            if isinstance(e, ast.Constant) and isinstance(e.value, str)
        }
    return set()


def _unreached() -> tuple[set[str], list[str]]:
    """(every def, the defs no root reaches), each as
    ``"<module path>::<name>"``."""
    defs: dict[str, ast.AST] = {}
    live: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[f"{rel}::{stmt.name}"] = stmt
                for dec in stmt.decorator_list:
                    live |= _names(dec)
            else:
                live |= _names(stmt) | _all_entries(stmt)
    roots = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        roots += sorted((REPO / d).rglob("*.py"))
    for path in roots:
        live |= _names(ast.parse(path.read_text()))
    by_name: dict[str, list[ast.AST]] = {}
    for key, node in defs.items():
        by_name.setdefault(key.split("::")[1], []).append(node)
    frontier = set(live)
    while frontier:
        found: set[str] = set()
        for name in frontier:
            for node in by_name.get(name, ()):
                found |= _names(node)
        frontier = found - live
        live |= found
    return set(defs), sorted(k for k in defs if k.split("::")[1] not in live)


def test_every_package_def_is_reached_outside_tests():
    _, unreached = _unreached()
    dead = [k for k in unreached if k not in ALLOWED_TEST_ONLY]
    assert not dead, (
        "reached by no query, endpoint, stream, tool or public API "
        "(delete them with the tests that only cover them): "
        + ", ".join(dead)
    )


def test_allowlist_holds_only_test_only_defs():
    defs, unreached = _unreached()
    missing = sorted(set(ALLOWED_TEST_ONLY) - defs)
    assert not missing, f"allowlisted defs no longer exist: {missing}"
    reachable = sorted(set(ALLOWED_TEST_ONLY) - set(unreached))
    assert not reachable, (
        f"allowlisted defs are reached outside tests; drop them from "
        f"ALLOWED_TEST_ONLY: {reachable}"
    )
