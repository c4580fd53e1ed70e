"""No package code that only tests reach.

Parses the package and everything outside ``tests/`` that runs it
(``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py``) with
``ast`` and fails on any top-level package ``def`` or ``class`` that no
such code reaches. A name counts as reached only through a ``Name`` read,
an attribute name or a caller's ``from … import``; docstrings and comments
are not code, a def's references to itself do not count, and neither do
the package's own imports (``__init__`` re-exports included): a package
module that uses what it imports reads it by name. The scan runs to a
fixpoint: a use inside a def counts only once that def is itself reached,
so code that only dead code calls is dead too. Top-level functions
decorated with ``….route(…)`` are entry points and count as reached.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "imperio_patitas_etl_spark"
#: code outside the package whose uses count
CALLERS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")

#: kept although nothing outside tests/ reaches them
ALLOWLIST = frozenset(
    {
        # sources/rest.py: the reference's paginated, rate-limited Bsale
        # extract client; a deployment that pulls live data uses it
        "PaginatedRestSource",
        # sinks/sheets.py: the one seam to a live gspread spreadsheet
        # (and so to SheetsMirror); tests drive the mirror with a fake
        "connect_gspread",
        # queries/text.py: the higher-order-function reference that
        # _gopher_rep_stats's test compares the vectorized kernel against
        "_rep_stats_expr",
    }
)

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _files(root: Path):
    for rel in (PACKAGE, *CALLERS):
        p = root / rel
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.is_file():
            yield p


def _uses(node: ast.AST, own: str | None = None, imports: bool = False) -> set[str]:
    """Names a subtree reads, minus ``own`` (a def's self-references);
    ``from … import`` names count only if ``imports``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif imports and isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    out.discard(own)
    return out


def _is_route(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Attribute)
        and d.func.attr == "route"
        for d in getattr(node, "decorator_list", ())
    )


def unreached(root: Path, keep: frozenset[str] = frozenset()) -> set[str]:
    """``path:name`` of every top-level package def or class under ``root``
    that no code outside ``tests/`` reaches; ``keep`` names count as
    reached."""
    defs: dict[str, ast.AST] = {}
    uses: set[str] = set()
    for path in _files(root):
        rel = path.relative_to(root).as_posix()
        in_package = rel.startswith(f"{PACKAGE}/")
        for stmt in ast.parse(path.read_text(), rel).body:
            if in_package and isinstance(stmt, _DEF):
                defs[f"{rel}:{stmt.name}"] = stmt
            else:
                uses |= _uses(stmt, imports=not in_package)
    while True:
        reached = [
            k
            for k, node in defs.items()
            if node.name in uses or node.name in keep or _is_route(node)
        ]
        if not reached:
            return set(defs)
        for k in reached:
            node = defs.pop(k)
            uses |= _uses(node, own=node.name)


def test_no_package_code_only_tests_reach():
    assert sorted(unreached(ROOT, keep=ALLOWLIST)) == []


def test_allowlist_names_are_still_unreached():
    """An allowlisted name that code now reaches, or that is gone, is a
    stale entry."""
    names = {k.rsplit(":", 1)[1] for k in unreached(ROOT)}
    assert ALLOWLIST <= names


def test_scanner_reports_planted_dead_code(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from imperio_patitas_etl_spark.mod import planted  # re-export\n"
    )
    (pkg / "mod.py").write_text(
        '"""Mentions planted and helper in prose only."""\n'
        "from imperio_patitas_etl_spark.util import helper\n"
        "def used():\n"
        "    return 1\n"
        "def planted(n):\n"
        '    """Calls itself and helper; neither counts."""\n'
        "    return planted(n - 1) + helper()\n"
        "class Kept:\n"
        "    pass\n"
        "TABLE = {'k': Kept}\n"
    )
    (pkg / "util.py").write_text("def helper():\n    return 2\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "run.py").write_text(
        "from imperio_patitas_etl_spark.mod import used\nused()\n"
    )
    assert unreached(tmp_path) == {
        f"{PACKAGE}/mod.py:planted",
        f"{PACKAGE}/util.py:helper",
    }
    assert unreached(tmp_path, keep=frozenset({"planted"})) == set()
