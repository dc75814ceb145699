"""Every top-level function and class in the package has a caller.

An AST scan of ``smartbots_etl_facturas_spark/`` lists each top-level
``def`` and ``class`` with its line span. A word scan over every
Python file in the repository (the package, tests, scripts,
perfbench/, bench.py and __spark_entry__.py) counts where each name
occurs. A name that occurs only inside its own definition is library
code with no caller and fails the test. Names in strings and comments
count as uses (SQL text, column names, doc cross-references), so the
scan can miss dead code but never flags code that is used by name.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "smartbots_etl_facturas_spark"
SKIP_DIRS = {"__pycache__", "spark-warehouse"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
WORD = re.compile(r"[A-Za-z_]\w*")


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if not any(p in SKIP_DIRS or p.startswith(".") for p in rel.parts):
            yield path, path.read_text(encoding="utf-8")


def unreferenced_defs() -> list[str]:
    uses, dead, defs = Counter(), [], []
    for path, text in _sources():
        uses.update(WORD.findall(text))
        if PKG in path.parents:
            lines = text.splitlines()
            for stmt in ast.parse(text, str(path)).body:
                if isinstance(stmt, DEFS):
                    body = "\n".join(lines[stmt.lineno - 1:stmt.end_lineno])
                    own = WORD.findall(body).count(stmt.name)
                    defs.append((path, stmt.lineno, stmt.name, own))
    for path, line, name, own in defs:
        if uses[name] == own:
            dead.append(f"{path.relative_to(ROOT)}:{line} {name}")
    return dead


def test_no_unreferenced_package_defs():
    dead = unreferenced_defs()
    assert not dead, "package defs with no caller:\n" + "\n".join(dead)
