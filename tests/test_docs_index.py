"""Docs drift gate.  The query section of docs/OPERATORS.md is
generated (tools/gen_operators_md.py), so these tests fail the suite
the moment a registry key is added without regenerating; and every
test that docs/OPERATORS.md or COVERAGE.md cites must exist.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC = os.path.join(ROOT, "docs", "OPERATORS.md")


def test_every_registry_key_in_operators_md():
    doc = open(DOC).read()
    missing = [
        k
        for k in sorted(set(q.QUERIES) | set(q.AUX_QUERIES))
        if f"`{k}`" not in doc
    ]
    assert not missing, (
        f"registry keys absent from docs/OPERATORS.md: {missing} — "
        "run python tools/gen_operators_md.py"
    )


def test_generated_index_is_current():
    """Byte-exact check: the committed generated section equals what
    the generator produces from the live registries."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_operators_md.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stderr or r.stdout


def _test_names(path: str) -> set[str]:
    tree = ast.parse(open(path).read())
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_cited_test_files_exist():
    """Every test file docs/OPERATORS.md or COVERAGE.md cites is a file
    under tests/, and every cited test (``X.py::name``, or ``::name``
    after ``X.py`` on the same line) is defined in it; a name ending in
    ``*`` is a prefix."""
    cite = re.compile(r"\b(test_\w+\.py)(?:::(\w+\*?))?|`::(\w+\*?)")
    names = {}
    cited, missing = 0, []
    for doc in (DOC, os.path.join(ROOT, "COVERAGE.md")):
        rel = os.path.relpath(doc, ROOT)
        for line in open(doc):
            f = None
            for m in cite.finditer(line):
                f, name = m[1] or f, m[2] or m[3]
                cited += 1
                path = os.path.join(ROOT, "tests", f or "")
                if not f or not os.path.isfile(path):
                    missing.append(f"{rel}: {f}")
                    continue
                if name is None:
                    continue
                if f not in names:
                    names[f] = _test_names(path)
                if not any(
                    n.startswith(name[:-1]) if name.endswith("*") else n == name
                    for n in names[f]
                ):
                    missing.append(f"{rel}: {f}::{name}")
    assert cited and not missing, f"cited tests that do not exist: {missing}"
