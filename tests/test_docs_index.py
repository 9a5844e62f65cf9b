"""docs/OPERATORS.md drift gate (r11 verdict task 2).

Round 11 shipped ~31 operators that never reached the user-facing
index because it was hand-maintained.  The index's query section is
now generated (tools/gen_operators_md.py); these tests fail the suite
the moment a registry key is added without regenerating.
"""

from __future__ import annotations

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


def test_cited_test_files_exist():
    """Every test file the index cites (``pytest `X.py` ``) is a file
    under tests/."""
    doc = open(DOC).read()
    cited = set(re.findall(r"`(?:tests/)?(test_\w+\.py)`", doc))
    missing = sorted(
        f for f in cited if not os.path.isfile(os.path.join(ROOT, "tests", f))
    )
    assert cited and not missing, f"docs/OPERATORS.md cites missing test files: {missing}"
