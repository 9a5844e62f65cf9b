"""Regenerate the GENERATED section of docs/OPERATORS.md from the
query registries (r11 verdict task 2).

Round 10/11 showed the hand-maintained index drifting: COVERAGE.md was
kept current while docs/OPERATORS.md silently missed every round-11
operator.  The fix is mechanical derivation — this script rebuilds the
"Complete verified-query index" section from ``queries.QUERIES`` /
``queries.AUX_QUERIES`` (key, implementing function, module, summary
sentence from the function's own docstring, verifying harness), so the
index CANNOT drift unless someone forgets to run it — and
``tests/test_docs_index.py`` fails the suite in that case.

Usage: python tools/gen_operators_md.py          # rewrites in place
       python tools/gen_operators_md.py --check  # exit 1 if stale
"""

from __future__ import annotations

import inspect
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DOC = os.path.join(ROOT, "docs", "OPERATORS.md")
BEGIN = "<!-- BEGIN GENERATED QUERY INDEX (tools/gen_operators_md.py) -->"
END = "<!-- END GENERATED QUERY INDEX -->"


def _summary(fn) -> str:
    """First paragraph of the function docstring, collapsed to one
    line and trimmed; the query docstrings carry the operator pointer
    and the scale/shape note, which is exactly what the index row
    needs."""
    doc = inspect.getdoc(fn) or ""
    para = doc.split("\n\n", 1)[0]
    one = re.sub(r"\s+", " ", para).strip()
    # markdown-table safety
    one = one.replace("|", "\\|")
    if len(one) > 400:
        one = one[:397] + "..."
    return one or "(no docstring)"


def build_section() -> str:
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    lines = [
        BEGIN,
        "",
        "## Complete verified-query index (generated)",
        "",
        "One row per registry key — REGENERATE with "
        "`python tools/gen_operators_md.py` after adding a query; "
        "`tests/test_docs_index.py` fails if this section goes stale. "
        "\"driver\" rows are captured per-round in `CORRECTNESS_r{N}.json` "
        "(run locally via `tools/verify_local.py`); \"AUX\" rows in "
        "`AUX_CORRECTNESS.json` (`tools/aux_correctness.py`). Every row "
        "is compared against its DuckDB oracle twin: row count, column "
        "names, order-insensitive value hash.",
        "",
        "| query key | registry | implementation | what it computes / scale shape |",
        "|---|---|---|---|",
    ]
    rows = [("driver", k, fn) for k, fn in q.QUERIES.items()]
    rows += [("AUX", k, fn) for k, fn in q.AUX_QUERIES.items()]
    for reg, key, fn in sorted(rows, key=lambda r: (r[0] != "driver", r[1])):
        mod = fn.__module__.rsplit(".", 1)[-1]
        lines.append(
            f"| `{key}` | {reg} | `queries/{mod}.py::{fn.__name__}` "
            f"| {_summary(fn)} |"
        )
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    with open(DOC) as f:
        doc = f.read()
    section = build_section()
    if BEGIN in doc:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _: section,
            doc,
            flags=re.S,
        )
    else:
        new = doc.rstrip() + "\n\n" + section + "\n"
    if "--check" in sys.argv:
        if new != doc:
            print("docs/OPERATORS.md generated index is STALE — run "
                  "python tools/gen_operators_md.py", file=sys.stderr)
            return 1
        print("docs/OPERATORS.md generated index is current")
        return 0
    with open(DOC, "w") as f:
        f.write(new)
    print(f"rewrote generated index: {section.count(chr(10))} lines")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
