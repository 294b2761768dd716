#!/usr/bin/env python3
"""Regenerate QUERIES.md from queries.py docstrings.

One row per ALL_QUERIES key: oracle kind (value-hash when an
ALL_ORACLES entry exists, rows-only otherwise) and the docstring's
first sentence (truncated). Run after adding queries:

    python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MAX_DESC = 220


def first_sentence(doc: str) -> str:
    text = " ".join((doc or "").split())
    if len(text) > MAX_DESC:
        text = text[:MAX_DESC].rstrip() + "..."
    return text.replace("|", "\\|")


def render() -> str:
    """The text of QUERIES.md for the current catalog."""
    from aproximacion_1_etl_spark.oracles import ALL_ORACLES
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    lines = [
        "# Query catalog — every oracle-gated key in"
        " `__spark_entry__.queries()`",
        "",
        "Generated by tools/gen_queries_md.py from queries.py docstrings."
        " Columns: key, oracle kind,",
        "one-line description (first docstring sentence).",
        "",
        "| key | oracle | description |",
        "|---|---|---|",
    ]
    for key in sorted(ALL_QUERIES):
        kind = "value-hash" if key in ALL_ORACLES else "rows-only"
        # First docstring sentence: up to the first period-space or EOL.
        doc = ALL_QUERIES[key].__doc__ or ""
        m = re.search(r"^(.*?\.)(?:\s|$)", " ".join(doc.split()), re.S)
        desc = first_sentence(m.group(1) if m else doc)
        lines.append(f"| `{key}` | {kind} | {desc} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    text = render()
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(text)
    print("wrote QUERIES.md")


if __name__ == "__main__":
    main()
