"""Generate QUERIES.md — a human index of the registry, from the
query functions' own docstrings. Run after adding queries:
    python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nabatshy_spark.plans.oracles import ORACLES
from nabatshy_spark.plans.queries import QUERIES

OUT = os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")


def main() -> None:
    lines = [
        "# QUERIES — registry index",
        "",
        "Auto-generated by `tools/gen_query_index.py` from the registry",
        "docstrings. ✓ = DuckDB oracle (driver t2 gate); rows-only",
        "entries are approximate by design.",
        "",
        "| query | oracle | what it does |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        doc = (QUERIES[name].__doc__ or "").strip().split("\n\n")[0]
        doc = " ".join(line.strip() for line in doc.splitlines())
        mark = "✓" if name in ORACLES else "rows-only"
        lines.append(f"| `{name}` | {mark} | {doc} |")
    lines.append("")
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}: {len(QUERIES)} queries, {len(ORACLES)} oracles")


if __name__ == "__main__":
    main()
