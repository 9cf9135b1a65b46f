"""Measure wall-clock vs scale factor for selected operators and
append a markdown table to stdout (paste into SCALE.md). Each query
runs warm (one unmeasured run) then min-of-2 (tools/measure.py), at
every sf dir that exists — the growth RATIO between scale factors is
the evidence that an operator's plan is (sub)linear, which single-sf
bench numbers cannot show.

    python tools/gen_scale_curve.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from nabatshy_spark.plans.queries import QUERIES
from nabatshy_spark.session import get_spark
from tools.measure import measure

DEFAULT = [
    "repeated_ngram_docs",
    "text_search_phrase",
    "frequent_part_pairs",
    "dedup_cluster_stats",
    "dedup_minhash_lsh",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# Extra decades (e.g. the locally generated /tmp/sf1 from gen_sf1.py —
# kept out of git): colon-separated dirs appended to the sweep.
SF_DIRS += [
    d
    for d in os.environ.get("SPARK_GRAFT_EXTRA_SF_DIRS", "").split(":")
    if d
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale_curve")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = [d for d in SF_DIRS if os.path.isdir(d)]
    print("| query | " + " | ".join(os.path.basename(d) for d in dirs) + " |")
    print("|---" * (len(dirs) + 1) + "|")
    for name in names:
        cells = []
        for d in dirs:
            best = measure(spark, lambda: QUERIES[name](spark, d), runs=2, warm=True)
            spark.catalog.clearCache()
            cells.append(f"{best:.2f} s")
        print(f"| `{name}` | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
