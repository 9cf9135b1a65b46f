"""Solo per-query measurement + plan capture.

Usage:
    python tools/solo_measure.py [--sf-dir DIR] [--out JSON] [--plans DIR]
        [--runs N] [--noop] query [query ...]

Fresh session (same settings as bench.py), footers warmed, bench.py's
scaled span table, then per query the bench solo protocol
(tools/measure.py): one unmeasured warm run (compile/codegen/artifact
build), then min-of-N timed runs with clearCache+gc before each. With
--noop each timed run also drives the noop sink instead of .collect() —
computation cost without driver row materialization — and BOTH numbers
are reported so collect-transfer overhead is visible. With --plans,
.explain("formatted") is written to <plans>/<query>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nabatshy_spark.plans.queries import QUERIES
from tools.measure import measure, sf_number, use_scaled_spans, warm_session


def noop_write(df) -> None:
    """Run the plan to completion without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--noop", action="store_true", help="also time the noop sink")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    use_scaled_spans(sf_number(args.sf_dir))
    spark = warm_session("nabatshy_solo_measure", args.sf_dir)

    results: dict[str, dict] = {}
    for name in args.queries:
        if name not in QUERIES:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"solo:{name}")

        def build():
            return QUERIES[name](spark, args.sf_dir)

        rec = {"collect_s": round(measure(spark, build, args.runs, warm=True), 4)}
        if args.noop:
            rec["noop_s"] = round(measure(spark, build, args.runs, action=noop_write), 4)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            # The same JVM call DataFrame.explain() prints through.
            plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                build()._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        results[name] = rec
        print(name, json.dumps(rec), flush=True)
        spark.sparkContext.setJobDescription(None)

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
