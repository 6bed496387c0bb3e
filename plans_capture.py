"""Capture .explain('formatted') for declared queries into a plan-dump directory.

Usage:
    python plans_capture.py --suffix before --outdir plans/<change> [--queries a,b,c]

Writes <outdir>/<query>_<suffix>.txt, one directory per change
(plans/r17, plans/r18, ...). Run it once on the parent
checkout with ``--suffix before`` and once on the change with
``--suffix after`` into the same directory. The fixture scale is
$SPARK_GRAFT_SF_DIR (bench.py's default, sf0.1). bench.py's
``prelude`` runs the PREPARES first so standing indexes exist; query
bodies that probe sizes or checkpoint at build time execute those
jobs, which is fine — only the final plan text is kept.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--queries", default="")
    ap.add_argument("--outdir", required=True)
    args = ap.parse_args()

    from bench import prelude
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    wanted = [q for q in args.queries.split(",") if q] or list(QUERIES)
    spark, sf_dir = prelude("hubsit-plans", wanted)

    os.makedirs(args.outdir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in wanted:
        if name not in QUERIES:
            print(f"skip unknown {name}", file=sys.stderr)
            continue
        df = QUERIES[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(path)
    spark.stop()


if __name__ == "__main__":
    main()
