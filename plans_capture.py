"""Capture .explain('formatted') for declared queries into plans/r17/.

Usage:
    python plans_capture.py --suffix before [--queries a,b,c]

Writes plans/r17/<query>_<suffix>.txt. bench.py's ``prelude`` runs the
PREPARES first so standing indexes exist; query bodies that probe
sizes at build time execute their probe jobs, which is fine — we only
need the final plan text.
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
    ap.add_argument("--outdir", default="plans/r17")
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
