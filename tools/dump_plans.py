"""Dump .explain('formatted') for named queries to plans/<dir>/<q>_<suffix>.txt.

Plan-shape evidence only — no query execution, safe to run while other
work is active (a plan does not time anything).

Usage::

    python tools/dump_plans.py --dir /tmp/plans --suffix before q_foo q_bar
"""
from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="0.1")
    args = ap.parse_args()

    from dbt_foundation_spark.queries import all_queries
    from dbt_foundation_spark.session import get_spark

    out = Path(args.dir)
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    qs = all_queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")
    for name in args.names:
        df = qs[name](spark, f"/root/testdata/sf{args.sf}")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = out / f"{name}_{args.suffix}.txt"
        path.write_text(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {n_ex} Exchange -> {path}")


if __name__ == "__main__":
    main()
