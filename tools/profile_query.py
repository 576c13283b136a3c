"""Per-query optimization profiler (round-13 workhorse).

Times named catalog queries through the SAME methodology as bench.py
(build the frame, noop-sink it) — one cold run + N warm runs — and
optionally dumps ``explain('formatted')`` to a file so before/after
plan shapes can be compared.

Usage::

    python tools/profile_query.py q_pricing_summary q_containment
    python tools/profile_query.py --warm 5 q_corpus_pipeline
    python tools/profile_query.py --explain /tmp/plans --suffix before q_foo
    python tools/profile_query.py --sf 0.01 q_foo     # non-default SF

Never run while pytest/bench is active — contention fakes movers.
"""
from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from dbt_foundation_spark.queries import all_queries
    from dbt_foundation_spark.session import get_spark

    sf_dir = f"/root/testdata/sf{args.sf}"
    spark = get_spark(app_name="profile_query")
    qs = all_queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    # JVM/footer warmup exactly like bench.py
    qs["q_pricing_summary"](spark, sf_dir).collect()

    for name in args.names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        warms = []
        for _ in range(args.warm):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warms.append(time.perf_counter() - t0)
        print(
            f"{name}: cold {cold:.3f}s warm "
            + " ".join(f"{w:.3f}" for w in warms)
            + f" (min {min(warms):.3f})",
            flush=True,
        )
        if args.explain:
            out = Path(args.explain)
            out.mkdir(parents=True, exist_ok=True)
            plan = fn(spark, sf_dir)._sc._jvm.PythonSQLUtils.explainString(
                fn(spark, sf_dir)._jdf.queryExecution(), "formatted"
            )
            (out / f"{name}_{args.suffix}.txt").write_text(plan)
    spark.stop()


if __name__ == "__main__":
    main()
