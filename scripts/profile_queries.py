"""Query profiler: time registry queries with the bench's own
discipline (warm + forced-GC best-of-N on collect) and dump each
query's ``explain('formatted')`` to <out>/<name>_<tag>.txt.

Usage:
    python scripts/profile_queries.py --out plans/r17 --tag before q1 q2 ...
    python scripts/profile_queries.py --sf DIR --samples 2 q1 ...
    python scripts/profile_queries.py --out plans/r17 --all-plans   # plans only, no timing

With no query names every registry query is profiled. The committed
before/after plan files are the evidence for plan-shape claims.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*",
                    help="registry query names (default: all)")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "plans"),
                    help="directory for the plan dumps")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("--all-plans", action="store_true",
                    help="plans only (lazy queries), no execution")
    args = ap.parse_args()

    from term_spark.plans.audit import plan_text
    from term_spark.queries import QUERIES
    from term_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_gc = spark.sparkContext._jvm.System.gc
    os.makedirs(args.out, exist_ok=True)

    results = {}
    for name in args.queries or sorted(QUERIES):
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")
        df = fn(spark, args.sf)
        with open(os.path.join(args.out, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan_text(df))
        if args.all_plans:
            continue
        df.collect()  # warm: codegen compile, JIT
        best = float("inf")
        for _ in range(args.samples):
            jvm_gc()
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            best = min(best, time.perf_counter() - t0)
        results[name] = round(best, 3)
        print(f"{name}: {best:.3f}s", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
