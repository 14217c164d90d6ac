"""Generate PLANS.md: a physical-plan audit of every contract query.

For each `queries()` entry, build the DataFrame at sf0.001, count the
Spark jobs its construction runs eagerly and the jobs its `collect()`
then runs, and summarize the plan properties that matter at 100 TB via
term_spark.plans.audit (the plan is audited before it is collected).

Run: python scripts/plan_audit.py [--sf-dir DIR] [--out PATH]

It writes PLANS.md at the root of the checkout that holds this script
(``--out`` elsewhere) and prints the total build and collect jobs, the
number of queries whose build starts no job and the number that raised
(each an ERROR row; the script then exits 1).  The committed
PLANS.md is the sf0.001 audit; ``--sf-dir`` audits another scale, e.g.
to count build jobs at sf0.01 with ``--out`` pointing outside the
checkout.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical-plan audit of all contract queries

Generated by `python scripts/plan_audit.py` at {sf} on `local[4]` with
4 shuffle partitions, the test session's setting, on any host (each
final plan is audited, then collected). Columns: Spark `jobs` started
while the query's DataFrame is built (eager build work, counted as new
ungrouped job ids in `statusTracker`), `collect_jobs` started while
the built DataFrame is collected (so work moved from build to collect
shows), parquet scans and their projected column counts (pruning),
scan-pushed filters, exchanges (shuffles), join strategies
(broadcast-hash, sort-merge `smj` and shuffled-hash `shj` counted
apart), bounded top-k, window count, windows without PARTITION BY,
scans of a pickled Python RDD (`py_rdd`: driver rows sent through
createDataFrame's row path, whose evaluation forks a Python worker; a
localCheckpoint scan is not one), and flags.

Reading the flags:
- `EXPAND(rollup)` on rollup_pricing is ANSI ROLLUP's grouping-sets
  Expand — intentional; the degenerate Expand this engine engineers
  around (DISTINCT + sketch in one agg) is gated to zero by
  tests/test_plans.py::test_no_expand_in_fused_groups.
- `NLJ` on the cosine queries is the intentional broadcast cross join
  of a tiny query side against the corpus (ANN scoring) — the
  broadcast side is bounded by construction.
- unpart-win > 0 only where the window runs on a LIMIT-bounded row set
  (top-k rank over 10 survivors); the whole-catalog gate
  tests/test_plans.py::test_all_query_plans_scale_safe enforces this.
- 0 scans = the callable computes eagerly during build (spearman's
  two-pass rank, MI's binning pass) and returns a local result row —
  the distributed work is inside those passes, audited by their own
  plan gates.
"""


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--out", default=os.path.join(root, "PLANS.md"))
    args = ap.parse_args()

    from term_spark.plans.audit import audit_plan
    from term_spark.queries import QUERIES
    from term_spark.session import get_spark

    # job counts follow the partition count, so the audit pins it
    spark = get_spark("plan_audit", shuffle_partitions=4, master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    tracker = spark.sparkContext.statusTracker()
    out = [HEADER.format(sf=os.path.basename(args.sf_dir.rstrip("/"))),
           "| query | jobs | collect_jobs | scans | cols/scan | pushed | exch |"
           " bcast | smj | shj | top-k | win | unpart-win | py_rdd | flags |",
           "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|"]
    n = total = collect_total = lazy = errors = 0
    for name in sorted(QUERIES):
        before = set(tracker.getJobIdsForGroup())
        try:
            df = QUERIES[name](spark, args.sf_dir)
            jobs = len(set(tracker.getJobIdsForGroup()) - before)
            a = audit_plan(df)
            built = set(tracker.getJobIdsForGroup())
            df.collect()
            collect_jobs = len(set(tracker.getJobIdsForGroup()) - built)
        except Exception as exc:  # pragma: no cover
            # one table row: Py4J errors carry the JVM stack trace
            first = (str(exc).strip().splitlines() or [""])[0]
            first = first.replace("|", "\\|")
            out.append(f"| {name} | ERROR: {type(exc).__name__}: {first} |"
                       + " |" * 13)
            errors += 1
            continue
        total += jobs
        collect_total += collect_jobs
        lazy += jobs == 0
        flags = " ".join(x for x in (
            "EXPAND(rollup)" if a["expand"] else "",
            "CARTESIAN" if a["cartesian"] else "",
            "NLJ" if a["nlj"] else "") if x)
        out.append(
            f"| {name} | {jobs} | {collect_jobs} | {a['scans']} |"
            f" {a['scan_cols']} |"
            f" {a['pushed_filters']} | {a['exchanges']} |"
            f" {a['bcast_joins']} | {a['smj_joins']} | {a['shj_joins']} |"
            f" {'Y' if a['topk'] else ''} | {a['windows']} |"
            f" {a['unpartitioned_windows']} | {a['py_rdd']} | {flags} |")
        n += 1
    out.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {args.out} ({n} queries)")
    print(f"build jobs: {total} total, {lazy} queries with none")
    print(f"collect jobs: {collect_total} total")
    print(f"errors: {errors} queries")
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
