"""Physical-plan audit: summarize the scale-relevant properties of a
DataFrame's plan (pruning, pushdown, shuffles, join strategy, window
partitioning, degenerate shapes) from `.explain` output.

Used by scripts/plan_audit.py to generate PLANS.md and by
tests/test_plans.py as a whole-catalog regression gate.
"""

from __future__ import annotations

import contextlib
import io
import re
from typing import Dict


_PY_RDD_SCAN = r"Arguments: .* at applySchemaToPythonRDD at "


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit_plan(df) -> Dict[str, object]:
    t = plan_text(df)
    ext = plan_text(df, "extended")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", t)
    scan_widths = [len([c for c in s.split(",") if c.strip()]) for s in scans]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", t)
    windows = re.findall(r"windowspecdefinition\(([^)]*)\)", ext)
    # a window spec with no PARTITION BY starts directly with the sort
    # spec — its first comma-field carries the ASC/DESC marker
    unpart = sum(1 for w in windows
                 if " ASC" in w.split(",")[0] or " DESC" in w.split(",")[0])
    # windows applied after a LIMIT run on a bounded row set — the
    # global sort hazard only applies pre-limit
    bounded = "GlobalLimit" in ext or "TakeOrderedAndProject" in t
    return {
        "scans": len(scans),
        "scan_cols": "/".join(str(w) for w in scan_widths) or "-",
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "exchanges": t.count("Exchange"),
        "bcast_joins": t.count("BroadcastHashJoin"),
        # the two shuffle-side strategies, counted apart: SHJ cannot
        # spill its build side; SMJ can
        "smj_joins": t.count("SortMergeJoin"),
        "shj_joins": t.count("ShuffledHashJoin"),
        # scans of a pickled Python RDD (driver rows sent through
        # createDataFrame's row path): evaluating one forks a Python
        # worker. A localCheckpoint is also a `Scan ExistingRDD`, but
        # its RDD is the JVM's own.
        "py_rdd": len(re.findall(_PY_RDD_SCAN, t)),
        "topk": "TakeOrderedAndProject" in t,
        "expand": "Expand" in t,
        "rollup": "expand(" in ext or "Expand" in t and "spark_grouping_id" in ext,
        "cartesian": "CartesianProduct" in t,
        "nlj": "BroadcastNestedLoopJoin" in t,
        "windows": len(windows),
        "unpartitioned_windows": unpart,
        "bounded_by_limit": bounded,
    }
