#!/usr/bin/env python
"""Whole-surface physical-plan inventory → PLAN_AUDIT.md.

For every registered driver query, summarize the executed-plan shape
the optimizer actually picks at sf0.01: shuffle and broadcast exchange
counts, join strategies and Python (Arrow) stages. The table is the standing answer to "does this
operator shuffle/broadcast/prune the way its docstring claims?" across
the ENTIRE surface, not just the operators with individual plan tests.

Notes on reading the table:
- nodes are read with ``perfbench.trace.plan_nodes``, one operator per
  plan line, so the columns count operators, not substrings.
- exchanges counts shuffle ``Exchange`` operators in the final AQE plan
  and broadcasts counts ``BroadcastExchange``; a ``ReusedExchange`` is
  in neither. Bounded small-side exchanges (steps-row aggregates, ≤C
  centroid tables) are included, so a nonzero count is not per se a
  scale smell — the per-operator plan tests pin the claims that matter.
- python counts the Python and Arrow stages of
  ``perfbench.trace.PYTHON_NODES``; row-at-a-time ``BatchEvalPython``
  must not appear (the tool exits nonzero if it does).
- streaming queries execute a real micro-batch drain when constructed,
  so their row reflects the batch result's plan, not the stream's.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"

from perfbench.trace import plan_counts, plan_nodes  # noqa: E402


def main() -> int:
    from dataframeutils_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from dataframeutils_spark import driver as d

    rows = []
    row_at_a_time = []
    for name, fn in d.all_queries().items():
        t0 = time.time()
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - audit must cover every row
            rows.append((name, "ERR", "", "", "", "", str(e)[:60]))
            continue
        nodes = plan_nodes(plan)
        counts = plan_counts(plan)
        if "BatchEvalPython" in nodes:
            row_at_a_time.append(name)
        bhj, smj, bnl, cart = (nodes.count(n) for n in (
            "BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"))
        joins = f"{bhj}B/{smj}S" + (f"/{bnl}N" if bnl else "") + (
            f"/{cart}X" if cart else ""
        )
        rows.append((name, counts["exchanges"], counts["broadcasts"], joins,
                     counts["python_nodes"], round(time.time() - t0, 2), ""))

    with open(OUT, "w") as fh:
        fh.write(
            "# Plan audit — every registered query's executed-plan shape\n\n"
            f"Generated by `tools/plan_audit.py` at `{SF_DIR}`. Joins column =\n"
            "`<broadcast-hash>B/<sort-merge>S[/<broadcast-NL>N][/<cartesian>X]`;\n"
            "exchanges = shuffle exchanges, broadcasts = broadcast exchanges;\n"
            "python = Python/Arrow stages (row-at-a-time PythonUDF is asserted\n"
            "absent; codegen spans are an execution-time AQE decision, so they\n"
            "are not listed for these lazy plans). See the module docstring for\n"
            "how to read exchange counts.\n\n"
            "| query | exchanges | broadcasts | joins | python | plan_s | err |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            fh.write("| " + " | ".join(str(x) for x in r) + " |\n")
    n_err = sum(1 for r in rows if r[1] == "ERR")
    print(f"# wrote {OUT}: {len(rows)} queries, {n_err} errors")
    if row_at_a_time:
        print(f"# ROW-AT-A-TIME PYTHON UDF FOUND: {row_at_a_time}")
        return 1
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
