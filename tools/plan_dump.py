#!/usr/bin/env python
"""Dump `.explain("formatted")` for named driver queries to files.

Writes one `<out_dir>/<query><suffix>.txt` per query — the evidence
format for optimization rounds (plans/r{N}/<query>_before.txt /
_after.txt) — and, for a query with a DuckDB oracle, its
`driver.all_oracles()` text as `<out_dir>/<query><suffix>.sql`, so one
`diff -r` between two dumps shows plan and oracle changes together.
Runs against the package in the CURRENT working tree, so checking out
an older commit in a worktree and running this from there produces the
"before" plans. Run-specific text (expression ids `#123`,
RDD ids `RDD[8]` and their JVM call sites, exchange `plan_id=42`,
PySpark lambda variables `x_402`) is normalized before writing, so
dumps of the same query from two trees diff directly.

Usage: python tools/plan_dump.py <out_dir> <suffix> <query> [query ...]
       python tools/plan_dump.py <out_dir> <suffix> ALL
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_RUN_IDS = [
    (re.compile(r"#\d+"), "#N"),
    # the call site flips from NativeMethodAccessorImpl.java:0 to
    # <unknown>:0 once the JVM has generated its reflection accessor
    (re.compile(r"RDD\[\d+\] at (\w+) at [^\s,]+:\d+"), r"RDD[N] at \1 at <call site>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # PySpark names lambda variables x_402, y_403 from one per-process
    # counter, so every lambda built earlier in the process shifts them
    (re.compile(r"lambda ([xyz])_\d+"), r"lambda \1_N"),
]


def normalize(txt: str) -> str:
    """Replace the ids and call sites a plan gets from its session."""
    for pat, rep in _RUN_IDS:
        txt = pat.sub(rep, txt)
    return txt


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from dataframeutils_spark.session import get_spark

    spark = get_spark(app_name="plan-dump", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from dataframeutils_spark import driver as d

    qs = d.all_queries()
    oracles = d.all_oracles()
    if names == ["ALL"]:
        names = list(qs)
    rc = 0
    for name in names:
        fn = qs.get(name)
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        if fn is None:
            print(f"{name}: NOT REGISTERED", file=sys.stderr)
            rc = 1
            continue
        try:
            df = fn(spark, SF_DIR)
            txt = normalize(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 - keep dumping the rest
            print(f"{name}: ERR {e}", file=sys.stderr)
            rc = 1
            continue
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) at {SF_DIR}\n\n")
            f.write(txt)
        print(f"{name}: {path} ({len(txt)} chars)")
        if name in oracles:
            with open(os.path.join(out_dir, f"{name}{suffix}.sql"), "w") as f:
                f.write(oracles[name])
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
