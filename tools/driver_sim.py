#!/usr/bin/env python
"""End-to-end driver simulation (the /verify recipe).

Unlike tools/oracle_sweep.py (which uses the engine's own get_spark),
this drives __spark_entry__.py the way the EXTERNAL driver does: a
vanilla SparkSession with no engine conf, so any conf an operator needs
must be set inside the operator itself.

Usage: python tools/driver_sim.py [sf_dir] [only_query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_sweep import sweep  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import __spark_entry__ as E

    fails = 0
    if not only:
        # entry() is the contract's smoke check: it must return rows
        n = len(E.entry(spark).collect())
        print(f"entry(): {n} rows {'OK' if n > 0 else 'FAIL empty'}", flush=True)
        if n == 0:
            fails += 1

    results = sweep(spark, sf_dir, E.queries(), E.oracle_sql(), only)
    fails += sum(not r["ok"] for r in results.values())
    print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    if not only:
        # committable evidence for ALL registered queries — the external
        # driver's CORRECTNESS_r{N}.json caps at 50 of them
        import json

        out = {"sf_dir": sf_dir, "n_queries": len(results),
               "n_fail": fails, "results": results}
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "CORRECTNESS_LOCAL.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(f"# wrote {path}", flush=True)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
