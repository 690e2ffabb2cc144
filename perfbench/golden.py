#!/usr/bin/env python3
"""Write ``perfbench/golden.json``: the expected output of every
benchmark query, verified against the DuckDB oracle.

For each workload the inputs are generated (seed 0; outputs do not
depend on the seed), every query runs once in Spark, and its collected
output is normalized and hashed. Where ``oracle_sql()`` has an entry,
the same SQL runs in DuckDB over the same files and its hash must equal
Spark's; the golden record then keeps the hash. Queries without an
oracle keep only their row count and columns, which is all the run
checks for them.

Usage::

    python3 perfbench/golden.py            # all workloads
    python3 perfbench/golden.py tpch_10x   # one workload, others kept
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402
from perfbench.check import GOLDEN_PATH, result_hash  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def duckdb_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def golden_for(spark, entry, wl, work: str) -> dict:
    from perfbench import inputs

    sf_dir = os.path.join(work, wl.name)
    inputs.write_tables(inputs.build_tables(wl.tables, wl.sf, 0, wl.replica), sf_dir,
                        row_groups=8)
    con = duckdb_views(sf_dir)
    queries, oracles = entry.queries(), entry.oracle_sql()
    out = {}
    for name in wl.queries:
        pdf = queries[name](spark, sf_dir).toPandas()
        rec = {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": None,
               "oracle": "none"}
        if name in oracles:
            spark_hash = result_hash(pdf)
            oracle_hash = result_hash(con.execute(oracles[name]).fetchdf())
            if spark_hash != oracle_hash:
                raise SystemExit(f"{wl.name}/{name}: Spark and DuckDB outputs differ")
            rec.update(hash=spark_hash, oracle="duckdb")
        out[name] = rec
        print(f"{wl.name:16s} {name:24s} rows={rec['rows']:<6d} oracle={rec['oracle']}",
              file=sys.stderr)
    con.close()
    return out


def main(names: list[str]) -> None:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(bench.OUT, "work", "golden")
    bench.prepare_environment(work, cpus)
    entry = bench.import_program()
    from dataframeutils_spark.session import get_spark

    golden = {}
    if os.path.exists(GOLDEN_PATH):
        with open(GOLDEN_PATH) as fh:
            golden = json.load(fh)
    spark = get_spark(app_name="perfbench-golden",
                      extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    try:
        for name in names or sorted(WORKLOADS):
            golden[name] = golden_for(spark, entry, WORKLOADS[name], work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(GOLDEN_PATH, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
