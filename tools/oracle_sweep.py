#!/usr/bin/env python
"""Pre-flight correctness sweep mirroring the driver's gate.

Runs every ``queries()`` entry at sf0.01 and, where an ``oracle_sql()``
entry exists, compares row count + sorted-column schema + values against
DuckDB — the same shape of check the driver records in
CORRECTNESS_r{N}.json. Prints one line per query.

Usage: python tools/oracle_sweep.py [sf_dir] [only_query ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    import datetime as _dt

    out = pdf.copy()
    for c in out.columns:
        is_dt = len(out) and isinstance(out[c].iloc[0], (_dt.date, _dt.datetime))
        if is_dt or str(out[c].dtype).startswith("datetime64"):
            s = out[c]
            if str(s.dtype).startswith("datetime64") and getattr(s.dt, "tz", None):
                s = s.dt.tz_localize(None)
            out[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif np.issubdtype(out[c].dtype, np.floating):
            out[c] = out[c].astype("float64")
        elif out[c].dtype != object and np.issubdtype(out[c].dtype, np.integer):
            out[c] = out[c].astype("int64")
    out = out[sorted(out.columns)]
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if list(got.columns) != list(want.columns):
        return f"schema {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        # Dtype-kind strictness: the driver's value hash distinguishes
        # int64 from float64 even when the values are numerically equal
        # (e.g. DuckDB sum(BIGINT) -> HUGEINT -> float64 in pandas). The
        # pre-flight must be at least as strict or it passes what the
        # driver fails (round-2 dataset_split).
        gk = "O" if g.dtype == object else np.dtype(g.dtype).kind
        wk = "O" if w.dtype == object else np.dtype(w.dtype).kind
        if gk != wk:
            return f"dtype-kind[{c}]: spark {g.dtype} vs oracle {w.dtype}"
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(w.dtype, np.floating):
            g = pd.to_numeric(g, errors="coerce").astype("float64")
            w = pd.to_numeric(w, errors="coerce").astype("float64")
            ok = (g.isna() & w.isna()) | (g == w)
            if not ok.all():
                bad = pd.DataFrame({"got": g[~ok], "want": w[~ok]}).head(3)
                return f"values[{c}]:\n{bad}"
        elif not g.astype(str).equals(w.astype(str)):
            return f"values[{c}] (non-float)"
    return None


def sweep(spark, sf_dir: str, queries: dict, oracles: dict, only=()) -> dict[str, dict]:
    """Run each query (all of them, or those named in ``only``) and check
    it: against its DuckDB oracle over the tables in ``sf_dir`` where
    one exists, else for a non-empty result. Prints one status line per
    query; returns {name: {"check", "ok", "rows", "err"}}."""
    from dataframeutils_spark.sources.testdata import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    results: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got_pdf = fn(spark, sf_dir).toPandas()
            n = len(got_pdf)
            if name in oracles:
                got = normalize(got_pdf)
                want = normalize(con.execute(oracles[name]).fetchdf())
                err = compare(got, want)
                status = "OK " if err is None else f"FAIL {err}"
                results[name] = {"check": "exact", "ok": err is None, "rows": n, "err": err}
            else:
                status = f"ROWS-ONLY n={n}" + (" FAIL empty" if n == 0 else "")
                results[name] = {"check": "rows_only", "ok": n > 0, "rows": n, "err": None}
        except Exception as exc:
            err = f"{type(exc).__name__}: {exc}"
            status = f"ERROR {err}"
            results[name] = {"check": "error", "ok": False, "rows": 0, "err": err}
        print(f"{name:28s} {time.time()-t0:7.2f}s  {status}", flush=True)
    con.close()
    return results


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from dataframeutils_spark.session import get_spark
    from dataframeutils_spark import driver

    spark = get_spark(app_name="oracle-sweep", shuffle_partitions=16)
    results = sweep(spark, sf_dir, driver.all_queries(), driver.all_oracles(), only)
    fails = sum(not r["ok"] for r in results.values())
    print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
