"""Output check: normalize a collected result, hash it, compare it with
the golden record kept next to this file.

Normalization follows ``tools/oracle_sweep.normalize``: columns sorted
by name, timestamps as naive nanoseconds, floats as float64, integers
as int64, rows sorted. Nested and binary values are first turned into
canonical strings so that every row is orderable.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os

import numpy as np
import pandas as pd

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def _canonical(v):
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, dict)):
        return json.dumps(v, sort_keys=True, default=str)
    return v


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        s = out[c]
        is_dt = len(out) and isinstance(s.iloc[0], (_dt.date, _dt.datetime))
        if is_dt or str(s.dtype).startswith("datetime64"):
            if str(s.dtype).startswith("datetime64") and getattr(s.dt, "tz", None):
                s = s.dt.tz_localize(None)
            out[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif np.issubdtype(s.dtype, np.floating):
            out[c] = s.astype("float64")
        elif s.dtype != object and np.issubdtype(s.dtype, np.integer):
            out[c] = s.astype("int64")
        elif s.dtype == object:
            out[c] = s.map(_canonical)
    out = out[sorted(out.columns)]
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def result_hash(pdf: pd.DataFrame) -> str:
    """sha256 of the normalized frame: header with dtype kinds, then rows."""
    norm = normalize(pdf)
    header = ",".join(f"{c}:{norm[c].dtype.kind}" for c in norm.columns)
    body = norm.to_csv(index=False, header=False, lineterminator="\n")
    return hashlib.sha256((header + "\n" + body).encode()).hexdigest()


def load_golden() -> dict:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)


def check_output(pdf: pd.DataFrame, count: int, golden: dict | None) -> tuple[str | None, str]:
    """``(failure reason or None, hash)`` for one collected output.

    A result fails when its collected row count differs from the
    ``count()`` of the same DataFrame, when its columns differ from the
    golden columns, or, for queries the golden file holds a hash for,
    when the hash differs.
    """
    h = result_hash(pdf)
    if len(pdf) != count:
        return f"collected {len(pdf)} rows but count() gave {count}", h
    if golden is None:
        return "no golden record", h
    if sorted(pdf.columns) != golden["columns"]:
        return f"columns {sorted(pdf.columns)} != golden {golden['columns']}", h
    if len(pdf) != golden["rows"]:
        return f"rows {len(pdf)} != golden {golden['rows']}", h
    if golden.get("hash") and h != golden["hash"]:
        return f"hash {h[:12]} != golden {golden['hash'][:12]}", h
    return None, h
