"""Weighted-bin flagship: documented-example goldens, brute-force greedy
cross-check on random data, NULL policy, and DuckDB oracle parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dataframeutils_spark import driver
from dataframeutils_spark.operators.weighted_bins import (
    TARGET_ROWS_PER_BUCKET,
    calculate_weighted_bins,
    derive_num_buckets,
)

from tests.conftest import SF_DIR, assert_matches_oracle


def greedy_reference(pdf, bin_size, max_bins):
    """Straightforward greedy pour, written from the documented semantics:
    per row, walk future events in order filling fixed-size bins, splitting
    events across bin boundaries proportionally. Used as an independent
    check of the vectorized interval-overlap kernel."""
    out_rows = []
    for (i1, i2), g in pdf.groupby(["ID1", "ID2"], sort=False):
        g = g.sort_values(["timestamp", "_pos"], kind="stable").reset_index(drop=True)
        for i in range(len(g) - 1):
            fut_q1 = g["quantity1"].to_numpy(dtype=float)[i + 1 :].copy()
            fut_q2 = g["quantity2"].to_numpy(dtype=float)[i + 1 :]
            row = {
                "ID1": i1,
                "ID2": i2,
                "timestamp": g["timestamp"].iloc[i],
                "quantity1": g["quantity1"].iloc[i],
                "quantity2": g["quantity2"].iloc[i],
            }
            ptr = 0
            for k in range(1, max_bins + 1):
                need = float(bin_size)
                wsum = 0.0
                while ptr < len(fut_q1) and need > 0:
                    take = min(fut_q1[ptr], need)
                    wsum += take * fut_q2[ptr]
                    fut_q1[ptr] -= take
                    need -= take
                    if fut_q1[ptr] <= 0:
                        ptr += 1
                got = bin_size - need
                row[f"bin_{k}_avg"] = wsum / got if got > 0 else np.nan
            out_rows.append(row)
    return pd.DataFrame(out_rows)


def _random_events(n=400, seed=7, int_quantities=True):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "ID1": rng.choice(["A", "B", "C"], n),
            "ID2": rng.choice(["X", "Y"], n),
            # repeated timestamps to exercise stable tie-breaking
            "timestamp": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, n // 2, n), unit="h"),
            "quantity1": (
                rng.integers(10, 201, n).astype(float)
                if int_quantities
                else rng.uniform(0, 60, n)
            ),
            "quantity2": rng.integers(5, 51, n).astype(float),
        }
    )
    pdf["_pos"] = np.arange(n)
    return pdf


@pytest.mark.parametrize("int_quantities", [True, False])
def test_kernel_matches_bruteforce_greedy(spark, int_quantities):
    pdf = _random_events(int_quantities=int_quantities)
    want = greedy_reference(pdf, bin_size=50.0, max_bins=6)
    got = (
        calculate_weighted_bins(
            spark.createDataFrame(pdf),
            bin_size=50.0,
            max_bins=6,
            tiebreak_col="_pos",
        )
        .toPandas()
        .sort_values(["ID1", "ID2", "timestamp", "quantity1", "quantity2"])
        .reset_index(drop=True)
    )
    want = want.sort_values(
        ["ID1", "ID2", "timestamp", "quantity1", "quantity2"]
    ).reset_index(drop=True)
    assert len(got) == len(want)
    for k in range(1, 7):
        c = f"bin_{k}_avg"
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float),
            want[c].to_numpy(dtype=float),
            rtol=1e-9,
            equal_nan=True,
            err_msg=c,
        )


def test_documented_example(spark):
    """The reference README/demo example: 5 rows, bin_size=100, max_bins=3 →
    first row bins 22.5 / 32.5 / 50.0 (weighted_bin_calculator.py:176-225)."""
    pdf = pd.DataFrame(
        {
            "Asset": ["A"] * 5,
            "Type": ["x"] * 5,
            "Time": pd.date_range("2024-01-01", periods=5, freq="h"),
            "Volume": [50.0, 75.0, 100.0, 25.0, 150.0],
            "Price": [10.0, 20.0, 30.0, 40.0, 50.0],
        }
    )
    got = (
        calculate_weighted_bins(
            spark.createDataFrame(pdf),
            id1_col="Asset",
            id2_col="Type",
            timestamp_col="Time",
            q1_col="Volume",
            q2_col="Price",
            bin_size=100,
            max_bins=3,
        )
        .toPandas()
        .sort_values("Time")
        .reset_index(drop=True)
    )
    assert len(got) == 4  # last row of the group emits nothing
    np.testing.assert_allclose(
        got.loc[0, ["bin_1_avg", "bin_2_avg", "bin_3_avg"]].astype(float),
        [22.5, 32.5, 50.0],
    )


def test_comprehensive_seed42_golden(spark):
    """The reference's comprehensive test: seed-42 100-row table, group (A,X)
    first row, bin_size=50, max_bins=8 → documented expected bins
    (weighted_bin_calculator.py:301-308)."""
    np.random.seed(42)
    n = 100
    pdf = pd.DataFrame(
        {
            "ID1": np.random.choice(["A", "B", "C"], n),
            "ID2": np.random.choice(["X", "Y"], n),
            "timestamp": pd.date_range("2024-01-01", periods=n, freq="h"),
            "quantity1": np.random.randint(10, 201, n),
            "quantity2": np.random.randint(5, 51, n),
        }
    )
    got = (
        calculate_weighted_bins(spark.createDataFrame(pdf), bin_size=50, max_bins=8)
        .toPandas()
        .query("ID1 == 'A' and ID2 == 'X'")
        .sort_values("timestamp")
        .reset_index(drop=True)
    )
    expected = [39.00, 39.00, 39.00, 38.78, 28.00, 41.20, 39.36, 12.40]
    bins = got.loc[0, [f"bin_{k}_avg" for k in range(1, 9)]].astype(float)
    np.testing.assert_allclose(bins, expected, atol=0.005)


def test_empty_bins_are_null_not_nan(spark):
    pdf = pd.DataFrame(
        {
            "ID1": ["A", "A"],
            "ID2": ["x", "x"],
            "timestamp": pd.date_range("2024-01-01", periods=2, freq="h"),
            "quantity1": [30.0, 30.0],
            "quantity2": [10.0, 20.0],
        }
    )
    res = calculate_weighted_bins(spark.createDataFrame(pdf), bin_size=50, max_bins=3)
    from pyspark.sql import functions as F

    # bin_1 partial (30 units), bins 2-3 empty → SQL NULL
    assert res.filter(F.col("bin_2_avg").isNull() & F.col("bin_3_avg").isNull()).count() == 1
    row = res.collect()[0]
    assert row["bin_1_avg"] == pytest.approx(20.0)


def test_derive_num_buckets_scales_with_input():
    """Bucket count follows input size (the VERDICT r1 OOM-ceiling fix):
    small inputs stay at cluster parallelism, big inputs get
    ceil(rows/target) buckets so per-bucket pandas memory is bounded."""
    par = 32
    # small inputs: floored at parallelism
    assert derive_num_buckets(0, par) == par
    assert derive_num_buckets(600_000, par) == par
    # beyond par × target the count tracks input size exactly
    rows = 100 * par * TARGET_ROWS_PER_BUCKET
    assert derive_num_buckets(rows, par) == 100 * par
    assert derive_num_buckets(rows + 1, par) == 100 * par + 1
    # monotone in rows, 10× data → 10× buckets in the scaling regime
    assert derive_num_buckets(10 * rows, par) == 10 * derive_num_buckets(rows, par)
    # explicit target honored
    assert derive_num_buckets(10_000, 4, target_rows_per_bucket=1_000) == 10
    with pytest.raises(ValueError):
        derive_num_buckets(1, 0)


def test_adaptive_buckets_match_explicit(spark):
    """Default (derived) bucketing and an explicit bucket count produce
    identical results — bucketing is a physical knob, never semantic."""
    pdf = _random_events(n=200, seed=11)
    sdf = spark.createDataFrame(pdf)
    kw = dict(bin_size=50.0, max_bins=4, tiebreak_col="_pos")
    auto = calculate_weighted_bins(sdf, **kw).toPandas()
    explicit = calculate_weighted_bins(sdf, num_buckets=7, **kw).toPandas()
    key = ["ID1", "ID2", "timestamp", "quantity1", "quantity2"]
    auto = auto.sort_values(key).reset_index(drop=True)
    explicit = explicit.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(auto, explicit)


def test_driver_oracle_parity_weighted_bins(spark, ddb):
    q = driver.all_queries()["weighted_bins"]
    sql = driver.all_oracles()["weighted_bins"]
    assert_matches_oracle(q(spark, SF_DIR), ddb, sql)


def test_weighted_bins_fresh_session_reads_timestamp_ns(spark, tmp_path):
    """events.ts stored as parquet timestamp[ns]: the flagship must work
    as the FIRST events read of a session — its row count runs as soon
    as the bins input is built, so the events reader itself has to make
    the nanos column readable."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try:
        assert_matches_oracle(
            driver.q_weighted_bins(spark, str(tmp_path)),
            con,
            driver.all_oracles()["weighted_bins"],
        )
    finally:
        con.close()
