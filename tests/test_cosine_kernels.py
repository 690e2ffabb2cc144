"""The cosine kernels agree bit for bit across engines: Spark's
``similarity._dot``/``_norm`` and DuckDB's ``_dot_sql``/``_norm_sql``/
``_cos_sql`` on FLOAT[] vectors, including a zero vector (NULL cosine
on both sides) and mixed signs."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dataframeutils_spark.operators import similarity as sim

DIM = 8


def _rows() -> list[tuple[int, list[float], list[float]]]:
    rng = np.random.RandomState(7)
    rows = []
    for i in range(12):
        scale = np.float32(10.0) ** rng.randint(-3, 4, DIM)
        a = (rng.randn(DIM) * scale).astype(np.float32)
        b = (rng.randn(DIM) * scale).astype(np.float32)
        rows.append((i, a, b))
    # zero vector: the norm product is 0, so the cosine is NULL
    rows.append((12, np.zeros(DIM, np.float32), rows[0][2]))
    # left-to-right order pinned: (1 + 1e20) - 1e20 == 0 in double,
    # while adding from the right gives (-1e20 + 1e20) + 1 == 1
    big = np.float32(1e20)
    rows.append((13, np.array([1, big, -big, 0, 0, 0, 0, 0], np.float32),
                 np.ones(DIM, np.float32)))
    # float32 values are exact doubles, so both engines see the same inputs
    return [(i, [float(x) for x in a], [float(x) for x in b]) for i, a, b in rows]


def _spark_kernels(spark) -> dict[int, tuple]:
    df = spark.createDataFrame(_rows(), "id long, a array<float>, b array<float>")
    dot, na, nb = sim._dot(F.col("a"), F.col("b")), sim._norm(F.col("a")), sim._norm(F.col("b"))
    out = df.select("id", dot.alias("dot"), na.alias("na"),
                    F.try_divide(dot, na * nb).alias("cos"))
    return {r["id"]: (r["dot"], r["na"], r["cos"]) for r in out.collect()}


def _duckdb_kernels(ddb) -> dict[int, tuple]:
    ddb.register("kernel_vecs", pd.DataFrame(_rows(), columns=["id", "a", "b"]))
    try:
        got = ddb.execute(f"""
            SELECT id, {sim._dot_sql("a", "b")} AS dot, {sim._norm_sql("a")} AS na,
                   {sim._cos_sql("a", "b")} AS cos
            FROM (SELECT id, CAST(a AS FLOAT[]) AS a, CAST(b AS FLOAT[]) AS b
                  FROM kernel_vecs)
        """).fetchall()
    finally:
        ddb.unregister("kernel_vecs")
    return {i: (d, n, c) for i, d, n, c in got}


def _bits(x: float | None) -> str | None:
    return None if x is None else float(x).hex()


def test_cosine_kernels_bit_identical_across_engines(spark, ddb):
    s, d = _spark_kernels(spark), _duckdb_kernels(ddb)
    assert s.keys() == d.keys() == set(range(14))
    for i in s:
        assert [_bits(x) for x in s[i]] == [_bits(x) for x in d[i]], f"row {i}"


def test_cosine_kernels_zero_norm_and_fold_order(spark, ddb):
    for got in (_spark_kernels(spark), _duckdb_kernels(ddb)):
        assert got[12][1] == 0.0 and got[12][2] is None
        assert got[13][0] == 0.0
