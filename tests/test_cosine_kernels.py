"""The cosine kernels agree bit for bit across engines: Spark's
``similarity._dot``/``_norm`` and DuckDB's ``_dot_sql``/``_norm_sql``/
``_cos_sql`` on FLOAT[] vectors, including a zero vector (NULL cosine
on both sides) and mixed signs; and so do the hash-derived quantizer
entries (``_hash_uniform``/``_hash_uniform_sql``) and the IVF centroid
table (``ivf_centroids``/``_centroids_sql``)."""

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


# hyperplane ('plane:d'), IVF ('ivf:c:d') and PQ ('pq:s:c:d') keys
_HASH_KEYS = (
    [f"{p}:{d}" for p in (0, 7, 31) for d in (0, 1, 63)]
    + [f"ivf:{c}:{d}" for c in (0, 5, 400) for d in (0, 1, 63)]
    + [f"pq:{s}:{c}:{d}" for s in (0, 7) for c in (0, 15) for d in (0, 7)]
)


def test_hash_quantizer_bit_identical_across_engines(spark, ddb):
    keys = spark.createDataFrame([(k,) for k in _HASH_KEYS], "key string")
    s = {r["key"]: _bits(r["u"]) for r in
         keys.select("key", sim._hash_uniform(F.col("key")).alias("u")).collect()}
    ddb.register("hash_keys", pd.DataFrame({"key": _HASH_KEYS}))
    ddb.register("corpus_rows", pd.DataFrame({"vec_id": range(17)}))
    try:
        d = {k: _bits(u) for k, u in ddb.execute(
            f"SELECT key, {sim._hash_uniform_sql('key')} AS u FROM hash_keys").fetchall()}
        cents = {
            n: ddb.execute(f"WITH {sim._centroids_sql('corpus_rows', DIM, n)} "
                           "SELECT centroid, u, nrm FROM cn ORDER BY centroid").fetchall()
            for n in (3, None)
        }
    finally:
        ddb.unregister("hash_keys")
        ddb.unregister("corpus_rows")
    assert s == d
    assert all(-1.0 <= float.fromhex(u) < 1.0 for u in s.values())
    # C auto-sizes to max(4, ceil(sqrt(17))) = 5 in both engines
    for n, c in ((3, 3), (None, sim.auto_centroid_count(17))):
        got = [(r["centroid"], [_bits(x) for x in r["u"]], _bits(r["nrm"]))
               for r in sim.ivf_centroids(spark, c, DIM).orderBy("centroid").collect()]
        want = [(i, [_bits(x) for x in u], _bits(nrm)) for i, u, nrm in cents[n]]
        assert got == want, f"n_centroids={n}"
