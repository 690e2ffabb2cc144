"""Seeded input tables for the benchmark.

The table *contents* are fixed: they are drawn once from ``CONTENT_SEED``
with the shapes and value domains of the driver's synthetic test data
(TPC-H-like star schema, an ``events`` stream, ``documents`` and
``embeddings``). The run's ``--seed`` only permutes the rows of every
table, so declared query outputs never depend on it while the physical
layout the engine scans does.

``replicate_tpch`` builds the ``mult``× fact-table replica with the key
transform of ``tools/scale_stress.generate_tpch``: replica ``m`` of order
``k`` gets key ``k·mult + m`` on both sides of the join, dimensions stay
as they are.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

# Rows per table at scale factor 1 (documents/embeddings have a floor).
_ROWS_PER_SF = {
    "region": None,
    "nation": None,
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_MIN_ROWS = {"documents": 500, "embeddings": 500}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_EMB_DIM = 64
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def table_rows(name: str, sf: float) -> int:
    per_sf = _ROWS_PER_SF[name]
    if per_sf is None:
        return {"region": 5, "nation": 25}[name]
    return max(_MIN_ROWS.get(name, 1), int(round(per_sf * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, epoch_us: int, span: int, n: int) -> pa.Array:
    us = epoch_us + rng.integers(0, span, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _base_table(name: str, sf: float) -> pa.Table:
    """One table's fixed contents; each table has its own RNG stream so
    generating a subset gives the same rows as generating all."""
    rng = np.random.default_rng([CONTENT_SEED, sorted(_ROWS_PER_SF).index(name)])
    n = table_rows(name, sf)
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        return pa.table({
            "p_partkey": ids,
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (ids % 1000) / 10.0,
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, table_rows("customer", sf), n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _days(rng, _EPOCH_1995_US, 2400, n),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, table_rows("orders", sf), n),
            "l_partkey": rng.integers(0, table_rows("part", sf), n),
            "l_suppkey": rng.integers(0, table_rows("supplier", sf), n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, _EPOCH_1995_US + _DAY_US, 2500, n),
        })
    if name == "events":
        # a 30-day stream in time order
        gaps = rng.exponential(30 * _DAY_US / n, n)
        ts_us = _EPOCH_2024_US + np.floor(np.cumsum(gaps)).astype(np.int64)
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n // 67), n),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        vocab = np.asarray(_VOCAB, dtype=object)
        texts = [
            " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
            for _ in range(n)
        ]
        # ~5% near duplicates (an earlier document plus one token) and a
        # few exact copies, so the dedup operators find real clusters
        for i in range(1, n):
            u = rng.random()
            if u < 0.05:
                texts[i] = texts[rng.integers(0, i)] + " dup"
            elif u < 0.052:
                texts[i] = texts[rng.integers(0, i)]
        return pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if name == "embeddings":
        v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": ids,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), _EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        })
    raise ValueError(f"unknown table {name!r}")


def replicate_tpch(tables: dict[str, pa.Table], mult: int) -> dict[str, pa.Table]:
    """``mult``× replica of orders and lineitem, dimensions unchanged."""
    out = dict(tables)
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        t = tables[name]
        keys = t[key].to_numpy()
        parts = [
            t.set_column(t.schema.get_field_index(key), key, pa.array(keys * mult + m))
            for m in range(mult)
        ]
        out[name] = pa.concat_tables(parts)
    return out


def permutation(n: int, seed: int, name: str) -> np.ndarray:
    return np.random.default_rng([seed, sorted(_ROWS_PER_SF).index(name)]).permutation(n)


def build_tables(
    names: tuple[str, ...], sf: float, seed: int, replica: int = 1
) -> dict[str, pa.Table]:
    """Fixed contents for ``names`` at ``sf``, rows permuted by ``seed``,
    facts replicated ``replica``× when it is above 1."""
    tables = {}
    for name in names:
        t = _base_table(name, sf)
        tables[name] = t.take(pa.array(permutation(t.num_rows, seed, name)))
    if replica > 1:
        tables = replicate_tpch(tables, replica)
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str, row_groups: int = 1) -> None:
    """One ``<name>.parquet`` file per table. Tables with more than
    100k rows are split into ``row_groups`` row groups so scans can
    parallelize; smaller ones keep a single group like the test data."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        groups = row_groups if t.num_rows > 100_000 else 1
        size = max(1, -(-t.num_rows // groups))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=size)
