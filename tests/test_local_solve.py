"""Tests for ``operators/local_solve.py``: the driver-local /
distributed routing at its exact threshold boundary (at count ==
threshold the local solver runs, one edge over it the distributed loop
runs, and both give the same rows and schema), and the two-phase block
ledger pinned against a plain window."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators import bpe, dedup, graph
from dataframeutils_spark.operators.local_solve import block_positions, block_prefix
from dataframeutils_spark.schema import siground

N_EDGES = 40
EDGE_SCHEMA = "u long, v long"


@pytest.fixture(scope="module")
def edges(spark):
    rng = random.Random(5)
    pairs = set()
    while len(pairs) < N_EDGES:
        pairs.add(tuple(sorted(rng.sample(range(50), 2))))
    return spark.createDataFrame(sorted(pairs), EDGE_SCHEMA)


def _cc(spark, edges, threshold):
    return dedup.connected_components(edges, "u", "v", local_edge_threshold=threshold)


def _k_core(spark, edges, threshold):
    return graph.k_core_summary(edges, k=2, rounds=4, local_edge_threshold=threshold)


def _pagerank(spark, edges, threshold):
    nodes = spark.createDataFrame([(i,) for i in range(50)], "node long")
    ranks = graph.pagerank(
        nodes, edges.withColumn("w", F.lit(1.5)), src_col="u", dst_col="v",
        local_edge_threshold=threshold,
    )
    # the declared outputs built on pagerank (textrank) siground the rank;
    # the two paths differ only in numpy's summation order below that
    return ranks.select("node", siground(F.col("rank")).alias("rank"))


ROUTED = pytest.mark.parametrize(
    "build, module, solver",
    [
        (_cc, dedup, "_connected_components_local"),
        (_k_core, graph, "_k_core_local"),
        (_pagerank, graph, "_pagerank_local"),
    ],
    ids=["connected_components", "k_core", "pagerank"],
)


def _spy(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def spy(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, spy)
    return calls


def _assert_same(a, b):
    assert a.dtypes == b.dtypes
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@ROUTED
def test_local_at_threshold_distributed_above(spark, edges, monkeypatch, build, module, solver):
    calls = _spy(monkeypatch, module, solver)
    local = build(spark, edges, N_EDGES)
    assert calls == [solver]
    dist = build(spark, edges, N_EDGES - 1)
    assert calls == [solver]
    _assert_same(local, dist)


@ROUTED
def test_threshold_zero_on_empty_edges_matches_local(spark, monkeypatch, build, module, solver):
    calls = _spy(monkeypatch, module, solver)
    empty = spark.createDataFrame([], EDGE_SCHEMA)
    local = build(spark, empty, 1)
    assert calls == [solver]
    dist = build(spark, empty, 0)
    assert calls == [solver]
    _assert_same(local, dist)


def test_bpe_local_at_vocab_top_distributed_below(spark, monkeypatch):
    calls = _spy(monkeypatch, bpe, "_bpe_train_local")
    docs = spark.createDataFrame(
        [(0, "low lower lowest newer newest"), (1, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    t_loc, r_loc = bpe.bpe_train(docs, n_merges=6, vocab_top=50, local_vocab_threshold=50)
    assert calls == ["_bpe_train_local"]
    t_dist, r_dist = bpe.bpe_train(docs, n_merges=6, vocab_top=50, local_vocab_threshold=49)
    assert calls == ["_bpe_train_local"]
    assert r_loc == r_dist
    assert t_loc.collect() == t_dist.collect()


@pytest.fixture(scope="module")
def blocked(spark):
    """(g, t, id, v, blk) rows with blk = (t·100 + id) DIV 7, so blk is
    non-decreasing in (t, id). Ties on t are broken by id across block
    boundaries; group 1 has a single block; group 0 has no t in 3..9,
    so the blocks between t = 2 and t = 10 are empty."""
    rng = random.Random(11)
    rows = []
    for i in range(120):
        t = rng.choice([0, 1, 2, 10, 11]) if i % 4 else 20
        rows.append((0, t, i % 100, rng.randint(-50, 50)))
    rows += [(1, 3, i, rng.randint(-50, 50)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "g long, t long, id long, v long").dropDuplicates(
        ["g", "t", "id"]
    )
    return df.withColumn("blk", F.expr("(t * 100 + id) DIV 7"))


@pytest.mark.parametrize("by", [[], ["g"]], ids=["global", "by_g"])
def test_block_positions_equal_row_number(blocked, by):
    order = ["t", "id"]
    want = blocked.withColumn(
        "want", F.row_number().over(Window.partitionBy(*by).orderBy(*order))
    )
    got = block_positions(blocked, by, "blk", order)
    assert sorted(got.columns) == sorted([*blocked.columns, "_pos"])
    rows = got.join(want.select("g", "t", "id", "want"), ["g", "t", "id"]).collect()
    assert len(rows) == blocked.count()
    assert all(r["_pos"] == r["want"] for r in rows)
    # the data exercises what the ledger must get right
    tie_blocks = blocked.groupBy("g", "t").agg(F.countDistinct("blk").alias("nb"))
    assert tie_blocks.filter("nb > 1").count() > 0
    assert blocked.filter("g = 1").select("blk").distinct().count() == 1
    blks = sorted(r["blk"] for r in blocked.filter("g = 0").select("blk").distinct().collect())
    assert len(blks) < blks[-1] - blks[0] + 1


def test_block_prefix_max_equals_cummax(blocked):
    got = block_prefix(blocked, ["g"], "blk", F.col("v"), fold=F.max).toPandas()
    pdf = blocked.toPandas()
    want = pdf.groupby(["g", "blk"], as_index=False)["v"].max().rename(columns={"v": "_n"})
    want = want.sort_values(["g", "blk"])
    want["_pre"] = want.groupby("g")["_n"].transform(lambda s: s.cummax().shift(1))
    want["_tot"] = want.groupby("g")["_n"].transform("max")
    cols = ["g", "blk", "_n", "_pre", "_tot"]
    pd.testing.assert_frame_equal(
        got.sort_values(["g", "blk"]).reset_index(drop=True)[cols],
        want.reset_index(drop=True)[cols],
        check_dtype=False,
    )
