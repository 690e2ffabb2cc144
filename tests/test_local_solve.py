"""Boundary tests for the driver-local / distributed routing in
``operators/local_solve.py``: at count == threshold the local solver
runs, one edge over it the distributed loop runs, and both give the
same rows and schema."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dataframeutils_spark.operators import bpe, dedup, graph
from dataframeutils_spark.operators.local_solve import local_threshold
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


@pytest.mark.parametrize(
    "env, default",
    [
        ("SPARK_GRAFT_CC_LOCAL_EDGES", 4_000_000),
        ("SPARK_GRAFT_GRAPH_LOCAL_EDGES", 4_000_000),
        ("SPARK_GRAFT_PR_LOCAL_EDGES", 1_000_000),
        ("SPARK_GRAFT_BPE_LOCAL_VOCAB", 100_000),
    ],
)
def test_malformed_env_warns_and_uses_default(monkeypatch, env, default):
    monkeypatch.setenv(env, "4M")
    with pytest.warns(UserWarning, match=f"{env}='4M' is not an int; using default {default}"):
        assert local_threshold(env, default) == default
    monkeypatch.setenv(env, "7")
    assert local_threshold(env, default) == 7
    monkeypatch.delenv(env)
    assert local_threshold(env, default) == default


def test_malformed_env_routes_with_default(spark, edges, monkeypatch):
    calls = _spy(monkeypatch, dedup, "_connected_components_local")
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_EDGES", "lots")
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CC_LOCAL_EDGES='lots'"):
        _cc(spark, edges, None)
    assert calls == ["_connected_components_local"]
