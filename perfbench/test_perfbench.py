"""Tests of the benchmark's own logic (no Spark needed).

Run with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from perfbench import check, inputs, run, stats, trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ tail rule


def test_tail_leaves_at_least_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, p, n = stats.tail(values)
    assert (value, p, n) == (90.0, 90, 100)
    assert sum(v > value for v in values) == 10


@pytest.mark.parametrize("n", [11, 12, 15, 20, 37, 64, 1000])
def test_tail_is_the_highest_qualifying_percentile(n):
    values = list(np.random.default_rng(n).permutation(n).astype(float))
    value, p, count = stats.tail(values)
    assert count == n
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank_next = -(-(p + 1) * n // 100)
    assert n - rank_next < 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([3.0] * 11) == (3.0, 9, 11)


# ------------------------------------------------------------ pass sums


def _q(name, build, full, probe_ms, **extra):
    return {"query": name, "build_s": build, "plan_s": 0.0, "full_s": full,
            "count_s": 0.0, "engine_probe_ms": probe_ms, **extra}


def test_per_query_sum_takes_medians_per_query_then_sums():
    passes = [
        {"queries": [_q("a", 1.0, 1.0, 100.0), _q("b", 0.5, 0.5, 100.0)]},
        {"queries": [_q("b", 0.5, 1.5, 200.0), _q("a", 1.0, 3.0, 200.0)]},
        {"queries": [_q("a", 1.0, 2.0, 100.0), _q("b", 9.0, 9.0, 100.0, error="x")]},
    ]
    # a: 2, 4, 3 s -> 3; b: 1, 2 s (the failed one left out) -> 1.5
    assert run.per_query_sum(passes, run._full, in_probes=False) == pytest.approx(4.5)
    # in probes: a: 20, 20, 30 -> 20; b: 10, 10 -> 10
    assert run.per_query_sum(passes, run._full, in_probes=True) == pytest.approx(30.0)


# ------------------------------------------------------------ self time


def _span(i, parent, start, end):
    return trace.Span(i, parent, f"s{i}", start, end)


def test_self_time_subtracts_covered_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: covered union is 1..6
        _span(3, 1, 2.0, 3.0),
    ]
    selfs = trace.self_times(spans)
    assert selfs[0] == pytest.approx(5.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.5, 5.0)]
    assert trace.self_times(spans)[0] == pytest.approx(1.5)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = trace.Tracer(True)
    with t.span("run"):
        with t.span("pass"):
            pass
    recs = t.to_records()
    assert [r["parent"] for r in recs] == [None, 0]
    assert all(r["self_s"] >= 0 for r in recs)
    off = trace.Tracer(False)
    with off.span("run"):
        pass
    assert off.to_records() == []


def test_thread_cpu_by_kind_skips_ended_threads():
    before = {"1": ("jit", 2.0), "2": ("task", 1.0), "3": ("jit", 5.0)}
    after = {"1": ("jit", 2.5), "2": ("task", 3.0), "4": ("gc", 0.25)}
    assert trace.thread_cpu_by_kind(before, after) == {
        "jit": 0.5, "gc": 0.25, "task": 2.0, "other": 0.0}


def test_union_length():
    assert trace.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert trace.union_length([]) == 0.0


# ------------------------------------------------------------ inputs


def _sorted_rows(t: pa.Table) -> pd.DataFrame:
    df = t.to_pandas()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], np.ndarray):
            df[c] = df[c].map(lambda v: tuple(v.tolist()))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("names,replica", [
    (("lineitem", "events", "documents", "embeddings"), 1),
    (("orders", "lineitem", "customer"), 3),
])
def test_generated_inputs_hold_the_same_rows_for_any_seed(names, replica):
    a = inputs.build_tables(names, 0.001, seed=1, replica=replica)
    b = inputs.build_tables(names, 0.001, seed=2, replica=replica)
    for name in names:
        assert a[name].schema == b[name].schema
        assert not a[name].equals(b[name]) or a[name].num_rows < 2
        pd.testing.assert_frame_equal(_sorted_rows(a[name]), _sorted_rows(b[name]))


def test_same_seed_gives_the_same_inputs():
    a = inputs.build_tables(("documents", "lineitem"), 0.001, seed=7)
    b = inputs.build_tables(("documents", "lineitem"), 0.001, seed=7)
    assert all(a[n].equals(b[n]) for n in a)


def test_replica_keeps_keys_joinable():
    t = inputs.build_tables(("orders", "lineitem"), 0.001, seed=0, replica=4)
    orders = set(t["orders"]["o_orderkey"].to_pylist())
    assert len(orders) == t["orders"].num_rows == 4 * inputs.table_rows("orders", 0.001)
    assert set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders


# ------------------------------------------------------------ hashing


def _fixture() -> pd.DataFrame:
    return pd.DataFrame({
        "b": [2.5, float("nan"), 1.0],
        "a": [3, 1, 2],
        "ts": pd.to_datetime(["2024-01-02", "2024-01-01", "2024-01-03"]),
        "v": [np.array([1.0, 2.0]), np.array([3.0]), np.array([])],
    })


def test_hash_ignores_row_and_column_order():
    df = _fixture()
    shuffled = df.iloc[[2, 0, 1], ::-1].reset_index(drop=True)
    assert check.result_hash(df) == check.result_hash(shuffled)


def test_hash_sees_values_and_dtype_kind():
    df = _fixture()
    changed = df.copy()
    changed.loc[0, "b"] = 2.5000001
    assert check.result_hash(df) != check.result_hash(changed)
    as_float = df.assign(a=df["a"].astype("float64"))
    assert check.result_hash(df) != check.result_hash(as_float)


def test_nested_values_normalize_like_lists():
    df = _fixture()
    as_lists = df.assign(v=df["v"].map(lambda a: a.tolist()))
    assert check.result_hash(df) == check.result_hash(as_lists)


def test_check_output_compares_count_columns_and_hash():
    df = _fixture()
    golden = {"rows": 3, "columns": sorted(df.columns), "hash": check.result_hash(df)}
    assert check.check_output(df, 3, golden)[0] is None
    assert "count()" in check.check_output(df, 4, golden)[0]
    assert "hash" in check.check_output(df.assign(a=[9, 9, 9]), 3, golden)[0]
    rows_only = dict(golden, hash=None)
    assert check.check_output(df.assign(a=[9, 9, 9]), 3, rows_only)[0] is None


# ------------------------------------------------------------ plans


def test_plan_counts_read_operator_names():
    tree = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[k#1], functions=[sum(v#2)])\n"
        "   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "      +- BroadcastHashJoin [k#1], [k#3], Inner, BuildRight, false\n"
        "         :- FlatMapGroupsInPandas [k#1], fit(k#1, v#2)#5\n"
        "         +- BroadcastExchange HashedRelationBroadcastMode(List(k#3)), [plan_id=6]\n"
        "            +- *(1) Filter isnotnull(k#3)\n"
    )
    assert trace.plan_counts(tree) == {"exchanges": 1, "broadcasts": 1, "python_nodes": 1}
    assert trace.heavy_nodes("Join Inner\n:- Window [x]\n+- Project [a]\n") == 2


# ------------------------------------------------------------ contract


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_golden_covers_every_workload_query():
    golden = check.load_golden()
    for name, wl in WORKLOADS.items():
        assert set(golden[name]) == set(wl.queries)
