"""Data-layout planning (Z-order / zone maps) and skew-salting tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataframeutils_spark.operators import dedup, layout, skew
from dataframeutils_spark.operators.local_solve import block_positions

N = 4096
RPF = 128


@pytest.fixture(scope="module")
def grid_events(spark):
    """Uniform 64×64 grid over (user, time): every (x, t-minute) cell
    once — the layout-theory textbook case where Z-order's 2-D
    clustering must beat a 1-D time sort on a 2-D box probe."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, i % 64, base + dt.timedelta(minutes=i // 64)) for i in range(N)
    ]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


def test_zorder_audit_invariants_and_win(spark, grid_events):
    out = {
        r["layout"]: r
        for r in layout.zorder_layout_audit(
            grid_events, rows_per_file=RPF
        ).collect()
    }
    z, lin = out["zorder"], out["linear"]
    # same rows, same files, same TRUE matches under both layouts
    assert z["n_files"] == lin["n_files"] == (N + RPF - 1) // RPF
    assert z["rows_matched"] == lin["rows_matched"] > 0
    # a zone-map reader must never skip a matching row
    assert z["rows_scanned"] >= z["rows_matched"]
    assert lin["rows_scanned"] >= lin["rows_matched"]
    assert z["n_files_pruned"] <= z["n_files"]
    # the point of the operator: on a 2-D box probe the interleaved
    # layout scans strictly less than the single-key layout
    assert z["rows_scanned"] < lin["rows_scanned"]
    assert z["n_files_pruned"] > lin["n_files_pruned"]


def test_zorder_positions_match_global_sort_order(spark, grid_events):
    """The two-phase global position must be a permutation of 0..N-1
    AND equal the true global (t, rid) sort rank. The block column is
    monotone in the sort order (top bits of the leading sort key, the
    operator's own form) — block_positions' documented precondition;
    a non-monotone block would satisfy the permutation property yet
    scramble the order, which is exactly what this test pins."""
    e = grid_events.select(
        F.col("user_id").alias("x"),
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("rid"),
    )
    pos = block_positions(
        e.withColumn("_blk", F.expr("shiftright(t, 26)")), [], "_blk", ["t", "rid"]
    ).withColumn("_pos", F.col("_pos") - 1)
    rows = pos.select("t", "rid", "_pos").collect()
    # permutation of 0..N-1 → every file except the last is full
    assert sorted(r["_pos"] for r in rows) == list(range(N))
    # positions reproduce the true global sort order
    by_pos = sorted(rows, key=lambda r: r["_pos"])
    assert [(r["t"], r["rid"]) for r in by_pos] == sorted(
        (r["t"], r["rid"]) for r in rows
    )
    # multiple blocks must actually be exercised (else the test
    # degenerates to a single intra-block row_number)
    n_blocks = pos.select(F.expr("shiftright(t, 26)")).distinct().count()
    assert n_blocks > 1


def test_salted_join_equals_plain_join(spark, grid_events):
    ev = grid_events.withColumn("value", (F.col("event_id") % 7).cast("double"))
    fact = ev.select("event_id", "user_id", "value")
    dim = ev.groupBy("user_id").agg(F.avg("value").alias("user_avg"))
    salted = skew.salted_join(
        fact, dim, on=("user_id",), row_col="event_id", n_salt=8
    )
    plain = fact.join(dim, "user_id")
    assert sorted(salted.columns) == sorted(plain.columns)
    assert salted.count() == plain.count() == N
    diff = salted.exceptAll(plain.select(*salted.columns))
    assert diff.limit(1).count() == 0


def test_salted_join_left_keeps_unmatched(spark, grid_events):
    fact = grid_events.select("event_id", "user_id")
    dim = (
        grid_events.filter(F.col("user_id") < 8)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    out = skew.salted_join(
        fact, dim, on=("user_id",), row_col="event_id", n_salt=4, how="left"
    )
    assert out.count() == N  # one output row per fact row, matched or not
    assert out.filter(F.col("n").isNull()).count() == N * 56 // 64


def test_salted_join_shuffles_on_salt(spark, grid_events):
    """The plan must partition on (key, _salt) — that IS the skew fix."""
    fact = grid_events.select("event_id", "user_id")
    dim = grid_events.groupBy("user_id").agg(F.count("*").alias("n"))
    with_salt = skew.salted_join(
        fact, dim, on=("user_id",), row_col="event_id", n_salt=8
    )
    plan = with_salt._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_salted_join_rejects_unknown_how(spark, grid_events):
    with pytest.raises(ValueError, match="inner/left"):
        skew.salted_join(
            grid_events, grid_events, on=("user_id",), row_col="event_id",
            how="outer",
        )


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """20 planted near-dup pairs (one token changed → Jaccard ≈ 0.9)
    plus unrelated singletons."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
            "lamda mu nu xi omicron pi rho sigma tau upsilon".split()
    rows = []
    for i in range(20):
        base = " ".join(words[(i + j) % 20] for j in range(30))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base.replace(words[i], "changed", 1)))
    for i in range(30):
        rows.append((100 + i, f"solo doc {i} " + " ".join(f"w{i}x{j}" for j in range(25))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_tuning_audit_calibration(spark, near_dup_corpus):
    out = dedup.lsh_tuning_audit(near_dup_corpus, num_perm=16, bands=4).collect()
    assert out, "audit produced no buckets"
    by_bucket = {r["bucket"]: r for r in out}
    for r in out:
        assert 0 <= r["bucket"] <= 9
        assert 0 <= r["n_detected"] <= r["n_pairs"]
        assert 0.0 <= r["detect_rate"] <= 1.0
        assert 0.0 <= r["expected"] <= 1.0 + 1e-12
    # the planted ~0.9-Jaccard pairs live in the top buckets, where the
    # S-curve says detection is near-certain — the audit must agree
    hi = [r for r in out if r["bucket"] >= 8]
    assert hi, "no high-jaccard bucket despite planted near-dups"
    n_hi = sum(r["n_pairs"] for r in hi)
    det_hi = sum(r["n_detected"] for r in hi)
    assert n_hi >= 20
    assert det_hi / n_hi > 0.9


def test_compaction_plan_matches_sequential_packing(spark, grid_events):
    """The plan must equal the sequential in-order packing rule
    recomputed in plain Python: group = exclusive-cumsum DIV target."""
    manifest = grid_events.groupBy(
        (F.col("user_id") % 4).cast("string").alias("part_key"),
        (F.col("event_id") % 16).alias("file_id"),
    ).agg(F.count("*").alias("n_bytes"))
    target = 300
    got = {
        (r["part_key"], r["grp"]): r
        for r in layout.compaction_plan(manifest, target_bytes=target).collect()
    }
    rows = sorted(
        manifest.collect(), key=lambda r: (r["part_key"], r["file_id"])
    )
    want: dict[tuple, dict] = {}
    cum: dict[str, int] = {}
    for r in rows:
        pre = cum.get(r["part_key"], 0)
        g = pre // target
        cum[r["part_key"]] = pre + r["n_bytes"]
        k = (r["part_key"], g)
        w = want.setdefault(
            k, {"n_files": 0, "total_bytes": 0, "first": r["file_id"]}
        )
        w["n_files"] += 1
        w["total_bytes"] += r["n_bytes"]
        w["last"] = r["file_id"]
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["n_files"] == w["n_files"]
        assert got[k]["total_bytes"] == w["total_bytes"]
        assert got[k]["first_file"] == w["first"]
        assert got[k]["last_file"] == w["last"]


def test_zorder_survives_multi_year_span(spark):
    """A >4.5-year microsecond span overflows the naive
    ``(t - tmin) * 65535`` int64 scale-up (2^63/65535 ~= 1.4e14 us);
    Spark's non-ANSI mode would wrap to NEGATIVE buckets and corrupt
    Morton keys while the DuckDB oracle errors. The overflow-aware
    bucket expression must keep every bucket in [0, 65535] and the
    audit invariants intact on a 10-year span."""
    base = dt.datetime(2016, 1, 1)
    rows = [
        (i, i % 64, base + dt.timedelta(days=(i // 64) * 57))  # ~10 years
        for i in range(N)
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    span_us = ev.agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("s")
    ).collect()[0]["s"]
    assert span_us * 65535 > (1 << 63)  # the naive form WOULD overflow
    out = {
        r["layout"]: r
        for r in layout.zorder_layout_audit(ev, rows_per_file=RPF).collect()
    }
    z, lin = out["zorder"], out["linear"]
    assert z["n_files"] == lin["n_files"] == (N + RPF - 1) // RPF
    assert z["rows_matched"] == lin["rows_matched"] > 0
    assert z["rows_scanned"] >= z["rows_matched"]
    assert z["rows_scanned"] <= lin["rows_scanned"]
