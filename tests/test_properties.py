"""Property tests (hypothesis) pinning distributed operators to
independent single-node reference implementations. Few examples, small
frames — each example pays a Spark job; the value is the adversarial
SHAPES hypothesis finds (self-loops, chains, ties, empty sides), not
volume."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dataframeutils_spark.operators import asof, dedup

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: classic union-find, component labelled by min member."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, list[int]] = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    return {n: min(members) for members in roots.values() for n in members}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(df).collect()
    }
    assert got == _union_find(edges)


@given(
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=0,
        max_size=15,
        unique=True,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    lpdf = pd.DataFrame(left, columns=["user_id", "t"]).assign(
        event_id=range(len(left))
    )
    rpdf = pd.DataFrame(right, columns=["user_id", "t"]).assign(
        score=lambda d: d["t"].astype(float) * 10
    )
    ldf = spark.createDataFrame(lpdf).withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    rdf = spark.createDataFrame(
        list(rpdf.itertuples(index=False)), "user_id string, t long, score double"
    ).withColumn("ts", F.col("t").cast("timestamp")).drop("t")

    got = (
        asof.asof_join(ldf, rdf, value_cols=("score",))
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.assign(ts=pd.to_datetime(lpdf["t"], unit="s")).sort_values("ts"),
        rpdf.assign(ts=pd.to_datetime(rpdf["t"], unit="s")).sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",  # inclusive >= — same contract
    ).sort_values("event_id").reset_index(drop=True)
    assert list(got["score_asof"].fillna(-1)) == list(want["score"].fillna(-1))


@pytest.mark.parametrize(
    "kw", [{}, {"local_edge_threshold": 0}], ids=["default", "distributed"]
)
def test_connected_components_long_chain_converges_fast(spark, kw):
    """Adversarial diameter-200 chain: pointer doubling must converge
    well inside the default max_iter=25 (one-hop propagation would need
    200 rounds and previously returned silently-split clusters). The
    default threshold solves 200 edges with the driver-local union-find;
    local_edge_threshold=0 pins the distributed pointer-doubling loop."""
    n = 200
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = dedup.connected_components(df, **kw).collect()
    assert len(got) == n + 1
    assert {r["cluster_id"] for r in got} == {0}


def test_connected_components_raises_when_unconverged(spark):
    """Exhausting max_iter must fail loud, not return split clusters.
    local_edge_threshold=0 pins the distributed loop — the small-graph
    local solve is exact and has no convergence budget to exhaust."""
    import pytest

    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, max_iter=2, local_edge_threshold=0)


def test_connected_components_local_matches_distributed(spark):
    """The driver-local numpy union-find must label exactly like the
    distributed pointer-doubling loop: same min-id-per-component
    labels on a random multi-component graph, for both long and string
    ids (string min = lexicographic, matching F.min)."""
    import random

    rng = random.Random(13)
    edges = []
    for comp in range(17):  # 17 components with random internal wiring
        members = [comp * 1000 + i for i in range(rng.randint(1, 40))]
        for m in members[1:]:
            edges.append((rng.choice(members), m))
        for _ in range(len(members) // 3):  # extra cycles
            edges.append((rng.choice(members), rng.choice(members)))
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    local = {(r["doc_id"], r["cluster_id"])
             for r in dedup.connected_components(df).collect()}
    dist = {(r["doc_id"], r["cluster_id"])
            for r in dedup.connected_components(
                df, local_edge_threshold=0).collect()}
    assert local == dist and len(local) > 0

    sdf = spark.createDataFrame(
        [(f"d{a:06d}", f"d{b:06d}") for a, b in edges],
        "doc_a string, doc_b string",
    )
    slocal = {(r["doc_id"], r["cluster_id"])
              for r in dedup.connected_components(
                  sdf, numeric_ids=False).collect()}
    sdist = {(r["doc_id"], r["cluster_id"])
             for r in dedup.connected_components(
                 sdf, numeric_ids=False, local_edge_threshold=0).collect()}
    assert slocal == sdist
    # d%06d is order-preserving, so string labels are the mapped image
    # of the long labels
    assert slocal == {(f"d{n:06d}", f"d{c:06d}") for (n, c) in local}


def test_connected_components_rejects_tiny_max_iter(spark):
    """max_iter=0 would return the fused-init labels unverified — must
    be rejected at the boundary. max_iter=1 is now legal: the fused
    min(self, neighbors) init converges diameter-1 graphs before the
    loop, so one verification round suffices for a clique."""
    import pytest

    df = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="max_iter"):
        dedup.connected_components(df, max_iter=0)
    got = dedup.connected_components(df, max_iter=1).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in got} == {(1, 1), (2, 1)}


@pytest.mark.parametrize(
    "direction,exact,tol",
    [
        ("forward", True, None),
        ("forward", False, None),
        ("backward", False, None),
        ("backward", True, 5),
        ("forward", True, 5),
    ],
)
@given(
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
        min_size=0,
        max_size=12,
        unique=True,
    ),
)
@settings(**SETTINGS)
def test_asof_join_direction_tolerance_matches_pandas(
    spark, direction, exact, tol, left, right
):
    """The merge_asof parity knobs (direction / allow_exact_matches /
    tolerance) against pandas itself as the reference implementation."""
    lpdf = pd.DataFrame(left, columns=["user_id", "t"]).assign(
        event_id=range(len(left))
    )
    rpdf = pd.DataFrame(right, columns=["user_id", "t"]).assign(
        score=lambda d: d["t"].astype(float) * 10
    )
    ldf = spark.createDataFrame(lpdf).withColumn("ts", F.col("t").cast("timestamp")).drop("t")
    rdf = spark.createDataFrame(
        list(rpdf.itertuples(index=False)), "user_id string, t long, score double"
    ).withColumn("ts", F.col("t").cast("timestamp")).drop("t")

    got = (
        asof.asof_join(
            ldf,
            rdf,
            value_cols=("score",),
            direction=direction,
            allow_exact_matches=exact,
            tolerance_seconds=tol,
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.assign(ts=pd.to_datetime(lpdf["t"], unit="s")).sort_values("ts"),
        rpdf.assign(ts=pd.to_datetime(rpdf["t"], unit="s")).sort_values("ts"),
        on="ts",
        by="user_id",
        direction=direction,
        allow_exact_matches=exact,
        tolerance=None if tol is None else pd.Timedelta(seconds=tol),
    ).sort_values("event_id").reset_index(drop=True)
    assert list(got["score_asof"].fillna(-1)) == list(want["score"].fillna(-1))


# ---------------------------------------------------------------------------
# round-4 operators vs single-node references
# ---------------------------------------------------------------------------


def _chunk_reference(n: int, window: int, stride: int) -> list[tuple[int, int, int]]:
    """Reference chunker: (chunk_idx, start, length) per chunk; stops
    once a window reaches the end of the doc."""
    if n <= 0:
        return []
    import math

    n_chunks = 1 if n <= window else math.ceil((n - window) / stride) + 1
    return [
        (i, i * stride, min(window, n - i * stride)) for i in range(n_chunks)
    ]


@given(
    n_tokens=st.lists(st.integers(0, 40), min_size=1, max_size=6),
    window=st.integers(1, 12),
    stride_off=st.integers(0, 11),
)
@settings(**SETTINGS)
def test_chunk_documents_matches_reference(spark, n_tokens, window, stride_off):
    from dataframeutils_spark.operators import text

    stride = max(1, window - stride_off)
    rows = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(n_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["start_tok"], r["n_tokens"])
        for r in text.chunk_documents(df, window=window, stride=stride).collect()
    }
    want = {
        (i, idx): (start, length)
        for i, n in enumerate(n_tokens)
        for idx, start, length in _chunk_reference(n, window, stride)
    }
    assert got == want


def _apply_changes_reference(
    snap: dict[int, str], changes: list[tuple[int, str, str, int]]
) -> dict[int, str]:
    """Reference: last-writer-wins per id (delete beats upsert on seq ties)."""
    out = dict(snap)
    best: dict[int, tuple[int, int, str, str]] = {}
    for doc_id, text, op, seq in changes:
        rank = (seq, 0 if op == "delete" else -1)
        cur = best.get(doc_id)
        if cur is None or rank > (cur[0], 0 if cur[2] == "delete" else -1):
            best[doc_id] = (seq, doc_id, op, text)
    for doc_id, (_, _, op, text) in best.items():
        if op == "delete":
            out.pop(doc_id, None)
        else:
            out[doc_id] = text
    return out


@given(
    snap_ids=st.lists(st.integers(0, 12), min_size=0, max_size=8, unique=True),
    changes=st.lists(
        st.tuples(
            st.integers(0, 12),
            st.sampled_from(["upsert", "delete"]),
            st.integers(1, 3),
        ),
        min_size=0,
        max_size=12,
    ),
)
@settings(**SETTINGS)
def test_apply_changes_matches_reference(spark, snap_ids, changes):
    from dataframeutils_spark.operators import pipeline

    snap_rows = [(i, f"orig{i}") for i in snap_ids]
    change_rows = [
        (i, f"chg{i}s{seq}", op, seq) for (i, op, seq) in changes
    ]
    snap = spark.createDataFrame(
        snap_rows, "doc_id long, text string"
    ) if snap_rows else spark.createDataFrame([], "doc_id long, text string")
    chg = spark.createDataFrame(
        change_rows, "doc_id long, text string, op string, seq int"
    ) if change_rows else spark.createDataFrame([], "doc_id long, text string, op string, seq int")
    got = {
        r["doc_id"]: r["text"]
        for r in pipeline.apply_changes(snap, chg).collect()
    }
    want = _apply_changes_reference(
        dict(snap_rows),
        [(i, f"chg{i}s{seq}", op, seq) for (i, op, seq) in changes],
    )
    assert got == want


@given(
    corpus=st.lists(st.integers(0, 60), min_size=0, max_size=40),
    probes=st.lists(st.integers(0, 80), min_size=1, max_size=20),
    m_bits=st.sampled_from([64, 256, 1024]),
)
@settings(**SETTINGS)
def test_bloom_membership_no_false_negatives(spark, corpus, probes, m_bits):
    """The Bloom invariant under arbitrary key sets and saturation:
    every true member claims membership; false_positive is exactly
    claimed ∧ ¬actual."""
    from dataframeutils_spark.operators import sketches

    c = spark.createDataFrame([(f"k{i}",) for i in corpus] or [("__none__",)], "key string")
    p = spark.createDataFrame([(f"k{i}",) for i in set(probes)], "key string")
    out = sketches.bloom_membership(c, p, m_bits=m_bits, k_hashes=3).collect()
    members = {f"k{i}" for i in corpus} or {"__none__"}
    for r in out:
        if r["key"] in members:
            assert r["actual_member"] and r["claimed_member"], r
        else:
            assert not r["actual_member"]
        assert r["false_positive"] == (r["claimed_member"] and not r["actual_member"])


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 5),        # user
            st.integers(0, 1000),     # seconds offset
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=0,
        max_size=60,
    ),
)
@settings(**SETTINGS)
def test_funnel_matches_reference(spark, events):
    """Funnel vs a straightforward per-user reference: same reach
    counts at every step, monotone non-increasing."""
    import datetime as dt

    from dataframeutils_spark.operators import events as ev

    rows = [
        (u, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), t)
        for (u, s, t) in events
    ]
    df = (
        spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        if rows
        else spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    )
    steps = ["a", "b", "c"]
    got = {r["step"]: r["n_users"] for r in ev.funnel(df, steps).collect()}
    # reference
    per_user: dict[int, list] = {}
    for u, s, t in events:
        per_user.setdefault(u, []).append((s, t))
    want = {1: 0, 2: 0, 3: 0}
    for u, evs in per_user.items():
        evs.sort()
        t_prev = None
        for k, step in enumerate(steps, 1):
            cands = [s for s, t in evs if t == step and (t_prev is None or s > t_prev)]
            if not cands:
                break
            t_prev = min(cands)
            want[k] += 1
    want = {k: v for k, v in want.items() if v > 0}
    assert got == want
    reach = [want.get(k, 0) for k in (1, 2, 3)]
    assert reach[0] >= reach[1] >= reach[2]


@given(
    changes=st.lists(
        st.tuples(
            st.integers(1, 4),               # key
            st.integers(1, 9),               # seq
            st.sampled_from(["upsert", "delete"]),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda c: (c[0], c[1]),    # unique (key, seq)
    ),
)
@settings(**SETTINGS)
def test_scd2_interval_invariants(spark, changes):
    """SCD2 structural invariants under arbitrary change logs with
    unique (key, seq): per key, validity intervals chain exactly
    through the change sequence, and at most one version is current
    (current ⟺ the key's LAST change is that upsert)."""
    from dataframeutils_spark.operators import pipeline

    rows = [(k, f"v{k}s{s}", op, s) for (k, s, op) in changes]
    df = spark.createDataFrame(rows, "doc_id long, text string, op string, seq int")
    out = pipeline.scd2_history(df).collect()
    by_key: dict[int, list] = {}
    for r in out:
        by_key.setdefault(r["doc_id"], []).append(r)
    log: dict[int, list] = {}
    for k, s, op in changes:
        log.setdefault(k, []).append((s, op))
    for k, seqs in log.items():
        seqs.sort()
        upserts = [s for s, op in seqs if op == "upsert"]
        vers = sorted(by_key.get(k, []), key=lambda r: r["valid_from_seq"])
        assert [r["valid_from_seq"] for r in vers] == upserts
        currents = [r for r in vers if r["is_current"]]
        # current iff the key's last change is an upsert
        if upserts and seqs[-1][1] == "upsert":
            assert len(currents) == 1
            assert currents[0]["valid_from_seq"] == seqs[-1][0]
        else:
            assert currents == []
        # every non-final version's valid_to is the NEXT change's seq
        all_seqs = [s for s, _ in seqs]
        for r in vers:
            later = [s for s in all_seqs if s > r["valid_from_seq"]]
            assert r["valid_to_seq"] == (min(later) if later else None)


@given(
    vocab=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=5),
        min_size=1,
        max_size=15,
        unique=True,
    ),
    probes=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
        unique=True,
    ),
)
@settings(**SETTINGS)
def test_fuzzy_lookup_matches_bruteforce(spark, vocab, probes):
    """SymSpell-blocked lookup ≡ brute-force Levenshtein ≤ 1 — the
    perfect-recall-at-d1 claim, adversarially (repeats, subsets,
    1-char strings)."""

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    v = spark.createDataFrame([(t,) for t in vocab], "term string")
    p = spark.createDataFrame([(t,) for t in probes], "probe string")
    got = {
        (r["probe"], r["term"])
        for r in dedup.fuzzy_term_lookup(p, v).collect()
    }
    want = {(pr, t) for pr in probes for t in vocab if lev(pr, t) <= 1}
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),      # user
            st.integers(0, 120),    # minutes offset
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=0,
        max_size=30,
        unique_by=lambda e: (e[0], e[1]),  # unique (user, minute): total order
    ),
)
@settings(**SETTINGS)
def test_event_paths_matches_reference(spark, events):
    """Sessionized n-gram paths vs a per-user reference (30-minute gap,
    strictly-greater break rule)."""
    import datetime as dt
    from collections import Counter

    from dataframeutils_spark.operators import events as ev

    rows = [
        (u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), t)
        for (u, m, t) in events
    ]
    df = (
        spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        if rows
        else spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    )
    got = {r["path"]: r["n"] for r in ev.event_paths(df, depth=2, k=100).collect()}
    per_user: dict[int, list] = {}
    for u, m, t in events:
        per_user.setdefault(u, []).append((m, t))
    want: Counter = Counter()
    for evs in per_user.values():
        evs.sort()
        sessions: list[list[str]] = []
        for i, (m, t) in enumerate(evs):
            if i == 0 or (m - evs[i - 1][0]) * 60 > 1800:
                sessions.append([])
            sessions[-1].append(t)
        for sess in sessions:
            for a, b in zip(sess, sess[1:]):
                want[f"{a}>{b}"] += 1
    assert got == dict(want)


# ---------------------------------------------------------------------------
# HyperLogLog registers (operators/sketches.py)
# ---------------------------------------------------------------------------


def _hll_registers_py(vals: list[str], p: int) -> dict[int, int]:
    """Pure-Python reference: portable 60-bit md5 hash → (bucket, rho)."""
    import hashlib

    regs: dict[int, int] = {}
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        b = h % (1 << p)
        w = h >> p
        rho = (60 - p) + 1 if w == 0 else (60 - p) - w.bit_length() + 1
        regs[b] = max(regs.get(b, 0), rho)
    return regs


@given(
    chunks=st.lists(
        st.lists(st.text(min_size=1, max_size=8), min_size=0, max_size=40),
        min_size=1,
        max_size=4,
    ),
    p=st.sampled_from([6, 8, 10]),
)
@settings(**SETTINGS)
def test_hll_registers_merge_invariant(spark, chunks, p):
    """For ANY split of a stream into chunks: bucketwise max of per-chunk
    registers == registers of the union == the pure-Python reference —
    the property that makes per-shard/day sketches safely mergeable."""
    from dataframeutils_spark.operators import sketches

    all_vals = [v for c in chunks for v in c]
    want = _hll_registers_py(all_vals, p)
    dfs = [
        sketches.hll_registers(
            spark.createDataFrame([(v,) for v in c], "item string"), "item", (), p
        )
        for c in chunks
        if c
    ]
    if not dfs:
        assert want == {}
        return
    merged = dfs[0]
    for d in dfs[1:]:
        merged = merged.union(d)
    got = {
        r["bucket"]: r["rho"]
        for r in merged.groupBy("bucket").agg(F.max("rho").alias("rho")).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    pct=st.sampled_from([0, 1, 20, 37, 50, 99, 100]),
)
@settings(**SETTINGS)
def test_quota_sample_matches_reference(spark, rows, pct):
    """Exact-quota sampling == the naive per-stratum hash rank, on
    adversarial shapes (singleton strata, pct 0/100, tiny buckets so
    nearly everything straddles)."""
    import hashlib

    from dataframeutils_spark.operators import sampling

    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        r["doc_id"]
        for r in sampling.quota_sample(df, pct=pct, bucket_bits=2).collect()
    }

    def h60(v):
        return int(hashlib.md5(f"quota:{v}".encode()).hexdigest()[:15], 16)

    want = set()
    by_lang: dict[str, list[int]] = {}
    for i, lang in rows:
        by_lang.setdefault(lang, []).append(i)
    for ids in by_lang.values():
        quota = len(ids) * pct // 100
        ranked = sorted(ids, key=lambda i: (h60(i), i))
        want.update(ranked[:quota])
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 9)),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_stages=st.sampled_from([2, 4]),
)
@settings(**SETTINGS)
def test_curriculum_matches_reference(spark, rows, n_stages):
    """Curriculum staging + per-stage positions == the naive reference
    (exact type-7 percentile boundaries, per-stage global hash rank) —
    including heavy score ties, which must land in one stage."""
    import hashlib

    import numpy as np

    from dataframeutils_spark.operators import sampling
    from dataframeutils_spark.schema import SIG_DIGITS

    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {
        r["doc_id"]: (r["stage"], r["pos_in_stage"])
        for r in sampling.curriculum_manifest(
            df, score_col="n_chars", n_stages=n_stages, bucket_bits=2
        ).collect()
    }

    def sig(x):
        if x == 0:
            return 0.0
        from math import floor, log10

        return round(x, -int(floor(log10(abs(x)))) + (SIG_DIGITS - 1))

    scores = np.array([c for _, c in rows], dtype=float)
    bnds = [sig(b) for b in np.quantile(scores, [i / n_stages for i in range(1, n_stages)])]

    def h60(v):
        return int(hashlib.md5(f"curriculum:{v}".encode()).hexdigest()[:15], 16)

    by_stage: dict[int, list[int]] = {}
    want_stage = {}
    for i, c in rows:
        stage = sum(c > b for b in bnds)
        want_stage[i] = stage
        by_stage.setdefault(stage, []).append(i)
    want = {}
    for stage, ids in by_stage.items():
        for pos, i in enumerate(sorted(ids, key=lambda i: (h60(i), i)), start=1):
            want[i] = (stage, pos)
    assert got == want


# ---------------------------------------------------------------------------
# r10 session-2 invariance properties
# ---------------------------------------------------------------------------


def _series_df(spark, vals):
    import datetime as dt

    rows = [
        ("g", "f", dt.date(1995, 1, 1) + dt.timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "grp string, feature string, date date, value double"
    )


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=35, max_size=60
    ),
    scale=st.floats(min_value=0.1, max_value=50, allow_nan=False),
    shift=st.floats(min_value=-500, max_value=500, allow_nan=False),
)
@settings(**SETTINGS)
def test_cusum_stat_is_affine_invariant(spark, vals, scale, shift):
    """max|S_t|/(s·√n) is invariant under x -> a·x + b (a > 0): the
    statistic is scale-free by construction, so any affine data
    re-expression must keep the SAME change point and statistic."""
    from dataframeutils_spark.operators import trend

    base = trend.changepoint_cusum(_series_df(spark, vals)).collect()
    if not base:  # constant series gated out
        return
    aff = trend.changepoint_cusum(
        _series_df(spark, [scale * v + shift for v in vals])
    ).collect()
    assert len(aff) == 1
    # rounded statistic may differ in the last decimal place; cp_date
    # may only differ if two near-equal maxima swap under rounding
    assert abs(base[0]["cusum_stat"] - aff[0]["cusum_stat"]) < 1e-4
    assert base[0]["n"] == aff[0]["n"]


@given(
    amounts=st.lists(
        st.tuples(st.integers(0, 15), st.floats(min_value=0.01, max_value=1000)),
        min_size=10,
        max_size=60,
    ),
    scale=st.floats(min_value=0.5, max_value=20),
)
@settings(**SETTINGS)
def test_gini_scale_invariant_and_bounded(spark, amounts, scale):
    """Gini is invariant under amount scaling and lives in [0, 1);
    the top-share is likewise scale-invariant."""
    from dataframeutils_spark.operators import skew

    rows = [("g", e, a) for e, a in amounts]
    df = spark.createDataFrame(rows, "grp string, ent int, amt double")
    base = skew.concentration_report(df, "grp", "ent", "amt").collect()[0]
    df2 = spark.createDataFrame(
        [("g", e, a * scale) for e, a in amounts], "grp string, ent int, amt double"
    )
    scaled = skew.concentration_report(df2, "grp", "ent", "amt").collect()[0]
    assert 0.0 <= base["gini"] < 1.0
    assert abs(base["gini"] - scaled["gini"]) < 1e-4
    assert abs(base["top_share"] - scaled["top_share"]) < 1e-4


@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False), min_size=60, max_size=120
    ),
    shift=st.floats(min_value=-100, max_value=100, allow_nan=False),
)
@settings(**SETTINGS)
def test_jackknife_mean_shift_equivariant(spark, vals, shift):
    """Shifting every value by b shifts mean/ci_lo/ci_hi by exactly b
    and leaves the jackknife SE unchanged (same hash blocks, same
    deviations)."""
    from dataframeutils_spark.operators import features

    mk = lambda vs: spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(vs)],
        "event_id long, grp string, value double",
    )
    a = features.jackknife_ci(mk(vals), "grp", "value", "event_id").collect()[0]
    b = features.jackknife_ci(
        mk([v + shift for v in vals]), "grp", "value", "event_id"
    ).collect()[0]
    assert abs((b["mean"] - a["mean"]) - shift) < 1e-3
    assert abs(a["se_jack"] - b["se_jack"]) < 1e-4
    assert abs((b["ci_lo"] - a["ci_lo"]) - shift) < 1e-3


@given(
    vals=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False), min_size=45, max_size=90
    ),
)
@settings(**SETTINGS)
def test_ks_bounds_and_self_consistency(spark, vals):
    """0 <= D <= 1 always; p in [0, 1]; and a series concatenated with
    an exact copy of its own first half (so both halves share the
    distribution) never reports drift at p < 0.001."""
    from dataframeutils_spark.operators import trend

    out = trend.ks_two_sample(_series_df(spark, vals)).collect()
    if out:
        r = out[0]
        assert 0.0 <= r["ks_stat"] <= 1.0
        assert 0.0 <= r["p_value"] <= 1.0
    # identical halves -> D == 0 exactly
    half = vals[: len(vals) // 2]
    dup = trend.ks_two_sample(
        _series_df(spark, half + half), min_len=len(half) * 2
    ).collect()
    if dup:
        assert dup[0]["ks_stat"] == 0.0
        assert dup[0]["drift_detected"] is False
