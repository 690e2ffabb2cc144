"""Sequence packing: manifest semantics + two-phase cumsum parity."""
from __future__ import annotations

from pyspark.sql import functions as F

from dataframeutils_spark.operators import packing


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_spans_and_offsets(spark):
    # doc 1: 3 toks, doc 2: 4 toks, doc 3: 2 toks; L=4
    docs = _docs(spark, [(1, "a b c"), (2, "d e f g"), (3, "h i")])
    rows = sorted(
        (
            (r["seq_id"], r["doc_id"], r["doc_offset"], r["seq_offset"], r["n_tokens"])
            for r in packing.pack_sequences(docs, seq_len=4).collect()
        )
    )
    assert rows == [
        (0, 1, 0, 0, 3),  # doc 1 fills seq0[0:3]
        (0, 2, 0, 3, 1),  # doc 2 first token closes seq0
        (1, 2, 1, 0, 3),  # doc 2 tokens 1..3 open seq1
        (1, 3, 0, 3, 1),  # doc 3 (offset 7) closes seq1...
        (2, 3, 1, 0, 1),  # ...and its second token opens seq2
    ]


def test_pack_drops_empty_docs_and_fills_sequences(spark):
    docs = _docs(
        spark,
        [(i, "t " * (i % 5 + 1)) for i in range(100)] + [(1000, "")],
    )
    m = packing.pack_sequences(docs, seq_len=16)
    assert m.filter(F.col("doc_id") == 1000).count() == 0
    summary = (
        m.groupBy("seq_id").agg(F.sum("n_tokens").alias("n_tokens")).orderBy("seq_id").collect()
    )
    # every sequence but the last is exactly full
    assert all(r["n_tokens"] == 16 for r in summary[:-1])
    total = sum(r["n_tokens"] for r in summary)
    assert total == sum(i % 5 + 1 for i in range(100))


def test_pack_crosses_cumsum_blocks(spark):
    # doc_ids straddling a BLOCK boundary must still get a contiguous
    # global offset (phase-2 block prefix correctness)
    B = packing.BLOCK
    docs = _docs(
        spark, [(B - 2, "a b"), (B - 1, "c d"), (B, "e f"), (B + 1, "g h")]
    )
    m = {
        r["doc_id"]: r
        for r in packing.pack_sequences(docs, seq_len=3).collect()
        if r["doc_offset"] == 0
    }
    # offsets: 0, 2, 4, 6 → seq ids 0, 0, 1, 2
    assert m[B - 2]["seq_id"] == 0 and m[B - 2]["seq_offset"] == 0
    assert m[B - 1]["seq_id"] == 0 and m[B - 1]["seq_offset"] == 2
    assert m[B]["seq_id"] == 1 and m[B]["seq_offset"] == 1
    assert m[B + 1]["seq_id"] == 2 and m[B + 1]["seq_offset"] == 0


def test_pack_matches_duckdb_oracle(spark, ddb):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        tuple(r) for r in packing.pack_sequences(docs, seq_len=64).collect()
    )
    want = sorted(
        tuple(t)
        for t in ddb.execute(packing.pack_sequences_sql(seq_len=64)).fetchall()
    )
    assert got == want and len(got) > 0


def test_pack_plan_has_no_global_single_partition_window(spark):
    """The cumsum must be two-phase: the only unpartitioned window may
    run over BLOCK-aggregated rows, after a partial aggregation — a
    plain global orderBy window over the doc table would show a
    SinglePartition exchange feeding a Window directly over the scan."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = packing.pack_sequences(docs, seq_len=64)._jdf.queryExecution().executedPlan().toString()
    # the doc-level window is hash-partitioned on blk
    assert "hashpartitioning(blk" in plan
    # and an aggregate (block totals) sits in the plan before the
    # single-partition block window
    assert "HashAggregate" in plan


def test_length_buckets_waste_accounting(spark):
    """Hand-built corpus: counts 1, 16, 17, 100, 5000 (cap 4096) —
    bucket assignment, padding and truncation all verifiable by hand."""
    from dataframeutils_spark.operators import packing

    rows = [
        (0, "a"),                       # 1 token  -> bucket 16
        (1, " ".join(["t"] * 16)),      # 16       -> bucket 16
        (2, " ".join(["t"] * 17)),      # 17       -> bucket 32
        (3, " ".join(["t"] * 100)),     # 100      -> bucket 128
        (4, " ".join(["t"] * 5000)),    # 5000     -> capped at 4096
        (5, ""),                        # empty    -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["bucket_len"]: r
        for r in packing.length_buckets(
            docs, min_len=16, max_len=4096
        ).collect()
    }
    assert set(out) == {16, 32, 128, 4096}
    b16 = out[16]
    assert b16["n_docs"] == 2 and b16["total_tokens"] == 17
    assert b16["padded_tokens"] == 32
    assert abs(b16["pad_waste_pct"] - (1 - 17 / 32)) < 1e-9
    assert b16["truncated_tokens"] == 0
    cap = out[4096]
    assert cap["n_docs"] == 1 and cap["total_tokens"] == 5000
    assert cap["padded_tokens"] == 4096
    assert cap["truncated_tokens"] == 5000 - 4096
    # over-long docs report NEGATIVE waste via kept=bucket: kept==pad
    assert abs(cap["pad_waste_pct"] - 0.0) < 1e-9
