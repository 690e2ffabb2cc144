"""Sequence packing — the last step of every LLM pretraining data
pipeline: concatenate the tokenized corpus in deterministic document
order and chunk it into fixed-length training sequences (GPT-style
concat-and-chunk packing).

:func:`pack_sequences` emits the pack MANIFEST: one row per
(sequence, document) overlap describing exactly which token span of
which document lands where in which training sequence. A downstream
writer materializes the actual token tensors from it; the manifest is
the part that needs a distributed engine.

Scale notes — the whole operator is one global prefix-sum, and the
naive formulation (``Window.orderBy(doc_id)`` with no partition key)
funnels ALL rows through a single task. Instead the cumsum is
two-phase on ``doc_id DIV BLOCK`` blocks: an exclusive prefix sum
within each block (hash-partitioned window) plus the block's offset
from :func:`~dataframeutils_spark.operators.local_solve.block_prefix`
(see there for the rationale). With BLOCK = 2¹⁶ a 10¹⁰-document corpus
leaves only ~150k ledger rows. The bin fan-out (`sequence`) adds
≤ 1 + n/seq_len rows per doc, proportional to output size.

Deterministic by construction (doc order = doc_id order, integer
arithmetic only), so the manifest carries a full exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.local_solve import block_prefix
from dataframeutils_spark.operators.text import _terms, _tokens_sql

# 2^16 docs per cumsum block: the block ledger has N/65536 rows
BLOCK = 1 << 16


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack manifest: (seq_id, doc_id, doc_offset, seq_offset, n_tokens).

    Documents are concatenated in ``doc_id`` order (whitespace token
    counts) and cut every ``seq_len`` tokens; a document spanning a cut
    appears once per sequence it touches. ``doc_offset``/``seq_offset``
    locate the copied span in the source document / target sequence;
    empty documents are dropped (they occupy no tokens).
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_terms(text_col)).alias("n"),
    )
    return pack_from_counts(d, seq_len=seq_len)


def pack_from_counts(counts: DataFrame, seq_len: int = 256) -> DataFrame:
    """Pack manifest from a precomputed (doc_id, n) token-count frame —
    the shared kernel behind :func:`pack_sequences` (whitespace counts)
    and :func:`pack_sequences_bpe` (real subword counts). Same two-
    phase prefix sum and bin fan-out; see pack_sequences for the
    manifest column contract."""
    d = counts.select("doc_id", "n").filter(F.col("n") > 0)
    d = d.withColumn("blk", F.expr(f"doc_id DIV {BLOCK}"))
    # phase 1: prefix sum WITHIN each block (hash-partitioned window)
    w_intra = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("intra", F.coalesce(F.sum("n").over(w_intra), F.lit(0)))
    # phase 2: the block ledger's exclusive cumsum of block totals
    blocks = block_prefix(d, [], "blk", F.col("n")).select(
        "blk", F.coalesce("_pre", F.lit(0)).alias("bpre")
    )
    d = d.join(F.broadcast(blocks), "blk").withColumn(
        "ofs", F.col("bpre") + F.col("intra")
    )
    # bin fan-out: doc spans sequences ofs DIV L .. (ofs+n-1) DIV L
    L = seq_len
    d = d.select(
        "doc_id",
        "n",
        "ofs",
        F.explode(
            F.sequence(
                F.expr(f"ofs DIV {L}"), F.expr(f"(ofs + n - 1) DIV {L}")
            )
        ).alias("seq_id"),
    )
    start = F.greatest(F.col("seq_id") * L, F.col("ofs"))
    end = F.least((F.col("seq_id") + 1) * L, F.col("ofs") + F.col("n"))
    return d.select(
        "seq_id",
        "doc_id",
        (start - F.col("ofs")).alias("doc_offset"),
        (start - F.col("seq_id") * L).alias("seq_offset"),
        (end - start).alias("n_tokens"),
    )


def pack_sequences_bpe(
    docs: DataFrame,
    rules: list[tuple[str, str, int]],
    seq_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style packing with REAL subword counts: per-doc token counts
    come from replaying learned BPE rules (operators.bpe) as scan-side
    chained string replaces, then the manifest is the same two-phase
    prefix-sum plan as :func:`pack_sequences`. Exact-hash gated end to
    end via :func:`pack_sequences_bpe_sql` (the oracle re-trains in
    SQL); the manifest invariants (every non-final sequence exactly
    full) are additionally pytest-pinned."""
    from dataframeutils_spark.operators import bpe as bpe_ops

    counts = bpe_ops.bpe_encode_stats(
        docs, rules, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("doc_id"), F.col("n_tokens").alias("n"))
    # The encode projection chains 30 HOF folds per word — by far the
    # dominant cost — and pack_from_counts reads its output THREE ways
    # (intra-block window, block totals, bin fan-out). Materialize the
    # bounded (doc_id, n) table once (16 bytes/row) so the fold
    # pipeline runs exactly once and the manifest branches read the
    # block cache with truncated lineage (measured at sf0.1: 92 s →
    # one encode pass).
    return pack_from_counts(counts.localCheckpoint(), seq_len=seq_len)


def _pack_manifest_sql(seq_len: int) -> str:
    """Manifest chain (prefix sum → bin fan-out → span arithmetic) over
    an in-scope CTE ``d(doc_id, n)`` — shared by the whitespace and BPE
    pack oracles so both check the identical packing semantics."""
    L = seq_len
    return f"""o AS (
  SELECT doc_id, n,
         CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS ofs
  FROM d
), bins AS (
  SELECT doc_id, n, ofs,
         unnest(range(CAST(ofs // {L} AS BIGINT),
                      CAST((ofs + n - 1) // {L} + 1 AS BIGINT))) AS seq_id
  FROM o
)
SELECT seq_id, doc_id,
       GREATEST(seq_id * {L}, ofs) - ofs AS doc_offset,
       GREATEST(seq_id * {L}, ofs) - seq_id * {L} AS seq_offset,
       LEAST((seq_id + 1) * {L}, ofs + n) - GREATEST(seq_id * {L}, ofs)
         AS n_tokens
FROM bins
"""


def pack_sequences_sql(
    table: str = "documents", seq_len: int = 256
) -> str:
    toks = _tokens_sql("lower(text)")
    return f"""
WITH d AS (
  SELECT doc_id, len({toks}) AS n FROM {table} WHERE len({toks}) > 0
), {_pack_manifest_sql(seq_len)}"""


def pack_sequences_bpe_sql(
    n_merges: int = 30,
    vocab_top: int = 2000,
    seq_len: int = 256,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`pack_sequences_bpe`: the in-SQL BPE
    trainer/encoder (operators.bpe) supplies per-doc REAL subword
    counts, then the same manifest chain as :func:`pack_sequences_sql`
    checks the packing arithmetic — so the tokenizer-fed pack manifest
    is exact-hash-gated end to end."""
    from dataframeutils_spark.operators.bpe import _bpe_wordtok_ctes

    return f"""
WITH {_bpe_wordtok_ctes(n_merges, vocab_top, table)},
docw AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS word FROM {table}
),
d AS (
  SELECT doc_id, CAST(sum(wtok.t) AS BIGINT) AS n
  FROM docw JOIN wtok USING (word)
  GROUP BY doc_id
  HAVING sum(wtok.t) > 0
), {_pack_manifest_sql(seq_len)}"""


def length_buckets(
    docs: DataFrame,
    min_len: int = 16,
    max_len: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Padded-batch shape planner: assign every document to the
    smallest power-of-two sequence length >= its token count (floored
    at ``min_len``, capped at ``max_len``) and report, per bucket, the
    padding waste that bucketing config would cost a padded-batch
    trainer — the standard length-bucketing efficiency audit run
    before choosing batch shapes (the alternative to concat-and-chunk
    packing when document boundaries must survive).

    Columns: bucket_len, n_docs, total_tokens (raw), padded_tokens
    (n_docs x bucket_len), pad_waste_pct (1 - kept/padded), and
    truncated_tokens (tokens beyond max_len that the cap would drop).

    Scale shape: one scan computing a per-doc token count, a chained
    constant CASE for the bucket (exact integer compares in both
    engines — no float log2 at power boundaries), ONE map-side
    combinable groupBy over <= log2(max/min)+1 buckets. The exchange is
    bounded by the bucket count, never the corpus.
    """
    from dataframeutils_spark.schema import decround

    pows = []
    p = min_len
    while p < max_len:
        pows.append(p)
        p *= 2
    pows.append(max_len)
    c = F.size(_terms(text_col))
    d = docs.select(c.alias("c")).filter(F.col("c") > 0)
    bucket = F.when(F.col("c") <= pows[0], F.lit(pows[0]))
    for pw in pows[1:]:
        bucket = bucket.when(F.col("c") <= pw, F.lit(pw))
    bucket = bucket.otherwise(F.lit(max_len))
    return (
        d.select(bucket.cast("long").alias("bucket_len"), "c")
        .groupBy("bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.sum(F.least(F.col("c"), F.col("bucket_len"))).cast("long").alias("_kept"),
            F.sum(F.greatest(F.col("c") - F.col("bucket_len"), F.lit(0)))
            .cast("long")
            .alias("truncated_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") * F.col("bucket_len")).cast("long").alias("padded_tokens"),
            decround(
                F.lit(1.0)
                - F.col("_kept") / (F.col("n_docs") * F.col("bucket_len"))
            ).alias("pad_waste_pct"),
            "truncated_tokens",
        )
    )


def length_buckets_sql(
    table: str = "documents", min_len: int = 16, max_len: int = 4096
) -> str:
    from dataframeutils_spark.schema import decround_sql

    pows = []
    p = min_len
    while p < max_len:
        pows.append(p)
        p *= 2
    pows.append(max_len)
    case = " ".join(f"WHEN c <= {pw} THEN {pw}" for pw in pows)
    waste = decround_sql("1.0 - kept * 1.0 / pad")
    return f"""
WITH counts AS (
  SELECT len({_tokens_sql("lower(text)")}) AS c
  FROM {table}
), bucketed AS (
  SELECT CAST(CASE {case} ELSE {max_len} END AS BIGINT) AS bucket_len, c
  FROM counts WHERE c > 0
), agg AS (
  SELECT bucket_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(c) AS BIGINT) AS total_tokens,
         CAST(count(*) * bucket_len AS BIGINT) AS pad,
         CAST(sum(least(c, bucket_len)) AS BIGINT) AS kept,
         CAST(sum(greatest(c - bucket_len, 0)) AS BIGINT) AS truncated_tokens
  FROM bucketed GROUP BY bucket_len
)
SELECT bucket_len, n_docs, total_tokens, pad AS padded_tokens,
       {waste} AS pad_waste_pct, truncated_tokens
FROM agg
"""
