"""Physical data-layout planning: Z-order clustering + zone-map
pruning audit.

No counterpart in the reference (SURVEY §2.3 — it has no storage
layer at all); north-star scale surface: at 100 TB the dominant cost
of most queries is the SCAN, and the scan cost is set by the data
layout chosen at write time. A multi-dimensional probe (``user ∈ [a,b]
AND ts ∈ [t0,t1]``) against a corpus laid out by a single sort key
reads almost every file; the standard answer (Z-ordering, as shipped
by Delta Lake ``OPTIMIZE ZORDER BY`` and Iceberg's sort-order rewrite)
interleaves the bits of the clustering keys so every file's zone map
(per-file min/max, which parquet row groups already carry) is tight in
EVERY dimension, and the reader skips files whose zone misses the
probe box.

:func:`zorder_layout_audit` plans both layouts over the same rows and
measures them against the same probe: for ``layout ∈ {zorder,
linear}`` it assigns every row a file under that layout's sort order,
builds the per-file zone maps, and reports how many files (and rows) a
zone-map reader would skip. Integer arithmetic end to end — the audit
is exactly oracle-checkable.

Scale notes:
- The file assignment is a GLOBAL sort position, taken with
  :func:`~dataframeutils_spark.operators.local_solve.block_positions`
  (the two-phase rank that keeps it off one task) on blocks = the TOP
  BITS of the leading sort key, so the block order is a prefix of the
  key order. A real writer would ``repartitionByRange(zkey)`` +
  ``sortWithinPartitions`` and let each task write its files; the
  audit's math is the same.
- Bit-bucketing needs only ONE global min/max row (broadcast), not a
  rank pass. ``bits=16`` per dimension keeps the interleave in a
  single 32-bit key. The bucket expression is overflow-aware: the
  exact scale-up form ``(t - tmin) * m DIV span`` overflows int64 once
  ``span * m`` exceeds 2⁶³ — for microsecond timestamps that is a span
  of only ~4.5 years (2⁶³/65535 ≈ 1.4·10¹⁴ µs), and Spark's non-ANSI
  mode would silently wrap to negative buckets, corrupting Morton
  keys, while DuckDB errors. So the expression branches on the span:
  the multiply form when ``span <= (2⁶³-1) DIV m`` (exact, and the
  scale-up is what gives a narrow dimension its full ``bits`` of
  Z-resolution), else the pre-divided step form ``(t - tmin) DIV
  (span DIV m)`` capped at ``m`` (error ≤ 1 bucket, irrelevant at a
  >4-year span). Both branches are exact integer arithmetic, mirrored
  verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.local_solve import block_positions

# top bits of the sort key that define a ledger block: 2^6 = 64 blocks
_BLK_BITS = 6


def _bucket_expr(v: str, vmin: str, vmax: str, m: int, div: str) -> str:
    """Overflow-aware ``m+1``-way bucketization of ``v`` over
    [vmin, vmax], identical in Spark (``div='DIV'``) and DuckDB
    (``div='//'``). See the module docstring for the branch rationale.
    """
    safe = (1 << 63) - 1
    span = f"({vmax} - {vmin})"
    return (
        f"CASE WHEN {span} <= {safe} {div} {m} "
        f"THEN ({v} - {vmin}) * {m} {div} greatest({span}, 1) "
        f"ELSE least(({v} - {vmin}) {div} greatest({span} {div} {m}, 1), {m}) END"
    )


def _morton_expr(bx: str, bt: str, bits: int) -> Column:
    """Morton (Z-order) interleave of two ``bits``-bit bucket columns:
    bit i of ``bx`` lands at position 2i, bit i of ``bt`` at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({bx}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({bt}, {i}) & 1, {2 * i + 1})")
    return F.expr(" + ".join(terms))


def _morton_sql(bx: str, bt: str, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({bt} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout_audit(
    events: DataFrame,
    x_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    rows_per_file: int = 256,
    bits: int = 16,
) -> DataFrame:
    """Per-layout zone-map pruning audit: (layout, n_files,
    n_files_pruned, rows_scanned, rows_matched).

    Probe box = the middle quarter of both dimensions (``[min + span/4,
    min + span/2]`` on ``x_col`` and on ``ts_col``, integer division) —
    derived from the data so the audit is self-contained and exact. A
    file is pruned iff its (min, max) zone on EITHER dimension misses
    the probe box — precisely the parquet row-group skipping rule.
    ``rows_scanned`` sums the rows of surviving files; ``rows_matched``
    counts true probe hits (identical across layouts — the layout
    changes what is READ, never what MATCHES; the audit proves both).
    """
    e = events.select(
        F.col(x_col).cast("long").alias("x"),
        F.unix_micros(F.col(ts_col)).alias("t"),
        F.col(id_col).alias("rid"),
    )
    b = e.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("t").alias("tmin"),
        F.max("t").alias("tmax"),
    )
    m = (1 << bits) - 1
    e = (
        e.crossJoin(F.broadcast(b))
        # overflow-aware bucketing (see module docstring / _bucket_expr)
        .withColumn("bx", F.expr(_bucket_expr("x", "xmin", "xmax", m, "DIV")))
        .withColumn("bt", F.expr(_bucket_expr("t", "tmin", "tmax", m, "DIV")))
        .withColumn("x_lo", F.expr("xmin + (xmax - xmin) DIV 4"))
        .withColumn("x_hi", F.expr("xmin + (xmax - xmin) DIV 2"))
        .withColumn("t_lo", F.expr("tmin + (tmax - tmin) DIV 4"))
        .withColumn("t_hi", F.expr("tmin + (tmax - tmin) DIV 2"))
        .drop("xmin", "xmax", "tmin", "tmax")
    )
    e = e.withColumn("zkey", _morton_expr("bx", "bt", bits))
    hit = (
        F.col("x").between(F.col("x_lo"), F.col("x_hi"))
        & F.col("t").between(F.col("t_lo"), F.col("t_hi"))
    )
    e = e.withColumn("hit", hit.cast("long"))

    layouts = {
        # Z-order: sort by the interleaved key; blocks = its top bits
        "zorder": (["zkey", "rid"], f"shiftright(zkey, {2 * bits - _BLK_BITS})"),
        # linear: the single-key baseline (time-sorted ingest order)
        "linear": (["t", "rid"], f"shiftright(bt, {bits - _BLK_BITS})"),
    }
    outs = []
    for name, (order, blk) in layouts.items():
        d = block_positions(e.withColumn("_blk", F.expr(blk)), [], "_blk", order)
        files = (
            d.withColumn("file_id", F.expr(f"(_pos - 1) DIV {rows_per_file}"))
            .groupBy("file_id")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("x").alias("x_min"),
                F.max("x").alias("x_max"),
                F.min("t").alias("t_min"),
                F.max("t").alias("t_max"),
                F.sum("hit").alias("n_hits"),
                # probe bounds are global constants; min() carries them
                F.min("x_lo").alias("x_lo"),
                F.min("x_hi").alias("x_hi"),
                F.min("t_lo").alias("t_lo"),
                F.min("t_hi").alias("t_hi"),
            )
        )
        survives = (
            (F.col("x_max") >= F.col("x_lo"))
            & (F.col("x_min") <= F.col("x_hi"))
            & (F.col("t_max") >= F.col("t_lo"))
            & (F.col("t_min") <= F.col("t_hi"))
        )
        outs.append(
            files.agg(
                F.count("*").alias("n_files"),
                F.sum((~survives).cast("long")).alias("n_files_pruned"),
                F.sum(F.when(survives, F.col("n_rows")).otherwise(F.lit(0))).alias(
                    "rows_scanned"
                ),
                F.sum("n_hits").alias("rows_matched"),
            ).select(F.lit(name).alias("layout"), "*")
        )
    return outs[0].unionByName(outs[1])


def file_manifest(
    docs: DataFrame,
    part_col: str = "source",
    id_col: str = "doc_id",
    bytes_col: str = "n_chars",
    n_buckets: int = 32,
) -> DataFrame:
    """Simulated file listing: (part_key, file_id, n_bytes) — docs
    hash-bucketed into ``n_buckets`` files per partition directory,
    the shape a streaming writer leaves behind (many small files per
    partition). Stands in for a real table's listing; the planner
    below consumes any (part, file, bytes) manifest."""
    from dataframeutils_spark.operators.dedup import portable_hash60

    fid = (
        portable_hash60(F.concat(F.lit("file:"), F.col(id_col).cast("string")))
        % n_buckets
    )
    return (
        docs.groupBy(
            F.col(part_col).alias("part_key"), fid.alias("file_id")
        )
        .agg(F.sum(F.col(bytes_col)).alias("n_bytes"))
    )


def compaction_plan(
    manifest: DataFrame,
    target_bytes: int,
    part_col: str = "part_key",
    file_col: str = "file_id",
    bytes_col: str = "n_bytes",
) -> DataFrame:
    """Small-file compaction plan (the OPTIMIZE/rewrite maintenance
    pass): per partition, files are coalesced IN FILE ORDER into groups
    of ~``target_bytes`` — group = exclusive-prefix-sum(bytes) DIV
    target, the deterministic bin rule real table-maintenance engines
    use (a group may overrun by at most one file; no NP-hard bin
    packing). Output: (part_key, grp, n_files, total_bytes,
    first_file, last_file) — one row per rewrite task.

    Scale notes: the window partitions by the table partition — the
    listing for ONE partition directory fits a task by construction
    (file counts per partition are bounded by the writer, not by data
    volume); the small-file problem this fixes is the straggler-scan
    pathology the 100× stress measured (README: a one-file 100× table
    ran the flagship 3× slower off a single row-group split).
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return (
        manifest.withColumn("_pre", pre)
        .withColumn("grp", F.expr(f"_pre DIV {target_bytes}"))
        .groupBy(part_col, "grp")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(bytes_col).alias("total_bytes"),
            F.min(file_col).alias("first_file"),
            F.max(file_col).alias("last_file"),
        )
    )


def compaction_plan_sql(
    table: str = "documents",
    target_bytes: int = 4096,
    n_buckets: int = 32,
) -> str:
    from dataframeutils_spark.operators.dedup import portable_hash60_sql

    fid = portable_hash60_sql("('file:' || doc_id::VARCHAR)")
    return f"""
WITH manifest AS (
  SELECT source AS part_key, {fid} % {n_buckets} AS file_id,
         CAST(sum(n_chars) AS BIGINT) AS n_bytes
  FROM {table} GROUP BY 1, 2
), pre AS (
  SELECT part_key, file_id, n_bytes,
         CAST(COALESCE(sum(n_bytes) OVER (
             PARTITION BY part_key ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS p
  FROM manifest
)
SELECT part_key, p // {target_bytes} AS grp,
       count(*) AS n_files,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min(file_id) AS first_file, max(file_id) AS last_file
FROM pre GROUP BY 1, 2
"""


def zorder_layout_audit_sql(
    table: str = "events",
    x_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    rows_per_file: int = 256,
    bits: int = 16,
) -> str:
    m = (1 << bits) - 1
    zk = _morton_sql("bx", "bt", bits)
    summary = """
  SELECT '{name}' AS layout,
         count(*) AS n_files,
         CAST(sum(CASE WHEN x_max >= x_lo AND x_min <= x_hi
                        AND t_max >= t_lo AND t_min <= t_hi
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_files_pruned,
         CAST(sum(CASE WHEN x_max >= x_lo AND x_min <= x_hi
                        AND t_max >= t_lo AND t_min <= t_hi
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         CAST(sum(n_hits) AS BIGINT) AS rows_matched
  FROM f{name}"""
    files = """
f{name} AS (
  SELECT pos // {rpf} AS file_id, count(*) AS n_rows,
         min(x) AS x_min, max(x) AS x_max, min(t) AS t_min, max(t) AS t_max,
         CAST(sum(hit) AS BIGINT) AS n_hits,
         min(x_lo) AS x_lo, min(x_hi) AS x_hi,
         min(t_lo) AS t_lo, min(t_hi) AS t_hi
  FROM p{name} GROUP BY 1
)"""
    return f"""
WITH e0 AS (
  SELECT CAST({x_col} AS BIGINT) AS x, epoch_us(ts) AS t, {id_col} AS rid
  FROM (SELECT {x_col}, {ts_col} AS ts, {id_col} FROM {table})
), bnd AS (
  SELECT min(x) AS xmin, max(x) AS xmax, min(t) AS tmin, max(t) AS tmax FROM e0
), e AS (
  SELECT x, t, rid,
         {_bucket_expr("x", "xmin", "xmax", m, "//")} AS bx,
         {_bucket_expr("t", "tmin", "tmax", m, "//")} AS bt,
         xmin + (xmax - xmin) // 4 AS x_lo,
         xmin + (xmax - xmin) // 2 AS x_hi,
         tmin + (tmax - tmin) // 4 AS t_lo,
         tmin + (tmax - tmin) // 2 AS t_hi
  FROM e0, bnd
), z AS (
  SELECT *, {zk} AS zkey,
         CASE WHEN x BETWEEN x_lo AND x_hi AND t BETWEEN t_lo AND t_hi
              THEN 1 ELSE 0 END AS hit
  FROM e
), pzorder AS (
  SELECT *, row_number() OVER (ORDER BY zkey, rid) - 1 AS pos FROM z
), plinear AS (
  SELECT *, row_number() OVER (ORDER BY t, rid) - 1 AS pos FROM z
), {files.format(name="zorder", rpf=rows_per_file)},
{files.format(name="linear", rpf=rows_per_file)}
{summary.format(name="zorder")}
UNION ALL
{summary.format(name="linear")}
"""
