"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY §2.3 — its "time
series" are batch panels), so these are engine extensions: the
standard shapes a production event pipeline needs, built on
``readStream`` → windowed/stateful transform → ``writeStream``.

Everything here takes a *streaming* DataFrame (``df.isStreaming``)
but degrades gracefully to batch input — the transformations are
identical, which is how the tests pin streaming results to their
batch equivalents (run both, compare).

Scale notes: watermarks bound state (late rows beyond the horizon are
dropped, state for closed windows is evicted); windowed aggregation
shuffles on (window, key) — at 1000 executors that is the same
hash-partitioned agg as batch, plus a state store per partition. The
stateful running-profile operator uses ``applyInPandasWithState`` with
per-key state measured in bytes, not rows — the only state-size-safe
design at 100 TB/day ingest.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dataframeutils_spark.sources.testdata import read_nanos_as_long


def read_events_stream(
    spark,
    sf_dir: str,
    max_files_per_trigger: int = 1,
    glob: str = "events.parquet",
) -> DataFrame:
    """events parquet file(s) as a file-source stream (schema pinned
    from a batch peek — a streaming source cannot infer schemas).

    ``glob`` selects which files in ``sf_dir`` form the stream; with
    ``maxFilesPerTrigger=1`` a multi-file directory drains as one
    micro-batch per file, which is how tests exercise cross-batch state
    and watermark eviction (at scale: a partitioned events/ directory
    whose new files arrive per trigger).
    """
    import os

    read_nanos_as_long(spark)
    table_dir = os.path.join(sf_dir, glob)
    if os.path.isdir(table_dir):
        # directory-per-table layout (multi-file parquet, e.g. the
        # generated scale-stress data): stream the directory itself —
        # with maxFilesPerTrigger=1 each part file drains as its own
        # micro-batch, a REAL cross-batch replay
        batch = spark.read.parquet(table_dir)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(table_dir)
        )
    else:
        batch = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", glob)
            .parquet(sf_dir)
        )
    return normalize_event_times(stream)


def normalize_event_times(events: DataFrame) -> DataFrame:
    """ts (nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP) → TIMESTAMP (LTZ).

    The shipped events.parquet stores ts as INT64 microseconds with
    ``isAdjustedToUTC=false``, which Spark 4.1 reads as TIMESTAMP_NTZ; a
    timestamp[ns] file reads as a bigint of nanos under ``nanosAsLong``
    (``sources.testdata.read_nanos_as_long``). Watermarks
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``) and ``unix_micros`` both
    require LTZ, so normalize every shape here — the one chokepoint all
    event-time operators load through. The NTZ→LTZ cast interprets wall
    time in the session time zone; the engine pins UTC so it is a pure
    relabeling, and downstream gap/window arithmetic uses differences,
    which are shift-invariant anyway.
    """
    ts_type = dict((f.name, f.dataType.simpleString()) for f in events.schema.fields)["ts"]
    if ts_type == "bigint":
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    elif ts_type == "timestamp_ntz":
        ts = F.col("ts").cast("timestamp")
    else:
        ts = F.col("ts")
    return events.withColumn("ts", ts)


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding window aggregation with late-data watermark:
    (window_start, window_end, event_type, n_events, sum_value).

    The watermark bounds state: a window closes (and its state is
    evicted) once event time passes window_end + watermark.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_distinct_registers(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 8,
    user_col: str = "user_id",
) -> DataFrame:
    """Distinct-user HyperLogLog registers per tumbling window —
    identical batch and streaming (a single ``max`` aggregate, so the
    streaming state is bounded at open-windows × 2**p register rows and
    watermark eviction closes windows exactly as for counts).

    Output: (window_start, window_end, bucket, rho). This is the WRITE
    side of the lambda pattern: registers are what you store per
    window/shard/day; they merge across any partitioning by bucketwise
    max (``operators/sketches.py:hll_registers`` semantics), and the
    estimate is computed at read time — see
    :func:`windowed_distinct_users`. At 100 TB/day ingest this is the
    only state-size-safe distinct-count design: exact per-window
    distinct state grows with cardinality, register state does not.
    """
    from dataframeutils_spark.operators.dedup import portable_hash60
    from dataframeutils_spark.operators.sketches import _hll_rho

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    m = 1 << p
    h = portable_hash60(F.col(user_col).cast("string"))
    return (
        src.filter(F.col(user_col).isNotNull())
        .select(
            F.window("ts", window).alias("w"),
            F.pmod(h, F.lit(m)).alias("bucket"),
            _hll_rho(h, p).alias("rho_in"),
        )
        .groupBy("w", "bucket")
        .agg(F.max("rho_in").alias("rho"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "rho",
        )
    )


def windowed_distinct_users(
    events: DataFrame,
    window: str = "1 hour",
    p: int = 8,
    user_col: str = "user_id",
) -> DataFrame:
    """READ side of the windowed-HLL lambda: estimate distinct users
    per window from the register table, audited against the exact
    per-window distinct count (audit-only — production reads registers
    alone). Output: (window_start, window_end, n_exact, nonzero, est,
    rel_err), siground-rounded floats, ordered by window."""
    from dataframeutils_spark.operators.sketches import hll_estimate
    from dataframeutils_spark.schema import siground

    regs = windowed_distinct_registers(events, window=window, p=p, user_col=user_col)
    est = hll_estimate(regs, ("window_start", "window_end"), p)
    exact = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count_distinct(user_col).alias("n_exact"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_exact",
        )
    )
    return (
        exact.join(est, ["window_start", "window_end"])
        .select(
            "window_start",
            "window_end",
            "n_exact",
            "nonzero",
            siground(F.col("est")).alias("est"),
            siground(
                (F.col("est") - F.col("n_exact")) / F.col("n_exact")
            ).alias("rel_err"),
        )
        .orderBy("window_start")
    )


def windowed_distinct_sql(table: str = "events", p: int = 8) -> str:
    """DuckDB oracle for :func:`windowed_distinct_users` in batch mode
    (whole-hour tumbling windows = epoch-aligned date_trunc, as
    :func:`windowed_stats_sql`); identical hash/bucket/rho register
    arithmetic and estimator as ``sketches.hll_distinct_words_sql``."""
    from dataframeutils_spark.operators.dedup import portable_hash60_sql
    from dataframeutils_spark.operators.sketches import _HLL_RHO_CAP, _hll_rho_sql
    from dataframeutils_spark.schema import siground_sql

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    am2 = f"CAST({alpha * m * m!r} AS DOUBLE)"
    md = f"CAST({float(m)!r} AS DOUBLE)"
    h = portable_hash60_sql("item")
    est_expr = (
        f"CASE WHEN {am2} / z <= CAST({2.5 * m!r} AS DOUBLE) AND zeros > 0 "
        f"THEN {md} * ln({md} / zeros) "
        f"ELSE {am2} / z END"
    )
    return f"""
WITH pts AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST(user_id AS VARCHAR) AS item
  FROM {table} WHERE user_id IS NOT NULL
),
regs AS (
  SELECT window_start, {h} % {m} AS bucket, max({_hll_rho_sql(h, p)}) AS rho
  FROM pts GROUP BY 1, 2
),
agg AS (
  SELECT window_start, count(*) AS nonzero,
         sum(1.0 / CAST(CAST(1 AS BIGINT) << CAST(least(rho, {_HLL_RHO_CAP}) AS INTEGER) AS DOUBLE)) AS zsum
  FROM regs GROUP BY window_start
),
sized AS (
  SELECT window_start, nonzero, CAST({m} - nonzero AS DOUBLE) AS zeros,
         CAST({m} - nonzero AS DOUBLE) + zsum AS z
  FROM agg
),
exact AS (
  SELECT window_start, count(DISTINCT item) AS n_exact
  FROM pts GROUP BY window_start
)
SELECT e.window_start,
       e.window_start + INTERVAL 1 HOUR AS window_end,
       e.n_exact, s.nonzero,
       {siground_sql(est_expr)} AS est,
       {siground_sql(f"(({est_expr}) - e.n_exact) / e.n_exact")} AS rel_err
FROM exact e JOIN sized s USING (window_start)
ORDER BY e.window_start
"""


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: (user_id, session_start, session_end,
    n_events). A session extends while consecutive events arrive within
    ``gap`` of each other — the canonical session_window operator."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


_PROFILE_SCHEMA = "user_id long, n_events long, total_value double, max_value double"
_STATE_SCHEMA = "n long, total double, mx double"


def running_user_profile(events: DataFrame, timeout_minutes: int | None = 60) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max) via
    ``applyInPandasWithState`` — the escape hatch for aggregations the
    built-in windowed ops can't express (here kept deliberately simple
    so tests can pin it against groupBy).

    State per key is three scalars — O(1) bytes per user. Timeout
    evicts idle users' state (processing-time clock).

    ``timeout_minutes=None`` disables eviction (``NoTimeout``). Use that
    for drain-to-final-state runs: with ``ProcessingTimeTimeout`` an
    ``availableNow`` query never self-terminates — after the data is
    processed it keeps scheduling "cleaning up state" batches so pending
    timeouts can eventually fire. Eviction is for long-running
    production streams; a bounded drain must pass ``None``.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_PROFILE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def windowed_stats_sql(table: str = "events", gap_hours: int = 1) -> str:
    """DuckDB oracle for :func:`windowed_event_stats` run in batch mode
    (tumbling 1-hour windows). Spark's ``F.window`` aligns tumbling
    windows to the epoch, which for whole-hour widths is exactly
    ``date_trunc('hour', ts)``."""
    from dataframeutils_spark.schema import siground_sql as sig

    return f"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL {gap_hours} HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       {sig('sum(value)')} AS sum_value
FROM {table}
GROUP BY 1, 2, 3
"""


def sliding_stats_sql(
    table: str = "events", window_hours: int = 2, slide_hours: int = 1
) -> str:
    """DuckDB oracle for :func:`windowed_event_stats` with a slide.

    Spark assigns each event to ``window/slide`` epoch-aligned
    overlapping windows; the oracle reproduces that by cross-joining
    the slide offsets: window_start = trunc-to-slide(ts) − o·slide for
    o in [0, window/slide)."""
    from dataframeutils_spark.schema import siground_sql as sig

    if slide_hours != 1 or window_hours % slide_hours:
        raise ValueError("oracle assumes whole-hour slide of 1h")
    k = window_hours // slide_hours
    return f"""
WITH expanded AS (
  SELECT date_trunc('hour', ts)
           - (offs.o * INTERVAL {slide_hours} HOUR) AS window_start,
         event_type, value
  FROM {table}, (SELECT unnest(range({k})) AS o) offs
)
SELECT window_start,
       window_start + INTERVAL {window_hours} HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       {sig('sum(value)')} AS sum_value
FROM expanded
GROUP BY 1, 2, 3
"""


def sessionized_sql(table: str = "events", gap_minutes: int = 30) -> str:
    """DuckDB oracle for :func:`sessionized_counts` in batch mode:
    gaps-and-islands. Spark's ``session_window`` gives each event the
    interval ``[ts, ts+gap)`` and merges *overlapping* intervals, so an
    event arriving exactly ``gap`` after the previous one starts a NEW
    session — hence ``>=`` (not ``>``) in the new-session predicate.
    ``session_end`` is ``max(ts) + gap`` (the close of the last event's
    extension), matching Spark."""
    return f"""
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM {table}
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts >= INTERVAL {gap_minutes} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {gap_minutes} MINUTE AS session_end,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
"""


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete", timeout_s: int = 120
):
    """Drain a stream into an in-memory table with availableNow (process
    everything currently in the source, then stop) — the test/CI
    harness for every operator above. ``complete`` for aggregations,
    ``update`` for applyInPandasWithState. Returns the (terminated)
    query so callers can inspect ``recentProgress`` (e.g. assert a drain
    really crossed micro-batch boundaries)."""
    spark = stream_df.sparkSession
    # The state-store partition count is pinned from shuffle.partitions
    # at query start; a vanilla session's 200 means 200 state tasks per
    # micro-batch on a laptop-sized drain (measured 27 s vs 9 s for the
    # stream-stream join at sf0.01). Size to cores for the drain and
    # restore after, so the conf never leaks into the caller's session.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        if q.isActive:  # don't leak a forever-active query past the drain
            q.stop()
            q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return q


def windowed_countmin_registers(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    depth: int = 4,
    width: int = 1024,
    key_col: str = "user_id",
) -> DataFrame:
    """Count-min registers per tumbling window — the WRITE side of the
    heavy-hitter lambda, identical batch and streaming: a stateless
    projection (depth seeded buckets per event) into a single windowed
    ``count`` aggregate, so streaming state is bounded at open-windows ×
    depth × width cells regardless of key cardinality, and watermark
    eviction closes windows exactly as for plain counts. Registers from
    any partitioning (shards, days, replays) merge by cellwise SUM —
    the same mergeability contract as the windowed HLL registers.

    Output: (window_start, window_end, cm_row, bucket, cnt).
    """
    from dataframeutils_spark.operators.sketches import _cm_bucket

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    key = F.col(key_col).cast("string")
    cells = src.filter(F.col(key_col).isNotNull()).select(
        F.window("ts", window).alias("w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"),
                        _cm_bucket(key, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    )
    return (
        cells.groupBy("w", "cell.cm_row", "cell.bucket")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cm_row",
            "bucket",
            "cnt",
        )
    )


def windowed_heavy_hitters(
    events: DataFrame,
    window: str = "1 hour",
    k: int = 5,
    depth: int = 4,
    width: int = 1024,
    key_col: str = "user_id",
) -> DataFrame:
    """READ side of the heavy-hitter lambda: per window, the top-k keys
    by count-min ESTIMATE, audited against the exact per-key count
    (audit-only — production probes the registers alone). A key's own
    events populate every (row, bucket(key,row)) cell it probes, so the
    inner register join never drops a row and est ≥ exact always
    (collisions only add). Ties pin on (est desc, key asc) in both
    engines. Output: (window_start, window_end, key, est, exact, rank).
    """
    from dataframeutils_spark.operators.sketches import _cm_bucket

    regs = windowed_countmin_registers(
        events, window=window, depth=depth, width=width, key_col=key_col
    )
    key = F.col(key_col).cast("string")
    probes = (
        events.filter(F.col(key_col).isNotNull())
        .select(
            F.window("ts", window).alias("w"),
            key.alias("key"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "key",
        )
        .groupBy("window_start", "window_end", "key")
        .agg(F.count("*").alias("exact"))
    )
    probe_cells = probes.select(
        "window_start",
        "window_end",
        "key",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"),
                        _cm_bucket(F.col("key"), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(
        "window_start", "window_end", "key", "exact",
        F.col("cell.cm_row").alias("cm_row"), F.col("cell.bucket").alias("bucket"),
    )
    est = (
        probe_cells.join(regs, ["window_start", "window_end", "cm_row", "bucket"])
        .groupBy("window_start", "window_end", "key", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    w = Window.partitionBy("window_start", "window_end").orderBy(
        F.col("est").desc(), F.col("key")
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "window_end", "key", "est", "exact", "rank")
    )


def windowed_heavy_hitters_sql(
    table: str = "events",
    k: int = 5,
    depth: int = 4,
    width: int = 1024,
    key_col: str = "user_id",
) -> str:
    """DuckDB oracle for :func:`windowed_heavy_hitters` in batch mode
    (whole-hour tumbling windows = epoch-aligned date_trunc, as
    :func:`windowed_distinct_sql`); identical seeded buckets, register
    counts, min-estimate and tie-break."""
    from dataframeutils_spark.operators.sketches import _cm_bucket_sql

    cells = " UNION ALL ".join(
        f"SELECT window_start, key, {i} AS cm_row,"
        f" {_cm_bucket_sql('key', i, width)} AS bucket FROM pts"
        for i in range(depth)
    )
    return f"""
WITH pts AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST({key_col} AS VARCHAR) AS key
  FROM {table} WHERE {key_col} IS NOT NULL
),
cells AS ({cells}),
regs AS (
  SELECT window_start, cm_row, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2, 3
),
probes AS (
  SELECT window_start, key, CAST(count(*) AS BIGINT) AS exact,
         cm_row, bucket
  FROM cells GROUP BY window_start, key, cm_row, bucket
),
est AS (
  SELECT p.window_start, p.key, p.exact, min(r.cnt) AS est
  FROM probes p JOIN regs r USING (window_start, cm_row, bucket)
  GROUP BY 1, 2, 3
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       key,
       CAST(est AS BIGINT) AS est,
       exact,
       row_number() OVER (PARTITION BY window_start
                          ORDER BY est DESC, key) AS rank
FROM est
QUALIFY rank <= {k}
"""
