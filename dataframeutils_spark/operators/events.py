"""Event-stream product analytics: funnel conversion and cohort retention.

Classic OLAP-engine capabilities over an event log (user_id, ts,
event_type) that the reference's panel analyses do not cover but any
analytics engine at this surface is expected to ship:

* :func:`funnel` — ordered multi-step conversion (e.g. view → click →
  purchase): per user, the first step-1 event, then the earliest step-2
  event strictly after it, and so on, optionally bounded to a
  conversion window anchored at step 1. Emits one summary row per step
  with reach counts, step/overall conversion rates, and the mean
  seconds from the previous step.
* :func:`retention_cohorts` — cohort retention matrix: cohort = the
  UTC day-of-first-activity truncated to a ``period_days`` grid,
  offset = full periods between the cohort start and each later active
  day; emits distinct active users and the retention rate per
  (cohort, offset) cell.

Both are exactly ANSI-SQL-expressible (full DuckDB hash oracles) —
calendar arithmetic is done on integer epoch days
(``floor(unix_micros / 86_400_000_000)`` — FLOOR, not cast-truncate,
so pre-1970 timestamps land on the correct day exactly like DuckDB's
``//``) rather than engine date_trunc so the two engines cannot
disagree on week anchoring or time zones.

Scale notes (100 TB posture):

* :func:`funnel` costs ONE exchange: the event log is hash-partitioned
  by user once, and every per-step first-match is a window aggregate
  over that same partitioning (Catalyst chains the Window operators
  with no re-exchange — pinned by ``tests/test_plans.py``). The
  per-user reduction that follows reuses the partitioning too, and the
  final per-step summary is a ``steps``-row aggregate. No join, no
  driver loop, nothing proportional to users held in memory.
* :func:`retention_cohorts` is two bounded shuffles: one exchange by
  user for the first-activity window, then an exchange carrying only
  (cohort, offset, user) distinct triples — at most active-days rows,
  collapsed map-side. The output is cohorts × offsets cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.local_solve import block_prefix

MICROS_PER_DAY = 86_400_000_000


def funnel(
    events: DataFrame,
    steps: list[str],
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered-step funnel summary: one row per step.

    Step semantics: ``t1 = min(ts | type = steps[0])``;
    ``t_k = min(ts | type = steps[k] AND ts > t_{k-1})`` — strictly
    increasing timestamps, so one event can never satisfy two adjacent
    steps. ``within_seconds`` (anchored at t1, the standard
    "convert within N days of entry" contract) additionally requires
    ``ts <= t1 + within``.

    Output columns: step (1-based), step_name, n_users,
    conv_from_prev, conv_from_first, avg_secs_from_prev.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    w = Window.partitionBy(by)
    df = events.select(by, ts_col, type_col)
    t_names: list[str] = []
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if i > 0:
            cond = cond & (F.col(ts_col) > F.col(t_names[i - 1]))
            if within_seconds is not None:
                cond = cond & (
                    F.unix_micros(F.col(ts_col))
                    <= F.unix_micros(F.col("t1")) + within_seconds * 1_000_000
                )
        name = f"t{i + 1}"
        # window over the SAME partitioning each pass: one exchange total
        df = df.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        t_names.append(name)
    per_user = df.groupBy(by).agg(*[F.min(n).alias(n) for n in t_names])
    # long form: one row per (user, reached step)
    reached = (
        per_user.select(
            F.col(by),
            F.posexplode(F.array(*[F.col(n) for n in t_names])).alias("step0", "t"),
        )
        .select(by, (F.col("step0") + 1).alias("step"), "t")
        .withColumn(
            "t_prev", F.lag("t").over(Window.partitionBy(by).orderBy("step"))
        )
    )
    agg = (
        reached.filter(F.col("t").isNotNull())
        .groupBy("step")
        .agg(
            F.count("*").alias("n_users"),
            F.avg(
                (F.unix_micros("t") - F.unix_micros("t_prev")) / F.lit(1_000_000.0)
            ).alias("avg_secs_from_prev"),
        )
    )
    w_all = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    names = F.array(*[F.lit(s) for s in steps])
    out = agg.select(
        "step",
        F.element_at(names, F.col("step")).alias("step_name"),
        "n_users",
        (
            F.col("n_users")
            / F.lag("n_users", 1).over(Window.orderBy("step"))
        ).alias("conv_from_prev"),
        (F.col("n_users") / F.first("n_users").over(w_all)).alias("conv_from_first"),
        "avg_secs_from_prev",
    )
    return out


def funnel_sql(
    steps: list[str],
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> str:
    """DuckDB oracle for :func:`funnel` — same sequential min-chain via
    one FILTERed aggregate per step (funnel summaries are tiny either
    way; the oracle optimizes for obviousness, not distribution)."""
    ctes = [
        f"s1 AS (SELECT {by}, min({ts_col}) FILTER (WHERE {type_col} = '{steps[0]}') AS t1 "
        f"FROM {table} GROUP BY {by})"
    ]
    prev_cols = ["t1"]
    for i in range(1, len(steps)):
        k = i + 1
        bound = ""
        if within_seconds is not None:
            bound = (
                f" AND epoch_us(e.{ts_col}) <= "
                f"epoch_us(p.t1) + CAST({within_seconds} AS BIGINT) * 1000000"
            )
        carried = ", ".join(f"p.{c}" for c in prev_cols)
        ctes.append(
            f"s{k} AS (SELECT p.{by}, {carried}, "
            f"min(e.{ts_col}) FILTER (WHERE e.{type_col} = '{steps[i]}' "
            f"AND e.{ts_col} > p.t{i}{bound}) AS t{k} "
            f"FROM s{i} p JOIN {table} e ON e.{by} = p.{by} "
            f"GROUP BY p.{by}, {carried})"
        )
        prev_cols.append(f"t{k}")
    last = f"s{len(steps)}"
    unions = []
    for i, name in enumerate(steps):
        k = i + 1
        prev = f"t{i}" if i > 0 else "NULL::TIMESTAMP"
        unions.append(
            f"SELECT {k} AS step, '{name}' AS step_name, t{k} AS t, {prev} AS t_prev "
            f"FROM {last} WHERE t{k} IS NOT NULL"
        )
    union_sql = " UNION ALL ".join(unions)
    return f"""
WITH {', '.join(ctes)}, long AS ({union_sql}),
agg AS (
  SELECT step, any_value(step_name) AS step_name, count(*) AS n_users,
         avg((epoch_us(t) - epoch_us(t_prev)) / 1000000.0) AS avg_secs_from_prev
  FROM long GROUP BY step
)
SELECT step, step_name, n_users,
       n_users / lag(n_users, 1) OVER (ORDER BY step) AS conv_from_prev,
       n_users / first_value(n_users) OVER (ORDER BY step) AS conv_from_first,
       avg_secs_from_prev
FROM agg
"""


def retention_cohorts(
    events: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix on an integer epoch-day grid.

    cohort_start = the user's first active UTC day floored to the
    global ``period_days`` grid (``day DIV p * p`` — grid-anchored so
    cohort labels are stable as data arrives, unlike per-user anchors);
    offset = full periods from cohort_start to each active day. Output:
    (cohort_date, period_offset, n_active, cohort_size,
    retention_rate), one row per non-empty cell.
    """
    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(MICROS_PER_DAY)).cast("long")
    w = Window.partitionBy(by)
    base = events.select(F.col(by), day.alias("day"))
    # one exchange by user; min-day window reuses it
    with_first = base.withColumn("first_day", F.min("day").over(w))
    cohort_day = F.floor(F.col("first_day") / period_days).cast("long") * period_days
    cells = (
        with_first.select(
            F.col(by),
            cohort_day.alias("cohort_day"),
            F.floor((F.col("day") - cohort_day) / period_days).cast("long").alias(
                "period_offset"
            ),
        )
        .distinct()  # map-side partial distinct: shuffle carries ≤ active cells
        .groupBy("cohort_day", "period_offset")
        .agg(F.count("*").alias("n_active"))
    )
    w_c = Window.partitionBy("cohort_day")
    out = cells.select(
        F.date_from_unix_date(F.col("cohort_day").cast("int")).alias("cohort_date"),
        "period_offset",
        "n_active",
        F.max(F.when(F.col("period_offset") == 0, F.col("n_active"))).over(w_c).alias(
            "cohort_size"
        ),
    )
    return out.select(
        "cohort_date",
        "period_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active") / F.col("cohort_size")).alias("retention_rate"),
    )


def retention_cohorts_sql(
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> str:
    """DuckDB oracle for :func:`retention_cohorts` — identical integer
    epoch-day arithmetic (``//`` is floor division; epoch days are
    non-negative here so it matches Spark's DIV-on-cast-long)."""
    return f"""
WITH base AS (
  SELECT {by}, CAST(epoch_us({ts_col}) // {MICROS_PER_DAY} AS BIGINT) AS day
  FROM {table}
), wf AS (
  SELECT {by}, day, min(day) OVER (PARTITION BY {by}) AS first_day FROM base
), cells AS (
  SELECT DISTINCT {by},
         CAST(first_day // {period_days} AS BIGINT) * {period_days} AS cohort_day,
         CAST((day - CAST(first_day // {period_days} AS BIGINT) * {period_days})
              // {period_days} AS BIGINT) AS period_offset
  FROM wf
), agg AS (
  SELECT cohort_day, period_offset, count(*) AS n_active
  FROM cells GROUP BY cohort_day, period_offset
)
SELECT DATE '1970-01-01' + CAST(cohort_day AS INTEGER) AS cohort_date,
       period_offset, n_active,
       max(CASE WHEN period_offset = 0 THEN n_active END)
           OVER (PARTITION BY cohort_day) AS cohort_size,
       n_active / (max(CASE WHEN period_offset = 0 THEN n_active END)
           OVER (PARTITION BY cohort_day)) AS retention_rate
FROM agg
"""


def attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    lookback_seconds: int = 86_400,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Marketing-style conversion attribution: credit each conversion's
    value to the qualifying touchpoints that preceded it within the
    lookback window — both LAST-touch (full credit to the latest touch)
    and LINEAR (equal split across all touches in window) in one pass.

    Output per (touch event_type): n_conversions_last (conversions
    last-touched by this type), credit_last (their summed value),
    credit_linear (the equal-split share), n_touches (touch rows that
    received any credit).

    Scale: conversions and touches are two filters of ONE scan; the
    only exchange is the equi-join on the user key (bucketized by the
    lookback the same way the interval joins are — here plain user
    equi-join + window filter, since a user's own history is the join
    domain). Per-conversion fan-in is bounded by the lookback window;
    the final per-type rollup is a map-side-combined aggregate over
    len(touch_types) rows.
    """
    lb_us = F.lit(lookback_seconds).cast("long") * F.lit(1_000_000).cast("long")
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(by),
        F.col(ts_col).alias("conv_ts"),
        F.col(value_col).alias("conv_value"),
    )
    touch = events.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(by),
        F.col(type_col).alias("touch_type"),
        F.col(ts_col).alias("touch_ts"),
        F.floor(F.unix_micros(ts_col) / lb_us).cast("long").alias("bucket"),
    )
    # bucketize by lookback-sized time chunks (the interval-join trick):
    # a qualifying touch lies in the conversion's bucket or the one
    # before, so each conversion probes exactly 2 (user, bucket) keys —
    # the join never pairs a conversion with touches far outside its
    # window, keeping per-key fan-in bounded by event density × lookback
    # instead of the user's whole history
    conv_b = conv.select(
        "*", F.floor(F.unix_micros("conv_ts") / lb_us).cast("long").alias("b0")
    ).select(
        by, "conv_ts", "conv_value",
        F.explode(F.array(F.col("b0"), F.col("b0") - 1)).alias("bucket"),
    )
    joined = conv_b.join(touch, [by, "bucket"]).filter(
        (F.col("touch_ts") < F.col("conv_ts"))
        & (F.unix_micros("touch_ts") >= F.unix_micros("conv_ts") - lb_us)
    )
    w = Window.partitionBy(by, "conv_ts")
    ranked = joined.select(
        "touch_type",
        "conv_value",
        F.row_number()
        .over(
            Window.partitionBy(by, "conv_ts").orderBy(
                F.col("touch_ts").desc(), F.col("touch_type")
            )
        )
        .alias("recency_rank"),
        F.count("*").over(w).alias("n_window_touches"),
    )
    return ranked.groupBy("touch_type").agg(
        F.sum(F.when(F.col("recency_rank") == 1, 1).otherwise(0)).alias(
            "n_conversions_last"
        ),
        F.sum(
            F.when(F.col("recency_rank") == 1, F.col("conv_value")).otherwise(0.0)
        ).alias("credit_last"),
        F.sum(F.col("conv_value") / F.col("n_window_touches")).alias("credit_linear"),
        F.count("*").alias("n_touches"),
    )


def attribution_sql(
    conversion_type: str,
    touch_types: list[str],
    lookback_seconds: int = 86_400,
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> str:
    """DuckDB oracle for :func:`attribution` — same join, window rank,
    and rollup."""
    types = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
WITH conv AS (
  SELECT {by}, {ts_col} AS conv_ts, {value_col} AS conv_value
  FROM {table} WHERE {type_col} = '{conversion_type}'
), touch AS (
  SELECT {by}, {type_col} AS touch_type, {ts_col} AS touch_ts
  FROM {table} WHERE {type_col} IN ({types})
), joined AS (
  SELECT c.{by}, c.conv_ts, c.conv_value, t.touch_type, t.touch_ts
  FROM conv c JOIN touch t ON t.{by} = c.{by}
  WHERE t.touch_ts < c.conv_ts
    AND epoch_us(t.touch_ts)
        >= epoch_us(c.conv_ts) - CAST({lookback_seconds} AS BIGINT) * 1000000
), ranked AS (
  SELECT touch_type, conv_value,
         row_number() OVER (
           PARTITION BY {by}, conv_ts ORDER BY touch_ts DESC, touch_type
         ) AS recency_rank,
         count(*) OVER (PARTITION BY {by}, conv_ts) AS n_window_touches
  FROM joined
)
SELECT touch_type,
       CAST(sum(CASE WHEN recency_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_conversions_last,
       sum(CASE WHEN recency_rank = 1 THEN conv_value ELSE 0.0 END)
         AS credit_last,
       sum(conv_value / n_window_touches) AS credit_linear,
       count(*) AS n_touches
FROM ranked
GROUP BY touch_type
"""


def event_paths(
    events: DataFrame,
    depth: int = 3,
    k: int = 20,
    gap_seconds: int = 1800,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Top-k session paths: the most common ordered ``depth``-grams of
    event types WITHIN a session (gap-based sessionization) — the
    user-path / Sankey analysis every product-analytics engine ships.

    Output: (path, n) — path as "a>b>c" — the k most frequent, count
    desc then path asc (deterministic).

    Scale: one exchange by user (ordered window assigns session ids by
    the gap rule and the lead() chain reuses the same sort), then a
    map-side-combined count whose key space is |event_types|^depth —
    tiny — and a TakeOrdered top-k. Ties at same timestamp order by
    event type so the path is engine-deterministic.
    """
    w = Window.partitionBy(by).orderBy(ts_col, type_col)
    gap = (
        F.unix_micros(F.col(ts_col))
        - F.unix_micros(F.lag(ts_col).over(w))
        > F.lit(gap_seconds).cast("long") * F.lit(1_000_000).cast("long")
    )
    sess = F.sum(F.when(gap, 1).otherwise(0)).over(w)
    df = events.select(by, ts_col, type_col).withColumn("sess", sess)
    ws = Window.partitionBy(by, "sess").orderBy(ts_col, type_col)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(ws) for i in range(1, depth)
    ]
    path = F.concat_ws(">", *steps)
    grams = df.select(
        path.alias("path"),
        F.lead(type_col, depth - 1).over(ws).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    return (
        grams.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(k)
    )


def event_paths_sql(
    depth: int = 3,
    k: int = 20,
    gap_seconds: int = 1800,
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """DuckDB oracle for :func:`event_paths` — same gap sessionization,
    lead chain, and deterministic top-k."""
    leads = ", ".join(
        f"lead({type_col}, {i}) OVER "
        f"(PARTITION BY {by}, sess ORDER BY {ts_col}, {type_col}) AS s{i}"
        for i in range(1, depth)
    )
    parts = " || '>' || ".join([type_col] + [f"s{i}" for i in range(1, depth)])
    return f"""
WITH g AS (
  SELECT {by}, {ts_col}, {type_col},
         CASE WHEN epoch_us({ts_col}) - epoch_us(lag({ts_col}) OVER w)
                   > CAST({gap_seconds} AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM {table}
  WINDOW w AS (PARTITION BY {by} ORDER BY {ts_col}, {type_col})
), s AS (
  SELECT {by}, {ts_col}, {type_col},
         sum(brk) OVER (PARTITION BY {by} ORDER BY {ts_col}, {type_col}
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
), led AS (
  SELECT {type_col}, {leads} FROM s
)
SELECT {parts} AS path, count(*) AS n
FROM led
WHERE s{depth - 1} IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT {k}
"""


def active_users(
    events: DataFrame,
    window_days: int = 7,
    by: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily/rolling active-user curve: per observed UTC day, distinct
    users active THAT day (dau) and within the trailing ``window_days``
    window ending that day (wau) — the DAU/WAU engagement metrics.

    Output: (date, dau, wau), one row per day with any activity.

    Scale: the corpus collapses to distinct (user, day) cells first
    (map-side partial distinct — the only pass over raw events), then
    each cell fans out to the ≤ ``window_days`` window-end days it
    contributes to; both counts are one more bounded aggregate. Shuffle
    is active-cells × window_days, never events × anything.
    """
    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(MICROS_PER_DAY)).cast("long")
    cells = events.select(F.col(by), day.alias("day")).distinct()
    observed = cells.select("day").distinct()
    dau = cells.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = cells.select(
        by,
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("wday"),
    ).distinct()
    wau = (
        contrib.join(observed, contrib["wday"] == observed["day"], "left_semi")
        .groupBy("wday")
        .agg(F.count("*").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            F.date_from_unix_date(F.col("day").cast("int")).alias("date"),
            "dau",
            "wau",
        )
    )


def active_users_sql(
    window_days: int = 7, table: str = "events", by: str = "user_id", ts_col: str = "ts"
) -> str:
    """DuckDB oracle for :func:`active_users` — same epoch-day cells,
    window fan-out, and observed-day restriction."""
    return f"""
WITH cells AS (
  SELECT DISTINCT {by},
         CAST(epoch_us({ts_col}) // {MICROS_PER_DAY} AS BIGINT) AS day
  FROM {table}
), observed AS (SELECT DISTINCT day FROM cells),
dau AS (SELECT day, count(*) AS dau FROM cells GROUP BY day),
contrib AS (
  SELECT DISTINCT {by}, day + o AS wday
  FROM cells, unnest(generate_series(0, {window_days} - 1)) t(o)
),
wau AS (
  SELECT wday, count(*) AS wau FROM contrib
  WHERE wday IN (SELECT day FROM observed)
  GROUP BY wday
)
SELECT DATE '1970-01-01' + CAST(d.day AS INTEGER) AS date, d.dau, w.wau
FROM dau d JOIN wau w ON w.wday = d.day
"""


def late_data_audit(
    events: DataFrame,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    type_col: str = "event_type",
    watermark_secs: float = 3600.0,
    bucket: int = 1000,
) -> DataFrame:
    """Watermark design audit: how much data WOULD a streaming job drop
    at a given watermark — per event type, the count/fraction of events
    arriving more than ``watermark_secs`` behind the stream's running
    max event time, plus the lateness tail (max, p99). This is the
    batch pre-flight that picks the withWatermark() value before the
    streaming job ships.

    Arrival order is ``seq_col`` (the ingest sequence). A naive running
    max over arrival order is one global sort task — instead arrivals
    land in ``seq/bucket`` buckets, and the watermark is the running
    max over STRICTLY EARLIER buckets from a
    :func:`~dataframeutils_spark.operators.local_solve.block_prefix`
    ledger (≤ n/bucket rows), broadcast back. Within-bucket
    disorder is invisible (the watermark a real stream holds also trails
    by an update interval — same semantics); the first bucket has no
    watermark yet and counts as on-time, matching a stream's warmup.
    """
    # pure integer bucket assignment: Spark's DIV and DuckDB's // both
    # truncate toward zero, and integer arithmetic stays exact at any
    # magnitude (the old double-divide-then-cast path lost exactness
    # above 2^53)
    ev = events.select(
        type_col,
        F.expr(f"CAST({seq_col} AS BIGINT) DIV {bucket}").alias("_b"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
    )
    ledger = block_prefix(ev, [], "_b", F.col("_us"), fold=F.max).select(
        "_b", F.col("_pre").alias("_wm_us")
    )
    late_secs = F.greatest(
        F.lit(0.0), (F.col("_wm_us") - F.col("_us")) / F.lit(1e6)
    )
    j = ev.join(F.broadcast(ledger), "_b").select(
        type_col, F.coalesce(late_secs, F.lit(0.0)).alias("late_secs")
    )
    from dataframeutils_spark.schema import decround, siground

    return j.groupBy(F.col(type_col).alias("event_type")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("late_secs") > watermark_secs).cast("long")).alias("n_dropped"),
        decround(
            F.sum((F.col("late_secs") > watermark_secs).cast("int"))
            / F.count("*")
        ).alias("frac_dropped"),
        siground(F.max("late_secs")).alias("max_late_secs"),
        siground(F.percentile("late_secs", F.lit(0.99))).alias("p99_late_secs"),
    )


def late_data_audit_sql(
    table: str = "events",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    type_col: str = "event_type",
    watermark_secs: float = 3600.0,
    bucket: int = 1000,
) -> str:
    """DuckDB oracle: same bucketed watermark, naive window form."""
    from dataframeutils_spark.schema import decround_sql, siground_sql

    return f"""
WITH ev AS (
  SELECT {type_col} AS event_type,
         CAST({seq_col} // {bucket} AS BIGINT) AS b,
         epoch_us({ts_col}) AS us
  FROM {table}
), bmax AS (
  SELECT b, max(us) AS bmax FROM ev GROUP BY b
), ledger AS (
  SELECT b, max(bmax) OVER (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
  FROM bmax
), lat AS (
  SELECT event_type,
         coalesce(greatest(0.0, (wm_us - us) / 1e6), 0.0) AS late_secs
  FROM ev JOIN ledger USING (b)
)
SELECT event_type, count(*) AS n,
  CAST(sum(CASE WHEN late_secs > {watermark_secs} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  {decround_sql(f"sum(CASE WHEN late_secs > {watermark_secs} THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS frac_dropped,
  {siground_sql("max(late_secs)")} AS max_late_secs,
  {siground_sql("quantile_cont(late_secs, 0.99)")} AS p99_late_secs
FROM lat GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (time-to-next-event, right-censored)
# ---------------------------------------------------------------------------


def event_gap_durations(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-next-event durations per user: for every event, the
    whole HOURS until that user's next event; the final gap of each
    user (last event → study end) is right-CENSORED — the user's next
    event simply hasn't happened yet, which is exactly what censoring
    models (dropping those gaps would bias hazard down, counting them
    as observed would bias it up).

    Cohort = the type of the gap's LEFT event ("how long until the
    next action after a view vs after a purchase"). Durations are
    exact integer hour differences (floor of epoch-hour), so every
    downstream count is engine-portable.

    Returns (cohort, dur, censored); one row per event.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    hrs = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(3_600_000_000)).cast("long")
    nxt = F.lead(hrs).over(w)
    end = events.agg(
        F.floor(F.unix_micros(F.max(F.col(ts_col))) / F.lit(3_600_000_000))
        .cast("long")
        .alias("end_h")
    )
    return events.crossJoin(F.broadcast(end)).select(
        F.col(type_col).alias("cohort"),
        F.coalesce(nxt, F.col("end_h")).alias("_next"),
        hrs.alias("_cur"),
        nxt.isNull().alias("censored"),
    ).select(
        "cohort", (F.col("_next") - F.col("_cur")).alias("dur"), "censored"
    )


def survival_km(
    durations: DataFrame,
    cohort_col: str = "cohort",
    dur_col: str = "dur",
    censored_col: str = "censored",
) -> DataFrame:
    """Kaplan-Meier survival curve per cohort over right-censored
    durations (Kaplan & Meier 1958).

    S(t) = Π_{tᵢ ≤ t, dᵢ>0} (1 − dᵢ/nᵢ) with nᵢ = #(dur ≥ tᵢ),
    computed as exp(Σ ln(1 − dᵢ/nᵢ)) over a cumulative window, with
    an explicit zero flag once a factor hits 0 (Spark's ln(0) is NULL
    while DuckDB's is -inf — the flag keeps both engines on the same
    closed-form path). dᵢ/nᵢ are ratios of integer counts, so every
    factor is an identical double in both engines; the ln/exp
    round-trip rides the rounding contract.

    Scale shape: one (cohort × duration) combinable aggregate, then
    windows over that tiny table — the raw durations never shuffle
    twice. Output at event times only:
    (cohort, t, n_risk, n_events, n_censored, survival).
    """
    from dataframeutils_spark.schema import decround

    tab = durations.groupBy(
        F.col(cohort_col).alias("cohort"), F.col(dur_col).alias("dur")
    ).agg(
        F.count(F.when(~F.col(censored_col), F.lit(1))).alias("d"),
        F.count(F.when(F.col(censored_col), F.lit(1))).alias("c"),
    )
    wo = Window.partitionBy("cohort").orderBy("dur")
    wrev = (
        Window.partitionBy("cohort")
        .orderBy(F.desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = (
        tab.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(wrev))
        .withColumn(
            "_ln",
            F.when(
                F.col("d") < F.col("n_risk"),
                F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_dead", F.max((F.col("d") == F.col("n_risk")).cast("int")).over(run)
        )
        .withColumn("_cumln", F.sum("_ln").over(run))
    )
    return scored.filter(F.col("d") > 0).select(
        "cohort",
        F.col("dur").cast("long").alias("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        decround(
            F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(F.exp(F.col("_cumln")))
        ).alias("survival"),
    )


def survival_km_sql(table: str = "events") -> str:
    """DuckDB oracle: identical integer hour gaps, censor flags and
    ln/exp product over the time-to-next-event durations."""
    from dataframeutils_spark.schema import decround_sql

    return f"""
WITH hrs AS (
  SELECT user_id, event_type AS cohort,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         lead(CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nh
  FROM {table}
), study AS (
  SELECT CAST(floor(epoch_us(max(ts)) / 3600000000) AS BIGINT) AS end_h FROM {table}
), durs AS (
  SELECT cohort,
         COALESCE(nh, study.end_h) - h AS dur,
         nh IS NULL AS censored
  FROM hrs CROSS JOIN study
), tab AS (
  SELECT cohort, dur,
         count(*) FILTER (WHERE NOT censored) AS d,
         count(*) FILTER (WHERE censored) AS c
  FROM durs GROUP BY cohort, dur
), scored AS (
  SELECT cohort, dur, d, c,
         sum(d + c) OVER (PARTITION BY cohort ORDER BY dur DESC
                          ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM tab
), lns AS (
  SELECT *,
         CASE WHEN d < n_risk THEN ln(1.0 - d / CAST(n_risk AS DOUBLE))
              ELSE 0.0 END AS lnf,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS deadf
  FROM scored
), cum AS (
  SELECT *,
         sum(lnf) OVER w AS cumln,
         max(deadf) OVER w AS dead
  FROM lns
  WINDOW w AS (PARTITION BY cohort ORDER BY dur ROWS UNBOUNDED PRECEDING)
)
SELECT cohort, CAST(dur AS BIGINT) AS t,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       {decround_sql('CASE WHEN dead = 1 THEN 0.0 ELSE exp(cumln) END')} AS survival
FROM cum WHERE d > 0
"""


# ---------------------------------------------------------------------------
# chi-square independence (event_type x day-of-week)
# ---------------------------------------------------------------------------


def chi2_independence(
    events: DataFrame,
    row_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week (phase = epoch-days mod 7, the engine-portable
    weekday) — "is traffic mix stable across the week", the
    categorical complement to mutual_info.

    Per-cell output (observed, expected, standardized residual — the
    cell-level "which combination deviates") with the table-level
    χ², dof, Cramér's V and p on every row. The p-value uses the
    EVEN-dof closed-form survival exp(−x/2)·Σ_{i<dof/2}(x/2)^i/i!
    (the memory_dependence precedent), with the term count built at
    RUNTIME from dof/2 — any even dof ≤ 42 gets a p-value (the bound
    is factorial(20), the largest exact long factorial, shared by
    both engines); odd dof yields NULL by contract — the closed form
    only exists at even dof.

    Scale shape: one combinable (row × col) contingency aggregate
    (exchange = r·c cells), margins via windows over the cell table.
    """
    from dataframeutils_spark.schema import decround

    dow = F.pmod(
        F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01")), F.lit(7)
    )
    cells = events.groupBy(
        F.col(row_col).alias("rk"), dow.alias("ck")
    ).agg(F.count("*").alias("obs"))
    w = Window.partitionBy()
    wr = Window.partitionBy("rk")
    wc = Window.partitionBy("ck")
    d = (
        cells.withColumn("rt", F.sum("obs").over(wr))
        .withColumn("ct", F.sum("obs").over(wc))
        .withColumn("n", F.sum("obs").over(w))
        .withColumn("r", F.size(F.collect_set("rk").over(w)))
        .withColumn("c", F.size(F.collect_set("ck").over(w)))
        .withColumn("exp", F.col("rt").cast("double") * F.col("ct") / F.col("n"))
    )
    chi2 = F.sum(
        (F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp")) / F.col("exp")
    ).over(w)
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    d = d.withColumn("chi2", chi2).withColumn("dof", dof.cast("long"))
    # even-dof closed form with the term count built from dof/2 at
    # runtime (left-to-right fold, ascending i — same order as the
    # oracle's list_sum so the doubles agree bit-for-bit); dof ≤ 42
    # keeps factorial() inside the exact long range in both engines
    x2 = F.col("chi2") / 2.0
    n_terms = (F.col("dof") / F.lit(2)).cast("int")
    series = F.aggregate(
        F.sequence(F.lit(0), n_terms - F.lit(1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.pow(x2, i.cast("double")) / F.factorial(i).cast("double"),
    )
    # dof >= 2 makes the empty-battery case explicit: at dof = 0
    # (single-category table) n_terms = 0 and sequence(0, -1) yields a
    # DESCENDING [0, -1], not an empty array — the NULL p previously
    # emerged only because factorial(-1) is NULL, a fragile
    # NULL-propagation coincidence with DuckDB's list_sum(empty)=NULL
    p = F.when(
        (F.col("dof") >= 2) & (F.col("dof") % 2 == 0) & (F.col("dof") <= 42),
        F.exp(-x2) * series,
    )
    # try_divide: a single-category table (r == 1 or c == 1) must NULL
    # out like the oracle, not crash under Spark's ANSI default
    vee = F.sqrt(
        F.try_divide(
            F.col("chi2"),
            F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1).cast("double"),
        )
    )
    return d.select(
        F.col("rk").alias(row_col),
        F.col("ck").cast("int").alias("dow"),
        F.col("obs").cast("long").alias("observed"),
        decround(F.col("exp")).alias("expected"),
        decround(
            (F.col("obs") - F.col("exp")) / F.sqrt(F.col("exp"))
        ).alias("std_residual"),
        decround(F.col("chi2")).alias("chi2"),
        "dof",
        decround(p).alias("p_value"),
        decround(vee).alias("cramers_v"),
    )


def chi2_independence_sql(table: str = "events") -> str:
    """DuckDB oracle for :func:`chi2_independence` — identical margins,
    runtime even-dof series (term count = dof/2, ascending-i left fold
    like the Spark aggregate) and residuals."""
    from dataframeutils_spark.schema import decround_sql

    series = (
        "list_sum(list_transform(range(0, dof // 2), i -> "
        "pow(chi2 / 2.0, CAST(i AS DOUBLE)) "
        "/ CAST(factorial(CAST(i AS INTEGER)) AS DOUBLE)))"
    )
    return f"""
WITH cells AS (
  SELECT event_type AS rk,
         ((CAST(ts AS DATE) - DATE '1970-01-01') % 7 + 7) % 7 AS ck,
         count(*) AS obs
  FROM {table} GROUP BY 1, 2
), rc AS (
  SELECT count(DISTINCT rk) AS r, count(DISTINCT ck) AS c FROM cells
), d AS (
  SELECT cells.*,
         sum(obs) OVER (PARTITION BY rk) AS rt,
         sum(obs) OVER (PARTITION BY ck) AS ct,
         sum(obs) OVER () AS n,
         rc.r, rc.c
  FROM cells CROSS JOIN rc
), e AS (
  SELECT *, CAST(rt AS DOUBLE) * ct / n AS expd FROM d
), f AS (
  SELECT *,
         sum((obs - expd) * (obs - expd) / expd) OVER () AS chi2,
         (r - 1) * (c - 1) AS dof
  FROM e
)
SELECT rk AS event_type, CAST(ck AS INT) AS dow,
       CAST(obs AS BIGINT) AS observed,
       {decround_sql('expd')} AS expected,
       {decround_sql('(obs - expd) / sqrt(expd)')} AS std_residual,
       {decround_sql('chi2')} AS chi2,
       CAST(dof AS BIGINT) AS dof,
       {decround_sql(f'CASE WHEN dof >= 2 AND dof % 2 = 0 AND dof <= 42 THEN exp(-chi2 / 2.0) * ({series}) END')} AS p_value,
       {decround_sql('sqrt(chi2 / (n * CAST(least(r - 1, c - 1) AS DOUBLE)))')} AS cramers_v
FROM f
"""


# ---------------------------------------------------------------------------
# A/B experiment readout (two-sample z-test per metric slice)
# ---------------------------------------------------------------------------


def ab_test_report(
    events: DataFrame,
    metric_col: str = "value",
    slice_col: str = "event_type",
    user_col: str = "user_id",
    salt: str = "exp1",
) -> DataFrame:
    """Experiment readout per metric slice: users land in arm A/B by a
    DETERMINISTIC portable hash of (salt, user) — the reproducible
    bucketing a real experimentation system uses (re-runs, backfills
    and the oracle all agree on every assignment) — and each slice
    gets the two-sample z-test on the per-event metric mean.

    z = (m_B − m_A)/√(s²_A/n_A + s²_B/n_B) (Welch form; at
    experiment-scale n the normal reference is standard). Effect size
    = Cohen's d with the pooled sd. try_divide guards the
    zero-variance / empty-arm edges (DuckDB NULLs where ANSI Spark
    would throw), and 'significant' compares the decimal-ROUNDED |z|
    to 1.96 so both engines decide identically.

    Scale shape: ONE map-side-combinable (slice × arm) aggregate over
    the event scan; everything after runs on slices × 2 rows.

    Output: (slice, n_a, n_b, mean_a, mean_b, diff, z, cohens_d,
    significant).
    """
    from dataframeutils_spark.operators.dedup import portable_hash60
    from dataframeutils_spark.schema import decround, siground

    arm = F.pmod(
        portable_hash60(
            F.concat(F.lit(salt + ":"), F.col(user_col).cast("string"))
        ),
        F.lit(2),
    )
    base = events.select(
        F.col(slice_col).alias("slice"),
        arm.alias("arm"),
        F.col(metric_col).cast("double").alias("m"),
    ).filter(F.col("m").isNotNull())
    agg = base.groupBy("slice", "arm").agg(
        F.count("*").alias("n"),
        F.avg("m").alias("mean"),
        F.var_samp("m").alias("var"),
    )
    a = agg.filter(F.col("arm") == 0).select(
        "slice",
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = agg.filter(F.col("arm") == 1).select(
        "slice",
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    j = a.join(b, on="slice")
    se = F.sqrt(
        F.try_divide(F.col("var_a"), F.col("n_a"))
        + F.try_divide(F.col("var_b"), F.col("n_b"))
    )
    pooled = F.sqrt(
        F.try_divide(
            (F.col("n_a") - 1) * F.col("var_a") + (F.col("n_b") - 1) * F.col("var_b"),
            F.col("n_a") + F.col("n_b") - 2,
        )
    )
    diff = F.col("mean_b") - F.col("mean_a")
    z = decround(F.try_divide(diff, se))
    return j.select(
        "slice",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        siground(F.col("mean_a")).alias("mean_a"),
        siground(F.col("mean_b")).alias("mean_b"),
        siground(diff).alias("diff"),
        z.alias("z"),
        decround(F.try_divide(diff, pooled)).alias("cohens_d"),
        (F.abs(z) > 1.96).alias("significant"),
    )


def ab_test_report_sql(table: str = "events", salt: str = "exp1") -> str:
    """DuckDB oracle for :func:`ab_test_report` — identical hash arms
    and z algebra."""
    from dataframeutils_spark.operators.dedup import portable_hash60_sql
    from dataframeutils_spark.schema import decround_sql, siground_sql

    h = portable_hash60_sql(f"('{salt}:' || CAST(user_id AS VARCHAR))")
    return f"""
WITH base AS (
  SELECT event_type AS slc, {h} % 2 AS arm, CAST(value AS DOUBLE) AS m
  FROM {table} WHERE value IS NOT NULL
), agg AS (
  SELECT slc, arm, count(*) AS n, avg(m) AS mean, var_samp(m) AS var
  FROM base GROUP BY slc, arm
), j AS (
  SELECT a.slc, a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
         b.n AS n_b, b.mean AS mean_b, b.var AS var_b
  FROM agg a JOIN agg b ON b.slc = a.slc AND a.arm = 0 AND b.arm = 1
), s AS (
  SELECT *,
         mean_b - mean_a AS diff,
         sqrt(var_a / n_a + var_b / n_b) AS se,
         sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
              / (n_a + n_b - 2)) AS pooled
  FROM j
), z AS (
  SELECT *, {decround_sql('diff / se')} AS zval FROM s
)
SELECT slc AS slice, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       {siground_sql('mean_a')} AS mean_a,
       {siground_sql('mean_b')} AS mean_b,
       {siground_sql('diff')} AS diff,
       zval AS z,
       {decround_sql('diff / pooled')} AS cohens_d,
       abs(zval) > 1.96 AS significant
FROM z
"""


# ---------------------------------------------------------------------------
# cohort LTV curves (cumulative value per cohort age)
# ---------------------------------------------------------------------------


def cohort_ltv(
    events: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    period_days: int = 7,
) -> DataFrame:
    """Cumulative-value (LTV) curves per acquisition cohort: for each
    (cohort week × age-in-weeks) cell — active users, period value,
    cumulative value, and cumulative value PER COHORT USER (the curve
    a growth team actually reads). The monetization companion to
    :func:`retention_cohorts` (same grid-anchored integer epoch-day
    cohorting, so the two reports line up row-for-row).

    Scale: one exchange by user (first-day window), then one
    combinable (cohort × age) aggregate; the cumulative window runs
    over cohorts × ages cells, never raw events.
    """
    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(MICROS_PER_DAY)).cast("long")
    w = Window.partitionBy(by)
    base = events.select(
        F.col(by), day.alias("day"), F.col(value_col).alias("v")
    ).withColumn("first_day", F.min("day").over(w))
    cohort_day = (
        F.floor(F.col("first_day") / period_days).cast("long") * period_days
    )
    cells = (
        base.select(
            F.col(by),
            cohort_day.alias("cohort_day"),
            F.floor((F.col("day") - cohort_day) / period_days)
            .cast("long")
            .alias("age"),
            "v",
        )
        .groupBy("cohort_day", "age")
        .agg(
            F.count_distinct(F.col(by)).alias("n_active"),
            F.sum("v").alias("period_value"),
        )
    )
    wc = Window.partitionBy("cohort_day").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("cohort_day")
    from dataframeutils_spark.schema import siground

    out = (
        cells.withColumn("cum_value", F.sum("period_value").over(wc))
        .withColumn(
            "cohort_size",
            F.max(F.when(F.col("age") == 0, F.col("n_active"))).over(wall),
        )
    )
    return out.select(
        F.date_from_unix_date(F.col("cohort_day").cast("int")).alias("cohort_date"),
        "age",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        siground(F.col("period_value")).alias("period_value"),
        siground(F.col("cum_value")).alias("cum_value"),
        siground(F.col("cum_value") / F.col("cohort_size")).alias("ltv_per_user"),
    )


def cohort_ltv_sql(
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    period_days: int = 7,
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH base AS (
  SELECT {by}, CAST(epoch_us({ts_col}) // {MICROS_PER_DAY} AS BIGINT) AS day,
         {value_col} AS v
  FROM {table}
), wf AS (
  SELECT *, min(day) OVER (PARTITION BY {by}) AS first_day FROM base
), cells AS (
  SELECT CAST(first_day // {period_days} AS BIGINT) * {period_days} AS cohort_day,
         CAST((day - CAST(first_day // {period_days} AS BIGINT) * {period_days})
              // {period_days} AS BIGINT) AS age,
         count(DISTINCT {by}) AS n_active,
         sum(v) AS period_value
  FROM wf GROUP BY 1, 2
), cum AS (
  SELECT *,
         sum(period_value) OVER (PARTITION BY cohort_day ORDER BY age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_value,
         max(CASE WHEN age = 0 THEN n_active END)
           OVER (PARTITION BY cohort_day) AS cohort_size
  FROM cells
)
SELECT DATE '1970-01-01' + CAST(cohort_day AS INTEGER) AS cohort_date,
       age, CAST(n_active AS BIGINT) AS n_active,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       {siground_sql('period_value')} AS period_value,
       {siground_sql('cum_value')} AS cum_value,
       {siground_sql('cum_value / cohort_size')} AS ltv_per_user
FROM cum
"""


# ---------------------------------------------------------------------------
# event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------


def event_transitions(
    events: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order transition matrix over each user's event stream:
    (cur_type, next_type, n, prob) with prob = n / Σ_next n — the
    empirical Markov kernel behind :func:`event_paths` (paths show
    the top journeys; this is the full conditional distribution a
    simulation or anomaly monitor consumes).

    Ordering ties on identical timestamps break by ``event_id`` (the
    event_paths contract). One exchange by user for the lead window,
    then a combinable (cur, next) count; the probability join is a
    window over type² cells.
    """
    wu = Window.partitionBy(by).orderBy(F.col(ts_col), F.col(id_col))
    pairs = events.select(
        F.col(type_col).alias("cur_type"),
        F.lead(F.col(type_col)).over(wu).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy("cur_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("cur_type")
    return counts.select(
        "cur_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        (F.col("n") / F.sum("n").over(wt).cast("double")).alias("prob"),
    )


def event_transitions_sql(
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    return f"""
WITH pairs AS (
  SELECT {type_col} AS cur_type,
         lead({type_col}) OVER (PARTITION BY {by}
           ORDER BY {ts_col}, {id_col}) AS next_type
  FROM {table}
), counts AS (
  SELECT cur_type, next_type, count(*) AS n
  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT cur_type, next_type, CAST(n AS BIGINT) AS n,
       n / CAST(sum(n) OVER (PARTITION BY cur_type) AS DOUBLE) AS prob
FROM counts
"""


# ---------------------------------------------------------------------------
# inter-arrival / burstiness profile
# ---------------------------------------------------------------------------


def interarrival_stats(
    events: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival-time profile per event type: gaps between a
    user's CONSECUTIVE events of that type, pooled across users —
    (event_type, n_gaps, mean_secs, sd_secs, cv, burstiness) with
    burstiness B = (σ−μ)/(σ+μ) (Goh & Barabási 2008): −1 periodic,
    0 Poisson, →1 bursty. The traffic-shape dial that decides
    watermark and session-gap settings.

    Gaps are exact INTEGER microsecond differences (identical in both
    engines); only the summary moments are doubles under the rounding
    contract. One exchange by (user, type) for the lag window, one
    combinable moment aggregate.
    """
    from dataframeutils_spark.schema import siground

    wu = Window.partitionBy(by, type_col).orderBy(F.col(ts_col), F.col(id_col))
    us = F.unix_micros(F.col(ts_col))
    gaps = (
        events.select(
            F.col(type_col).alias("event_type"),
            (us - F.lag(us).over(wu)).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
        .select("event_type", (F.col("gap_us") / F.lit(1_000_000.0)).alias("gap"))
    )
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.avg("gap").alias("mu"),
        F.coalesce(F.stddev_samp("gap"), F.lit(0.0)).alias("sd"),
    )
    return agg.select(
        "event_type",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        siground(F.col("mu")).alias("mean_secs"),
        siground(F.col("sd")).alias("sd_secs"),
        siground(F.try_divide(F.col("sd"), F.col("mu"))).alias("cv"),
        siground(
            F.try_divide(F.col("sd") - F.col("mu"), F.col("sd") + F.col("mu"))
        ).alias("burstiness"),
    )


def interarrival_stats_sql(
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH gaps AS (
  SELECT {type_col} AS event_type,
         (epoch_us({ts_col}) - lag(epoch_us({ts_col})) OVER (
            PARTITION BY {by}, {type_col} ORDER BY {ts_col}, {id_col}))
           / 1000000.0 AS gap
  FROM {table}
), g AS (
  SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL
), agg AS (
  SELECT event_type, count(*) AS n_gaps, avg(gap) AS mu,
         COALESCE(stddev_samp(gap), 0.0) AS sd
  FROM g GROUP BY event_type
)
SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
       {siground_sql('mu')} AS mean_secs,
       {siground_sql('sd')} AS sd_secs,
       {siground_sql('CASE WHEN mu <> 0 THEN sd / mu END')} AS cv,
       {siground_sql('CASE WHEN sd + mu <> 0 THEN (sd - mu) / (sd + mu) END')} AS burstiness
FROM agg
"""


# ---------------------------------------------------------------------------
# extreme-value (Gumbel) block-maxima fit
# ---------------------------------------------------------------------------

EULER_GAMMA = 0.57721566490153286
PI = 3.141592653589793


def extreme_value_gumbel(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    block_days: int = 30,
) -> DataFrame:
    """Gumbel (EV-I) fit to per-type block maxima with closed-form
    method-of-moments parameters: β = s·√6/π, μ = m − γ·β (γ = Euler–
    Mascheroni), plus the T-block return levels
    x_T = μ − β·ln(−ln(1−1/T)) for T = 12 and 60 — "what value should
    we expect to be exceeded once a year / once in five years", the
    capacity-planning number a p99 quantile cannot give because it
    says nothing beyond the observed range.

    Method of moments (not MLE) keeps the fit CLOSED-FORM and
    therefore exactly oracle-checkable — the same sufficient-
    statistics discipline as panel_ols. Blocks are integer epoch-day
    // block_days (engine-portable; calendar months are not). The
    block-maxima moments m and s are decimal-ROUNDED before the
    parameter chain: they carry ~1-ulp aggregation-order noise, and
    feeding them raw through three multiplications put one measured
    return level exactly on a significant-digit rounding boundary
    (268.9225) — round-the-inputs makes every downstream IEEE op
    bit-identical across engines instead.

    Output: (event_type, n_blocks, block_max_mean, mu, beta,
    return_level_12, return_level_60).
    """
    import math

    from dataframeutils_spark.schema import decround, siground

    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(MICROS_PER_DAY)).cast("long")
    blocks = (
        events.select(
            F.col(type_col).alias("event_type"),
            F.floor(day / block_days).cast("long").alias("block"),
            F.col(value_col).alias("v"),
        )
        .groupBy("event_type", "block")
        .agg(F.max("v").alias("bmax"))
    )
    agg = blocks.groupBy("event_type").agg(
        F.count("*").alias("n_blocks"),
        decround(F.avg("bmax")).alias("m"),
        decround(F.stddev_samp("bmax")).alias("s"),
    )
    beta = F.col("s") * F.lit(math.sqrt(6.0)) / F.lit(PI)
    mu = F.col("m") - F.lit(EULER_GAMMA) * beta
    def rl(t: int):
        return mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / t)))
    return agg.filter(F.col("n_blocks") >= 3).select(
        "event_type",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        siground(F.col("m")).alias("block_max_mean"),
        siground(mu).alias("mu"),
        siground(beta).alias("beta"),
        siground(rl(12)).alias("return_level_12"),
        siground(rl(60)).alias("return_level_60"),
    )


def extreme_value_gumbel_sql(
    table: str = "events",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    block_days: int = 30,
) -> str:
    import math

    from dataframeutils_spark.schema import decround_sql, siground_sql

    beta = f"s * {math.sqrt(6.0)!r} / {PI!r}"
    mu = f"m - {EULER_GAMMA!r} * ({beta})"

    def rl(t: int) -> str:
        return f"({mu}) - ({beta}) * {math.log(-math.log(1.0 - 1.0 / t))!r}"

    return f"""
WITH blocks AS (
  SELECT {type_col} AS event_type,
         CAST(epoch_us({ts_col}) // {MICROS_PER_DAY} AS BIGINT) // {block_days}
           AS block,
         max({value_col}) AS bmax
  FROM {table} GROUP BY 1, 2
), agg0 AS (
  SELECT event_type, count(*) AS n_blocks, avg(bmax) AS m0,
         stddev_samp(bmax) AS s0
  FROM blocks GROUP BY event_type
), agg AS (
  SELECT event_type, n_blocks, {decround_sql('m0')} AS m,
         {decround_sql('s0')} AS s
  FROM agg0
)
SELECT event_type, CAST(n_blocks AS BIGINT) AS n_blocks,
       {siground_sql('m')} AS block_max_mean,
       {siground_sql(mu)} AS mu,
       {siground_sql(beta)} AS beta,
       {siground_sql(rl(12))} AS return_level_12,
       {siground_sql(rl(60))} AS return_level_60
FROM agg WHERE n_blocks >= 3
"""


# ---------------------------------------------------------------------------
# diurnal circular statistics (Rayleigh uniformity test)
# ---------------------------------------------------------------------------


def diurnal_profile(
    events: DataFrame,
    alpha: float = 0.01,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-event-type time-of-day CIRCULAR statistics — the
    bot/scheduler screen: map each event's second-of-day to an angle
    θ = 2π·s/86400, then per type the mean resultant length
    R̄ = |Σe^{iθ}|/n (0 = uniform around the clock, 1 = a single
    instant), the peak hour (mean direction), the circular standard
    deviation √(−2 ln R̄) (Mardia & Jupp 2000), and the Rayleigh
    uniformity test Z = n·R̄² with the first-order p ≈ e^{−Z}
    (exact enough far from the α boundary; ``concentrated`` compares
    the decimal-rounded p). Organic human traffic shows moderate
    diurnal concentration; cron jobs and replay bots spike R̄ toward
    1 with a razor peak hour — linear time-of-day histograms blur the
    midnight wrap, circular moments don't.

    Output: (event_type, n, resultant, peak_hour, circ_std,
    rayleigh_p, concentrated).

    Scale shape: ONE map-side-combinable aggregate over the scan
    (Σcos, Σsin, n per type — exchange = |types| rows); everything
    after is arithmetic on the bounded type table.
    """
    import math

    from dataframeutils_spark.schema import decround

    theta = (
        F.lit(2.0 * math.pi)
        * (
            F.unix_micros(F.col(ts_col)) % F.lit(86_400_000_000)
        ).cast("double")
        / F.lit(86_400_000_000.0)
    )
    agg = events.groupBy(F.col(type_col).alias("event_type")).agg(
        F.count("*").alias("n"),
        F.sum(F.cos(theta)).alias("_c"),
        F.sum(F.sin(theta)).alias("_s"),
    )
    # clamped: a fully concentrated type's sum can round R̄ just above
    # 1, where sqrt(−2 ln R̄) would be NaN (sqrt already makes it ≥ 0)
    rbar = F.least(
        F.sqrt(F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s"))
        / F.col("n"),
        F.lit(1.0),
    )
    # mean direction → hours in [0, 24)
    peak = (
        F.atan2(F.col("_s"), F.col("_c")) / F.lit(2.0 * math.pi) * F.lit(24.0)
    )
    peak24 = F.pmod(peak, F.lit(24.0))
    z = F.col("n") * rbar * rbar
    p = F.exp(-z)
    out = agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        decround(rbar).alias("resultant"),
        decround(peak24).alias("peak_hour"),
        decround(
            F.when(rbar > 0, F.sqrt(-2.0 * F.log(rbar)))
        ).alias("circ_std"),
        decround(p).alias("rayleigh_p"),
    )
    return out.withColumn("concentrated", F.col("rayleigh_p") < alpha)


def diurnal_profile_sql(table: str = "events", alpha: float = 0.01) -> str:
    """DuckDB oracle for :func:`diurnal_profile` — same circular
    moment algebra on the identical second-of-day angles."""
    import math

    from dataframeutils_spark.schema import decround_sql

    two_pi = 2.0 * math.pi
    theta = (
        f"{two_pi} * CAST(epoch_us(ts) % 86400000000 AS DOUBLE)"
        " / 86400000000.0"
    )
    rbar = "least(sqrt(c * c + s * s) / n, 1.0)"
    return f"""
WITH agg AS (
  SELECT event_type, count(*) AS n,
         sum(cos({theta})) AS c, sum(sin({theta})) AS s
  FROM {table} GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       {decround_sql(rbar)} AS resultant,
       {decround_sql(f"fmod(fmod(atan2(s, c) / {two_pi} * 24.0, 24.0) + 24.0, 24.0)")} AS peak_hour,
       {decround_sql(f"CASE WHEN {rbar} > 0 THEN sqrt(-2.0 * ln({rbar})) END")} AS circ_std,
       {decround_sql(f"exp(-n * ({rbar}) * ({rbar}))")} AS rayleigh_p,
       {decround_sql(f"exp(-n * ({rbar}) * ({rbar}))")} < {alpha} AS concentrated
FROM agg
"""
