"""Training-feature preparation and drift monitoring.

No counterpart in the reference (SURVEY §2.3); north-star pipeline
surface: before events become training features a pipeline (a)
discretizes heavy-tailed numerics into quantile bins, (b) builds
point-in-time lag/rolling feature matrices, and (c) monitors
distribution drift between a reference window and the current one
(PSI — the standard production drift metric). All three are exactly
oracle-checkable: boundaries are rounded to the engine's significant-
digit contract BEFORE any comparison, so bin membership is identical
across engines even though raw interpolated percentiles can differ in
the last ulp.

Scale notes:
- :func:`quantile_bin`: ONE exact-percentile aggregate row (Spark
  ``percentile`` ≡ DuckDB ``quantile_cont``), broadcast to the scan;
  bin assignment is a scan-side fold over the ≤ n_bins boundary array
  — no shuffle beyond the final small groupBy. At 100 TB swap the
  exact percentile for ``percentile_approx`` (same plan shape,
  rows-only check) — the audit keeps both honest.
- :func:`feature_matrix`: one hash shuffle on the entity key, then
  window frames evaluated within partitions — the canonical
  feature-engineering shape; no global window anywhere.
- :func:`psi_drift`: reference vs current are hash-split scan-side;
  per (type, bin) counts are one map-side-combinable aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.schema import siground, siground_sql

# Laplace-style smoothing for PSI bins that are empty on one side —
# without it a single empty bin sends PSI to ±inf (ln 0)
PSI_EPS = 1e-6


def _rounded_boundaries(df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """One row: array of n_bins-1 interior quantile boundaries, each
    rounded to the significant-digit contract (round-then-compare is
    what makes bin membership engine-exact)."""
    qs = [i / n_bins for i in range(1, n_bins)]
    pct = F.percentile(col, F.array(*[F.lit(q) for q in qs]))
    return df.agg(
        F.transform(pct, lambda b: siground(b)).alias("bnds")
    )


def quantile_bin(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    n_bins: int = 10,
) -> DataFrame:
    """Global quantile discretization audited per type: (event_type,
    bin, n, v_min, v_max) — bin b means value ≤ boundary b (last bin
    open). The per-(type, bin) histogram is the feature-QA table: a
    type whose mass collapses into two bins needs its own boundaries.

    NULL policy: NULL values are excluded from both the boundary
    estimate and the histogram (filtered symmetrically here and in the
    SQL oracle). Without the explicit filter the engines silently
    diverge: Spark's ``F.aggregate`` fold propagates NULL through the
    predicate sum (NULL bin) while DuckDB's ``list_filter`` drops
    NULL-predicate elements (bin 0).
    """
    bnds = _rounded_boundaries(events, value_col, n_bins)
    e = (
        events.select(type_col, value_col)
        .filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bnds))
    )
    bin_ = F.aggregate(
        F.transform(
            F.col("bnds"),
            lambda b: (F.col(value_col) > b).cast("int"),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    return (
        e.withColumn("bin", bin_)
        .groupBy(F.col(type_col).alias("event_type"), "bin")
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("v_min"),
            F.max(value_col).alias("v_max"),
        )
    )


def quantile_bin_sql(
    table: str = "events",
    value_col: str = "value",
    type_col: str = "event_type",
    n_bins: int = 10,
) -> str:
    qs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    rb = siground_sql("b")
    return f"""
WITH bnds AS (
  SELECT list_transform(quantile_cont({value_col}, [{qs}]), b -> {rb}) AS bnds
  FROM {table}
), binned AS (
  SELECT {type_col} AS event_type, {value_col} AS v,
         len(list_filter(bnds, b -> {value_col} > b)) AS bin
  FROM {table}, bnds
  WHERE {value_col} IS NOT NULL
)
SELECT event_type, CAST(bin AS INT) AS bin, count(*) AS n,
       min(v) AS v_min, max(v) AS v_max
FROM binned GROUP BY 1, 2
"""


def feature_matrix(
    events: DataFrame,
    by: str = "user_id",
    order: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window: int = 5,
) -> DataFrame:
    """Point-in-time per-entity feature matrix: (event_id, user_id,
    value, lag1, lag2, roll_mean, roll_std, n_prev).

    Frames end at the CURRENT row (no future leakage — the same
    contract as the as-of join); ties on ``order`` break by
    ``id_col`` so the lag features are deterministic. ``roll_std`` is
    the sample stddev over the trailing ``window`` rows (NULL until
    two rows exist).
    """
    w = Window.partitionBy(by).orderBy(F.col(order), F.col(id_col))
    wf = w.rowsBetween(-(window - 1), 0)
    return events.select(
        id_col,
        by,
        order,
        value_col,
        F.lag(value_col, 1).over(w).alias("lag1"),
        F.lag(value_col, 2).over(w).alias("lag2"),
        F.avg(value_col).over(wf).alias("roll_mean"),
        F.stddev_samp(value_col).over(wf).alias("roll_std"),
        (F.count("*").over(wf) - 1).alias("n_prev"),
    )


def feature_matrix_sql(
    table: str = "events",
    by: str = "user_id",
    order: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    window: int = 5,
) -> str:
    frame = f"ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW"
    w = f"PARTITION BY {by} ORDER BY {order}, {id_col}"
    return f"""
SELECT {id_col}, {by}, {order}, {value_col},
       lag({value_col}, 1) OVER ({w}) AS lag1,
       lag({value_col}, 2) OVER ({w}) AS lag2,
       avg({value_col}) OVER ({w} {frame}) AS roll_mean,
       stddev_samp({value_col}) OVER ({w} {frame}) AS roll_std,
       count(*) OVER ({w} {frame}) - 1 AS n_prev
FROM {table}
"""


def psi_drift(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> DataFrame:
    """Population-stability-index drift audit per type: (event_type,
    n_ref, n_cur, psi).

    Reference sample = even ids, current = odd ids (a deterministic
    split standing in for "last week vs this week" — production passes
    two time windows). Boundaries come from the REFERENCE sample only
    (the monitoring contract: the baseline defines the bins), rounded
    before comparison. PSI = Σ (p−q)·ln(p/q) over bins with
    ``PSI_EPS`` smoothing; > 0.2 is the conventional drift alarm.

    NULL policy: NULL values are excluded from boundaries and counts on
    both engines (same divergence rationale as :func:`quantile_bin`).
    """
    ref_pred = F.col(id_col) % 2 == 0
    bnds = _rounded_boundaries(events.filter(ref_pred), value_col, n_bins)
    e = (
        events.select(type_col, value_col, ref_pred.alias("is_ref"))
        .filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bnds))
    )
    bin_ = F.aggregate(
        F.transform(F.col("bnds"), lambda b: (F.col(value_col) > b).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    )
    counts = (
        e.withColumn("bin", bin_)
        .groupBy(F.col(type_col).alias("event_type"), "bin")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("r"),
            F.sum((~F.col("is_ref")).cast("long")).alias("c"),
        )
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("r").alias("nr"), F.sum("c").alias("nc")
    )
    p = F.col("r") / F.col("nr") + F.lit(PSI_EPS)
    q = F.col("c") / F.col("nc") + F.lit(PSI_EPS)
    term = (p - q) * F.log(p / q)
    return (
        counts.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.min("nr").alias("n_ref"),
            F.min("nc").alias("n_cur"),
            F.sum(term).alias("psi"),
        )
    )


def psi_drift_sql(
    table: str = "events",
    value_col: str = "value",
    type_col: str = "event_type",
    id_col: str = "event_id",
    n_bins: int = 10,
) -> str:
    qs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    rb = siground_sql("b")
    eps = PSI_EPS
    return f"""
WITH bnds AS (
  SELECT list_transform(quantile_cont({value_col}, [{qs}]), b -> {rb}) AS bnds
  FROM {table} WHERE {id_col} % 2 = 0
), binned AS (
  SELECT {type_col} AS event_type,
         len(list_filter(bnds, b -> {value_col} > b)) AS bin,
         CASE WHEN {id_col} % 2 = 0 THEN 1 ELSE 0 END AS is_ref
  FROM {table}, bnds
  WHERE {value_col} IS NOT NULL
), counts AS (
  SELECT event_type, bin,
         CAST(sum(is_ref) AS BIGINT) AS r,
         CAST(sum(1 - is_ref) AS BIGINT) AS c
  FROM binned GROUP BY 1, 2
), tot AS (
  SELECT event_type, sum(r) AS nr, sum(c) AS nc FROM counts GROUP BY 1
)
SELECT event_type,
       CAST(min(nr) AS BIGINT) AS n_ref,
       CAST(min(nc) AS BIGINT) AS n_cur,
       sum(((r / nr + {eps}) - (c / nc + {eps}))
           * ln((r / nr + {eps}) / (c / nc + {eps}))) AS psi
FROM counts JOIN tot USING (event_type)
GROUP BY event_type
"""


def decayed_value(
    events: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
) -> DataFrame:
    """Per-entity exponential time-decay aggregate — the recency-
    weighted engagement/feature score every training pipeline wants
    next to its raw counts: ``Σ value·2^(−Δ/half_life)`` with Δ in days
    back from the corpus' newest event. (No counterpart in the
    reference; north-star feature tier next to :func:`feature_matrix`.)

    100 TB shape: the anchor (global max ts) is a 1-row broadcast; the
    score is then ONE map-side-combinable groupBy — the exchange
    carries ≤ entities × 4 partial aggregates, never events. No window,
    no sort: decay-from-a-fixed-anchor is algebraically a plain sum,
    unlike running-decay formulations that force an ordered scan.

    Cross-engine determinism: Δ is computed from INTEGER microsecond
    epochs (`unix_micros` here, `epoch_us` in the oracle), so both
    engines feed pow() bit-identical inputs; the 1-ulp pow/sum residue
    is absorbed by the siground output contract.
    """
    anchor = events.agg(F.unix_micros(F.max(ts_col)).alias("anchor_us"))
    delta_days = (F.col("anchor_us") - F.unix_micros(F.col(ts_col))) / F.lit(
        86400.0e6
    )
    w = F.pow(F.lit(0.5), delta_days / F.lit(half_life_days))
    return (
        events.crossJoin(F.broadcast(anchor))
        .groupBy(by)
        .agg(
            F.count("*").alias("n"),
            siground(F.sum(F.col(value_col) * w)).alias("decayed_sum"),
            siground(F.sum(w)).alias("decayed_n"),
            siground(F.min(delta_days)).alias("recency_days"),
        )
    )


def decayed_value_sql(
    table: str = "events",
    by: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
) -> str:
    d = f"(a.anchor_us - epoch_us({ts_col})) / 86400.0e6"
    w = f"pow(0.5, {d} / {half_life_days})"
    return f"""
WITH a AS (SELECT epoch_us(max({ts_col})) AS anchor_us FROM {table})
SELECT {by}, count(*) AS n,
       {siground_sql(f"sum({value_col} * {w})")} AS decayed_sum,
       {siground_sql(f"sum({w})")} AS decayed_n,
       {siground_sql(f"min({d})")} AS recency_days
FROM {table}, a GROUP BY {by}
"""


def winsorize_stats(
    events: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorization audit: clip ``value`` at the group's
    exact [lo, hi] percentiles and report how much mass moved — the
    outlier-robust feature-scaling pass (and its QA table) done as two
    bounded aggregates. Percentile boundaries are sigrounded BEFORE
    clipping (round-then-compare, the same contract as quantile_bin),
    so clip membership is engine-exact.

    100 TB shape: pass 1 shuffles ≤ |groups| percentile states (Spark's
    exact percentile aggregate is mergeable); the boundary table
    broadcasts back; pass 2 is one map-side-combinable groupBy. Values
    cross an exchange only as partial aggregates — never row-by-row.
    """
    v = F.col(value_col).isNotNull()
    bounds = (
        events.filter(v)
        .groupBy(F.col(type_col).alias("b_type"))
        .agg(
            siground(F.percentile(value_col, F.lit(lo))).alias("p_lo"),
            siground(F.percentile(value_col, F.lit(hi))).alias("p_hi"),
        )
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("p_lo")), F.col("p_hi"))
    return (
        events.filter(v)
        .join(F.broadcast(bounds), F.col(type_col) == F.col("b_type"))
        .groupBy(F.col(type_col).alias("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col(value_col) < F.col("p_lo")).cast("long")).alias(
                "n_clipped_lo"
            ),
            F.sum((F.col(value_col) > F.col("p_hi")).cast("long")).alias(
                "n_clipped_hi"
            ),
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            siground(F.avg(value_col)).alias("mean_raw"),
            siground(F.avg(clipped)).alias("mean_winsorized"),
        )
    )


def winsorize_stats_sql(
    table: str = "events",
    value_col: str = "value",
    type_col: str = "event_type",
    lo: float = 0.01,
    hi: float = 0.99,
) -> str:
    plo = siground_sql(f"quantile_cont({value_col}, {lo})")
    phi = siground_sql(f"quantile_cont({value_col}, {hi})")
    return f"""
WITH bounds AS (
  SELECT {type_col} AS b_type, {plo} AS p_lo, {phi} AS p_hi
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY {type_col}
)
SELECT {type_col} AS event_type, count(*) AS n,
  CAST(sum(CASE WHEN {value_col} < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
  CAST(sum(CASE WHEN {value_col} > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
  any_value(p_lo) AS p_lo, any_value(p_hi) AS p_hi,
  {siground_sql(f"avg({value_col})")} AS mean_raw,
  {siground_sql(f"avg(least(greatest({value_col}, p_lo), p_hi))")} AS mean_winsorized
FROM {table} JOIN bounds ON {type_col} = b_type
WHERE {value_col} IS NOT NULL
GROUP BY {type_col}
"""


# ---------------------------------------------------------------------------
# jackknife uncertainty (delete-one-block over deterministic hash blocks)
# ---------------------------------------------------------------------------


def jackknife_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_blocks: int = 50,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delete-one-block jackknife confidence interval for the mean per
    group (Quenouille/Tukey; the blocked form is the standard
    distributed-data variant — Efron & Stein 1981): rows land in one
    of ``n_blocks`` DETERMINISTIC hash blocks, θ₍ₖ₎ = mean with block
    k removed, SE² = (K−1)/K · Σ (θ₍ₖ₎ − θ̄)².

    Why not a bootstrap: resampling needs per-replicate randomness
    that is either non-deterministic (rand()) or an inverse-CDF loop;
    the blocked jackknife is closed-form, one pass, and its block
    assignment is the same portable integer hash every sampler in
    this repo uses — bit-identical in both engines.

    Scale shape: ONE combinable (group × block) aggregate (exchange =
    groups × K rows), then the K-row jackknife algebra per group —
    the raw rows never shuffle anywhere else.

    Output: (grp, n, mean, se_jack, ci_lo, ci_hi).
    """
    from dataframeutils_spark.operators.dedup import portable_hash60
    from dataframeutils_spark.schema import decround, siground

    blk = F.pmod(
        portable_hash60(F.concat(F.lit("jk:"), F.col(id_col).cast("string"))),
        F.lit(n_blocks),
    )
    per_block = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("double").alias("v"),
            blk.alias("b"),
        )
        # NULL values would inflate count(*) denominators while sum()
        # skips them — filter first so n counts exactly the summed rows
        .filter(F.col("v").isNotNull())
        .groupBy("grp", "b")
        .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
    )
    # NB: Spark column resolution is case-insensitive by default and so
    # is DuckDB's — a window alias "S" next to a column "s" silently
    # shadows it in BOTH engines (found as an all-zero-theta jackknife).
    # Every derived name here is therefore case-distinct from "s"/"c".
    w = Window.partitionBy("grp")
    loo = (
        per_block.withColumn("tot_s", F.sum("s").over(w))
        .withColumn("tot_c", F.sum("c").over(w))
        .withColumn("kb", F.count("*").over(w))
        .withColumn(
            "theta",
            # try_divide: a group whose rows all hash to ONE block has
            # tot_c - c == 0; DuckDB NULLs, Spark ANSI would throw
            F.try_divide(
                F.col("tot_s") - F.col("s"), F.col("tot_c") - F.col("c")
            ),
        )
    )
    agg = loo.groupBy("grp").agg(
        F.first("tot_c").alias("n"),
        F.first("kb").alias("k"),
        (F.first("tot_s") / F.first("tot_c")).alias("mean"),
        F.avg("theta").alias("tbar"),
        F.sum(F.col("theta") * F.col("theta")).alias("t2"),
    )
    var_j = (
        (F.col("k") - F.lit(1.0))
        / F.col("k")
        * (F.col("t2") - F.col("k") * F.col("tbar") * F.col("tbar"))
    )
    se = F.sqrt(F.greatest(F.lit(0.0), var_j))
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        siground(F.col("mean")).alias("mean"),
        decround(se).alias("se_jack"),
        siground(F.col("mean") - F.lit(z) * se).alias("ci_lo"),
        siground(F.col("mean") + F.lit(z) * se).alias("ci_hi"),
    )


def jackknife_ci_sql(
    table: str,
    group_expr: str,
    value_expr: str,
    id_expr: str,
    n_blocks: int = 50,
    z: float = 1.959963984540054,
) -> str:
    """DuckDB oracle for :func:`jackknife_ci` — same hash blocks and
    delete-one-block algebra."""
    from dataframeutils_spark.operators.dedup import portable_hash60_sql
    from dataframeutils_spark.schema import decround_sql, siground_sql

    h = portable_hash60_sql(f"('jk:' || CAST({id_expr} AS VARCHAR))")
    return f"""
WITH pb AS (
  SELECT {group_expr} AS grp, {h} % {n_blocks} AS b,
         sum(CAST({value_expr} AS DOUBLE)) AS s, count(*) AS c
  FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY 1, 2
), loo AS (
  SELECT grp, s, c,
         sum(s) OVER (PARTITION BY grp) AS tot_s,
         sum(c) OVER (PARTITION BY grp) AS tot_c,
         count(*) OVER (PARTITION BY grp) AS kb
  FROM pb
), th AS (
  SELECT grp, tot_s, tot_c, kb,
         (tot_s - s) / (tot_c - c) AS theta
  FROM loo
), agg AS (
  SELECT grp, any_value(tot_c) AS n, any_value(kb) AS k,
         any_value(tot_s) / any_value(tot_c) AS mean,
         avg(theta) AS tbar,
         sum(theta * theta) AS t2
  FROM th GROUP BY grp
), fin AS (
  SELECT *,
         sqrt(greatest(0.0,
           (k - 1.0) / k * (t2 - k * tbar * tbar))) AS se
  FROM agg
)
SELECT grp, CAST(n AS BIGINT) AS n,
       {siground_sql('mean')} AS mean,
       {decround_sql('se')} AS se_jack,
       {siground_sql(f'mean - {z} * se')} AS ci_lo,
       {siground_sql(f'mean + {z} * se')} AS ci_hi
FROM fin
"""


# ---------------------------------------------------------------------------
# rank / percentile transform (distribution-free feature scaling)
# ---------------------------------------------------------------------------


def rank_transform(long_df: DataFrame, min_len: int = 10) -> DataFrame:
    """Percentile (rank) transform per series: every observation
    mapped to its empirical percentile pct = (avg_rank − 1)/(n − 1)
    ∈ [0, 1] — the distribution-free scaling that makes fat-tailed
    features comparable for downstream models (quantile scaling /
    "rank-gauss without the gauss"), robust where z-scores are not.

    Ranks are tie-AVERAGED over the decimal-ROUNDED value (the
    engine-wide tie discipline: rank arithmetic stays on exact
    half-integers, tie structure is engine-identical). One exchange
    per series; output is one row per input observation.

    Output: (grp, feature, date, value, pct).
    """
    from dataframeutils_spark.schema import decround, gate_min_len

    g = gate_min_len(long_df, min_len).withColumn("_rv", decround(F.col("value")))
    wr = Window.partitionBy("grp", "feature").orderBy("_rv")
    wt = Window.partitionBy("grp", "feature", "_rv")
    avg_rank = F.rank().over(wr) + (F.count("*").over(wt) - F.lit(1)) / F.lit(2.0)
    return g.select(
        "grp",
        "feature",
        "date",
        siground(F.col("value")).alias("value"),
        ((avg_rank - F.lit(1.0)) / (F.col("_n") - F.lit(1)).cast("double")).alias(
            "pct"
        ),
    )


def rank_transform_sql(min_len: int = 10) -> str:
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    return with_panel(f"""
, g AS (
  SELECT grp, feature, date, value, {decround_sql('value')} AS rv,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), rk AS (
  SELECT grp, feature, date, value, n,
         rank() OVER (PARTITION BY grp, feature ORDER BY rv)
           + (count(*) OVER (PARTITION BY grp, feature, rv) - 1) / 2.0
           AS avg_rank
  FROM g
)
SELECT grp, feature, date,
       {siground_sql('value')} AS value,
       (avg_rank - 1.0) / CAST(n - 1 AS DOUBLE) AS pct
FROM rk
""")
