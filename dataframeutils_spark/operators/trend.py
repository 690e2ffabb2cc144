"""Trend & structural-change analytics over the standard panel.

Four classic time-series structure operators the reference's study
loop (``time_series_study/time_series_study.py``) stops short of,
each expressed as native window/aggregate plans (no Python kernels)
so they carry exact DuckDB oracles:

* :func:`changepoint_cusum` — CUSUM mean-shift detection (Page 1954;
  the max-|cumulative-deviation| form with the Brownian-bridge /
  Kolmogorov asymptotic p-value).
* :func:`seasonal_decompose` — additive moving-average seasonal
  decomposition (the classical statsmodels ``seasonal_decompose``
  algorithm: centered MA trend, phase-averaged seasonal, Hyndman
  seasonal/trend strength).
* :func:`panel_ols` — multiple linear regression per group via
  SUFFICIENT STATISTICS: one map-side-combinable aggregate produces
  the centered normal equations, solved closed-form (2 regressors →
  Cramer on the 2×2 covariance system). The canonical "distributed
  ML without moving data" pattern — at 100 TB the shuffle is
  groups × 10 doubles.
* :func:`theilsen_slope` — Theil–Sen robust trend (median of
  pairwise slopes) over a DETERMINISTIC hash-sampled row subset, so
  the pair count is bounded (~cap²/2) at any series length instead
  of O(n²).

Cross-engine determinism: every discontinuous step (the CUSUM
argmax, the Theil–Sen sample predicate) operates on values both
engines compute identically — the argmax ranks the decimal-ROUNDED
statistic (same pre-ranking round the textrank operator uses), and
the sample predicate is an exact integer hash comparison
(portable_hash60). Smooth outputs ride the engine-wide rounding
contract.

Scale notes (100 TB): every operator here is one or two shuffles on
(grp, feature) with map-side combine; no operator materializes more
than groups × bounded-constant rows after aggregation. The
Theil–Sen pair join is quadratic only in the per-series CAP (default
320 → ≤ 51k pairs per series regardless of raw length).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60
from dataframeutils_spark.schema import decround, gate_min_len

_EPOCH = "1970-01-01"


# ---------------------------------------------------------------------------
# CUSUM change-point
# ---------------------------------------------------------------------------


def changepoint_cusum(long_df: DataFrame, min_len: int = 30) -> DataFrame:
    """CUSUM mean-shift detection per (grp × feature).

    S_t = Σ_{i≤t} (x_i − x̄); the test statistic is
    max_t |S_t| / (s·√n) whose null distribution is the supremum of a
    Brownian bridge — the Kolmogorov distribution, giving the
    closed-form p-value 2·Σ_k (−1)^{k+1} exp(−2 k² λ²) (truncated at
    k=5; later terms < 1e-17 for any λ ≥ 0.4).

    The change point is the argmax date. Ranking happens on the
    decimal-ROUNDED normalized statistic with the date as tiebreak,
    so a last-ulp aggregation-order difference between engines cannot
    flip the argmax (same discipline as textrank's pre-ranking
    round). Returns one row per series:
    (grp, feature, n, cp_date, cusum_stat, p_value, mean_before,
    mean_after, shift_detected).
    """
    g = gate_min_len(long_df, min_len)
    w = Window.partitionBy("grp", "feature")
    wo = w.orderBy("date")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    d = (
        g.withColumn("_mean", F.avg("value").over(w))
        .withColumn("_sd", F.stddev_samp("value").over(w))
        .withColumn("_tot", F.sum("value").over(w))
        .withColumn("_s", F.sum(F.col("value") - F.col("_mean")).over(run))
        .withColumn("_psum", F.sum("value").over(run))
        .withColumn("_pcnt", F.count("value").over(run))
        .filter(F.col("_sd") > 0)
        .withColumn(
            "_stat",
            decround(F.abs("_s") / (F.col("_sd") * F.sqrt(F.col("_n")))),
        )
    )
    ranked = d.withColumn(
        "_rk",
        F.row_number().over(wo.orderBy(F.desc("_stat"), F.asc("date"))),
    ).filter(F.col("_rk") == 1)

    lam = F.col("_stat")
    kol_p = F.lit(2.0) * sum(
        F.lit(float((-1) ** (k + 1))) * F.exp(F.lit(-2.0 * k * k) * lam * lam)
        for k in range(1, 6)
    )
    return ranked.select(
        "grp",
        "feature",
        F.col("_n").alias("n"),
        F.col("date").alias("cp_date"),
        F.col("_stat").alias("cusum_stat"),
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), kol_p)).alias("p_value"),
        (F.col("_psum") / F.col("_pcnt")).alias("mean_before"),
        F.when(
            F.col("_n") > F.col("_pcnt"),
            (F.col("_tot") - F.col("_psum")) / (F.col("_n") - F.col("_pcnt")),
        ).alias("mean_after"),
        (F.col("_stat") > 1.358).cast("boolean").alias("shift_detected"),
    )


# ---------------------------------------------------------------------------
# classical seasonal decomposition
# ---------------------------------------------------------------------------


def seasonal_decompose(
    long_df: DataFrame, period: int = 7, min_len: int = 30
) -> DataFrame:
    """Additive moving-average decomposition, summarized per phase.

    The classical algorithm (statsmodels ``seasonal_decompose``, odd
    period): trend = centered ``period``-row moving average (rows
    without a full window get NULL trend and are excluded from all
    variance accounting on BOTH engines); detrended = value − trend;
    seasonal(phase) = mean of detrended at that phase, centered so
    the ``period`` seasonal effects sum to zero. Phase is epoch-days
    mod period — a pure integer both engines compute identically
    (calendar day-of-week builtins disagree on week start).

    Strengths are Hyndman's: seasonal = max(0, 1 − Var(R)/Var(S+R)),
    trend = max(0, 1 − Var(R)/Var(T+R)) — computed here as
    Var(remainder)/Var(detrended) and Var(remainder)/Var(deseasoned).

    Returns (grp, feature, phase, n_obs, seasonal, seasonal_strength,
    trend_strength): ``period`` rows per series.
    """
    if period % 2 == 0:
        raise ValueError("seasonal_decompose: only odd periods (centered MA)")
    half = period // 2
    g = gate_min_len(long_df, min_len)
    wo = Window.partitionBy("grp", "feature").orderBy("date")
    win = wo.rowsBetween(-half, half)

    d = (
        g.withColumn("_wn", F.count("value").over(win))
        .withColumn(
            "trend",
            F.when(F.col("_wn") == period, F.avg("value").over(win)),
        )
        .withColumn("detr", F.col("value") - F.col("trend"))
        .withColumn(
            "phase",
            F.pmod(F.datediff(F.col("date"), F.lit(_EPOCH)), F.lit(period)),
        )
    )
    ph = d.groupBy("grp", "feature", "phase").agg(
        F.avg("detr").alias("_sraw"),
        F.count("detr").alias("n_obs"),
    )
    wgf = Window.partitionBy("grp", "feature")
    ph = ph.withColumn("seasonal", F.col("_sraw") - F.avg("_sraw").over(wgf))

    rows = d.join(
        F.broadcast(ph.select("grp", "feature", "phase", "seasonal")),
        on=["grp", "feature", "phase"],
    ).filter(F.col("detr").isNotNull())
    strengths = rows.groupBy("grp", "feature").agg(
        F.var_samp(F.col("detr") - F.col("seasonal")).alias("_vr"),
        F.var_samp("detr").alias("_vd"),
        F.var_samp(F.col("value") - F.col("seasonal")).alias("_vt"),
    )
    zero = F.lit(0.0)
    # try_divide, not /: a flat-lined series has Var(detrended) == 0,
    # which DuckDB degrades to NULL but Spark 4's ANSI default THROWS
    # on; greatest() then ignores the NULL identically in both engines
    # (both treat greatest(0.0, NULL) as 0.0)
    strengths = strengths.select(
        "grp",
        "feature",
        F.greatest(
            zero, F.lit(1.0) - F.try_divide(F.col("_vr"), F.col("_vd"))
        ).alias("seasonal_strength"),
        F.greatest(
            zero, F.lit(1.0) - F.try_divide(F.col("_vr"), F.col("_vt"))
        ).alias("trend_strength"),
    )
    return ph.select("grp", "feature", "phase", "n_obs", "seasonal").join(
        F.broadcast(strengths), on=["grp", "feature"]
    )


# ---------------------------------------------------------------------------
# distributed OLS via sufficient statistics
# ---------------------------------------------------------------------------


def panel_ols(
    panel: DataFrame,
    y_col: str = "feature_3",
    x1_col: str = "feature_1",
    x2_col: str = "feature_2",
) -> DataFrame:
    """Per-group OLS of ``y ~ 1 + x1 + x2`` from sufficient statistics.

    One aggregate computes the centered second moments (via
    covar_samp/var_samp — map-side combinable, identical definitions
    in Spark and DuckDB); the 2×2 normal equations solve closed-form
    by Cramer's rule, and the intercept follows from the means. Also
    emits slope standard errors, t statistics and R². The entire
    computation shuffles groups × ~10 doubles — the pattern that
    replaces "collect and fit" at 100 TB.

    Returns (grp, n, beta0, beta1, beta2, se_beta1, se_beta2,
    t_beta1, t_beta2, r2).
    """
    y, x1, x2 = F.col("_y"), F.col("_x1"), F.col("_x2")
    base = panel.select(
        "grp",
        F.col(y_col).cast("double").alias("_y"),
        F.col(x1_col).cast("double").alias("_x1"),
        F.col(x2_col).cast("double").alias("_x2"),
    ).dropna()
    agg = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.avg(y).alias("my"),
        F.avg(x1).alias("m1"),
        F.avg(x2).alias("m2"),
        F.var_samp(x1).alias("v1"),
        F.var_samp(x2).alias("v2"),
        F.var_samp(y).alias("vy"),
        F.covar_samp(x1, x2).alias("c12"),
        F.covar_samp(x1, y).alias("c1y"),
        F.covar_samp(x2, y).alias("c2y"),
    )
    nm1 = F.col("n") - 1
    s11, s22, syy = F.col("v1") * nm1, F.col("v2") * nm1, F.col("vy") * nm1
    s12, s1y, s2y = F.col("c12") * nm1, F.col("c1y") * nm1, F.col("c2y") * nm1
    det = s11 * s22 - s12 * s12

    # n > 3: sigma2 divides by n - 3 (a 3-row group would hit ANSI
    # divide-by-zero on the Spark side while the oracle NULLs out)
    sol = agg.filter((F.abs(det) > 0) & (F.col("n") > 3)).select(
        "grp",
        "n",
        "my",
        "m1",
        "m2",
        syy.alias("syy"),
        s1y.alias("s1y"),
        s2y.alias("s2y"),
        s11.alias("s11"),
        s22.alias("s22"),
        det.alias("det"),
        ((s1y * s22 - s2y * s12) / det).alias("beta1"),
        ((s2y * s11 - s1y * s12) / det).alias("beta2"),
    )
    # clamp: on a near-perfect fit fp rounding can land sse a hair
    # below 0 — sqrt(negative) is NaN in Spark but an ERROR in DuckDB,
    # so BOTH sides clamp to 0 (se → 0 → try_divide/NULL t-stats)
    sse = F.greatest(
        F.lit(0.0),
        F.col("syy") - F.col("beta1") * F.col("s1y") - F.col("beta2") * F.col("s2y"),
    )
    sigma2 = sse / (F.col("n") - 3)
    se1 = F.sqrt(sigma2 * F.col("s22") / F.col("det"))
    se2 = F.sqrt(sigma2 * F.col("s11") / F.col("det"))
    return sol.select(
        "grp",
        "n",
        (
            F.col("my") - F.col("beta1") * F.col("m1") - F.col("beta2") * F.col("m2")
        ).alias("beta0"),
        "beta1",
        "beta2",
        se1.alias("se_beta1"),
        se2.alias("se_beta2"),
        # try_divide: a perfect fit (se == 0) or constant y (syy == 0)
        # must yield NULL like the oracle, not an ANSI crash
        F.try_divide(F.col("beta1"), se1).alias("t_beta1"),
        F.try_divide(F.col("beta2"), se2).alias("t_beta2"),
        (F.lit(1.0) - F.try_divide(sse, F.col("syy"))).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust slope (bounded pair count)
# ---------------------------------------------------------------------------


def theilsen_slope(
    long_df: DataFrame, cap: int = 320, min_len: int = 30
) -> DataFrame:
    """Theil–Sen robust trend per (grp × feature).

    slope = median over sampled pairs (i<j) of (v_j−v_i)/(x_j−x_i)
    with x = epoch days; intercept = median(v − slope·x) over the
    sampled rows (the scipy ``theilslopes(method='joint')``
    estimator). Rows are kept by the exact integer predicate
    ``portable_hash60(grp|feature|date) % P == 0`` with
    P = ⌈n/cap⌉ — deterministic, engine-portable, and bounding the
    pair join at ~cap²/2 per series whatever the raw length (the
    full O(n²) pair set is the textbook formulation and the scale
    trap).

    Returns (grp, feature, n, n_sampled, n_pairs, slope, intercept).
    """
    g = gate_min_len(long_df, min_len)
    p_expr = F.expr(f"(_n + {cap - 1}) div {cap}")
    sampled = (
        g.withColumn(
            "_h",
            portable_hash60(
                F.concat_ws("|", F.col("grp"), F.col("feature"), F.col("date").cast("string"))
            ),
        )
        .filter(F.pmod(F.col("_h"), p_expr) == 0)
        .select(
            "grp",
            "feature",
            "_n",
            F.datediff(F.col("date"), F.lit(_EPOCH)).cast("double").alias("x"),
            F.col("value").alias("v"),
        )
    )
    a = sampled.alias("a")
    b = sampled.select("grp", "feature", "x", "v").alias("b")
    pairs = a.join(b, on=["grp", "feature"]).filter(F.col("b.x") > F.col("a.x"))
    slopes = pairs.select(
        "grp",
        "feature",
        F.col("a._n").alias("_n"),
        ((F.col("b.v") - F.col("a.v")) / (F.col("b.x") - F.col("a.x"))).alias("sl"),
    )
    med = slopes.groupBy("grp", "feature").agg(
        F.first("_n").alias("n"),
        F.count("*").alias("n_pairs"),
        F.percentile("sl", 0.5).alias("slope"),
    )
    joined = sampled.join(
        F.broadcast(med.select("grp", "feature", "slope")), on=["grp", "feature"]
    )
    inter = joined.groupBy("grp", "feature").agg(
        F.count("*").alias("n_sampled"),
        F.percentile(F.col("v") - F.col("slope") * F.col("x"), 0.5).alias(
            "intercept"
        ),
    )
    return med.join(inter, on=["grp", "feature"]).select(
        "grp", "feature", "n", "n_sampled", "n_pairs", "slope", "intercept"
    )


# ---------------------------------------------------------------------------
# dynamic time warping (exact-oracled)
# ---------------------------------------------------------------------------


def dtw_weekly(
    panel: DataFrame,
    a_col: str = "feature_1",
    b_col: str = "feature_3",
    min_len: int = 20,
) -> DataFrame:
    """DTW (L1 cost) between two z-normalized weekly-resampled series
    per group — "do volumes follow prices up to elastic time shifts?",
    the alignment question lag-correlation (fixed shift) can't answer.

    The classical quadratic DP — dp[i][j] = |a_i − b_j| +
    min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1]) — runs as a numpy kernel
    per group. DP evaluation is CONFLUENT (each cell's value is
    order-independent), so the DuckDB oracle replays the identical
    recurrence as an anti-diagonal wavefront recursive CTE (no
    intra-step dependency on a diagonal) and lands on the same
    doubles; aggregation-ulp noise in the z-normalization stays
    continuous through min() and is absorbed by the rounding
    contract.

    Scale notes: the DP is quadratic in SERIES LENGTH, which is
    calendar-bounded by the weekly grain (≈52·years points), not
    corpus-bounded — at 100 TB only the resample aggregation grows,
    and that is one map-side-combinable groupBy. Groups run in
    parallel as independent Arrow batches.

    Output: (grp, n_weeks, dtw_l1, dtw_per_step).
    """
    import numpy as np
    import pandas as pd

    wk = (
        panel.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(
            "grp", F.date_trunc("week", F.col("date")).cast("date").alias("week")
        )
        .agg(F.avg(a_col).alias("a"), F.avg(b_col).alias("b"))
    )
    w = Window.partitionBy("grp")
    gated = (
        wk.withColumn("_n", F.count("*").over(w))
        .withColumn("_sa", F.stddev_samp("a").over(w))
        .withColumn("_sb", F.stddev_samp("b").over(w))
        .filter((F.col("_n") >= min_len) & (F.col("_sa") > 0) & (F.col("_sb") > 0))
        .drop("_n", "_sa", "_sb")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("week")
        a = pdf["a"].to_numpy(dtype=float)
        b = pdf["b"].to_numpy(dtype=float)
        a = (a - a.mean()) / a.std(ddof=1)
        b = (b - b.mean()) / b.std(ddof=1)
        n = len(a)
        dp = np.full((n + 1, n + 1), np.inf)
        dp[0, 0] = 0.0
        for i in range(1, n + 1):
            cost = np.abs(a[i - 1] - b)
            row, prev = dp[i], dp[i - 1]
            for j in range(1, n + 1):
                row[j] = cost[j - 1] + min(prev[j], row[j - 1], prev[j - 1])
        d = float(dp[n, n])
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "n_weeks": [n],
                "dtw_l1": [d],
                "dtw_per_step": [d / n],
            }
        )

    return gated.groupBy("grp").applyInPandas(
        kernel, schema="grp string, n_weeks int, dtw_l1 double, dtw_per_step double"
    )


def dtw_weekly_sql(
    a_col: str = "feature_1", b_col: str = "feature_3", min_len: int = 20
) -> str:
    """DuckDB oracle for :func:`dtw_weekly`: the same DP as an
    anti-diagonal wavefront recursive CTE. Diagonal d holds cells
    (i, d−i); each new diagonal is a list comprehension over i needing
    only the two previous diagonals — no intra-step dependency, unlike
    a row sweep. Callers prepend the panel CTE (WITH RECURSIVE)."""
    from dataframeutils_spark.schema import decround_sql, siground_sql

    inf = "CAST('infinity' AS DOUBLE)"
    # dp cell (i, j=d-i): cost + min of west/north/northwest from the
    # prior diagonals; list index out of range -> NULL -> infinity
    step = f"""[
        CASE WHEN d.d + 1 - i BETWEEN 1 AND m.n AND i <= m.n
             THEN abs(m.av[i] - m.bv[d.d + 1 - i])
                  + CASE WHEN i = 1 AND d.d + 1 - i = 1 THEN 0.0
                         ELSE least(
                           coalesce(d.cur[i - 1], {inf}),
                           coalesce(d.cur[i], {inf}),
                           coalesce(d.prev[i - 1], {inf})) END
             ELSE {inf} END
        for i in range(1, m.n + 1)]"""
    return f"""
wk AS (
  SELECT grp, date_trunc('week', date)::DATE AS week,
         avg({a_col}) AS a, avg({b_col}) AS b
  FROM panel
  WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
  GROUP BY 1, 2
), meta AS (
  SELECT grp, count(*) AS n,
         list(za ORDER BY week) AS av, list(zb ORDER BY week) AS bv
  FROM (
    SELECT grp, week,
           (a - avg(a) OVER (PARTITION BY grp)) / stddev_samp(a) OVER (PARTITION BY grp) AS za,
           (b - avg(b) OVER (PARTITION BY grp)) / stddev_samp(b) OVER (PARTITION BY grp) AS zb
    FROM wk
    QUALIFY count(*) OVER (PARTITION BY grp) >= {min_len}
        AND stddev_samp(a) OVER (PARTITION BY grp) > 0
        AND stddev_samp(b) OVER (PARTITION BY grp) > 0
  )
  GROUP BY grp
), dp AS (
  SELECT grp, 2 AS d,
         [CASE WHEN i = 1 THEN abs(av[1] - bv[1]) ELSE {inf} END
          for i in range(1, n + 1)] AS cur,
         [{inf} for i in range(1, n + 1)] AS prev
  FROM meta
  UNION ALL
  SELECT d.grp, d.d + 1,
         {step} AS cur,
         d.cur AS prev
  FROM dp d JOIN meta m ON m.grp = d.grp
  WHERE d.d < 2 * m.n
)
SELECT dp.grp, CAST(m.n AS INT) AS n_weeks,
       {siground_sql('dp.cur[m.n]')} AS dtw_l1,
       {decround_sql('dp.cur[m.n] / m.n')} AS dtw_per_step
FROM dp JOIN meta m ON m.grp = dp.grp
WHERE dp.d = 2 * m.n
"""


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov (distribution drift)
# ---------------------------------------------------------------------------


def ks_two_sample(long_df: DataFrame, min_len: int = 40) -> DataFrame:
    """Two-sample KS test per series: did the distribution DRIFT
    between the first and second half of the observation window? The
    distribution-level complement to :func:`changepoint_cusum` (which
    only sees the mean).

    Split at the integer midpoint epoch-day; D = max |F₁(x) − F₂(x)|
    over the pooled sample, built from per-distinct-value cumulative
    counts. Values are decimal-ROUNDED before grouping so the tie
    structure (which exact doubles collapse into one ECDF step) is
    identical in both engines — without it, a 1-ulp aggregation
    difference could merge two steps in one engine only and shift D
    by 1/n. The p-value is the Kolmogorov series at the
    finite-sample-corrected λ = (√nₑ + 0.12 + 0.11/√nₑ)·D
    (Stephens 1970), the same 5-term closed form the CUSUM operator
    uses.

    Scale shape: one (series × distinct-value) combinable aggregate,
    then windows over the value table — raw rows shuffle once.

    Output: (grp, feature, n1, n2, ks_stat, p_value, drift_detected).
    """
    g = gate_min_len(long_df, min_len)
    w = Window.partitionBy("grp", "feature")
    day = F.datediff(F.col("date"), F.lit(_EPOCH))
    g = g.withColumn(
        "_side",
        (day * 2 < F.min(day).over(w) + F.max(day).over(w)).cast("int"),
    ).withColumn("_rv", decround(F.col("value")))
    cell = g.groupBy("grp", "feature", "_rv").agg(
        F.sum("_side").alias("c1"),
        F.sum(F.lit(1) - F.col("_side")).alias("c2"),
    )
    wv = (
        Window.partitionBy("grp", "feature")
        .orderBy("_rv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("grp", "feature")
    scored = (
        cell.withColumn("n1", F.sum("c1").over(wg))
        .withColumn("n2", F.sum("c2").over(wg))
        .withColumn("f1", F.sum("c1").over(wv) / F.col("n1"))
        .withColumn("f2", F.sum("c2").over(wv) / F.col("n2"))
    )
    agg = (
        scored.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("grp", "feature")
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            decround(F.max(F.abs(F.col("f1") - F.col("f2")))).alias("ks_stat"),
        )
    )
    ne = F.col("n1").cast("double") * F.col("n2") / (F.col("n1") + F.col("n2"))
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * F.col("ks_stat")
    kol_p = F.lit(2.0) * sum(
        F.lit(float((-1) ** (k + 1))) * F.exp(F.lit(-2.0 * k * k) * lam * lam)
        for k in range(1, 6)
    )
    p = F.greatest(F.lit(0.0), F.least(F.lit(1.0), kol_p))
    return agg.select(
        "grp",
        "feature",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "ks_stat",
        decround(p).alias("p_value"),
        (decround(p) < 0.05).alias("drift_detected"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart (exact-oracled sequential fold)
# ---------------------------------------------------------------------------


def ewma_control(
    long_df: DataFrame,
    lam: float = 0.2,
    limit_l: float = 3.0,
    min_len: int = 30,
) -> DataFrame:
    """EWMA control chart per series (Roberts 1959; the SPC standard
    for detecting SMALL sustained shifts CUSUM's single change-point
    frame doesn't report): s_i = λx_i + (1−λ)s_{i−1}, s_0 = x̄, with
    time-varying limits x̄ ± L·σ·√(λ/(2−λ)·(1−(1−λ)^{2i})).

    The recursion is a genuine sequential fold — expressed as ONE
    in-plan ``aggregate`` over the date-sorted value array per series
    (bounded: the panel is calendar-bounded), mirrored exactly by a
    recursive-CTE in the oracle (the DTW/Viterbi precedent). Two
    determinism choices make the fold engine-exact: (1−λ)^{2i} is
    CARRIED in the accumulator by sequential multiplication (never
    ``pow``, whose libm rounding differs across engines), and the
    out-of-control predicate compares the decimal-ROUNDED margin
    |s_i − x̄| − limit_i (round-before-compare, the engine contract
    for every discontinuous step).

    Scale: one groupBy collecting each series once (series are
    calendar-bounded; the 100 TB axis is #series, not length) — the
    same shape as every panel fit here; state per series is four
    numbers.

    Output: (grp, feature, n, n_violations, first_violation,
    last_ewma) — first_violation is the 1-based index, 0 if none.
    """
    g = gate_min_len(long_df, min_len)
    om = 1.0 - lam
    om2 = om * om
    ratio = lam / (2.0 - lam)
    base = g.groupBy("grp", "feature").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("mu"),
        F.coalesce(F.stddev_samp("value"), F.lit(0.0)).alias("sd"),
        F.array_sort(
            F.collect_list(F.struct(F.col("date").alias("d"), F.col("value").alias("v")))
        ).alias("seq"),
    )

    def step(acc, x):
        s_new = F.lit(lam) * x["v"] + F.lit(om) * acc["s"]
        pw_new = acc["pw"] * F.lit(om2)
        lim = (
            F.lit(limit_l)
            * F.col("sd")
            * F.sqrt(F.lit(ratio) * (F.lit(1.0) - pw_new))
        )
        margin = decround(F.abs(s_new - F.col("mu")) - lim)
        flag = F.when(margin > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        i_new = acc["i"] + F.lit(1).cast("long")
        return F.struct(
            i_new.alias("i"),
            s_new.alias("s"),
            pw_new.alias("pw"),
            (acc["viol"] + flag).alias("viol"),
            F.when(acc["fv"] > 0, acc["fv"])
            .otherwise(F.when(flag == 1, i_new).otherwise(F.lit(0).cast("long")))
            .alias("fv"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("i"),
        F.col("mu").alias("s"),
        F.lit(1.0).alias("pw"),
        F.lit(0).cast("long").alias("viol"),
        F.lit(0).cast("long").alias("fv"),
    )
    acc = F.aggregate(F.col("seq"), init, step)
    return base.select(
        "grp",
        "feature",
        F.col("n").cast("long").alias("n"),
        acc["viol"].alias("n_violations"),
        acc["fv"].alias("first_violation"),
        decround(acc["s"]).alias("last_ewma"),
    )


def ewma_control_sql(
    lam: float = 0.2, limit_l: float = 3.0, min_len: int = 30
) -> str:
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    om = 1.0 - lam
    om2 = om * om
    ratio = lam / (2.0 - lam)
    # Two single-pass APPEND-folds (s-sequence, pw-sequence), then one
    # element-wise transform for the violation flags. NOT a recursive
    # CTE (DuckDB re-evaluates the joined source CTE every iteration —
    # measured 50 s vs sub-second here) and NOT a struct-accumulator
    # list_reduce: DuckDB 1.0 inlines cross-field ``acc.x`` references
    # inside a struct-literal lambda to the NEW field expressions
    # (measured: a later field reading an earlier field sees it
    # post-update, and a kept "first index" field silently tracks the
    # running index), so the only reliable accumulator reference is
    # the accumulator ITSELF — hence lists, where acc[len(acc)] is
    # exact. Each fold's arithmetic is the identical sequential
    # expression Spark's aggregate() evaluates, in the same order; the
    # (1-lam)^(2i) term is CARRIED by multiplication (never pow, whose
    # libm rounding differs across engines). Pinned against an
    # independent Python replay in tests/test_rank_winnow_ewma.py.
    margin = decround_sql(
        f"abs(slist[i + 1] - mu) - "
        f"{limit_l!r} * sd * sqrt({ratio!r} * (1.0 - pwl[i + 1]))"
    )
    return with_panel(f"""
, gated AS (
  SELECT grp, feature, date, value,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), ser AS (
  SELECT grp, feature, count(*) AS n, avg(value) AS mu,
         COALESCE(stddev_samp(value), 0.0) AS sd,
         list(CAST(value AS DOUBLE) ORDER BY date) AS vl
  FROM gated GROUP BY grp, feature
), folded AS (
  SELECT grp, feature, n, mu, sd,
         list_reduce(list_prepend([mu], [[v] for v in vl]),
           (acc, e) -> list_append(acc, {lam!r} * e[1] + {om!r} * acc[len(acc)])
         ) AS slist,
         list_reduce(list_prepend([CAST(1.0 AS DOUBLE)], [[CAST(0.0 AS DOUBLE)] for v in vl]),
           (acc, e) -> list_append(acc, acc[len(acc)] * {om2!r})
         ) AS pwl
  FROM ser
), flagged AS (
  SELECT grp, feature, n, slist,
         list_filter(
           list_transform(range(1, n + 1),
             i -> CASE WHEN {margin} > 0 THEN i ELSE CAST(0 AS BIGINT) END),
           x -> x > 0) AS viols
  FROM folded
)
SELECT grp, feature, CAST(n AS BIGINT) AS n,
       CAST(len(viols) AS BIGINT) AS n_violations,
       CAST(CASE WHEN len(viols) > 0 THEN viols[1] ELSE 0 END AS BIGINT)
         AS first_violation,
       {decround_sql('slist[n + 1]')} AS last_ewma
FROM flagged
""")


# ---------------------------------------------------------------------------
# Jensen–Shannon drift (binned, bounded, symmetric)
# ---------------------------------------------------------------------------


def js_drift(
    long_df: DataFrame, n_bins: int = 20, min_len: int = 40
) -> DataFrame:
    """Jensen–Shannon drift per series between the first and second
    half of the window (the ks_two_sample split): the SYMMETRIC,
    always-finite complement to PSI (which explodes on empty bins)
    and KS (which only sees the single largest ECDF gap — JS
    integrates mass movement everywhere).

    Values are decimal-ROUNDED first (identical doubles in both
    engines), then binned into ``n_bins`` equal-width buckets of the
    series' rounded [min, max] — every arithmetic step downstream of
    the rounding is the same IEEE expression on the same inputs, so
    bin membership is engine-exact. JS = ½Σp·ln(p/m) + ½Σq·ln(q/m)
    with m = (p+q)/2 (zero-mass terms contribute 0 by the CASE
    guard); ``js_dist`` = √(JS/ln 2) ∈ [0,1] is the metric form.

    Scale: one (series × bin) combinable aggregate after the
    side/bin projection — bins are a constant, so the post-shuffle
    table is series × n_bins rows at any corpus size.

    Output: (grp, feature, n1, n2, js_div, js_dist, drifted).
    """
    g = gate_min_len(long_df, min_len)
    w = Window.partitionBy("grp", "feature")
    day = F.datediff(F.col("date"), F.lit(_EPOCH))
    g = (
        g.withColumn(
            "_side",
            (day * 2 < F.min(day).over(w) + F.max(day).over(w)).cast("int"),
        )
        .withColumn("_rv", decround(F.col("value")))
        .withColumn("_mn", F.min("_rv").over(w))
        .withColumn("_mx", F.max("_rv").over(w))
        .filter(F.col("_mx") > F.col("_mn"))
    )
    bin_ = F.least(
        F.floor(
            (F.col("_rv") - F.col("_mn"))
            / (F.col("_mx") - F.col("_mn"))
            * n_bins
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    cell = g.groupBy("grp", "feature", bin_.alias("bin")).agg(
        F.sum("_side").alias("c1"),
        F.sum(F.lit(1) - F.col("_side")).alias("c2"),
    )
    wg = Window.partitionBy("grp", "feature")
    cell = (
        cell.withColumn("n1", F.sum("c1").over(wg))
        .withColumn("n2", F.sum("c2").over(wg))
        .withColumn("p", F.col("c1") / F.col("n1").cast("double"))
        .withColumn("q", F.col("c2") / F.col("n2").cast("double"))
        .withColumn("m", (F.col("p") + F.col("q")) / F.lit(2.0))
    )
    term = F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(
        F.lit(0.0)
    ) * F.lit(0.5) + F.when(
        F.col("q") > 0, F.col("q") * F.log(F.col("q") / F.col("m"))
    ).otherwise(F.lit(0.0)) * F.lit(0.5)
    agg = (
        cell.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("grp", "feature")
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.sum(term).alias("_js"),
        )
    )
    js = decround(F.greatest(F.lit(0.0), F.col("_js")))
    import math

    return agg.select(
        "grp",
        "feature",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        js.alias("js_div"),
        decround(F.sqrt(js / F.lit(math.log(2.0)))).alias("js_dist"),
        (js > 0.05).alias("drifted"),
    )


def js_drift_sql(n_bins: int = 20, min_len: int = 40) -> str:
    import math

    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    rv = decround_sql("value")
    term = (
        "0.5 * CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0.0 END"
        " + 0.5 * CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0.0 END"
    )
    js = decround_sql("greatest(0.0, js0)")
    return with_panel(f"""
, g AS (
  SELECT grp, feature, {rv} AS rv,
         CASE WHEN (date - DATE '{_EPOCH}') * 2 <
                   min(date - DATE '{_EPOCH}') OVER (PARTITION BY grp, feature)
                 + max(date - DATE '{_EPOCH}') OVER (PARTITION BY grp, feature)
              THEN 1 ELSE 0 END AS side,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), bounded AS (
  SELECT *, min(rv) OVER (PARTITION BY grp, feature) AS mn,
            max(rv) OVER (PARTITION BY grp, feature) AS mx
  FROM g
  QUALIFY mx > mn
), cell AS (
  SELECT grp, feature,
         CAST(least(floor((rv - mn) / (mx - mn) * {n_bins}),
                    {n_bins - 1}) AS INTEGER) AS bin,
         sum(side) AS c1, sum(1 - side) AS c2
  FROM bounded GROUP BY 1, 2, 3
), probs AS (
  SELECT grp, feature, c1, c2,
         sum(c1) OVER (PARTITION BY grp, feature) AS n1,
         sum(c2) OVER (PARTITION BY grp, feature) AS n2
  FROM cell
), pq AS (
  SELECT grp, feature, n1, n2,
         c1 / CAST(n1 AS DOUBLE) AS p,
         c2 / CAST(n2 AS DOUBLE) AS q,
         (c1 / CAST(n1 AS DOUBLE) + c2 / CAST(n2 AS DOUBLE)) / 2.0 AS m
  FROM probs WHERE n1 > 0 AND n2 > 0
), agg AS (
  SELECT grp, feature, any_value(n1) AS n1, any_value(n2) AS n2,
         sum({term}) AS js0
  FROM pq GROUP BY grp, feature
)
SELECT grp, feature, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       {js} AS js_div,
       {decround_sql(f'sqrt({js} / {math.log(2.0)!r})')} AS js_dist,
       {js} > 0.05 AS drifted
FROM agg
""")


# ---------------------------------------------------------------------------
# Holt linear-trend exponential smoothing + h-step forecast
# ---------------------------------------------------------------------------


def holt_forecast(
    long_df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 4,
    min_len: int = 30,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per series (Holt
    1957 — the forecasting member of the trend family next to
    ewma_control's SPC chart): fixed-parameter double smoothing

        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized l_1 = y_1, b_1 = 0, with the one-step-ahead fit error
    e_t = y_t − (l_{t−1} + b_{t−1}) accumulated into SSE/RMSE (the
    in-sample quality dial) and the h-step forecast ŷ_{n+h} =
    l_n + h·b_n emitted for h = 1..``horizon``. Fixed smoothing
    parameters — not MLE iteration — keep the whole computation a
    deterministic sequential fold, so it is EXACTLY oracle-checkable
    (the ewma_control discipline).

    Determinism: the engine folds a struct accumulator over the
    date-sorted series; the DuckDB oracle replays the identical
    arithmetic with the ONLY reliable DuckDB-1.0 accumulator — a flat
    list where each step appends (l_t, b_t), so every cross-field
    reference reads acc[len-1]/acc[len] (the ewma fold note); squared
    errors use d·d (never pow). Floats decimal-rounded at the edge.

    Scale: one groupBy collecting each calendar-bounded series once —
    the 100 TB axis is #series; state per series is the array.

    Output: (grp, feature, n, level, trend, rmse, fc_1..fc_h).
    """
    from dataframeutils_spark.schema import decround

    g = gate_min_len(long_df, min_len)
    base = g.groupBy("grp", "feature").agg(
        F.count("*").alias("n"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("date").alias("d"), F.col("value").alias("v"))
            )
        ).alias("seq"),
    )
    rest = F.expr("slice(seq, 2, size(seq) - 1)")

    def step(acc, x):
        pred = acc["l"] + acc["b"]
        err = x["v"] - pred
        l_new = F.lit(alpha) * x["v"] + F.lit(1.0 - alpha) * pred
        b_new = (
            F.lit(beta) * (l_new - acc["l"]) + F.lit(1.0 - beta) * acc["b"]
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            (acc["sse"] + err * err).alias("sse"),
        )

    init = F.struct(
        F.element_at(F.col("seq"), 1)["v"].alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("sse"),
    )
    acc = F.aggregate(rest, init, step)
    nm1 = (F.col("n") - 1).cast("double")
    return base.select(
        "grp",
        "feature",
        F.col("n").cast("long").alias("n"),
        decround(acc["l"]).alias("level"),
        decround(acc["b"]).alias("trend"),
        decround(F.sqrt(acc["sse"] / nm1)).alias("rmse"),
        *[
            decround(acc["l"] + F.lit(float(h)) * acc["b"]).alias(f"fc_{h}")
            for h in range(1, horizon + 1)
        ],
    )


def holt_forecast_sql(
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 4,
    min_len: int = 30,
) -> str:
    """DuckDB oracle for :func:`holt_forecast` — the flat-list fold:
    acc = [l_1, b_1, l_2, b_2, …]; each step reads l/b as the last
    two elements and appends the new pair (b_new inlines l_new's
    expression — duplicated arithmetic is float-identical). SSE is
    recomputed post-hoc from the stored l/b trajectory, summed in the
    same left-to-right order as the engine's sequential adds."""
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    a, b1 = alpha, beta
    oa, ob = 1.0 - alpha, 1.0 - beta
    l_new = f"({a!r} * e[1] + {oa!r} * (acc[len(acc) - 1] + acc[len(acc)]))"
    b_new = (
        f"({b1!r} * ({l_new} - acc[len(acc) - 1]) + {ob!r} * acc[len(acc)])"
    )
    # e_t = vl[t] - (l_{t-1} + b_{t-1}); l_{t-1} = lbl[2t-3], b = lbl[2t-2]
    err = "(vl[t] - (lbl[2 * t - 3] + lbl[2 * t - 2]))"
    fcs = ",\n       ".join(
        decround_sql(f"lbl[2 * n - 1] + {float(h)!r} * lbl[2 * n]")
        + f" AS fc_{h}"
        for h in range(1, horizon + 1)
    )
    return with_panel(f"""
, gated AS (
  SELECT grp, feature, date, value,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), ser AS (
  SELECT grp, feature, count(*) AS n,
         list(CAST(value AS DOUBLE) ORDER BY date) AS vl
  FROM gated GROUP BY grp, feature
), folded AS (
  SELECT grp, feature, n, vl,
         list_reduce(
           list_prepend([vl[1], CAST(0.0 AS DOUBLE)],
                        [[v] for v in vl[2:]]),
           (acc, e) -> list_append(list_append(acc, {l_new}), {b_new})
         ) AS lbl
  FROM ser
), scored AS (
  SELECT grp, feature, n, lbl,
         list_sum(list_transform(range(2, n + 1),
                                 t -> {err} * {err})) AS sse
  FROM folded
)
SELECT grp, feature, CAST(n AS BIGINT) AS n,
       {decround_sql('lbl[2 * n - 1]')} AS level,
       {decround_sql('lbl[2 * n]')} AS trend,
       {decround_sql('sqrt(sse / (n - 1))')} AS rmse,
       {fcs}
FROM scored
""")


# ---------------------------------------------------------------------------
# seasonal anomaly report (row-level monitoring over the decomposition)
# ---------------------------------------------------------------------------


def seasonal_anomalies(
    long_df: DataFrame,
    period: int = 7,
    z_thresh: float = 3.0,
    min_len: int = 30,
) -> DataFrame:
    """Row-level anomalies AFTER removing trend and seasonality — the
    monitoring money query the decomposition exists for: a Monday
    spike is only an anomaly relative to what Mondays normally do on
    top of the local trend. Residual = value − centered-MA trend −
    phase seasonal effect (the seasonal_decompose algebra, full-MA
    rows only); per-series residual z-score; emit rows with rounded
    |z| > ``z_thresh``.

    Completes the monitoring ladder: distribution-level drift
    (ks/js/psi), battery-level FDR control (drift_fdr), and now the
    row level (WHICH observation, not just which series).

    Determinism: z compares the decimal-ROUNDED score
    (round-before-compare); phase is epoch-days mod period (calendar
    builtins disagree on week anchoring across engines).

    Scale: the same one-exchange window pipeline as
    seasonal_decompose plus one bounded per-series moment aggregate
    broadcast back; output is only the anomalous rows.

    Output: (grp, feature, date, phase, value, expected, resid, z).
    """
    from dataframeutils_spark.schema import decround

    if period % 2 == 0:
        raise ValueError("seasonal_anomalies: only odd periods (centered MA)")
    half = period // 2
    g = gate_min_len(long_df, min_len)
    wo = Window.partitionBy("grp", "feature").orderBy("date")
    win = wo.rowsBetween(-half, half)
    d = (
        g.withColumn("_wn", F.count("value").over(win))
        .withColumn(
            "trend",
            F.when(F.col("_wn") == period, F.avg("value").over(win)),
        )
        .withColumn("detr", F.col("value") - F.col("trend"))
        .withColumn(
            "phase",
            F.pmod(F.datediff(F.col("date"), F.lit(_EPOCH)), F.lit(period)),
        )
    )
    ph = d.groupBy("grp", "feature", "phase").agg(F.avg("detr").alias("_sraw"))
    wgf = Window.partitionBy("grp", "feature")
    ph = ph.withColumn("seasonal", F.col("_sraw") - F.avg("_sraw").over(wgf))
    rows = d.join(
        F.broadcast(ph.select("grp", "feature", "phase", "seasonal")),
        on=["grp", "feature", "phase"],
    ).filter(F.col("detr").isNotNull())
    rows = rows.withColumn("resid", F.col("detr") - F.col("seasonal"))
    mom = rows.groupBy("grp", "feature").agg(
        F.avg("resid").alias("_rm"),
        F.stddev_samp("resid").alias("_rs"),
    )
    z = decround(
        F.try_divide(F.col("resid") - F.col("_rm"), F.col("_rs"))
    )
    return (
        rows.join(F.broadcast(mom), on=["grp", "feature"])
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > z_thresh)
        .select(
            "grp",
            "feature",
            "date",
            F.col("phase").cast("int").alias("phase"),
            decround(F.col("value")).alias("value"),
            decround(F.col("trend") + F.col("seasonal")).alias("expected"),
            decround(F.col("resid")).alias("resid"),
            "z",
        )
    )


def seasonal_anomalies_sql(
    period: int = 7, z_thresh: float = 3.0, min_len: int = 30
) -> str:
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    half = period // 2
    z = decround_sql("(resid - rm) / NULLIF(rs, 0)")
    return with_panel(f"""
, g AS (
  SELECT grp, feature, date, value,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), d AS (
  SELECT grp, feature, date, value,
         CASE WHEN count(value) OVER win = {period}
              THEN avg(value) OVER win END AS trend,
         ((date - DATE '1970-01-01') % {period} + {period}) % {period}
           AS phase
  FROM g
  WINDOW win AS (PARTITION BY grp, feature ORDER BY date
                 ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
), dd AS (
  SELECT *, value - trend AS detr FROM d
), ph AS (
  SELECT grp, feature, phase, avg(detr) AS sraw
  FROM dd GROUP BY grp, feature, phase
), ph2 AS (
  SELECT grp, feature, phase,
         sraw - avg(sraw) OVER (PARTITION BY grp, feature) AS seasonal
  FROM ph
), rws AS (
  SELECT dd.grp, dd.feature, dd.date, dd.phase, dd.value, dd.trend,
         p.seasonal, dd.detr - p.seasonal AS resid
  FROM dd JOIN ph2 p
    ON p.grp = dd.grp AND p.feature = dd.feature AND p.phase = dd.phase
  WHERE dd.detr IS NOT NULL
), mom AS (
  SELECT grp, feature, avg(resid) AS rm, stddev_samp(resid) AS rs
  FROM rws GROUP BY grp, feature
)
SELECT r.grp, r.feature, r.date, CAST(r.phase AS INT) AS phase,
       {decround_sql('r.value')} AS value,
       {decround_sql('r.trend + r.seasonal')} AS expected,
       {decround_sql('r.resid')} AS resid,
       {z} AS z
FROM rws r JOIN mom m ON m.grp = r.grp AND m.feature = r.feature
WHERE abs({z}) > {z_thresh}
""")
