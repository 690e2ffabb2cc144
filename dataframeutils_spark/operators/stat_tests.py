"""Fit-based statistical operators (reference A2/A3, A4-LjungBox, A5,
A10, A11) as Arrow-batched ``applyInPandas`` kernels over the pure-numpy
implementations in :mod:`dataframeutils_spark.functions.stats`.

Design rules (SURVEY §4):

* min-length guards are pushed *before* the Python stage — a window
  count + filter keeps short series out of the UDF entirely (the
  reference checks lengths inside its per-group loop);
* each kernel sorts its group by date internally (``applyInPandas``
  gives no ordering guarantee);
* heavy math imports happen inside the kernels (executor-side);
* NaN from failed/degenerate fits is normalized to SQL NULL on the way
  out.

These operators are not ANSI-SQL-expressible (iterative lag selection,
response-surface p-values), so the driver records rows-only checks;
exactness is instead pinned by golden-file tests against the
reference's statsmodels outputs (tests/test_stat_kernels.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.cross_feature import _pair_frame
from dataframeutils_spark.operators.memory import acf_hurst
from dataframeutils_spark.schema import gate_min_len, nan_to_null


def stationarity_tests(long_df: DataFrame, regression: str = "c", min_len: int = 10) -> DataFrame:
    """ADF + KPSS per (grp × feature) — reference ``time_series_study.py:183-226``.

    Output: (grp, feature, adf_stat, adf_p, kpss_stat, kpss_p).
    """
    gated = gate_min_len(long_df, min_len).drop("_n")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        x = pdf.sort_values("date")["value"].to_numpy(dtype=float)
        try:
            adf_stat, adf_p, _ = S.adfuller(x, regression=regression)
        except Exception:
            adf_stat, adf_p = np.nan, np.nan
        try:
            kpss_stat, kpss_p, _ = S.kpss(x, regression=regression)
        except Exception:
            kpss_stat, kpss_p = np.nan, np.nan
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "feature": [pdf["feature"].iloc[0]],
                "adf_stat": [adf_stat],
                "adf_p": [adf_p],
                "kpss_stat": [kpss_stat],
                "kpss_p": [kpss_p],
            }
        )

    out = gated.groupBy("grp", "feature").applyInPandas(
        kernel,
        schema="grp string, feature string, adf_stat double, adf_p double, "
        "kpss_stat double, kpss_p double",
    )
    return out.select(
        "grp", "feature",
        *[nan_to_null(F.col(c)).alias(c) for c in ["adf_stat", "adf_p", "kpss_stat", "kpss_p"]],
    )


def stationarity_summary(results: DataFrame) -> DataFrame:
    """Per feature: proportion of groups rejecting each null at 5%
    (reference ``:228-239``). pandas ``(p < 0.05).mean()`` counts NaN as
    False in the denominator → ``coalesce(cast(p<0.05), 0)`` then avg.
    """
    def prop(col: str):
        return F.avg(F.coalesce((F.col(col) < 0.05).cast("double"), F.lit(0.0)))

    return results.groupBy("feature").agg(
        prop("adf_p").alias("prop_reject_unit_root"),
        prop("kpss_p").alias("prop_reject_stationarity"),
    )


def kpss_stationarity(long_df: DataFrame, min_len: int = 10) -> DataFrame:
    """KPSS alone, exact-hash gateable (unlike ADF, whose AIC lag
    selection over up-to-14-regressor OLS fits keeps the combined
    stationarity query rows-only): demeaning, the Hobijn automatic
    bandwidth, the Bartlett long-run variance, and the published-table
    p interpolation are ALL closed-form — sums, lag dot products and
    fractional powers — so the DuckDB oracle (oracles.KPSS_SQL)
    replays them exactly. The one discontinuous step (the int()
    truncation of the bandwidth) is guarded engine-side with
    ``guard_bandwidth_eps`` so a knife-edge series fails loudly
    instead of hash-mismatching.

    Constant series (min == max — an exact value comparison, so the
    predicate cannot diverge across engines) are excluded on BOTH
    sides: their KPSS statistic is 0/0 (every residual is zero), which
    the sibling kernels map to NULL but which has no principled value
    to gate on.

    Output: (grp, feature, n, nlags, kpss_stat, kpss_p).
    """
    w = Window.partitionBy("grp", "feature")
    gated = gate_min_len(long_df, min_len).drop("_n").withColumn(
        "_const", F.min("value").over(w) == F.max("value").over(w)
    ).filter(~F.col("_const")).drop("_const")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        x = pdf.sort_values("date")["value"].to_numpy(dtype=float)
        stat, p, nlags = S.kpss(x, regression="c", guard_bandwidth_eps=1e-9)
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "feature": [pdf["feature"].iloc[0]],
                "n": [len(x)],
                "nlags": [nlags],
                "kpss_stat": [stat],
                "kpss_p": [p],
            }
        )

    return gated.groupBy("grp", "feature").applyInPandas(
        kernel,
        schema="grp string, feature string, n int, nlags int, "
        "kpss_stat double, kpss_p double",
    )


def ljung_box_p(long_df: DataFrame, lags: int = 10, min_len: int = 12) -> DataFrame:
    """Ljung–Box p at ``lags`` per (grp × feature) — the UDF half of
    reference A4 (``time_series_study.py:327-331``)."""
    gated = gate_min_len(long_df, min_len).drop("_n")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        x = pdf.sort_values("date")["value"].to_numpy(dtype=float)
        try:
            _, p = S.ljung_box(x, lags)
        except Exception:
            p = np.nan
        return pd.DataFrame(
            {"grp": [pdf["grp"].iloc[0]], "feature": [pdf["feature"].iloc[0]], "ljungbox_p": [p]}
        )

    out = gated.groupBy("grp", "feature").applyInPandas(
        kernel, schema="grp string, feature string, ljungbox_p double"
    )
    return out.select("grp", "feature", nan_to_null(F.col("ljungbox_p")).alias("ljungbox_p"))


def memory_dependence(long_df: DataFrame, min_len: int = 12) -> DataFrame:
    """Full reference A4 output: native ACF/Hurst joined with the
    Ljung–Box UDF — (grp, feature, acf_lag1, acf_lag5, acf_lag10,
    ljungbox_p, hurst_exp)."""
    native = acf_hurst(long_df, min_len=min_len).drop("n")
    lb = ljung_box_p(long_df, lags=10, min_len=min_len)
    return native.join(lb, on=["grp", "feature"], how="left").select(
        "grp", "feature", "acf_lag1", "acf_lag5", "acf_lag10", "ljungbox_p", "hurst_exp"
    )


def frequency_domain(long_df: DataFrame, detrend: bool = True, min_len: int = 8) -> DataFrame:
    """Dominant periodogram frequency/power per (grp × feature) —
    reference A5 (``time_series_study.py:367-433``): optional linear
    detrend, scipy-convention density periodogram, argmax excluding the
    zero frequency."""
    gated = gate_min_len(long_df, min_len).drop("_n")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        x = pdf.sort_values("date")["value"].to_numpy(dtype=float)
        if detrend:
            t = np.arange(len(x))
            c = np.polyfit(t, x, 1)
            x = x - (c[0] * t + c[1])
        freqs, power = S.periodogram(x)
        start = 1 if len(freqs) > 1 else 0
        idx = start + int(np.argmax(power[start:]))
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "feature": [pdf["feature"].iloc[0]],
                "dom_freq": [float(freqs[idx])],
                "dom_power": [float(power[idx])],
            }
        )

    return gated.groupBy("grp", "feature").applyInPandas(
        kernel, schema="grp string, feature string, dom_freq double, dom_power double"
    )


def _gated_pairs(panel: DataFrame, pairs: list[tuple[str, str]], min_len: int) -> DataFrame:
    pf = _pair_frame(panel, pairs).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    w = Window.partitionBy("pair", "grp")
    return (
        pf.withColumn("_n", F.count("*").over(w)).filter(F.col("_n") >= min_len).drop("_n")
    )


def cointegration(
    panel: DataFrame, pairs: list[tuple[str, str]], max_lag: int = 10
) -> DataFrame:
    """Engle–Granger per (pair × group) — reference A10
    (``time_series_study.py:607-620``). Aligned length gate
    ``max(20, max_lag + 5)``."""
    min_len = max(20, max_lag + 5)
    gated = _gated_pairs(panel, pairs, min_len)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        pdf = pdf.sort_values("date")
        try:
            stat, p = S.engle_granger(pdf["a"].to_numpy(), pdf["b"].to_numpy())
        except Exception:
            stat, p = np.nan, np.nan
        return pd.DataFrame(
            {
                "grp": [pdf["grp"].iloc[0]],
                "pair": [pdf["pair"].iloc[0]],
                "coint_stat": [stat],
                "coint_p": [p],
            }
        )

    out = gated.groupBy("pair", "grp").applyInPandas(
        kernel, schema="grp string, pair string, coint_stat double, coint_p double"
    )
    return out.select(
        "grp", "pair",
        nan_to_null(F.col("coint_stat")).alias("coint_stat"),
        nan_to_null(F.col("coint_p")).alias("coint_p"),
    )


def granger_causality(
    panel: DataFrame, pairs: list[tuple[str, str]], max_lag: int = 10
) -> DataFrame:
    """Min ssr-chi² p over lags 1..min(max_lag, 5) per (pair × group) —
    reference A11 (``time_series_study.py:621-628``)."""
    min_len = max(20, max_lag + 5)
    gated = _gated_pairs(panel, pairs, min_len)
    use_lag = min(max_lag, 5)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataframeutils_spark.functions import stats as S

        pdf = pdf.sort_values("date")
        try:
            p = S.granger_min_p(pdf["a"].to_numpy(), pdf["b"].to_numpy(), use_lag)
        except Exception:
            p = np.nan
        return pd.DataFrame(
            {"grp": [pdf["grp"].iloc[0]], "pair": [pdf["pair"].iloc[0]], "pvalue": [p]}
        )

    out = gated.groupBy("pair", "grp").applyInPandas(
        kernel, schema="grp string, pair string, pvalue double"
    )
    return out.select("grp", "pair", nan_to_null(F.col("pvalue")).alias("pvalue"))


def ar_yule_walker(long_df: DataFrame, min_len: int = 12) -> DataFrame:
    """AR(3) Yule–Walker fit + partial autocorrelations per panel
    series — the order-p extension of predictability_ar1: solve the
    3×3 Toeplitz system R·φ = r by Cramer's rule from the first three
    autocorrelations, giving the AR coefficients, the PACF ladder
    (pacf1 = r1, pacf2 = (r2−r1²)/(1−r1²), pacf3 = φ3 — the
    Durbin–Levinson identities at p ≤ 3) and the residual variance
    ratio σ²/c0 = 1 − φ·r. A PACF that cuts off after lag p is the
    classic Box–Jenkins order-selection signal.

    Determinism: the autocorrelations (overlapping-pair ``corr``,
    memory_acf_hurst's convention) are decimal-ROUNDED FIRST; every
    Cramer determinant is then identical IEEE arithmetic on identical
    inputs in both engines — the hash-derived-input discipline applied
    to float statistics. Degenerate systems (|det| = 0, constant
    series) yield NULL coefficients rather than noise.

    Output: (grp, feature, n, acf1, acf2, acf3, phi1, phi2, phi3,
    pacf2, resid_ratio).

    Scale shape: one per-series window for the three lag columns
    (exchange by (grp, feature) — series-bounded tasks), one
    combinable aggregate; all algebra happens on the |series|-row
    result.
    """
    from dataframeutils_spark.schema import decround

    d = long_df.filter(F.col("value").isNotNull())
    w_ord = Window.partitionBy("grp", "feature").orderBy("date")
    lagged = d.select(
        "grp",
        "feature",
        "value",
        *[F.lag("value", k).over(w_ord).alias(f"xlag{k}") for k in (1, 2, 3)],
    )
    agg = lagged.groupBy("grp", "feature").agg(
        F.count("value").alias("n"),
        *[
            decround(nan_to_null(F.corr("value", f"xlag{k}"))).alias(f"r{k}")
            for k in (1, 2, 3)
        ],
    )
    a, b, c = F.col("r1"), F.col("r2"), F.col("r3")
    det = (
        (F.lit(1.0) - a * a)
        - a * (a - a * b)
        + b * (a * a - b)
    )
    det1 = a * (F.lit(1.0) - a * a) - a * (b - a * c) + b * (a * b - c)
    det2 = (b - a * c) - a * (a - a * b) + b * (a * c - b * b)
    det3 = (c - a * b) - a * (a * c - b * b) + a * (a * a - b)
    ok = det.isNotNull() & (F.abs(det) > F.lit(1e-12))
    phi1 = F.when(ok, det1 / det)
    phi2 = F.when(ok, det2 / det)
    phi3 = F.when(ok, det3 / det)
    pacf2 = F.when(
        a.isNotNull() & b.isNotNull() & (F.abs(F.lit(1.0) - a * a) > 1e-12),
        (b - a * a) / (F.lit(1.0) - a * a),
    )
    resid = F.when(ok, F.lit(1.0) - (phi1 * a + phi2 * b + phi3 * c))
    return agg.filter(F.col("n") >= min_len).select(
        "grp",
        "feature",
        "n",
        F.col("r1").alias("acf1"),
        F.col("r2").alias("acf2"),
        F.col("r3").alias("acf3"),
        decround(phi1).alias("phi1"),
        decround(phi2).alias("phi2"),
        decround(phi3).alias("phi3"),
        decround(pacf2).alias("pacf2"),
        decround(resid).alias("resid_ratio"),
    )
