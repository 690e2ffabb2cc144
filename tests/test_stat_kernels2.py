"""Second-fixture validation of the from-scratch statistical kernels
(VERDICT r6 #3).

tests/test_stat_kernels.py pins the kernels to the reference's
statsmodels goldens on its single 60-point seeded panel. This suite
closes the "tuned to one fixture" hole with a second, independent
fixture (tests/fixture2.py, FIXTURES.md §F6):

1. every special function is checked against mpmath (an independent
   arbitrary-precision library present in the sandbox);
2. every closed-form statistic (OLS t-stats, ADF tau with AIC lag
   selection, KPSS long-run variance, Ljung–Box, periodogram, Granger
   ssr-chi², Engle–Granger tau) is recomputed through a structurally
   different numerical path — QR solves instead of lstsq/pinv,
   pandas-shift lag matrices instead of _lagmat, np.correlate ACF,
   an O(n²) direct DFT instead of rfft — and must agree to ~1e-9;
3. engineered series with analytically known answers (exact random
   walk, AR(0.5), trend, cointegrated pair, one-directional Granger
   pair) must be classified correctly;
4. the iterative fits (GARCH MLE, Markov-switching EM) must recover
   known simulation parameters and beat the true-parameter likelihood.

statsmodels/arch cannot run here, so these paths — not a second
library golden — are the independent evidence. Reference parity
itself is the first suite's job.
"""

from __future__ import annotations

import math

import mpmath as mp
import numpy as np
import pandas as pd
import pytest

from dataframeutils_spark.functions import ml as M
from dataframeutils_spark.functions import stats as S

from tests.fixture2 import (
    GARCH_TRUE,
    MARKOV_TRUE,
    cointegrated_pair,
    fixture2_panel,
    fixture2_series,
    garch_series,
    granger_pair,
    markov_series,
)

mp.mp.dps = 30


# --------------------------------------------------------------------------
# independent numerical paths
# --------------------------------------------------------------------------


def _mp_chi2_sf(x: float, df: float) -> float:
    return float(mp.gammainc(df / 2.0, x / 2.0, mp.inf, regularized=True))


def _mp_norm_cdf(x: float) -> float:
    return float(mp.ncdf(x))


def _qr_ols(X: np.ndarray, y: np.ndarray):
    """OLS via QR (vs the kernels' lstsq + pinv covariance)."""
    Q, R = np.linalg.qr(X)
    beta = np.linalg.solve(R, Q.T @ y)
    resid = y - X @ beta
    ssr = float(resid @ resid)
    n, k = X.shape
    sigma2 = ssr / (n - k)
    r_inv = np.linalg.solve(R, np.eye(k))
    se = np.sqrt(np.diag(r_inv @ r_inv.T) * sigma2)
    return beta, ssr, se, n


def _indep_adf(x: np.ndarray, regression: str = "c", maxlag: int | None = None):
    """Independent ADF: pandas-shift designs, QR solves, AIC written
    from the Gaussian log-likelihood definition. Returns (tau, usedlag).
    """
    x = np.asarray(x, dtype=float)
    n = len(x)
    ntrend = {"n": 0, "c": 1, "ct": 2}[regression]
    if maxlag is None:
        maxlag = min(n // 2 - ntrend - 1, int(math.ceil(12.0 * (n / 100.0) ** 0.25)))
    dx = pd.Series(np.diff(x))
    lead = pd.Series(x[:-1])  # row t ↔ level x_t entering Δx_t ~ x_{t-1} form

    def design(k: int, rows_from: int):
        cols = []
        m = len(dx) - rows_from
        if regression in ("c", "ct"):
            cols.append(np.ones(m))
        if regression == "ct":
            cols.append(np.arange(1.0, m + 1.0))
        cols.append(lead.iloc[rows_from:].to_numpy())
        for j in range(1, k + 1):
            cols.append(dx.shift(j).iloc[rows_from:].to_numpy())
        return np.column_stack(cols), dx.iloc[rows_from:].to_numpy()

    best_aic, best_k = np.inf, 0
    for k in range(0, maxlag + 1):
        X, y = design(k, maxlag)
        _, ssr, _, m = _qr_ols(X, y)
        llf = -m / 2.0 * (math.log(2 * math.pi) + math.log(ssr / m) + 1.0)
        aic = -2.0 * llf + 2.0 * X.shape[1]
        if aic < best_aic:
            best_aic, best_k = aic, k
    X, y = design(best_k, best_k)
    beta, _, se, _ = _qr_ols(X, y)
    return float(beta[ntrend] / se[ntrend]), best_k


def _indep_acf(x: np.ndarray, nlags: int) -> np.ndarray:
    """ACF via np.correlate (vs the kernels' sliced dot products)."""
    xc = x - x.mean()
    full = np.correlate(xc, xc, mode="full")
    acov = full[len(xc) - 1 :]
    return acov[1 : nlags + 1] / acov[0]


def _direct_dft_periodogram(x: np.ndarray, fs: float = 1.0):
    """O(n²) direct DFT periodogram with scipy's density conventions."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    xc = x - x.mean()
    t = np.arange(n)
    n_freq = n // 2 + 1
    p = np.empty(n_freq)
    for k in range(n_freq):
        w = -2.0 * math.pi * k * t / n
        re = float(xc @ np.cos(w))
        im = float(xc @ np.sin(w))
        p[k] = (re * re + im * im) / (fs * n)
    if n % 2 == 0:
        p[1:-1] *= 2.0
    else:
        p[1:] *= 2.0
    return np.arange(n_freq) * fs / n, p


# --------------------------------------------------------------------------
# 1. special functions vs mpmath
# --------------------------------------------------------------------------


def test_chi2_sf_vs_mpmath():
    for df in (1, 2, 4, 10, 30):
        for x in (0.1, 0.5, 2.0, 7.5, 25.0, 80.0, 200.0):
            np.testing.assert_allclose(
                S.chi2_sf(x, df), _mp_chi2_sf(x, df), rtol=1e-12, err_msg=f"x={x} df={df}"
            )


def test_norm_cdf_sf_ppf_vs_mpmath():
    for x in (-8.0, -3.5, -1.0, -0.1, 0.0, 0.7, 2.5, 6.0):
        np.testing.assert_allclose(S.norm_cdf(x), _mp_norm_cdf(x), rtol=1e-13)
    for p in (1e-12, 1e-6, 0.01, 0.3, 0.5, 0.9, 0.999):
        np.testing.assert_allclose(_mp_norm_cdf(S._norm_ppf(p)), p, rtol=1e-11)


# --------------------------------------------------------------------------
# 2. closed-form statistics through independent paths
# --------------------------------------------------------------------------


def test_ols_fit_vs_qr():
    rng = np.random.default_rng(11)
    X = np.column_stack([np.ones(80), rng.normal(size=(80, 3))])
    y = X @ np.array([1.0, -2.0, 0.5, 0.0]) + rng.normal(0, 0.3, 80)
    beta, ssr, se, n, rank = S.ols_fit(X, y)
    beta2, ssr2, se2, _ = _qr_ols(X, y)
    np.testing.assert_allclose(beta, beta2, rtol=1e-10)
    np.testing.assert_allclose(ssr, ssr2, rtol=1e-10)
    np.testing.assert_allclose(se, se2, rtol=1e-10)


def test_adf_matches_independent_path():
    for name, x in fixture2_series().items():
        tau, p, usedlag = S.adfuller(x, regression="c")
        tau2, lag2 = _indep_adf(x, regression="c")
        assert usedlag == lag2, f"{name}: lag selection diverged"
        np.testing.assert_allclose(tau, tau2, rtol=1e-9, err_msg=name)
    # 'ct' and 'n' regressions on one series each
    trend = fixture2_series()["trend"]
    tau, _, usedlag = S.adfuller(trend, regression="ct")
    tau2, lag2 = _indep_adf(trend, regression="ct")
    assert usedlag == lag2
    np.testing.assert_allclose(tau, tau2, rtol=1e-9)
    rw = fixture2_series()["rw"]
    tau, _, usedlag = S.adfuller(rw, regression="n")
    tau2, lag2 = _indep_adf(rw, regression="n")
    assert usedlag == lag2
    np.testing.assert_allclose(tau, tau2, rtol=1e-9)


def test_kpss_long_run_variance_independent():
    for name, x in fixture2_series().items():
        stat, p, nlags = S.kpss(x, regression="c")
        resids = x - x.mean()
        n = len(x)
        acov = np.correlate(resids, resids, mode="full")[n - 1 :]
        eta = float(np.sum(np.cumsum(resids) ** 2)) / (n * n)
        w = 1.0 - np.arange(1, nlags + 1) / (nlags + 1.0)
        s2 = (acov[0] + 2.0 * float(w @ acov[1 : nlags + 1])) / n
        np.testing.assert_allclose(stat, eta / s2, rtol=1e-10, err_msg=name)


def test_ljung_box_matches_independent_path():
    for name, x in fixture2_series().items():
        q, p = S.ljung_box(x, lags=10)
        n = len(x)
        r = _indep_acf(x, 10)
        q2 = n * (n + 2.0) * float(np.sum(r * r / (n - np.arange(1, 11))))
        np.testing.assert_allclose(q, q2, rtol=1e-10, err_msg=name)
        np.testing.assert_allclose(p, _mp_chi2_sf(q2, 10), rtol=1e-10, err_msg=name)


def test_periodogram_matches_direct_dft():
    x = fixture2_series()["ar05"][:257]  # odd length exercises the other branch
    f1, p1 = S.periodogram(x)
    f2, p2 = _direct_dft_periodogram(x)
    np.testing.assert_allclose(f1, f2, rtol=1e-12)
    np.testing.assert_allclose(p1, p2, rtol=1e-7, atol=1e-12)
    x = fixture2_series()["ar05"][:256]  # even length
    f1, p1 = S.periodogram(x)
    f2, p2 = _direct_dft_periodogram(x)
    np.testing.assert_allclose(p1, p2, rtol=1e-7, atol=1e-12)


def test_periodogram_pure_tone_known_answer():
    n, k, amp = 256, 16, 3.0
    t = np.arange(n)
    x = amp * np.cos(2.0 * math.pi * k * t / n)
    freqs, p = S.periodogram(x)
    # one-sided density: all mass at bin k, value amp²·n / (2·fs)
    np.testing.assert_allclose(p[k], amp * amp * n / 2.0, rtol=1e-9)
    others = np.delete(p, k)
    assert float(np.max(np.abs(others))) < 1e-18 * p[k]


def test_granger_matches_independent_path():
    x1, x2 = granger_pair()
    n = len(x1)
    best = np.inf
    for lag in range(1, 5):
        y = pd.Series(x1).iloc[lag:].to_numpy()
        own = np.column_stack(
            [pd.Series(x1).shift(j).iloc[lag:].to_numpy() for j in range(1, lag + 1)]
        )
        other = np.column_stack(
            [pd.Series(x2).shift(j).iloc[lag:].to_numpy() for j in range(1, lag + 1)]
        )
        const = np.ones((n - lag, 1))
        _, ssr_r, _, m = _qr_ols(np.column_stack([own, const]), y)
        _, ssr_u, _, _ = _qr_ols(np.column_stack([own, other, const]), y)
        stat = m * (ssr_r - ssr_u) / ssr_u
        best = min(best, _mp_chi2_sf(stat, lag))
    got = S.granger_min_p(x1, x2, 4)
    np.testing.assert_allclose(got, best, rtol=1e-8)


def test_engle_granger_matches_independent_path():
    y, x, _ = cointegrated_pair()
    tau, p = S.engle_granger(y, x)
    X = np.column_stack([np.ones(len(x)), x])
    beta, _, _, _ = _qr_ols(X, y)
    resid = y - X @ beta
    tau2, _ = _indep_adf(resid, regression="n")
    np.testing.assert_allclose(tau, tau2, rtol=1e-9)


# --------------------------------------------------------------------------
# 3. engineered known answers
# --------------------------------------------------------------------------


def test_adf_kpss_known_classifications():
    s = fixture2_series()
    # exact random walk: ADF must NOT reject the unit root; KPSS must
    # reject stationarity (p clipped at the 0.01 table edge)
    _, p_rw, _ = S.adfuller(s["rw"])
    assert p_rw > 0.10
    _, kp_rw, _ = S.kpss(s["rw"])
    assert kp_rw == pytest.approx(0.01)
    # near-unit-root AR(0.98): ADF has no power here either
    _, p_near, _ = S.adfuller(s["near_ur"])
    assert p_near > 0.05
    # AR(0.5): decisively stationary both ways
    _, p_ar, _ = S.adfuller(s["ar05"])
    assert p_ar < 1e-6
    _, kp_ar, _ = S.kpss(s["ar05"])
    assert kp_ar == pytest.approx(0.10)
    # deterministic trend: unit-root-like under 'c', decisively
    # trend-stationary under 'ct'
    _, p_tc, _ = S.adfuller(s["trend"], regression="c")
    assert p_tc > 0.10
    _, p_tct, _ = S.adfuller(s["trend"], regression="ct")
    assert p_tct < 1e-6
    _, kp_t, _ = S.kpss(s["trend"], regression="ct")
    assert kp_t == pytest.approx(0.10)


def test_ljung_box_known_classifications():
    s = fixture2_series()
    _, p_ar = S.ljung_box(s["ar05"], lags=10)
    assert p_ar < 1e-20  # strong serial correlation
    rng = np.random.default_rng(99)
    _, p_wn = S.ljung_box(rng.normal(size=400), lags=10)
    assert p_wn > 0.05  # white noise


def test_cointegration_known_classifications():
    y, x, other = cointegrated_pair()
    _, p_yes = S.engle_granger(y, x)
    assert p_yes < 0.01
    _, p_no = S.engle_granger(other, x)
    assert p_no > 0.10


def test_granger_known_directions():
    x1, x2 = granger_pair()
    assert S.granger_min_p(x1, x2, 4) < 1e-12  # x2 → x1 by construction
    assert S.granger_min_p(x2, x1, 4) > 0.05  # no reverse causation


def test_mackinnon_surface_published_critical_values():
    # the published asymptotic 1%/5% Dickey–Fuller quantiles must map to
    # their significance levels (regression guard on the surface). These
    # taus sit in the MacKinnon small-p quadratic's range, which passes
    # NEAR (not through) the asymptotic quantiles — 1% tolerance, the
    # documented drift of the published surface itself.
    np.testing.assert_allclose(S.mackinnon_p(-3.43, "c"), 0.01, rtol=0.01)
    np.testing.assert_allclose(S.mackinnon_p(-2.86, "c"), 0.05, rtol=0.01)
    np.testing.assert_allclose(S.mackinnon_p(-3.3377, "c", n_vars=2), 0.05, rtol=1e-6)


# --------------------------------------------------------------------------
# 4. iterative fits: parameter recovery + likelihood dominance
# --------------------------------------------------------------------------


def _garch_nll(x: np.ndarray, mu: float, omega: float, alpha: float, beta: float):
    """Independent constant-mean GARCH(1,1) NLL and vol path (kernel
    convention: s2[0] = backcast = mean squared residual about the
    SAMPLE mean — the backcast is fixed before optimization, so it does
    not move with the fitted mu)."""
    T = len(x)
    e0 = x - float(x.mean())
    v0 = max(float(e0 @ e0) / T, 1e-12)
    e = x - mu
    s2 = np.empty(T)
    s2[0] = v0
    for t in range(1, T):
        s2[t] = omega + alpha * e[t - 1] ** 2 + beta * s2[t - 1]
    nll = 0.5 * float(np.sum(np.log(2 * math.pi) + np.log(s2) + e * e / s2))
    return nll, np.sqrt(s2)


@pytest.fixture(scope="module")
def garch_fit_result():
    x = garch_series()
    return x, M.garch_fit(x)


def test_garch_vol_path_and_llf_independent(garch_fit_result):
    x, fit = garch_fit_result
    p = fit["params"]
    nll, vol = _garch_nll(x, p["mu"], p["omega"], p["alpha"], p["beta"])
    np.testing.assert_allclose(fit["cond_vol"], vol, rtol=1e-10)
    np.testing.assert_allclose(fit["llf"], -nll, rtol=1e-10)


def test_garch_parameter_recovery(garch_fit_result):
    x, fit = garch_fit_result
    p = fit["params"]
    assert abs(p["alpha"] - GARCH_TRUE["alpha"]) < 0.03
    assert abs(p["beta"] - GARCH_TRUE["beta"]) < 0.05
    assert abs(fit["persistence"] - (GARCH_TRUE["alpha"] + GARCH_TRUE["beta"])) < 0.02
    # the MLE must dominate the true parameters' likelihood
    nll_true, _ = _garch_nll(
        x, float(x.mean()), GARCH_TRUE["omega"], GARCH_TRUE["alpha"], GARCH_TRUE["beta"]
    )
    assert fit["llf"] >= -nll_true - 1e-6


def test_markov_em_recovery():
    x, states = markov_series()
    fit = M.markov_switching_fit(x, k_regimes=2)
    np.testing.assert_allclose(fit["mu"], MARKOV_TRUE["mu"], atol=0.1)
    assert fit["transition"][0, 0] > MARKOV_TRUE["stay"] - 0.05
    assert fit["transition"][1, 1] > MARKOV_TRUE["stay"] - 0.05
    # smoothed state assignment must recover the simulated path
    assigned = np.argmax(fit["smoothed_probs"], axis=1)
    acc = float(np.mean(assigned == states))
    assert max(acc, 1.0 - acc) > 0.97  # label order fixed by ascending mu


# --------------------------------------------------------------------------
# 5. the Spark operator end-to-end on the second fixture
# --------------------------------------------------------------------------


def test_stationarity_operator_on_fixture2(spark):
    from dataframeutils_spark.operators import stat_tests
    from dataframeutils_spark.schema import PanelSchema, melt_panel

    long_df = melt_panel(
        spark.createDataFrame(fixture2_panel()),
        PanelSchema(date_col="date", group_cols=["name"]),
    )
    got = stat_tests.stationarity_tests(long_df).toPandas().set_index("grp")
    assert len(got) == 4
    assert got.loc["rw", "adf_p"] > 0.10
    assert got.loc["ar05", "adf_p"] < 1e-6
    assert got.loc["rw", "kpss_p"] == pytest.approx(0.01)
    assert got.loc["ar05", "kpss_p"] == pytest.approx(0.10)
    # operator values == kernel values on the same series (plumbing
    # preserves per-group ordering and dtypes)
    tau_rw, _, _ = S.adfuller(fixture2_series()["rw"])
    np.testing.assert_allclose(got.loc["rw", "adf_stat"], tau_rw, rtol=1e-12)


def test_kpss_bandwidth_guard_raises_on_knife_edge():
    """guard_bandwidth_eps (the exact-gate protection for
    stationarity_kpss): a series whose Hobijn bandwidth lands within
    eps of an integer must fail loudly, not risk a cross-engine
    trunc() flip. eps=inf-ish forces the trip on any series; a tiny
    eps passes the same series."""
    import pytest

    x = fixture2_series()["ar05"]
    stat, p, nlags = S.kpss(x, regression="c", guard_bandwidth_eps=1e-12)
    assert 0.01 <= p <= 0.10
    with pytest.raises(ValueError, match="of an integer"):
        S.kpss(x, regression="c", guard_bandwidth_eps=0.9)


def test_kpss_sql_oracle_matches_engine_kernel(ddb):
    """oracles.KPSS_SQL must reproduce S.kpss per (grp, feature) series
    of the standard panel — stat and interpolated p to the rounding
    contract, n and nlags exactly."""
    import duckdb

    from dataframeutils_spark import oracles

    con = ddb
    rows = con.execute(oracles.KPSS_SQL).fetchall()
    assert len(rows) == 9
    # rebuild each series exactly as melt does and run the engine kernel
    panel = con.execute(
        "SELECT CAST(l_shipdate AS DATE) AS date, l_returnflag AS grp,"
        " SUM(l_extendedprice) AS f1, AVG(l_discount) AS f2,"
        " SUM(l_quantity) AS f3 FROM lineitem GROUP BY 1, 2 ORDER BY grp, date"
    ).fetchdf()
    feats = {"feature_1": "f1", "feature_2": "f2", "feature_3": "f3"}
    for grp, feature, n, nlags, stat, p in rows:
        sub = panel[panel["grp"] == grp].sort_values("date")
        x = sub[feats[feature]].to_numpy(dtype=float)
        x = x[~np.isnan(x)]
        s_stat, s_p, s_nlags = S.kpss(x, regression="c")
        assert n == len(x) and nlags == s_nlags, (grp, feature)
        # the oracle column is decround-rounded to 6 places; the gate
        # rounds the Spark side identically, so |diff| <= 5e-7 here
        np.testing.assert_allclose(stat, s_stat, atol=5e-7, err_msg=feature)
        np.testing.assert_allclose(p, s_p, atol=5e-7, err_msg=feature)
