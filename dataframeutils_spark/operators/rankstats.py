"""Rank-based statistics over the standard panel and event stream.

No counterpart in the reference (its study loop stops at moment-based
diagnostics, `time_series_study/time_series_study.py`); these are the
distribution-free complements a data-quality pipeline reaches for when
moments mislead (heavy tails, outliers, monotone-but-nonlinear
relations):

* :func:`spearman_corr` — Spearman rank correlation per group and
  feature pair (the robust twin of the Pearson matrix in
  ``cross_feature``): Pearson on average ranks, tie-aware.
* :func:`mann_whitney_drift` — Mann–Whitney/Wilcoxon rank-sum drift
  test per series between the first and second half of the window —
  the rank-based complement to the KS test in ``trend`` (KS sees the
  largest ECDF gap; MW sees stochastic dominance).
* :func:`mann_kendall_trend` — Mann–Kendall monotone-trend test
  (S = Σ sign of pairwise differences, tie-corrected variance) over
  the same deterministic hash-sampled row subset Theil–Sen uses, so
  the pair join is bounded at ~cap²/2 per series at any length.
* :func:`hill_tail_index` — Hill estimator of the power-law tail
  exponent per event type (how heavy is the value tail — the number
  that says whether mean-based alerting is even meaningful).

Cross-engine determinism: every rank is taken over decimal-ROUNDED
values (the ks_two_sample precedent) so the TIE STRUCTURE — which
exact doubles share a rank — is identical in both engines; rank
arithmetic is integers/half-integers, and the final smooth statistics
ride the engine-wide rounding contract.

Scale notes (100 TB): spearman/mann-whitney are one combinable
aggregate over (series × distinct-rounded-value) cells plus windows
on that bounded cell table; mann-kendall's quadratic is capped by the
sample predicate exactly like theilsen_slope; hill shuffles only the
per-type top-(k+1) rows (window rank over a value-ordered exchange —
k is a constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60
from dataframeutils_spark.operators.local_solve import block_prefix
from dataframeutils_spark.schema import decround, gate_min_len, siground

_EPOCH = "1970-01-01"

# bh_fdr two-phase rank: p ∈ [0,1] range-bucketed into this many
# contiguous buckets; battery rows per window task ≈ m / _N_BUCKETS
# (3M-row battery → ~3k rows/bucket), ledger windows bounded at
# _N_BUCKETS rows at ANY battery size.
_N_BUCKETS = 1024


# ---------------------------------------------------------------------------
# Spearman rank correlation (per group, feature pairs)
# ---------------------------------------------------------------------------

PAIRS = (
    ("feature_1", "feature_2"),
    ("feature_1", "feature_3"),
    ("feature_2", "feature_3"),
)


def spearman_corr(panel: DataFrame, min_len: int = 30) -> DataFrame:
    """Spearman rank correlation per (grp × feature pair).

    ρ = Pearson correlation of the AVERAGE ranks (min-rank +
    (ties−1)/2 — the textbook tie treatment, exact half-integers in
    both engines). Ranks are taken over decimal-rounded values so tie
    structure is engine-identical; the correlation of two exact rank
    vectors then rides the rounding contract.

    Output: (grp, pair, n, rho).
    """
    # lazy checkpoint: the panel is itself an aggregate over the raw
    # fact table — without it each of the 3 pair arms re-runs that
    # aggregation (measured 9.6 s → ~3 s at the 10× stress)
    feats = sorted({c for p in PAIRS for c in p})
    base = panel.select(
        "grp", *[decround(F.col(c).cast("double")).alias(c) for c in feats]
    ).localCheckpoint(eager=False)
    outs = []
    for fa, fb in PAIRS:
        d = (
            base.select(
                "grp",
                F.col(fa).alias("_a"),
                F.col(fb).alias("_b"),
            )
            .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
            .withColumn("pair", F.lit(f"{fa}|{fb}"))
        )
        for c in ("_a", "_b"):
            wr = Window.partitionBy("grp").orderBy(c)
            wt = Window.partitionBy("grp", c)
            d = d.withColumn(
                f"_r{c}",
                F.rank().over(wr)
                + (F.count("*").over(wt) - F.lit(1)) / F.lit(2.0),
            )
        outs.append(
            d.groupBy("grp", "pair").agg(
                F.count("*").alias("n"),
                siground(F.corr("_r_a", "_r_b")).alias("rho"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.filter(F.col("n") >= min_len)


def spearman_corr_sql(min_len: int = 30) -> str:
    from dataframeutils_spark.oracles import PANEL_CTE
    from dataframeutils_spark.schema import decround_sql, siground_sql

    arms = "\nUNION ALL\n".join(
        f"""  SELECT grp, '{fa}|{fb}' AS pair,
         {decround_sql(f'CAST({fa} AS DOUBLE)')} AS a,
         {decround_sql(f'CAST({fb} AS DOUBLE)')} AS b
  FROM panel WHERE {fa} IS NOT NULL AND {fb} IS NOT NULL"""
        for fa, fb in PAIRS
    )
    return f"""
WITH {PANEL_CTE}, pr AS (
{arms}
), rk AS (
  SELECT grp, pair,
         rank() OVER (PARTITION BY grp, pair ORDER BY a)
           + (count(*) OVER (PARTITION BY grp, pair, a) - 1) / 2.0 AS ra,
         rank() OVER (PARTITION BY grp, pair ORDER BY b)
           + (count(*) OVER (PARTITION BY grp, pair, b) - 1) / 2.0 AS rb
  FROM pr
)
SELECT grp, pair, count(*) AS n, {siground_sql('corr(ra, rb)')} AS rho
FROM rk GROUP BY grp, pair HAVING count(*) >= {min_len}
"""


# ---------------------------------------------------------------------------
# Mann–Whitney U drift test (first half vs second half)
# ---------------------------------------------------------------------------


def mann_whitney_drift(long_df: DataFrame, min_len: int = 40) -> DataFrame:
    """Mann–Whitney rank-sum drift test per series: did the second
    half of the window stochastically dominate the first?

    Same midpoint split as :func:`trend.ks_two_sample`. U₁ from the
    rank sum of side 1 over the POOLED decimal-rounded sample (average
    ranks — half-integers); z = (U₁ − n₁n₂/2)/σ with the tie-corrected
    σ² = n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))). No continuity
    correction (both engines identical; the z reference is asymptotic
    at these n anyway). ``drifted`` compares the decimal-rounded |z|
    to 1.96 so both engines decide identically.

    Scale: aggregates per (series × distinct rounded value) cell —
    raw rows shuffle once; the rank windows run on the bounded cell
    table, never on raw rows.

    Output: (grp, feature, n1, n2, u_stat, z, drifted).
    """
    g = gate_min_len(long_df, min_len)
    w = Window.partitionBy("grp", "feature")
    day = F.datediff(F.col("date"), F.lit(_EPOCH))
    g = g.withColumn(
        "_side",
        (day * 2 < F.min(day).over(w) + F.max(day).over(w)).cast("int"),
    ).withColumn("_rv", decround(F.col("value")))
    cell = g.groupBy("grp", "feature", "_rv").agg(
        F.sum("_side").alias("c1"), F.count("*").alias("t")
    )
    wv = (
        Window.partitionBy("grp", "feature")
        .orderBy("_rv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # average rank of every row in this cell = (cum count before cell)
    # + (t + 1)/2 — integer arithmetic on counts, exact
    cell = cell.withColumn(
        "_avg_rank",
        (F.sum("t").over(wv) - F.col("t")) + (F.col("t") + F.lit(1)) / F.lit(2.0),
    )
    agg = cell.groupBy("grp", "feature").agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("t") - F.col("c1")).alias("n2"),
        F.sum(F.col("c1") * F.col("_avg_rank")).alias("r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    u1 = F.col("r1") - n1 * (n1 + 1) / 2
    sigma2 = n1 * n2 / 12.0 * ((n + 1) - F.col("tie3") / (n * (n - 1)))
    z = F.try_divide(u1 - n1 * n2 / 2, F.sqrt(sigma2))
    return agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "grp",
        "feature",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        decround(u1).alias("u_stat"),
        decround(z).alias("z"),
        (F.abs(decround(z)) > 1.96).alias("drifted"),
    )


def mann_whitney_drift_sql(min_len: int = 40) -> str:
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    z = "(u1 - n1d * n2d / 2) / NULLIF(sqrt(sigma2), 0)"
    return with_panel(f"""
, g AS (
  SELECT grp, feature, {decround_sql('value')} AS rv,
         CASE WHEN (date - DATE '{_EPOCH}') * 2 <
                   min(date - DATE '{_EPOCH}') OVER (PARTITION BY grp, feature)
                 + max(date - DATE '{_EPOCH}') OVER (PARTITION BY grp, feature)
              THEN 1 ELSE 0 END AS side,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), cell AS (
  SELECT grp, feature, rv, sum(side) AS c1, count(*) AS t FROM g
  GROUP BY grp, feature, rv
), rk AS (
  SELECT *,
         (sum(t) OVER (PARTITION BY grp, feature ORDER BY rv
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
           + (t + 1) / 2.0 AS avg_rank
  FROM cell
), agg AS (
  SELECT grp, feature,
         sum(c1) AS n1, sum(t - c1) AS n2,
         sum(c1 * avg_rank) AS r1,
         sum(t * t * t - t) AS tie3
  FROM rk GROUP BY grp, feature
), s AS (
  SELECT grp, feature, n1, n2,
         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(n1 + n2 AS DOUBLE) AS nd,
         r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1,
         tie3
  FROM agg WHERE n1 > 0 AND n2 > 0
), v AS (
  SELECT *, n1d * n2d / 12.0 * ((nd + 1) - tie3 / (nd * (nd - 1))) AS sigma2
  FROM s
)
SELECT grp, feature,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       {decround_sql('u1')} AS u_stat,
       {decround_sql(z)} AS z,
       abs({decround_sql(z)}) > 1.96 AS drifted
FROM v
""")


# ---------------------------------------------------------------------------
# Mann–Kendall monotone trend (hash-capped pair set, Theil–Sen precedent)
# ---------------------------------------------------------------------------


def mann_kendall_trend(
    long_df: DataFrame, cap: int = 320, min_len: int = 30
) -> DataFrame:
    """Mann–Kendall monotone-trend test per series over the SAME
    deterministic hash-sampled subset :func:`trend.theilsen_slope`
    uses (portable_hash60 predicate, P = ⌈n/cap⌉), so the pairwise
    step is ~cap²/2 at any raw length.

    S = Σ_{i<j} sign(v_j − v_i) with time-ordered x (exact INTEGER —
    signs compare decimal-rounded values so the tie structure is
    engine-identical); Var(S) = (m(m−1)(2m+5) − Σ t(t−1)(2t+5))/18
    over the tie groups of the sampled values; z applies the ±1
    continuity correction (Kendall 1975). ``trend`` is the sign of S.

    Output: (grp, feature, n, n_sampled, s_stat, var_s, z, trend).
    """
    g = gate_min_len(long_df, min_len)
    p_expr = F.expr(f"(_n + {cap - 1}) div {cap}")
    sampled = (
        g.withColumn(
            "_h",
            portable_hash60(
                F.concat_ws(
                    "|", F.col("grp"), F.col("feature"), F.col("date").cast("string")
                )
            ),
        )
        .filter(F.pmod(F.col("_h"), p_expr) == 0)
        .select(
            "grp",
            "feature",
            "_n",
            F.datediff(F.col("date"), F.lit(_EPOCH)).alias("x"),
            decround(F.col("value")).alias("v"),
        )
    )
    a = sampled.alias("a")
    b = sampled.select("grp", "feature", "x", "v").alias("b")
    pairs = a.join(b, on=["grp", "feature"]).filter(F.col("b.x") > F.col("a.x"))
    s_tbl = pairs.groupBy("grp", "feature").agg(
        F.first("a._n").alias("n"),
        F.sum(F.signum(F.col("b.v") - F.col("a.v")).cast("long")).alias("s_stat"),
    )
    ties = (
        sampled.groupBy("grp", "feature", "v")
        .agg(F.count("*").alias("t"))
        .groupBy("grp", "feature")
        .agg(
            F.sum("t").alias("m"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
    )
    j = s_tbl.join(ties, on=["grp", "feature"])
    m = F.col("m").cast("double")
    var_s = (m * (m - 1) * (2 * m + 5) - F.col("tie_term")) / 18.0
    s = F.col("s_stat").cast("double")
    z = F.when(F.col("s_stat") > 0, (s - 1) / F.sqrt(var_s)).when(
        F.col("s_stat") < 0, (s + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return j.select(
        "grp",
        "feature",
        F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("n_sampled"),
        "s_stat",
        decround(var_s).alias("var_s"),
        decround(z).alias("z"),
        F.signum(F.col("s_stat").cast("double")).cast("int").alias("trend"),
    )


def mann_kendall_trend_sql(cap: int = 320, min_len: int = 30) -> str:
    from dataframeutils_spark.oracles import with_panel
    from dataframeutils_spark.schema import decround_sql

    h = (
        "CAST(concat('0x', substr(md5(grp || '|' || feature || '|' || "
        "date::VARCHAR), 1, 15)) AS BIGINT)"
    )
    z = (
        "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s) "
        "WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s) "
        "ELSE 0.0 END"
    )
    return with_panel(f"""
, g AS (
  SELECT grp, feature, date,
         CAST(date - DATE '{_EPOCH}' AS BIGINT) AS x,
         {decround_sql('value')} AS v,
         count(value) OVER (PARTITION BY grp, feature) AS n
  FROM melt WHERE value IS NOT NULL
  QUALIFY n >= {min_len}
), samp AS (
  SELECT * FROM g WHERE {h} % ((n + {cap - 1}) // {cap}) = 0
), s_tbl AS (
  SELECT a.grp, a.feature, any_value(a.n) AS n,
         CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
  FROM samp a JOIN samp b
    ON b.grp = a.grp AND b.feature = a.feature AND b.x > a.x
  GROUP BY a.grp, a.feature
), ties AS (
  SELECT grp, feature, sum(t) AS m,
         sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT grp, feature, v, count(*) AS t FROM samp GROUP BY 1, 2, 3)
  GROUP BY grp, feature
), v AS (
  SELECT s_tbl.*, ties.m,
         (CAST(m AS DOUBLE) * (m - 1) * (2 * m + 5) - tie_term) / 18.0 AS var_s
  FROM s_tbl JOIN ties USING (grp, feature)
)
SELECT grp, feature, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS n_sampled,
       s_stat, {decround_sql('var_s')} AS var_s,
       {decround_sql(z)} AS z,
       CAST(sign(CAST(s_stat AS DOUBLE)) AS INTEGER) AS trend
FROM v
""")


# ---------------------------------------------------------------------------
# Hill tail-index estimator (events.value per type)
# ---------------------------------------------------------------------------


def hill_tail_index(
    events: DataFrame,
    k: int = 100,
    value_col: str = "value",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Hill estimator of the power-law tail exponent per event type:
    H = (1/k) Σ_{i≤k} ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest positive
    values; α = 1/H (Hill 1975). The heavy-tail dial: α < 2 means the
    variance is infinite and mean-based monitoring of that metric is
    noise.

    Order statistics are taken by (value desc, id asc) — raw stored
    doubles, identical bytes in both engines, with the unique id
    breaking exact-duplicate values deterministically.

    Scale: per-type window rank; k+1 rows per type survive. At 100 TB
    the exchange is keyed by type; a constant-k top-k per key is heap
    work, no global sort.

    Output: (event_type, n_positive, k, x_k1, hill, alpha).
    """
    pos = events.filter(F.col(value_col) > 0).select(
        F.col(type_col).alias("event_type"),
        F.col(value_col).alias("v"),
        F.col(id_col).alias("id"),
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(F.col("v").desc(), F.col("id"))
    top = (
        pos.withColumn("n_positive", F.count("*").over(wt))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k + 1)
    )
    xk1 = F.max(F.when(F.col("rn") == k + 1, F.col("v"))).over(wt)
    top = top.withColumn("x_k1", xk1).filter(F.col("rn") <= k)
    agg = top.groupBy("event_type").agg(
        F.first("n_positive").alias("n_positive"),
        F.first("x_k1").alias("x_k1"),
        F.avg(F.log(F.col("v") / F.col("x_k1"))).alias("hill"),
    )
    return agg.filter(F.col("x_k1").isNotNull()).select(
        "event_type",
        F.col("n_positive").cast("long").alias("n_positive"),
        F.lit(k).cast("int").alias("k"),
        siground(F.col("x_k1")).alias("x_k1"),
        siground(F.col("hill")).alias("hill"),
        siground(F.try_divide(F.lit(1.0), F.col("hill"))).alias("alpha"),
    )


def hill_tail_index_sql(k: int = 100, table: str = "events") -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH pos AS (
  SELECT event_type, value AS v, event_id AS id FROM {table} WHERE value > 0
), rk AS (
  SELECT *,
         count(*) OVER (PARTITION BY event_type) AS n_positive,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v DESC, id) AS rn
  FROM pos
), top AS (
  SELECT *, max(CASE WHEN rn = {k + 1} THEN v END)
              OVER (PARTITION BY event_type) AS x_k1
  FROM rk WHERE rn <= {k + 1}
), agg AS (
  SELECT event_type, any_value(n_positive) AS n_positive,
         any_value(x_k1) AS x_k1, avg(ln(v / x_k1)) AS hill
  FROM top WHERE rn <= {k} GROUP BY event_type
)
SELECT event_type, CAST(n_positive AS BIGINT) AS n_positive,
       CAST({k} AS INTEGER) AS k,
       {siground_sql('x_k1')} AS x_k1,
       {siground_sql('hill')} AS hill,
       {siground_sql('CASE WHEN hill <> 0 THEN 1.0 / hill END')} AS alpha
FROM agg WHERE x_k1 IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR over the drift-test battery
# ---------------------------------------------------------------------------


def bh_fdr(
    pvals: DataFrame,
    alpha: float = 0.05,
    p_col: str = "p_value",
    key_cols: tuple[str, ...] = ("test", "grp", "feature"),
) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a battery of p-values:
    input one row per (test × series) hypothesis, output the same
    rows plus (bh_rank, q_value, rejected).

    THE multiple-testing problem a 100 TB monitoring deployment has
    that a notebook does not: running 3 drift tests over a million
    series fires ~150k false alarms per sweep at α = 0.05 — BH caps
    the expected FALSE-DISCOVERY fraction at α instead. q_i =
    min_{j ≥ i} (p_(j)·m/j) (the step-up procedure as published);
    rejected ⇔ q ≤ α.

    Determinism: ranks order by (p, key columns) — total order, and
    the p-values arriving here are already decimal-rounded by their
    producing operators, so rank and q are engine-identical. NULL
    p-values (a test that abstained) are dropped from the battery —
    they never count toward m.

    Scale shape (two-phase bounded rank): the motivating deployment is
    3 tests × a million series = 3M hypothesis rows, too many to
    funnel through ONE task's global window. p ∈ [0, 1] is
    range-bucketed into ``_N_BUCKETS`` contiguous buckets, the blocks
    of a :func:`~dataframeutils_spark.operators.local_solve.block_prefix`
    ledger (see there for the rationale), so (1) battery-wide rank =
    hash-partitioned rank WITHIN the bucket + the ledger's prefix
    count of earlier buckets, (2) m = the ledger total, and (3) the
    battery-wide suffix min of p·m/rank decomposes into the
    within-bucket suffix min (partitioned window) combined with the
    broadcast min over strictly-later buckets. The only unpartitioned
    windows left run over the ≤ ``_N_BUCKETS``-row ledger — the
    "tiny block-totals window" of the two-phase prefix sum. Provably
    equal to the naive global-rank formulation (pinned in
    tests/test_rank_winnow_ewma.py); the DuckDB oracle keeps the
    naive form — single-node, it IS one task.

    Worst-case note: all buckets degenerate to one only if the whole
    battery shares one rounded p-value; then every q is identical by
    definition anyway.
    """
    from dataframeutils_spark.schema import decround

    m_df = pvals.filter(F.col(p_col).isNotNull())
    order_asc = [F.col(p_col).asc()] + [F.col(c).asc() for c in key_cols]
    order_desc = [F.col(p_col).desc()] + [F.col(c).desc() for c in key_cols]
    # the bucketed battery feeds THREE consumers (ledger, rank join,
    # bucket-min table); without truncation each re-runs the upstream
    # battery pipeline — for panel_drift_fdr that is the whole
    # CUSUM+KS+KPSS computation, three times (winnow_clusters
    # precedent)
    d = m_df.withColumn(
        "_bk",
        F.least(
            F.lit(_N_BUCKETS - 1),
            F.floor(F.col(p_col) * _N_BUCKETS).cast("int"),
        ),
    ).localCheckpoint(eager=False)
    # phase A ledger: bucket counts → exclusive prefix (rank offset)
    # and battery size m
    ledger = block_prefix(d, [], "_bk", F.lit(1)).select(
        "_bk",
        F.coalesce("_pre", F.lit(0)).alias("_ofs"),
        F.col("_tot").alias("_m"),
    )
    # phase B: rank within bucket (hash-partitioned window) + offset
    w_rank = Window.partitionBy("_bk").orderBy(*order_asc)
    d = (
        d.join(F.broadcast(ledger), "_bk")
        .withColumn(
            "bh_rank", F.col("_ofs") + F.row_number().over(w_rank)
        )
        .withColumn(
            "_qraw",
            F.col(p_col) * F.col("_m") / F.col("bh_rank").cast("double"),
        )
    )
    # phase C: battery-wide suffix min of _qraw = within-bucket suffix
    # min ∧ (broadcast min over strictly later buckets)
    w_suffix = (
        Window.partitionBy("_bk")
        .orderBy(*order_desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    qmins = d.groupBy("_bk").agg(F.min("_qraw").alias("_bmin"))
    w_later = Window.orderBy(F.col("_bk").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    qmins = qmins.select(
        "_bk", F.min("_bmin").over(w_later).alias("_later_min")
    )
    d = d.join(F.broadcast(qmins), "_bk")
    sfx = F.min("_qraw").over(w_suffix)
    q = F.least(
        F.lit(1.0),
        F.when(
            F.col("_later_min").isNull(), sfx
        ).otherwise(F.least(sfx, F.col("_later_min"))),
    )
    return d.select(
        *key_cols,
        F.col(p_col),
        "bh_rank",
        decround(q).alias("q_value"),
        (decround(q) <= alpha).alias("rejected"),
    )


def panel_drift_fdr(
    cusum: DataFrame, ks: DataFrame, kpss: DataFrame, alpha: float = 0.05
) -> DataFrame:
    """The drift-test battery with FDR control: stack the CUSUM
    mean-shift p, the two-sample KS p and the KPSS p for every panel
    series into one hypothesis table and apply :func:`bh_fdr` — the
    report a monitoring system pages on (which series ACTUALLY moved,
    at a controlled false-discovery rate) instead of three separate
    uncorrected test dumps.
    """
    batt = (
        cusum.select(
            F.lit("cusum").alias("test"), "grp", "feature",
            F.col("p_value").cast("double").alias("p_value"),
        )
        .unionByName(
            ks.select(
                F.lit("ks").alias("test"), "grp", "feature",
                F.col("p_value").cast("double").alias("p_value"),
            )
        )
        .unionByName(
            kpss.select(
                F.lit("kpss").alias("test"), "grp", "feature",
                F.col("kpss_p").cast("double").alias("p_value"),
            )
        )
    )
    return bh_fdr(batt, alpha=alpha)


def panel_drift_fdr_sql(alpha: float = 0.05) -> str:
    from dataframeutils_spark.oracles import CUSUM_SQL, KPSS_SQL, KS_TWO_SAMPLE_SQL
    from dataframeutils_spark.schema import decround_sql

    q = decround_sql("least(1.0, qmin)")
    return f"""
WITH cusum_t AS ({CUSUM_SQL}),
ks_t AS ({KS_TWO_SAMPLE_SQL}),
kpss_t AS ({KPSS_SQL}),
batt AS (
  SELECT 'cusum' AS test, grp, feature, CAST(p_value AS DOUBLE) AS p_value
  FROM cusum_t WHERE p_value IS NOT NULL
  UNION ALL
  SELECT 'ks', grp, feature, CAST(p_value AS DOUBLE) FROM ks_t
  WHERE p_value IS NOT NULL
  UNION ALL
  SELECT 'kpss', grp, feature, CAST(kpss_p AS DOUBLE) FROM kpss_t
  WHERE kpss_p IS NOT NULL
), ranked AS (
  SELECT *, count(*) OVER () AS m,
         row_number() OVER (ORDER BY p_value, test, grp, feature) AS bh_rank
  FROM batt
), suffixed AS (
  SELECT *,
         min(p_value * m / CAST(bh_rank AS DOUBLE)) OVER (
           ORDER BY p_value DESC, test DESC, grp DESC, feature DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qmin
  FROM ranked
)
SELECT test, grp, feature, p_value, bh_rank,
       {q} AS q_value,
       {q} <= {alpha} AS rejected
FROM suffixed
"""
