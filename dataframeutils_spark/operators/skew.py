"""Skew-hardened join: deterministic key salting.

No counterpart in the reference (SURVEY §2.3 — it has no joins);
north-star scale surface. A shuffle join partitions both sides by the
join key, so ONE hot key (the power-law user, the empty-string
document, the null-ish default id) lands its entire row set in one
task — the canonical 100 TB straggler. AQE's skew-join split handles
the sort-merge case at runtime (pinned in ``tests/test_skew.py``);
salting is the PLAN-TIME answer that also covers the cases AQE cannot
touch (broadcast-hash probes are fine, but e.g. skewed aggregations
feeding a join, or engines/stages where AQE is off).

Mechanics: the fact side appends ``_salt = hash(row_id) % n_salt`` —
a DETERMINISTIC per-row salt (``rand()`` would break retries,
re-runs, and the oracle) — splitting each hot key's rows across
``n_salt`` shuffle partitions; the dim side is exploded ×``n_salt``
so every (key, salt) fact partition still finds its dim row. The
join result is row-for-row IDENTICAL to the unsalted join (the salt
column is internal and dropped), so the operator carries an exact
plain-join oracle. Cost: dim side ×``n_salt`` rows — cheap when the
dim is the small side, which is exactly the skewed-fact/modest-dim
shape the technique exists for.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    row_col: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` to ``dim`` on ``on`` with ``n_salt``-way key
    salting; result ≡ ``fact.join(dim, on, how)``.

    ``row_col`` names a fact column that varies PER ROW (a row id /
    event id) — the salt must spread a single hot key's rows, so it
    cannot be derived from the join key itself. ``dim`` must be unique
    per join key (the usual dim contract); the explode multiplies it
    ×``n_salt``, so keep it the small side. ``how`` supports inner and
    left — the fact side keeps exactly one salt per row, so unmatched
    fact rows surface once, like the unsalted left join.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted = F.concat(F.lit("salt:"), F.col(row_col).cast("string"))
    f = fact.withColumn("_salt", (portable_hash60(salted) % n_salt).cast("int"))
    # sequence of int literals explodes to int directly (a cast wrapped
    # AROUND the generator is rejected: UNSUPPORTED_GENERATOR)
    d = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    return f.join(d, on=[*on, "_salt"], how=how).drop("_salt")


def user_profile_salted(events: DataFrame, n_salt: int = 8) -> DataFrame:
    """Registered-query shape: every event joined to its user's mean
    value via :func:`salted_join` — (event_id, user_id, value,
    user_avg). The dim is the per-user profile aggregate; the fact is
    the raw event stream whose per-user row counts are the skew
    surface."""
    fact = events.select("event_id", "user_id", "value")
    dim = events.groupBy("user_id").agg(F.avg("value").alias("user_avg"))
    return salted_join(fact, dim, on=("user_id",), row_col="event_id", n_salt=n_salt)


def user_profile_salted_sql(table: str = "events") -> str:
    """Oracle = the UNSALTED join: salting must not change the answer."""
    return f"""
SELECT e.event_id, e.user_id, e.value, p.user_avg
FROM {table} e
JOIN (SELECT user_id, avg(value) AS user_avg FROM {table} GROUP BY user_id) p
  USING (user_id)
"""


def skew_report(
    df: DataFrame,
    key_col: str = "user_id",
    top_k: int = 20,
) -> DataFrame:
    """Join-key skew profiler: the pre-flight that decides WHETHER a
    key needs salting (N59) before paying for a skewed shuffle. Top-k
    heaviest keys with each key's share of all rows, the running
    cumulative share, and the ratio to the median key's count — the
    "one user owns 20% of the table" diagnosis as a table.

    100 TB shape: ONE map-side-combinable groupBy(key) (the same
    exchange any join on this key would pay, minus the payload);
    everything after runs on the ≤|keys| count table — the median is a
    1-row broadcast, the top-k a TakeOrdered. Rows never carry
    payload columns: the scan is pruned to the key.
    """
    from dataframeutils_spark.schema import decround, siground

    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("n"))
    stats = counts.agg(
        F.sum("n").alias("total_rows"),
        F.count("*").alias("n_keys"),
        F.percentile("n", F.lit(0.5)).alias("median_n"),
    )
    from pyspark.sql import Window

    # pin NULL-key ordering: Spark sorts asc nulls-first by default but
    # DuckDB defaults to NULLS LAST — a NULL key near the top-k boundary
    # would otherwise select different rows in the two engines
    w = Window.orderBy(
        F.col("n").desc(), F.col("key").asc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, 0)
    top = (
        counts.crossJoin(F.broadcast(stats))
        .orderBy(F.col("n").desc(), F.col("key").asc_nulls_last())
        .limit(top_k)
        .select(
            "key",
            "n",
            "n_keys",
            decround(F.col("n") / F.col("total_rows")).alias("share"),
            decround(F.sum(F.col("n") / F.col("total_rows")).over(w)).alias(
                "cum_share"
            ),
            siground(F.col("n") / F.col("median_n")).alias("ratio_to_median"),
        )
    )
    return top


def skew_report_sql(
    table: str = "events", key_col: str = "user_id", top_k: int = 20
) -> str:
    from dataframeutils_spark.schema import decround_sql, siground_sql

    share = decround_sql("n / total_rows")
    cum = decround_sql(
        "sum(n / total_rows) OVER (ORDER BY n DESC, key NULLS LAST "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    ratio = siground_sql("n / median_n")
    return f"""
WITH counts AS (
  SELECT {key_col} AS key, count(*) AS n FROM {table} GROUP BY {key_col}
), stats AS (
  SELECT sum(n) AS total_rows, count(*) AS n_keys,
         quantile_cont(n, 0.5) AS median_n
  FROM counts
)
SELECT key, n, n_keys, {share} AS share, {cum} AS cum_share,
       {ratio} AS ratio_to_median
FROM counts, stats
ORDER BY n DESC, key NULLS LAST LIMIT {top_k}
"""


# ---------------------------------------------------------------------------
# concentration profiling: Gini / Lorenz shares
# ---------------------------------------------------------------------------


def concentration_report(
    amounts: DataFrame,
    group_col: str,
    entity_col: str,
    amount_col: str,
    top_frac: float = 0.1,
) -> DataFrame:
    """Revenue-concentration profile per market: Gini coefficient and
    the share held by the top ``top_frac`` of entities — the
    distributional companion to :func:`skew_report` (that one profiles
    JOIN-KEY skew for the planner; this one profiles VALUE
    concentration for the analyst — "is this market winner-take-all").

    Gini via the rank formulation over entity totals x₍₁₎≤…≤x₍ₙ₎:
    G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n. Entity totals are aggregates
    (cross-engine ulp noise), so ranking happens on the
    decimal-ROUNDED total with the entity id as tiebreak — the same
    pre-ranking round every discontinuous step in this repo uses; the
    smooth outputs ride the rounding contract.

    Scale shape: one combinable (group × entity) aggregate, then
    windows over the entity-total table (exchange = entities, never
    raw rows); the final report is one row per group.

    Output: (grp, n_entities, total, gini, top_n, top_share).
    """
    from dataframeutils_spark.schema import decround

    totals = amounts.groupBy(
        F.col(group_col).alias("grp"), F.col(entity_col).alias("ent")
    ).agg(F.sum(F.col(amount_col).cast("double")).alias("x"))
    totals = totals.withColumn("rx", decround(F.col("x")))
    w = Window.partitionBy("grp")
    wo = w.orderBy(F.asc("rx"), F.asc("ent"))
    ranked = (
        totals.withColumn("i", F.row_number().over(wo))
        .withColumn("n", F.count("*").over(w))
        .withColumn("tot", F.sum("x").over(w))
    )
    top_n = F.ceil(F.lit(top_frac) * F.col("n")).cast("long")
    return (
        ranked.groupBy("grp")
        .agg(
            F.first("n").alias("n_entities"),
            F.first("tot").alias("total"),
            F.sum(F.col("i") * F.col("x")).alias("_ix"),
            F.first(top_n).alias("top_n"),
            F.sum(
                F.when(F.col("i") > F.col("n") - top_n, F.col("x")).otherwise(0.0)
            ).alias("_topsum"),
        )
        .select(
            "grp",
            F.col("n_entities").cast("long").alias("n_entities"),
            decround(F.col("total")).alias("total"),
            decround(
                F.lit(2.0) * F.col("_ix") / (F.col("n_entities") * F.col("total"))
                - (F.col("n_entities") + F.lit(1.0)) / F.col("n_entities")
            ).alias("gini"),
            "top_n",
            decround(F.col("_topsum") / F.col("total")).alias("top_share"),
        )
    )


def concentration_report_sql(
    table: str,
    group_expr: str,
    entity_expr: str,
    amount_expr: str,
    top_frac: float = 0.1,
) -> str:
    """DuckDB oracle for :func:`concentration_report` — identical
    pre-rounded ranking and rank-formulation Gini."""
    from dataframeutils_spark.schema import decround_sql

    rx = decround_sql("x")
    return f"""
WITH totals AS (
  SELECT {group_expr} AS grp, {entity_expr} AS ent,
         sum(CAST({amount_expr} AS DOUBLE)) AS x
  FROM {table} GROUP BY 1, 2
), ranked AS (
  SELECT grp, ent, x,
         row_number() OVER (PARTITION BY grp ORDER BY {rx} ASC, ent ASC) AS i,
         count(*) OVER (PARTITION BY grp) AS n,
         sum(x) OVER (PARTITION BY grp) AS tot
  FROM totals
)
SELECT grp,
       CAST(any_value(n) AS BIGINT) AS n_entities,
       {decround_sql('any_value(tot)')} AS total,
       {decround_sql('2.0 * sum(i * x) / (any_value(n) * any_value(tot)) - (any_value(n) + 1.0) / any_value(n)')} AS gini,
       CAST(ceil({top_frac} * any_value(n)) AS BIGINT) AS top_n,
       {decround_sql(f'sum(CASE WHEN i > n - ceil({top_frac} * n) THEN x ELSE 0.0 END) / any_value(tot)')} AS top_share
FROM ranked
GROUP BY grp
"""
