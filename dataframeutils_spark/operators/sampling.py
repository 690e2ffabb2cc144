"""Deterministic sampling / dataset-split operators.

No counterpart in the reference (SURVEY §2.3) — north-star pipeline
surface: a training-data pipeline needs reproducible train/val/test
assignment and reproducible downsampling that (a) never depends on row
order or partitioning, (b) is stable across reruns and engines, and
(c) assigns a document the same way no matter which shard it arrives
in. Random samplers (``df.sample``/``rand()``) violate all three;
hash-bucket assignment on the stable key is the standard answer.

Scale notes: pure scan-side projection — zero shuffle for assignment
itself, one map-side-combinable groupBy for the summary. The portable
md5 hash (:func:`~dataframeutils_spark.operators.dedup.portable_hash60`)
keeps every operator exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import (
    portable_hash60,
    portable_hash60_sql,
)
from dataframeutils_spark.operators.local_solve import block_positions, block_prefix
from dataframeutils_spark.operators.text import _ws_split, _ws_split_sql

SPLIT_BUCKETS = 100


def _bucket(id_col: Column, salt: str) -> Column:
    salted = F.concat(F.lit(salt + ":"), id_col.cast("string"))
    return portable_hash60(salted) % SPLIT_BUCKETS


def split_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Input plus a deterministic ``split`` column ('train'/'val'/'test').

    bucket = hash(salt:id) mod 100; train = [0, train_pct), val =
    [train_pct, train_pct+val_pct), test = the rest. Changing ``salt``
    re-rolls the assignment; growing the corpus never reassigns an
    existing id (the property random splits lack).
    """
    b = _bucket(F.col(id_col), salt)
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def split_summary(
    docs: DataFrame,
    id_col: str = "doc_id",
    strat_col: str = "lang",
    size_col: str = "n_chars",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Stratification audit of the split: per (split, stratum) —
    (split, lang, n_docs, sum_chars, min_doc_id, max_doc_id).

    The check a pipeline runs before training: are the strata (language,
    source, …) represented proportionally in every split? Integer-exact
    output — hash-identical across engines with no float rounding.
    """
    return (
        split_assign(docs, id_col, train_pct, val_pct, salt)
        .groupBy("split", F.col(strat_col).alias("stratum"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(size_col)).alias("sum_chars"),
            F.min(F.col(id_col)).alias("min_doc_id"),
            F.max(F.col(id_col)).alias("max_doc_id"),
        )
    )


def hash_sample(
    df: DataFrame,
    rate_pct: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic ``rate_pct``-percent downsample: keep rows whose
    hash bucket < rate_pct. Samples are NESTED across rates (the 5 %
    sample is a subset of the 10 % sample — hash_sample(5) ⊆
    hash_sample(10) for equal salt), which makes scaling-law runs
    comparable; a fresh ``salt`` draws an independent sample."""
    return df.filter(_bucket(F.col(id_col), salt) < rate_pct)


def hash_sample_summary(
    df: DataFrame,
    rates: tuple[int, ...] = (5, 10, 20),
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    salt: str = "sample",
) -> DataFrame:
    """Audit of :func:`hash_sample` across ``rates``: per rate —
    (rate_pct, n_rows, sum_chars, nested_violations).

    ``nested_violations`` counts rows present in the ``rate`` sample but
    absent from the next-larger one — 0 by construction (bucket < r ⇒
    bucket < r'), which is exactly what the audit proves: the 5 % sample
    IS a subset of the 10 %, so scaling-law runs are comparable.

    One scan, one map-side-combinable groupBy over len(rates) × rows
    exploded pairs — no joins, no window, scale-free.
    """
    rates = tuple(sorted(rates))
    nxt = dict(zip(rates, rates[1:]))
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("rate_pct"),
                F.lit(nxt.get(r, -1)).cast("long").alias("next_pct"),
            )
            for r in rates
        ]
    )
    b = _bucket(F.col(id_col), salt)
    exploded = (
        df.select(b.alias("bucket"), F.col(size_col).alias("sz"))
        .select("bucket", "sz", F.explode(pairs).alias("rp"))
        .select("bucket", "sz", F.col("rp.rate_pct").alias("rate_pct"), F.col("rp.next_pct").alias("next_pct"))
        .filter(F.col("bucket") < F.col("rate_pct"))
    )
    in_sample_but_not_next = (F.col("next_pct") >= 0) & (
        F.col("bucket") >= F.col("next_pct")
    )
    return exploded.groupBy("rate_pct").agg(
        F.count("*").alias("n_rows"),
        F.sum("sz").alias("sum_chars"),
        F.sum(in_sample_but_not_next.cast("long")).alias("nested_violations"),
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, int],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 100,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-MIXTURE op: keep
    ``rates[stratum]`` percent of each stratum (default ``default_pct``
    for unlisted strata). Rebalancing overrepresented languages/sources
    before training is the canonical use.

    Same hash-bucket machinery as :func:`hash_sample`, so all its
    properties carry over: order/partitioning-independent, stable across
    reruns and engines, nested across rates per stratum, and growing the
    corpus never reassigns an existing id. Scan-side filter — zero
    shuffle.
    """
    m = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    pct = F.coalesce(m[F.col(strat_col)], F.lit(default_pct))
    return df.filter(_bucket(F.col(id_col), salt) < pct)


def stratified_sample_summary(
    df: DataFrame,
    rates: dict[str, int],
    strat_col: str = "lang",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    default_pct: int = 100,
    salt: str = "mix",
) -> DataFrame:
    """Mixture audit: per stratum — (stratum, rate_pct, n_total, n_kept,
    kept_chars). Integer-exact; one map-side-combinable groupBy."""
    m = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])
    pct = F.coalesce(m[F.col(strat_col)], F.lit(default_pct))
    kept = _bucket(F.col(id_col), salt) < pct
    return df.groupBy(F.col(strat_col).alias("stratum")).agg(
        F.max(pct).cast("long").alias("rate_pct"),
        F.count("*").alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col(size_col)).otherwise(F.lit(0))).alias("kept_chars"),
    )


def stratified_sample_summary_sql(
    rates: dict[str, int],
    table: str = "documents",
    strat_col: str = "lang",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    default_pct: int = 100,
    salt: str = "mix",
) -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in rates.items())
    pct = f"(CASE {strat_col} {whens} ELSE {default_pct} END)"
    b = _bucket_sql(id_col, salt)
    return f"""
SELECT {strat_col} AS stratum,
       CAST(max({pct}) AS BIGINT) AS rate_pct,
       count(*) AS n_total,
       CAST(sum(CASE WHEN {b} < {pct} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN {b} < {pct} THEN {size_col} ELSE 0 END) AS BIGINT) AS kept_chars
FROM {table}
GROUP BY 1
"""


def quota_sample(
    df: DataFrame,
    pct: int = 20,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "quota",
    bucket_bits: int = 10,
) -> DataFrame:
    """EXACT-quota stratified sample: exactly ⌊n_s·pct/100⌋ rows per
    stratum, chosen as the stratum's lowest hash values — deterministic,
    order/partitioning-independent, stable across engines.

    :func:`stratified_hash_sample` is the rate sampler (Bernoulli by
    hash bucket — kept counts are only *close* to the rate). Budgeted
    jobs need exact counts ("exactly 20% of every language into the
    eval pool"), and exactness needs a per-stratum rank. The naive
    formulation — ``row_number() OVER (PARTITION BY stratum ORDER BY
    hash)`` — is a scale trap: one giant stratum becomes one sort task.

    Two-phase rank instead: rows land in 2^bucket_bits ordered
    sub-buckets (the hash's TOP bits, so (bucket, hash, id) ordering ≡
    (hash, id) ordering), and the
    :func:`~dataframeutils_spark.operators.local_solve.block_prefix`
    ledger over them locates each stratum's threshold bucket. Every
    bucket strictly below passes scan-side with no rank at all, and
    only the ONE straddling bucket per stratum is ranked — its window
    partitions are 2^bucket_bits finer than the stratum, so no task
    ever sorts a whole stratum. The result is exactly the rows the
    naive global rank would pick (the DuckDB oracle runs that naive
    form).
    """
    return _lowest_hash_select(
        df,
        strat_col,
        lambda total: ((total * pct) / F.lit(100)).cast("long"),
        id_col,
        salt,
        bucket_bits,
    )


def _lowest_hash_select(
    df: DataFrame,
    strat_col: str,
    quota_of_total,
    id_col: str,
    salt: str,
    bucket_bits: int,
) -> DataFrame:
    """Shared straddle-free selection core: keep each stratum's
    ``quota_of_total(stratum_count)`` lowest-hash rows (two-phase rank;
    see :func:`quota_sample` for the scale rationale)."""
    h = portable_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    hashed = df.withColumn("_h", h).withColumn(
        "_b", F.shiftright(F.col("_h"), 60 - bucket_bits)
    )
    # bounded ledger: ≤ strata × 2^bucket_bits rows — broadcast it
    ledger = block_prefix(hashed, [strat_col], "_b", F.lit(1)).select(
        strat_col,
        "_b",
        F.coalesce("_pre", F.lit(0)).alias("_before"),
        quota_of_total(F.col("_tot")).alias("_quota"),
        F.col("_n").alias("_cnt"),
    )
    joined = hashed.join(F.broadcast(ledger), [strat_col, "_b"])
    below = joined.filter(F.col("_before") + F.col("_cnt") <= F.col("_quota"))
    straddle = joined.filter(
        (F.col("_before") < F.col("_quota"))
        & (F.col("_before") + F.col("_cnt") > F.col("_quota"))
    )
    wrank = Window.partitionBy(strat_col, "_b").orderBy("_h", id_col)
    straddle_kept = straddle.withColumn("_r", F.row_number().over(wrank)).filter(
        F.col("_before") + F.col("_r") <= F.col("_quota")
    )
    drop = ["_h", "_b", "_before", "_quota", "_cnt"]
    return below.drop(*drop).unionByName(straddle_kept.drop(*drop, "_r"))


def cap_per_group(
    df: DataFrame,
    cap: int,
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap",
    bucket_bits: int = 10,
) -> DataFrame:
    """Domain capping: keep AT MOST ``cap`` rows per group (the web-
    corpus "no domain may dominate" rule), chosen as the group's
    lowest-hash rows — deterministic, partitioning-independent, and a
    strict subset of a larger cap's selection (cap=50 ⊆ cap=100, same
    nesting property as hash_sample). Groups under the cap pass through
    untouched.

    Same straddle-free two-phase machinery as :func:`quota_sample`
    (quota = min(n_group, cap) instead of a percentage): no task ever
    ranks a whole group, so one mega-domain cannot become one sort
    task — the exact trap a naive row_number() cap falls into at
    100 TB.
    """
    return _lowest_hash_select(
        df,
        strat_col,
        lambda total: F.least(total, F.lit(cap).cast("long")),
        id_col,
        salt,
        bucket_bits,
    )


def cap_per_group_sql(
    cap: int,
    table: str = "documents",
    strat_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "cap",
    cols: str = "*",
) -> str:
    """DuckDB oracle: the naive per-group rank the two-phase plan is
    provably equivalent to."""
    h = portable_hash60_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
SELECT * EXCLUDE (_h, _r) FROM (
  SELECT *,
         row_number() OVER (PARTITION BY {strat_col} ORDER BY _h, {id_col}) AS _r
  FROM (SELECT {cols}, {h} AS _h FROM {table})
) WHERE _r <= {cap}
"""


def quota_sample_sql(
    pct: int = 20,
    table: str = "documents",
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "quota",
    cols: str = "*",
) -> str:
    """DuckDB oracle: the NAIVE global per-stratum rank the two-phase
    plan is provably equivalent to."""
    h = portable_hash60_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
SELECT * EXCLUDE (_h, _r, _quota) FROM (
  SELECT *,
         row_number() OVER (PARTITION BY {strat_col} ORDER BY _h, {id_col}) AS _r,
         (count(*) OVER (PARTITION BY {strat_col}) * {pct}) // 100 AS _quota
  FROM (SELECT {cols}, {h} AS _h FROM {table})
) WHERE _r <= _quota
"""


def curriculum_manifest(
    df: DataFrame,
    score_col: str = "n_chars",
    n_stages: int = 4,
    id_col: str = "doc_id",
    salt: str = "curriculum",
    bucket_bits: int = 10,
) -> DataFrame:
    """Curriculum training order: (id, score, stage, pos_in_stage) —
    documents staged by exact score quantiles (stage 0 = lowest
    scores first, the easy-to-hard warmup schedule) and deterministically
    hash-shuffled WITHIN each stage (ordered stages, random-but-
    reproducible order inside — the standard curriculum data layout).

    Stage boundaries reuse the exact-percentile round-then-compare
    contract (``features.quantile_bin``), so stage membership is
    engine-exact. Positions come from
    :func:`~dataframeutils_spark.operators.local_solve.block_positions`
    over (stage, top hash bits) blocks, so no task ever sorts a whole
    stage, yet the positions are exactly the naive ``row_number() OVER
    (PARTITION BY stage ORDER BY hash, id)`` the DuckDB oracle runs.
    """
    from dataframeutils_spark.operators.features import _rounded_boundaries

    bnds = _rounded_boundaries(df, score_col, n_stages)
    stage = F.aggregate(
        F.transform(F.col("bnds"), lambda b: (F.col(score_col) > b).cast("int")),
        F.lit(0),
        lambda a, x: a + x,
    )
    h = portable_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    staged = (
        df.select(id_col, score_col)
        .filter(F.col(score_col).isNotNull())
        .crossJoin(F.broadcast(bnds))
        .select(
            id_col,
            score_col,
            stage.alias("stage"),
            h.alias("_h"),
        )
        .withColumn("_b", F.shiftright(F.col("_h"), 60 - bucket_bits))
    )
    return block_positions(staged, ["stage"], "_b", ["_h", id_col]).select(
        id_col, score_col, "stage", F.col("_pos").alias("pos_in_stage")
    )


def curriculum_manifest_sql(
    table: str = "documents",
    score_col: str = "n_chars",
    n_stages: int = 4,
    id_col: str = "doc_id",
    salt: str = "curriculum",
) -> str:
    """DuckDB oracle: naive per-stage global rank, same exact-percentile
    boundaries (round-then-compare)."""
    from dataframeutils_spark.schema import siground_sql

    qs = ", ".join(str(i / n_stages) for i in range(1, n_stages))
    rb = siground_sql("b")
    h = portable_hash60_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
WITH bnds AS (
  SELECT list_transform(quantile_cont({score_col}, [{qs}]), b -> {rb}) AS bnds
  FROM {table}
), staged AS (
  SELECT {id_col}, {score_col},
         len(list_filter(bnds, b -> {score_col} > b)) AS stage,
         {h} AS _h
  FROM {table}, bnds
  WHERE {score_col} IS NOT NULL
)
SELECT {id_col}, {score_col}, CAST(stage AS INT) AS stage,
       CAST(row_number() OVER (PARTITION BY stage ORDER BY _h, {id_col}) AS BIGINT)
         AS pos_in_stage
FROM staged
"""


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders (portable hash only)
# ---------------------------------------------------------------------------


def _bucket_sql(id_expr: str, salt: str) -> str:
    salted = f"('{salt}:' || {id_expr}::VARCHAR)"
    return f"{portable_hash60_sql(salted)} % {SPLIT_BUCKETS}"


def split_summary_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    strat_col: str = "lang",
    size_col: str = "n_chars",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> str:
    b = _bucket_sql(id_col, salt)
    return f"""
SELECT CASE WHEN {b} < {train_pct} THEN 'train'
            WHEN {b} < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split,
       {strat_col} AS stratum,
       count(*) AS n_docs,
       CAST(sum({size_col}) AS BIGINT) AS sum_chars,
       min({id_col}) AS min_doc_id,
       max({id_col}) AS max_doc_id
FROM {table}
GROUP BY 1, 2
"""


def hash_sample_summary_sql(
    rates: tuple[int, ...] = (5, 10, 20),
    table: str = "documents",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    salt: str = "sample",
) -> str:
    rates = tuple(sorted(rates))
    nxt = dict(zip(rates, rates[1:]))
    values = ", ".join(f"({r}, {nxt.get(r, -1)})" for r in rates)
    b = _bucket_sql(id_col, salt)
    return f"""
WITH b AS (
  SELECT {b} AS bucket, {size_col} AS sz FROM {table}
)
SELECT CAST(r.rate_pct AS BIGINT) AS rate_pct,
       count(*) AS n_rows,
       CAST(sum(b.sz) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN r.next_pct >= 0 AND b.bucket >= r.next_pct
                     THEN 1 ELSE 0 END) AS BIGINT) AS nested_violations
FROM b, (VALUES {values}) r(rate_pct, next_pct)
WHERE b.bucket < r.rate_pct
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# shard manifest (training-order export plan)
# ---------------------------------------------------------------------------


def shard_hash(id_col: Column, salt: str = "shard") -> Column:
    """The ONE shard-order hash shared by :func:`shard_manifest` and
    ``sources.formats.export_shards`` — a single definition so the
    manifest-realizes-the-export invariant cannot drift."""
    return portable_hash60(F.concat(F.lit(salt + ":"), id_col.cast("string")))


def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic global-shuffle shard manifest for training export:
    (doc_id, shard, pos, offset) — which output shard each doc lands
    in, its position inside the shard, and its starting byte/char
    offset.

    No counterpart in the reference (SURVEY §2.3) — north-star surface:
    the write-side plan of a 100 TB corpus export. shard =
    hash(salt:id) mod n_shards gives an order/partition-independent
    pseudo-random training order (the 'global shuffle' LM training
    wants) without ever materializing a random permutation; pos/offset
    come from one window per shard ordered by (hash, id), which is
    EXACTLY the physical write plan — repartition(n_shards, shard) +
    sortWithinPartitions — so the manifest costs nothing beyond the
    write itself. Production n_shards is 10⁴–10⁵ (shard ≈ a few GB),
    so window parallelism equals shard count and no task sees more
    than one shard's rows.
    """
    from pyspark.sql import Window

    h = shard_hash(F.col(id_col), salt)
    w = Window.partitionBy("shard").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(size_col).alias("sz"),
            h.alias("h"),
        )
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).alias("pos"),
            (F.sum("sz").over(w) - F.col("sz")).cast("long").alias("offset"),
        )
    )


def shard_manifest_sql(
    n_shards: int = 16,
    table: str = "documents",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    salt: str = "shard",
) -> str:
    h = portable_hash60_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id, {size_col} AS sz, {h} AS h,
         {h} % {n_shards} AS shard
  FROM {table}
)
SELECT doc_id, shard,
       CAST(row_number() OVER w AS BIGINT) AS pos,
       CAST(sum(sz) OVER w - sz AS BIGINT) AS offset
FROM d
WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id)
"""


# ---------------------------------------------------------------------------
# temperature-reweighted mixture (audit)
# ---------------------------------------------------------------------------


def mixture_temperature_summary(
    df: DataFrame,
    tau: float = 0.5,
    strat_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """Temperature-:math:`\\tau` mixture reweighting audit — the
    standard multilingual/multi-source rebalancing rule (sampling
    weight ∝ share^τ, τ<1 upweights the tail): per stratum —
    (stratum, n_docs, sum_chars, nat_share, temp_weight, boost,
    target_docs).

    ``boost`` = temp_weight / nat_share is the per-stratum over/under-
    sampling factor to feed :func:`stratified_hash_sample` (rates ∝
    boost, capped at 100 when no replication is wanted);
    ``target_docs`` = temp_weight × total. Floats go through the
    cross-engine decimal-rounding contract; counts stay integer-exact.

    Plan: one map-side-combinable groupBy to S stratum rows, then
    window totals over that TINY table (S rows — the single-partition
    window is a driver-scale triviality, never corpus-scale).
    """
    from pyspark.sql import Window

    from dataframeutils_spark.schema import decround, siground

    w = Window.partitionBy()
    g = df.groupBy(F.col(strat_col).alias("stratum")).agg(
        F.count("*").alias("n_docs"), F.sum(size_col).alias("sum_chars")
    )
    pow_s = F.pow(F.col("n_docs").cast("double"), F.lit(float(tau)))
    g = g.withColumn(
        "nat_share", F.col("n_docs") / F.sum("n_docs").over(w)
    ).withColumn("_w", pow_s / F.sum(pow_s).over(w))
    return g.select(
        "stratum",
        "n_docs",
        F.col("sum_chars").cast("long").alias("sum_chars"),
        decround("nat_share").alias("nat_share"),
        decround("_w").alias("temp_weight"),
        siground(F.col("_w") / F.col("nat_share")).alias("boost"),
        siground(F.col("_w") * F.sum("n_docs").over(w)).alias("target_docs"),
    )


def mixture_temperature_sql(
    tau: float = 0.5,
    table: str = "documents",
    strat_col: str = "lang",
    size_col: str = "n_chars",
) -> str:
    from dataframeutils_spark.schema import decround_sql, siground_sql

    pow_s = f"pow(CAST(n_docs AS DOUBLE), {float(tau)})"
    return f"""
WITH g AS (
  SELECT {strat_col} AS stratum, count(*) AS n_docs,
         CAST(sum({size_col}) AS BIGINT) AS sum_chars
  FROM {table} GROUP BY 1
),
t AS (
  SELECT stratum, n_docs, sum_chars,
         CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS nat_share,
         {pow_s} / sum({pow_s}) OVER () AS w,
         CAST(sum(n_docs) OVER () AS DOUBLE) AS total
  FROM g
)
SELECT stratum, n_docs, sum_chars,
       {decround_sql('nat_share')} AS nat_share,
       {decround_sql('w')} AS temp_weight,
       {siground_sql('(w / nat_share)')} AS boost,
       {siground_sql('(w * total)')} AS target_docs
FROM t
"""


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the k rows
    with the largest Efraimidis–Spirakis keys u^(1/w) — equivalently
    the smallest exp-draws -ln(u)/w (Efraimidis & Spirakis, "Weighted
    random sampling with a reservoir", IPL 2006, public). Inclusion
    probability scales with ``weight_col`` — the 'sample documents
    proportional to quality/length' op — yet every run, engine and
    partitioning draws the SAME sample because u comes from the
    portable hash of (salt:id), not a RNG.

    Output: (doc_id, weight, es_key) for the k winners, es_key =
    -ln(u)/w rounded to the cross-engine contract BEFORE ranking (the
    tfidf round-then-rank pattern) so rank order is engine-exact; ties
    break by id.

    Scale: scan-side key projection + a global top-k (TakeOrdered —
    per-partition heaps, never a full sort); rows with weight <= 0 are
    excluded (the reference algorithm's domain).
    """
    from dataframeutils_spark.schema import decround

    u = (
        portable_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
        .cast("double")
        / F.lit(float(2**60))
    )
    # u in [0,1): shift to (0,1] so ln is finite
    w = F.col(weight_col).cast("double")
    key = decround(-F.log(F.lit(1.0) - u) / w)
    return (
        df.filter(w > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            w.cast("long").alias("weight"),
            key.alias("es_key"),
        )
        .orderBy(F.col("es_key").asc(), F.col("doc_id").asc())
        .limit(k)
    )


def weighted_sample_sql(
    k: int = 100,
    table: str = "documents",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> str:
    from dataframeutils_spark.schema import decround_sql

    h = portable_hash60_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    key = decround_sql(f"(-ln(1.0 - {h} / {float(2**60)}) / {weight_col})")
    return f"""
SELECT {id_col} AS doc_id,
       CAST({weight_col} AS BIGINT) AS weight,
       {key} AS es_key
FROM {table}
WHERE {weight_col} > 0
ORDER BY es_key, doc_id
LIMIT {k}
"""


def dsir_select(
    docs: DataFrame,
    target_sources: tuple[str, ...] = ("src0", "src1"),
    k: int = 250,
    n_feat: int = 1024,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    NeurIPS — public): pick the raw-pool documents whose hashed-bigram
    profile looks most like a target domain.

    Method, on its published formulation: hash every bigram into
    ``n_feat`` buckets (the hashing trick keeps BOTH bag-of-ngrams
    models fixed-size regardless of vocabulary), fit add-α bucket
    models for the target slice and the raw pool, and score each raw
    doc by its importance log-weight ``Σ_b c_b·(ln p_target(b) −
    ln p_raw(b))``; the top-k scored docs are the selected training
    subset. (The paper samples with Gumbel noise; the engine takes the
    deterministic top-k — same estimand, reproducible across runs.)

    Output: (doc_id, n_bigrams, logw, selected) for the k winners,
    ``logw`` rounded to the cross-engine contract BEFORE ranking
    (round-then-rank), ties by id.

    Scale shape: bigrams are hashed SCAN-SIDE (8-byte features, text
    never shuffles past tokenization); both models are ``n_feat``-row
    tables built by ONE map-side-combinable aggregate over (feat,
    is_target) and joined back by BROADCAST; per-doc scoring is one
    groupBy(doc, feat) + one groupBy(doc); selection is TakeOrdered.
    Nothing grows with corpus size except the two linear passes.
    """
    from dataframeutils_spark.schema import decround

    tokd = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).isin(*target_sources).alias("is_target"),
        _ws_split(F.col(text_col)).alias("toks"),
    )
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feat = (portable_hash60(F.col("bg")) % n_feat).alias("feat")
    doc_feat = tokd.select(
        "doc_id", "is_target", F.explode(grams).alias("bg")
    ).select("doc_id", "is_target", feat)

    counts = doc_feat.groupBy("feat").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cr"),
    )
    tot = counts.agg(
        F.sum("ct").cast("double").alias("tt"),
        F.sum("cr").cast("double").alias("tr"),
    )
    a = F.lit(float(alpha))
    b = F.lit(float(n_feat))
    lw = F.log((F.col("ct") + a) / (F.col("tt") + a * b)) - F.log(
        (F.col("cr") + a) / (F.col("tr") + a * b)
    )
    model = counts.crossJoin(F.broadcast(tot)).select("feat", lw.alias("lw"))

    raw_counts = (
        doc_feat.filter(~F.col("is_target"))
        .groupBy("doc_id", "feat")
        .agg(F.count("*").alias("c"))
    )
    scored = (
        raw_counts.join(F.broadcast(model), "feat")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            decround(F.sum(F.col("c") * F.col("lw"))).alias("logw"),
        )
    )
    return (
        scored.orderBy(F.col("logw").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn("selected", F.lit(True))
    )


def dsir_select_sql(
    table: str = "documents",
    target_sources: tuple[str, ...] = ("src0", "src1"),
    k: int = 250,
    n_feat: int = 1024,
    alpha: float = 0.5,
) -> str:
    from dataframeutils_spark.schema import decround_sql

    srcs = ", ".join(f"'{s}'" for s in target_sources)
    h = portable_hash60_sql("bg")
    return f"""
WITH tok AS (
  SELECT doc_id, source IN ({srcs}) AS is_target,
         {_ws_split_sql("text")} AS toks
  FROM {table}
), bi AS (
  SELECT doc_id, is_target, {h} % {n_feat} AS feat FROM (
    SELECT doc_id, is_target,
           unnest(CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i + 1])
                       ELSE [] END) AS bg
    FROM tok)
), counts AS (
  SELECT feat,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM bi GROUP BY feat
), tot AS (
  SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM counts
), model AS (
  SELECT feat,
         ln((ct + {alpha}) / (tt + {alpha} * {n_feat}))
           - ln((cr + {alpha}) / (tr + {alpha} * {n_feat})) AS lw
  FROM counts CROSS JOIN tot
), doc_counts AS (
  SELECT doc_id, feat, count(*) AS c FROM bi WHERE NOT is_target
  GROUP BY doc_id, feat
), scored AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_bigrams,
         {decround_sql('sum(c * lw)')} AS logw
  FROM doc_counts JOIN model USING (feat)
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, logw, TRUE AS selected
FROM scored
ORDER BY logw DESC, doc_id ASC
LIMIT {k}
"""


def leakage_safe_split(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Train/val/test assignment where near-duplicate documents NEVER
    straddle a split boundary: (doc_id, rep_id, split).

    A plain hash split (:func:`split_assign`) puts two near-identical
    documents in train and test ~2·p·(1−p) of the time — silent eval
    contamination. Here the hash key is the near-dup CLUSTER
    representative (MinHash-LSH pairs → connected components, min-id
    label; singletons represent themselves), so a whole duplicate family
    moves as one unit. Stability under append-only growth is partial:
    as long as new documents only join ONE existing family (or form a
    new one), existing assignments never move (the cluster id is the
    min doc id, stable when ids grow monotonically). But a new document
    whose LSH pairs BRIDGE two previously separate families (or absorb
    a singleton) merges their clusters, the merged rep_id becomes the
    smaller min-id, and the other family's documents ARE reassigned —
    wholesale, to the surviving rep's split. Re-freeze eval sets after
    large appends if that matters downstream.

    Scale shape: the cluster resolution is the already-documented LSH +
    pointer-doubling path over the (few-%) duplicate subset; the split
    itself adds one LEFT join of the corpus against that small label
    table and a hash — no new heavy machinery. The label table comes
    straight from :func:`~dataframeutils_spark.operators.dedup.
    duplicate_components` (the shared pair-graph definition) rather
    than :func:`~dataframeutils_spark.operators.dedup.dedup_clusters`:
    the split keys only on cluster_id,
    so dedup_clusters' cluster_size aggregation + decoration join would
    be a discarded exchange (Catalyst cannot prune an aggregation feeding
    an inner join; measured ~0.5 s of the sf0.1 solo wall).
    """
    from dataframeutils_spark.operators.dedup import duplicate_components

    clusters = duplicate_components(
        docs, text_col=text_col, id_col=id_col, n=n,
        num_perm=num_perm, bands=bands,
    )
    # no broadcast hint: the label table is the duplicate SUBSET (small
    # at test scale, but a few % of a 100 TB corpus is still TBs) — let
    # AQE pick broadcast vs shuffle from the measured size
    rep = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(clusters.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep_id"),
        )
    )
    b = _bucket(F.col("rep_id"), salt)
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return rep.select("doc_id", "rep_id", split.alias("split"))


def leakage_safe_split_sql(
    table: str = "documents",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> str:
    """DuckDB oracle: the dedup_clusters recursive-closure CTE chain,
    then the same rep-keyed hash split."""
    from dataframeutils_spark.operators.dedup import minhash_lsh_sql

    b = _bucket_sql("rep_id", salt)
    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_sql(table, n, num_perm, bands)}),
sym AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(v, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.v
),
lab AS (
  SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
),
rep AS (
  SELECT t.doc_id, COALESCE(l.cluster_id, t.doc_id) AS rep_id
  FROM {table} t LEFT JOIN lab l USING (doc_id)
)
SELECT doc_id, rep_id,
       CASE WHEN {b} < {train_pct} THEN 'train'
            WHEN {b} < {train_pct + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""
