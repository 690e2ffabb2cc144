"""End-to-end corpus-preparation pipeline: the composition a real
training-data run executes, as ONE lazy Spark plan.

No counterpart in the reference (SURVEY §2.3) — this is the north-star
operators composed the way a pretraining pipeline chains them:

    quality score -> language filter -> exact dedup -> split assignment

The point of shipping the composition (and not just the stages) is the
plan shape: quality and language ID are evaluated inside a SINGLE scan
projection (``text_stat_columns``/``language_id_columns`` — no
self-joins of per-doc operator outputs on doc_id), the quality/language
filters run scan-side BEFORE the only shuffle (the dedup hash), and the
split assignment is again a projection. At 100 TB the whole pipeline is
one pass over the corpus plus one 32-byte-key shuffle of the
FILTER-SURVIVING docs only.

Every stage is engine-portable, so the full composition is exactly
DuckDB-oracle-checkable end to end — filters use quality rounded to 6
digits so an ULP of cross-engine float noise at the threshold cannot
flip a document's fate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.sampling import SPLIT_BUCKETS, _bucket
from dataframeutils_spark.operators.text import (
    _ws_split,
    language_id_columns,
    text_stat_columns,
)

QUALITY_DECIMALS = 6


def prepare_corpus(
    docs: DataFrame,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    max_repetition: float | None = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Per-surviving-document pipeline output: (doc_id, n_chars,
    quality, lang_pred, split).

    A doc survives iff round(quality, 6) >= min_quality, its predicted
    language is in ``langs``, its within-doc 3-gram repetition ratio is
    <= ``max_repetition`` (degenerate-text gate; ``None`` disables),
    and it is the canonical (min-id) copy of its exact-duplicate group
    *among survivors* — dedup after filtering, as pipelines run it (a
    high-quality dup of a filtered-out doc must survive). All three
    heuristic gates evaluate inside the same scan projection.
    """
    from dataframeutils_spark.operators.text import repetition_columns

    stats = text_stat_columns("text")
    lang = language_id_columns("text")
    rep = repetition_columns(F.col("__toks"))
    # token array materialized in its own projection first: the n-gram
    # transform lambda re-evaluates free subexpressions per element, so
    # the repetition columns must consume a bound alias (see
    # text.repetition_columns)
    tokd = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        _ws_split(F.col(text_col)).alias("__toks"),
    )
    enriched = tokd.select(
        "doc_id",
        "text",
        F.round(stats["quality"], QUALITY_DECIMALS).alias("quality"),
        stats["n_chars"].alias("n_chars"),
        lang["lang_pred"].alias("lang_pred"),
        F.round(rep["dup_ngram_ratio"], QUALITY_DECIMALS).alias("rep_ratio"),
    )
    gate = (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    if max_repetition is not None:
        gate = gate & (F.col("rep_ratio") <= max_repetition)
    filtered = enriched.filter(gate)
    # keep-first exact dedup among survivors: one shuffle keyed on the
    # 32-hex md5, never on text
    w = Window.partitionBy(F.md5(F.col("text")))
    kept = (
        filtered.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    split = _bucket(F.col("doc_id"), salt)
    return kept.select(
        "doc_id",
        "n_chars",
        "quality",
        "lang_pred",
        F.when(split < train_pct, F.lit("train"))
        .when(split < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def prepare_corpus_summary(
    docs: DataFrame,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    **kwargs,
) -> DataFrame:
    """Pipeline audit table: per (split, lang_pred) — n_docs, sum_chars,
    min/max surviving doc_id. The counts a pipeline owner checks before
    launching a run."""
    out = prepare_corpus(docs, min_quality=min_quality, langs=langs, **kwargs)
    return out.groupBy("split", "lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def prepare_corpus_summary_sql(
    table: str = "documents",
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    max_repetition: float | None = 0.8,
    train_pct: int = 80,
    val_pct: int = 10,
    salt: str = "split",
) -> str:
    """DuckDB oracle for :func:`prepare_corpus_summary` — the same
    stages as CTEs over the same table."""
    from dataframeutils_spark.operators.sampling import _bucket_sql
    from dataframeutils_spark.operators.text import (
        language_id_sql,
        repetition_stats_sql,
        text_stats_sql,
    )

    lang_list = ", ".join(f"'{l}'" for l in langs)
    b = _bucket_sql("doc_id", salt)
    rep_gate = (
        f" AND rep_ratio <= {max_repetition}" if max_repetition is not None else ""
    )
    return f"""
WITH ts AS ({text_stats_sql(table)}),
li AS ({language_id_sql(table)}),
rp AS ({repetition_stats_sql(table)}),
enr AS (
  SELECT d.doc_id, d.text, round(ts.quality, {QUALITY_DECIMALS}) AS quality,
         ts.n_chars, li.lang_pred,
         round(rp.dup_ngram_ratio, {QUALITY_DECIMALS}) AS rep_ratio
  FROM {table} d JOIN ts USING (doc_id) JOIN li USING (doc_id)
                 JOIN rp USING (doc_id)
),
filt AS (
  SELECT * FROM enr
  WHERE quality >= {min_quality} AND lang_pred IN ({lang_list}){rep_gate}
),
ded AS (
  SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM filt
),
kept AS (SELECT * FROM ded WHERE doc_id = keep_id),
spl AS (
  SELECT doc_id, n_chars, quality, lang_pred,
         CASE WHEN {b} < {train_pct} THEN 'train'
              WHEN {b} < {train_pct + val_pct} THEN 'val'
              ELSE 'test' END AS split
  FROM kept
)
SELECT split, lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM spl
GROUP BY 1, 2
"""


def dataset_card(
    docs: DataFrame,
    min_quality: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source data card: the summary table a pipeline publishes with
    a released dataset — (source, n_docs, n_tokens, n_quality_pass,
    n_english, n_exact_dups).

    One scan projection evaluates quality, language and the content
    hash together (same single-pass shape as :func:`prepare_corpus`);
    the only shuffle is the per-source aggregate, with the duplicate
    count an exact ``count − count(DISTINCT md5)`` inside it.
    """
    from dataframeutils_spark.operators.text import (
        language_id_columns,
        text_stat_columns,
    )

    stats = text_stat_columns(text_col)
    lang = language_id_columns(text_col)
    enriched = docs.select(
        F.col(source_col).alias("source"),
        stats["n_tokens"].alias("n_tokens"),
        (F.round(stats["quality"], QUALITY_DECIMALS) >= min_quality).alias(
            "q_ok"
        ),
        (lang["lang_pred"] == "en").alias("is_en"),
        F.md5(F.col(text_col)).alias("h"),
    )
    return enriched.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum(F.col("q_ok").cast("long")).alias("n_quality_pass"),
        F.sum(F.col("is_en").cast("long")).alias("n_english"),
        (F.count("*") - F.count_distinct(F.col("h"))).alias("n_exact_dups"),
    )


def dataset_card_sql(table: str = "documents", min_quality: float = 0.3) -> str:
    from dataframeutils_spark.operators.text import (
        language_id_sql,
        text_stats_sql,
    )

    return f"""
WITH ts AS ({text_stats_sql(table)}),
li AS ({language_id_sql(table)})
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(ts.n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN round(ts.quality, {QUALITY_DECIMALS})
                          >= {min_quality} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_pass,
       CAST(sum(CASE WHEN li.lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_english,
       count(*) - count(DISTINCT md5(d.text)) AS n_exact_dups
FROM {table} d JOIN ts USING (doc_id) JOIN li USING (doc_id)
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# CDC apply (snapshot maintenance)
# ---------------------------------------------------------------------------


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change batch to a corpus snapshot — the MERGE/upsert an
    ongoing ingestion pipeline runs to maintain the table that
    :func:`~dataframeutils_spark.operators.dedup.incremental_dedup`'s
    hash store tracks: inserts new ids, updates (replaces) existing
    ones, deletes tombstoned ones.

    ``changes`` carries the snapshot's payload columns plus ``op`` ∈
    {'upsert', 'delete'} and a monotone ``seq``; when a batch holds
    several changes for one id, the HIGHEST seq wins (ties: 'delete'
    over 'upsert' — a replay-safe convention; two same-seq upserts tie-
    break on the payload columns themselves so the winner is
    deterministic, never partition-order dependent), matching
    Delta/Iceberg MERGE last-writer-wins semantics without requiring a
    table format.

    Plan: one window over the (small) change batch picks each id's
    winning change, then a single hash join against the snapshot:
    unchanged rows pass through the anti side, surviving changes union
    in. At 100 TB the snapshot never sorts and never shuffles more
    than the join on its id column; with a bucketed snapshot table the
    join is shuffle-free on the big side.
    """
    from pyspark.sql import Window

    payload = [c for c in snapshot.columns]
    w = Window.partitionBy(id_col).orderBy(
        F.col(seq_col).desc(),
        # tie on seq: delete outranks upsert (replay-safe)
        F.when(F.col(op_col) == "delete", 0).otherwise(1).asc(),
        # final tiebreak: the payload itself — row_number with equal
        # keys is partition-order dependent, so two same-seq upserts
        # would otherwise keep an arbitrary (rerun-unstable) winner
        *[F.col(c).asc_nulls_first() for c in payload if c != id_col],
    )
    winner = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    untouched = snapshot.join(
        winner.select(id_col), id_col, "left_anti"
    )
    survivors = winner.filter(F.col(op_col) == "upsert").select(*payload)
    return untouched.unionByName(survivors)


def apply_changes_summary(
    snapshot: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    strat_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """Audit of :func:`apply_changes`: per stratum — (stratum, n_docs,
    sum_chars, min_doc_id, max_doc_id) of the NEW snapshot. Integer
    exact."""
    applied = apply_changes(snapshot, changes, id_col=id_col)
    return applied.groupBy(F.col(strat_col).alias("stratum")).agg(
        F.count("*").alias("n_docs"),
        F.sum(size_col).cast("long").alias("sum_chars"),
        F.min(id_col).alias("min_doc_id"),
        F.max(id_col).alias("max_doc_id"),
    )


def scd2_history(
    changes: DataFrame,
    id_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log —
    the warehouse-side complement of :func:`apply_changes` (which keeps
    only the latest state): every upsert becomes a VERSION row with a
    ``[valid_from_seq, valid_to_seq)`` validity interval; a later
    change of any kind closes the open interval, deletes close it
    without opening a new one, and ``is_current`` marks versions no
    later change superseded.

    Per-key change order is total and replay-stable: seq ASC, then op
    ('delete' sorts before 'upsert' — a same-seq delete is superseded
    by the same-seq upsert, mirroring :func:`apply_changes`' delete-
    outranks-upsert rule from the opposite direction: the delete loses
    currency, the upsert wins it), then the payload columns, so
    re-running on identical input can never swap version numbers.

    Plan: ONE exchange on the key; version numbering, the validity
    lead, and currency are windows over that same partitioning. Linear
    at 100 TB — the change log shuffles once, nothing else moves.
    """
    from pyspark.sql import Window

    payload = [c for c in changes.columns if c not in (id_col, op_col, seq_col)]
    order = [
        F.col(seq_col).asc(),
        F.col(op_col).asc(),
        *[F.col(c).asc_nulls_first() for c in payload],
    ]
    w = Window.partitionBy(id_col).orderBy(*order)
    versioned = changes.select(
        id_col, op_col, seq_col, *payload
    ).withColumn("version", F.row_number().over(w)).withColumn(
        "valid_to_seq", F.lead(seq_col).over(w)
    )
    return versioned.filter(F.col(op_col) == "upsert").select(
        id_col,
        "version",
        *payload,
        F.col(seq_col).alias("valid_from_seq"),
        "valid_to_seq",
        F.col("valid_to_seq").isNull().alias("is_current"),
    )


def scd2_as_of(history: DataFrame, as_of_seq: int, id_col: str = "doc_id") -> DataFrame:
    """Time-travel read over a :func:`scd2_history` table: the snapshot
    AS OF ``as_of_seq`` — the version row whose validity interval
    ``[valid_from_seq, valid_to_seq)`` contains the sequence. A pure
    partition-prunable filter: with the history written partitioned or
    z-ordered on the validity bounds this is a metadata-skip scan, no
    shuffle, no window."""
    return history.filter(
        (F.col("valid_from_seq") <= F.lit(as_of_seq))
        & (
            F.col("valid_to_seq").isNull()
            | (F.col("valid_to_seq") > F.lit(as_of_seq))
        )
    ).drop("version", "is_current")


def snapshot_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus release diff: per document — added / removed / changed /
    unchanged between two snapshots, by content hash.

    The release-engineering primitive a dataset pipeline runs before
    publishing (what moved since v1?) and the input to incremental
    recompute decisions (only ``added``/``changed`` docs need re-
    embedding, re-tokenizing, re-scoring). Scale shape: both sides are
    reduced to (id, 32-hex md5) scan-side — the TEXT never shuffles —
    then one full outer join on the id; output is ids + statuses only.
    """
    o = old_docs.select(
        F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("old_hash")
    )
    n = new_docs.select(
        F.col(id_col).alias("_nid"), F.md5(F.col(text_col)).alias("new_hash")
    )
    j = o.join(n, o["_id"] == n["_nid"], "full_outer")
    status = (
        F.when(F.col("_id").isNull(), F.lit("added"))
        .when(F.col("_nid").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("_id"), F.col("_nid")).alias(id_col),
        status.alias("status"),
        "old_hash",
        "new_hash",
    )


def snapshot_diff_sql(
    old_expr: str,
    new_expr: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle: same hash compare over a full outer join.
    ``old_expr``/``new_expr`` are table subqueries producing
    (id_col, text_col)."""
    return f"""
WITH o AS (SELECT {id_col} AS _id, md5({text_col}) AS old_hash FROM {old_expr}),
     n AS (SELECT {id_col} AS _nid, md5({text_col}) AS new_hash FROM {new_expr})
SELECT coalesce(_id, _nid) AS {id_col},
       CASE WHEN _id IS NULL THEN 'added'
            WHEN _nid IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed'
            ELSE 'unchanged' END AS status,
       old_hash, new_hash
FROM o FULL OUTER JOIN n ON _id = _nid
"""


# ---------------------------------------------------------------------------
# per-source quality drift: the release-over-release corpus report
# ---------------------------------------------------------------------------


def source_quality_drift(
    old: DataFrame,
    new: DataFrame,
    min_quality: float = 0.3,
    n_bins: int = 10,
    psi_alarm: float = 0.2,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source quality drift between two corpus snapshots — the
    release-over-release diff a data team actually reads before
    publishing: for every source, the card deltas (docs, tokens,
    quality-pass rate, exact-dup rate) PLUS a population-stability
    index over the quality-score distribution (did the source's
    quality DISTRIBUTION move, not just its mean). Composes
    :func:`dataset_card`'s per-source card with the psi_drift
    discipline (ε-smoothed shares, > ``psi_alarm`` = conventional
    drift alarm).

    Determinism: quality is rounded to ``QUALITY_DECIMALS`` before
    binning (js_drift's round-before-bucket rule), bins are fixed
    equal-width over [0, 1] (quality is bounded by construction), and
    the PSI sum is decimal-rounded — engine-exact.

    Scale shape: one scan projection per snapshot evaluates quality +
    the content hash; shuffles are two combinable aggregates per
    snapshot (per-source card: exchange = |sources|; bin cells:
    exchange = |sources| × n_bins) joined on the tiny source key.
    Nothing is quadratic in docs; text never leaves the scan.

    Output: (source, n_docs_ref, n_docs_cur, docs_delta_pct,
    tokens_ref, tokens_cur, qpass_rate_ref, qpass_rate_cur,
    dup_rate_ref, dup_rate_cur, quality_psi, drifted).
    """
    from dataframeutils_spark.operators.features import PSI_EPS
    from dataframeutils_spark.schema import decround

    def enrich(df: DataFrame) -> DataFrame:
        stats = text_stat_columns(text_col)
        q = F.round(stats["quality"], QUALITY_DECIMALS)
        return df.select(
            F.col(source_col).alias("source"),
            q.alias("q"),
            stats["n_tokens"].alias("n_tokens"),
            F.md5(F.col(text_col)).alias("h"),
            F.least(
                F.lit(n_bins - 1),
                F.floor(F.greatest(F.lit(0.0), q) * n_bins),
            ).cast("int").alias("bin"),
        )

    def card(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("source").agg(
            F.count("*").alias(f"n_docs_{tag}"),
            F.sum("n_tokens").alias(f"tokens_{tag}"),
            F.avg((F.col("q") >= min_quality).cast("double")).alias(
                f"qpass_rate_{tag}"
            ),
            (
                (F.count("*") - F.count_distinct(F.col("h")))
                / F.count("*").cast("double")
            ).alias(f"dup_rate_{tag}"),
        )

    def cells(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("source", "bin").agg(
            F.count("*").alias(f"c_{tag}")
        )

    o, n = enrich(old), enrich(new)
    co, cn = card(o, "ref"), card(n, "cur")
    # bin shares, ε-smoothed; full outer join keeps one-sided bins
    j = cells(o, "ref").join(cells(n, "cur"), ["source", "bin"], "full")
    j = (
        j.join(co.select("source", "n_docs_ref"), "source")
        .join(cn.select("source", "n_docs_cur"), "source")
        .select(
            "source",
            (
                F.coalesce(F.col("c_ref"), F.lit(0)) / F.col("n_docs_ref")
                + F.lit(PSI_EPS)
            ).alias("pr"),
            (
                F.coalesce(F.col("c_cur"), F.lit(0)) / F.col("n_docs_cur")
                + F.lit(PSI_EPS)
            ).alias("pc"),
        )
    )
    psi = j.groupBy("source").agg(
        F.sum(
            (F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr"))
        ).alias("_psi")
    )
    out = co.join(cn, "source", "full").join(psi, "source", "left")
    qpsi = decround(F.col("_psi"))
    return out.select(
        "source",
        "n_docs_ref",
        "n_docs_cur",
        decround(
            (F.col("n_docs_cur") - F.col("n_docs_ref"))
            / F.col("n_docs_ref").cast("double")
        ).alias("docs_delta_pct"),
        "tokens_ref",
        "tokens_cur",
        decround(F.col("qpass_rate_ref")).alias("qpass_rate_ref"),
        decround(F.col("qpass_rate_cur")).alias("qpass_rate_cur"),
        decround(F.col("dup_rate_ref")).alias("dup_rate_ref"),
        decround(F.col("dup_rate_cur")).alias("dup_rate_cur"),
        qpsi.alias("quality_psi"),
        # a source present in only one snapshot has no distribution to
        # compare — report it as not-drifted (its NULL deltas already
        # flag it as new/removed), keeping the boolean non-NULL for
        # the cross-engine hash
        F.coalesce(qpsi > psi_alarm, F.lit(False)).alias("drifted"),
    )


def source_quality_drift_sql(
    old_rel: str,
    new_rel: str,
    min_quality: float = 0.3,
    n_bins: int = 10,
    psi_alarm: float = 0.2,
) -> str:
    """DuckDB oracle for :func:`source_quality_drift`. ``old_rel`` /
    ``new_rel`` are UNALIASED parenthesized subqueries (or table
    names) with (doc_id, text, source)."""
    from dataframeutils_spark.operators.features import PSI_EPS
    from dataframeutils_spark.operators.text import text_stats_sql
    from dataframeutils_spark.schema import decround_sql

    def enrich(rel: str, name: str) -> str:
        return f"""{name} AS (
  SELECT s.source, round(ts.quality, {QUALITY_DECIMALS}) AS q,
         ts.n_tokens, md5(s.text) AS h,
         least({n_bins - 1},
               CAST(floor(greatest(0.0, round(ts.quality,
                 {QUALITY_DECIMALS})) * {n_bins}) AS INT)) AS bin
  FROM {rel} AS s
  JOIN ({text_stats_sql(rel + " AS tsq")}) ts USING (doc_id)
)"""

    def card(name: str, tag: str) -> str:
        return f"""card_{tag} AS (
  SELECT source, count(*) AS n_docs_{tag},
         CAST(sum(n_tokens) AS BIGINT) AS tokens_{tag},
         avg(CASE WHEN q >= {min_quality} THEN 1.0 ELSE 0.0 END)
           AS qpass_rate_{tag},
         (count(*) - count(DISTINCT h)) / count(*)::DOUBLE
           AS dup_rate_{tag}
  FROM {name} GROUP BY source
)"""

    return f"""
WITH {enrich(old_rel, 'e_ref')}, {enrich(new_rel, 'e_cur')},
{card('e_ref', 'ref')}, {card('e_cur', 'cur')},
cells AS (
  SELECT COALESCE(r.source, c.source) AS source,
         COALESCE(r.bin, c.bin) AS bin,
         COALESCE(r.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur
  FROM (SELECT source, bin, count(*) AS c_ref FROM e_ref GROUP BY 1, 2) r
  FULL OUTER JOIN
       (SELECT source, bin, count(*) AS c_cur FROM e_cur GROUP BY 1, 2) c
    ON r.source = c.source AND r.bin = c.bin
), psi AS (
  SELECT ce.source,
         sum(((ce.c_cur / cc.n_docs_cur::DOUBLE + {PSI_EPS})
              - (ce.c_ref / cr.n_docs_ref::DOUBLE + {PSI_EPS}))
             * ln((ce.c_cur / cc.n_docs_cur::DOUBLE + {PSI_EPS})
                  / (ce.c_ref / cr.n_docs_ref::DOUBLE + {PSI_EPS})))
           AS _psi
  FROM cells ce JOIN card_ref cr USING (source)
                JOIN card_cur cc USING (source)
  GROUP BY ce.source
)
SELECT COALESCE(r.source, c.source) AS source,
       r.n_docs_ref, c.n_docs_cur,
       {decround_sql('(c.n_docs_cur - r.n_docs_ref) / r.n_docs_ref::DOUBLE')}
         AS docs_delta_pct,
       r.tokens_ref, c.tokens_cur,
       {decround_sql('r.qpass_rate_ref')} AS qpass_rate_ref,
       {decround_sql('c.qpass_rate_cur')} AS qpass_rate_cur,
       {decround_sql('r.dup_rate_ref')} AS dup_rate_ref,
       {decround_sql('c.dup_rate_cur')} AS dup_rate_cur,
       {decround_sql('p._psi')} AS quality_psi,
       COALESCE({decround_sql('p._psi')} > {psi_alarm}, FALSE) AS drifted
FROM card_ref r
FULL OUTER JOIN card_cur c ON c.source = r.source
LEFT JOIN psi p ON p.source = COALESCE(r.source, c.source)
"""


# ---------------------------------------------------------------------------
# per-column table profile (the oracle-checkable df.summary())
# ---------------------------------------------------------------------------

_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint",
                     "double", "float", "decimal")


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column data-quality profile in ONE pass: row count, null
    count, exact distinct count, numeric min/max/mean (NULL for
    non-numerics), and the value range as ISO strings for
    date/string columns — the profiling step a pipeline runs on every
    new feed before trusting it (Spark's ``df.summary()`` exists but
    is neither deterministic in schema nor oracle-checkable; this
    is).

    Output: (column, n, n_null, n_distinct, min_num, max_num,
    mean_num, min_str, max_str), one row per profiled column.

    Scale shape: the non-distinct stats are ONE plain aggregate over
    the scan, and each column's exact distinct count is its own
    single-distinct branch (two-phase hash aggregate keyed by that
    column's values), recombined with 1-row joins. Splitting matters:
    asking for every distinct in one aggregate makes Spark plan an
    Expand (one replica of every row per distinct column) feeding a
    ~60-expression FILTER SortAggregate — the string-typed first()
    buffers disqualify hash aggregation AND whole-stage codegen, so
    every expanded row pays interpreted evaluation of every aggregate
    (measured 4.1 s warm at sf0.1 vs 0.9 s for this shape; the
    branches are independent stages and run concurrently). Per-column
    stat columns are stacked to rows driver-free. Doubles are
    decimal-rounded; min/max strings only for non-float types (float
    formatting is engine-specific, numeric slots carry those).

    Source-format constraint: the N distinct branches are N scans of
    ONE column each — nearly free on columnar parquet/ORC (verified:
    each branch's ReadSchema is single-column), but on a row-oriented
    source (CSV, JDBC) they would be N full scans; profile a parquet
    staging copy there.
    """
    from dataframeutils_spark.schema import decround

    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = []
    dist_aggs = []
    stack_parts = []
    for i, c in enumerate(cols):
        dt = dtypes[c]
        is_num = dt.startswith(_NUMERIC_PREFIXES)
        is_float = dt in ("double", "float") or dt.startswith("decimal")
        aggs += [
            F.count(F.col(c)).alias(f"_n{i}"),
            (F.count("*") - F.count(F.col(c))).alias(f"_z{i}"),
        ]
        dist_aggs.append(df.agg(F.countDistinct(F.col(c)).alias(f"_d{i}")))
        if is_num:
            mn = F.min(F.col(c)).cast("double")
            mx = F.max(F.col(c)).cast("double")
            aggs += [
                decround(mn).alias(f"_mn{i}"),
                decround(mx).alias(f"_mx{i}"),
                decround(F.avg(F.col(c))).alias(f"_av{i}"),
            ]
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"_mn{i}"),
                F.lit(None).cast("double").alias(f"_mx{i}"),
                F.lit(None).cast("double").alias(f"_av{i}"),
            ]
        if is_num or is_float:
            aggs += [
                F.lit(None).cast("string").alias(f"_ms{i}"),
                F.lit(None).cast("string").alias(f"_xs{i}"),
            ]
        else:
            aggs += [
                F.min(F.col(c)).cast("string").alias(f"_ms{i}"),
                F.max(F.col(c)).cast("string").alias(f"_xs{i}"),
            ]
        stack_parts.append(
            f"'{c}', _n{i}, _z{i}, _d{i}, _mn{i}, _mx{i}, _av{i}, _ms{i}, _xs{i}"
        )
    agg = df.agg(*aggs)
    for d in dist_aggs:
        agg = agg.crossJoin(d)  # 1-row × 1-row: bounded by construction
    return agg.selectExpr(
        f"stack({len(cols)}, {', '.join(stack_parts)})"
        " AS (column, n, n_null, n_distinct, min_num, max_num,"
        " mean_num, min_str, max_str)"
    )


def table_profile_sql(
    table: str, columns: list[tuple[str, str]]
) -> str:
    """DuckDB oracle for :func:`table_profile`; ``columns`` is
    [(name, kind)] with kind ∈ {'int', 'float', 'str'} ('int' fills
    the numeric slots AND exact integer min/max; 'float' numeric
    slots only; 'str'/'date' the string slots)."""
    from dataframeutils_spark.schema import decround_sql

    parts = []
    for c, kind in columns:
        if kind in ("int", "float"):
            mn = decround_sql(f"CAST(min({c}) AS DOUBLE)")
            mx = decround_sql(f"CAST(max({c}) AS DOUBLE)")
            av = decround_sql(f"avg({c})")
            ms = "CAST(NULL AS VARCHAR)"
            xs = "CAST(NULL AS VARCHAR)"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            av = "CAST(NULL AS DOUBLE)"
            ms = f"CAST(min({c}) AS VARCHAR)"
            xs = f"CAST(max({c}) AS VARCHAR)"
        parts.append(f"""
SELECT '{c}' AS "column",
       CAST(count({c}) AS BIGINT) AS n,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {mn} AS min_num, {mx} AS max_num, {av} AS mean_num,
       {ms} AS min_str, {xs} AS max_str
FROM {table}""")
    return "\nUNION ALL\n".join(parts)
