"""Corpus-cleaning operators for large-scale training-data pipelines.

No counterpart in the reference (SURVEY §2.3) — these are the standard
pre-training gates a 100 TB pipeline applies between raw ingest and
tokenization, all fully native (no Python in the hot path) and exactly
oracle-checkable against DuckDB:

* :func:`decontaminate` — benchmark decontamination: flag corpus
  documents whose token n-grams overlap a held-out benchmark set (the
  train/test-leak check every published pipeline runs before training).
* :func:`pii_scrub` — PII detection + redaction (emails / phone
  numbers / IPv4 addresses) with per-document hit counts, via chained
  ``regexp_replace`` in a regex subset shared by Java and RE2.
* :func:`quality_rules` — Gopher-style document quality rules (Rae et
  al. 2021, public): word-count bounds, mean-word-length bounds,
  symbol-to-word ratio, bullet/ellipsis line ratios, alphabetic-word
  ratio, minimum stopword evidence — one boolean column per rule plus
  the conjunction.

Scale notes:

* :func:`pii_scrub` and :func:`quality_rules` are scan-side
  projections — zero shuffle, whole-stage codegen, pipelined into the
  parquet scan with only ``text`` read.
* :func:`decontaminate` shuffles exploded n-grams once to join the
  benchmark gram set. The benchmark side (an eval suite) is tiny
  relative to the corpus — it is distinct-ed and broadcast, so the
  corpus side never shuffles at all: the plan is scan → explode →
  broadcast-hash-join → partial count → final count, with the only
  exchange carrying (doc_id, count) partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.text import (
    LANG_STOPWORDS,
    _ws_split,
    _ws_split_sql,
    ngram_array,
    ngram_array_sql,
)

# --------------------------------------------------------------------------
# Decontamination
# --------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document benchmark-overlap contamination.

    Output: (doc_id, n_grams, n_hit_grams, contamination_ratio,
    contaminated) — one row per corpus document; ``n_grams`` counts the
    document's DISTINCT token ``n``-grams, ``n_hit_grams`` how many of
    those appear anywhere in ``benchmark``, and ``contaminated`` is
    ``contamination_ratio >= threshold``.
    """

    def doc_grams(df: DataFrame) -> DataFrame:
        toks = _ws_split(F.col(text_col))
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(ngram_array(toks, n)).alias("grams"),
        )

    bench_grams = F.broadcast(
        doc_grams(benchmark)
        .select(F.explode("grams").alias("gram"))
        .select(F.col("gram").alias("gkey"))
        .distinct()
    )

    corpus_grams = doc_grams(corpus)
    per_doc = corpus_grams.select("doc_id", F.size("grams").alias("n_grams"))
    hits = (
        corpus_grams.select("doc_id", F.explode("grams").alias("gram"))
        .select("doc_id", F.col("gram").alias("gkey"))
        .join(bench_grams.withColumn("hit", F.lit(1)), "gkey", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_hit_grams"))
    )
    # docs with < n tokens explode to zero gram rows and miss the hits
    # aggregate entirely — coalesce BEFORE the ratio or they'd come
    # back NULL-contaminated instead of clean
    n_hits = F.coalesce("n_hit_grams", F.lit(0))
    ratio = n_hits.cast("double") / F.greatest(F.col("n_grams"), F.lit(1))
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_hits.alias("n_hit_grams"),
            ratio.alias("contamination_ratio"),
            (ratio >= F.lit(threshold)).alias("contaminated"),
        )
    )


def decontaminate_sql(
    table: str = "documents",
    bench_pred: str = "source IN ('src0', 'src1')",
    n: int = 5,
    threshold: float = 0.05,
) -> str:
    """DuckDB oracle: corpus = rows NOT matching ``bench_pred``."""
    grams = ngram_array_sql("toks", n)
    return f"""
WITH tok AS (
  SELECT doc_id, ({bench_pred}) AS is_bench,
         {_ws_split_sql("text")} AS toks
  FROM {table}
), g AS (
  SELECT doc_id, is_bench, list_distinct({grams}) AS grams FROM tok
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_bench
), corpus_docs AS (
  SELECT doc_id, len(grams) AS n_grams FROM g WHERE NOT is_bench
), corpus_grams AS (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_bench
), hits AS (
  SELECT c.doc_id, count(b.gram) AS n_hit_grams
  FROM corpus_grams c LEFT JOIN bench b USING (gram)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       d.n_grams,
       COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(h.n_hit_grams, 0) / GREATEST(d.n_grams, 1)::DOUBLE
         AS contamination_ratio,
       COALESCE(h.n_hit_grams, 0) / GREATEST(d.n_grams, 1)::DOUBLE
         >= {threshold} AS contaminated
FROM corpus_docs d LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

# Conservative patterns in the Java-regex ∩ RE2 subset so the exact
# oracle can run the SAME strings in DuckDB. Email first (its local
# part may contain digits the phone pattern would otherwise eat).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
# International-prefix form only (leading +): bare digit runs in prose
# are NOT phone numbers; precision beats recall for a redaction gate.
PHONE_RE = "\\+[0-9][0-9() -]{6,}[0-9]"

_PII = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect and redact PII spans.

    Output: (doc_id, n_email, n_ipv4, n_phone, n_pii, clean_text) —
    counts per pattern family and the text with every match replaced by
    a typed placeholder token. Single scan-side projection: counts and
    replacement evaluate in one whole-stage-codegen stage, no shuffle,
    no Python.
    """
    text = F.col(text_col)
    cols = [F.col(id_col).alias("doc_id")]
    total = F.lit(0)
    for name, pat, _ in _PII:
        c = F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        cols.append(c.alias(f"n_{name}"))
        total = total + c
    clean = text
    for _, pat, repl in _PII:
        clean = F.regexp_replace(clean, pat, repl)
    cols.append(total.alias("n_pii"))
    cols.append(clean.alias("clean_text"))
    return docs.select(*cols)


def pii_scrub_sql(table: str = "documents", text_expr: str = "text") -> str:
    counts = ", ".join(
        f"len(regexp_extract_all({text_expr}, '{pat}')) AS n_{name}"
        for name, pat, _ in _PII
    )
    total = " + ".join(
        f"len(regexp_extract_all({text_expr}, '{pat}'))" for _, pat, _ in _PII
    )
    clean = text_expr
    for _, pat, repl in _PII:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id, {counts}, {total} AS n_pii, {clean} AS clean_text
FROM {table}
"""


# --------------------------------------------------------------------------
# Gopher-style quality rules
# --------------------------------------------------------------------------

BULLET_PREFIXES = ("- ", "* ", "• ")


def quality_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
) -> DataFrame:
    """Gopher-rule document filter (Rae et al. 2021 §A1.1, public).

    Output: (doc_id, n_words, mean_word_len, symbol_ratio,
    bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
    n_distinct_stopwords, r_wordcount, r_word_len, r_symbol, r_bullet,
    r_ellipsis, r_alpha, r_stopwords, passes) — one boolean per rule,
    ``passes`` their conjunction. Pure projection: no shuffle, no
    Python, pipelines into the parquet scan.
    """
    text = F.col(text_col)
    toks = F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)
    lines = F.filter(F.split(text, "\n"), lambda l: F.length(l) > 0)

    n_words = F.size(toks)
    n_words1 = F.greatest(n_words, F.lit(1))
    mean_word_len = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast(
            "double"
        )
        / n_words1
    )
    n_symbols = F.size(F.regexp_extract_all(text, F.lit("#|\\.\\.\\."), 0))
    symbol_ratio = n_symbols.cast("double") / n_words1
    n_lines1 = F.greatest(F.size(lines), F.lit(1))
    bullet = lambda l: F.array_contains(  # noqa: E731
        F.array(*[l.startswith(p) for p in BULLET_PREFIXES]), True
    )
    bullet_ratio = (
        F.size(F.filter(lines, bullet)).cast("double") / n_lines1
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double")
        / n_lines1
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_words1
    )
    en_stops = list(LANG_STOPWORDS["en"])
    n_stop_distinct = F.size(
        F.array_distinct(
            F.filter(toks, lambda t: F.lower(t).isin(en_stops))
        )
    )

    r_wordcount = (n_words >= min_words) & (n_words <= max_words)
    r_word_len = (mean_word_len >= min_mean_word_len) & (
        mean_word_len <= max_mean_word_len
    )
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_bullet = bullet_ratio <= max_bullet_line_ratio
    r_ellipsis = ellipsis_ratio <= max_ellipsis_line_ratio
    r_alpha = alpha_ratio >= min_alpha_word_ratio
    r_stopwords = n_stop_distinct >= min_distinct_stopwords

    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop_distinct.alias("n_distinct_stopwords"),
        r_wordcount.alias("r_wordcount"),
        r_word_len.alias("r_word_len"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stopwords.alias("r_stopwords"),
        (
            r_wordcount
            & r_word_len
            & r_symbol
            & r_bullet
            & r_ellipsis
            & r_alpha
            & r_stopwords
        ).alias("passes"),
    )


def quality_rules_sql(
    table: str = "documents",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_distinct_stopwords: int = 2,
) -> str:
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    bullets = " OR ".join(
        f"starts_with(l, '{p}')" for p in BULLET_PREFIXES
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)
           AS toks,
         list_filter(string_split(text, chr(10)), l -> len(l) > 0)
           AS lines,
         len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols
  FROM {table}
), m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         GREATEST(len(toks), 1) AS n_words1,
         list_sum(list_transform(toks, t -> len(t)))
           / GREATEST(len(toks), 1)::DOUBLE AS mean_word_len,
         n_symbols / GREATEST(len(toks), 1)::DOUBLE AS symbol_ratio,
         len(list_filter(lines, l -> {bullets}))
           / GREATEST(len(lines), 1)::DOUBLE AS bullet_line_ratio,
         len(list_filter(lines, l -> ends_with(l, '...')))
           / GREATEST(len(lines), 1)::DOUBLE AS ellipsis_line_ratio,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
           / GREATEST(len(toks), 1)::DOUBLE AS alpha_word_ratio,
         len(list_distinct(list_filter(toks, t -> lower(t) IN ({stops}))))
           AS n_distinct_stopwords
  FROM tok
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
       ellipsis_line_ratio, alpha_word_ratio, n_distinct_stopwords,
       (n_words >= {min_words} AND n_words <= {max_words}) AS r_wordcount,
       (mean_word_len >= {min_mean_word_len}
        AND mean_word_len <= {max_mean_word_len}) AS r_word_len,
       symbol_ratio <= {max_symbol_ratio} AS r_symbol,
       bullet_line_ratio <= {max_bullet_line_ratio} AS r_bullet,
       ellipsis_line_ratio <= {max_ellipsis_line_ratio} AS r_ellipsis,
       alpha_word_ratio >= {min_alpha_word_ratio} AS r_alpha,
       n_distinct_stopwords >= {min_distinct_stopwords} AS r_stopwords,
       (n_words >= {min_words} AND n_words <= {max_words})
       AND (mean_word_len >= {min_mean_word_len}
            AND mean_word_len <= {max_mean_word_len})
       AND symbol_ratio <= {max_symbol_ratio}
       AND bullet_line_ratio <= {max_bullet_line_ratio}
       AND ellipsis_line_ratio <= {max_ellipsis_line_ratio}
       AND alpha_word_ratio >= {min_alpha_word_ratio}
       AND n_distinct_stopwords >= {min_distinct_stopwords} AS passes
FROM m
"""


def semantic_decontaminate(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "vec_id",
) -> DataFrame:
    """Semantic (embedding-level) benchmark decontamination — the
    companion gate to :func:`decontaminate`'s n-gram overlap: paraphrased
    or reformatted eval leakage that shares no 5-gram still lands close
    in embedding space (the practice in recent LLM data pipelines, e.g.
    the contamination audits of GPT-3/PaLM appendices).

    Output per corpus vector: (vec_id, max_eval_sim, nearest_eval_id,
    contaminated). ``max_eval_sim`` is the max cosine against the WHOLE
    eval set, rounded (siground) BEFORE the threshold compare and the
    argmax tiebreak (min eval id on equal rounded sims) so the flag is
    engine-exact.

    Scale: the eval set is small by nature (benchmarks are thousands of
    rows) — it broadcasts, and the corpus×eval scoring runs inside the
    corpus scan (one fold per pair per task, no shuffle of corpus
    vectors); the per-vector argmax is a map-side-combined max(struct).
    At 100 TB this is one pass over the embedding table.
    """
    from dataframeutils_spark.operators.similarity import _dot, _norm
    from dataframeutils_spark.schema import siground

    c = corpus_emb.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    ).filter(F.col("cn") > 0)
    e = eval_emb.select(
        F.col(eval_id_col).alias("eid"),
        F.col(vec_col).alias("ev"),
        _norm(F.col(vec_col)).alias("en"),
    ).filter(F.col("en") > 0)
    sim = siground(
        _dot(F.col("cv"), F.col("ev")) / (F.col("cn") * F.col("en"))
    )
    scored = c.crossJoin(F.broadcast(e)).select(
        "cid", sim.alias("s"), (-F.col("eid")).alias("nege")
    )
    best = F.max(F.struct(F.col("s"), F.col("nege")))
    return (
        scored.groupBy("cid")
        .agg(best.alias("b"))
        .select(
            F.col("cid").alias("vec_id"),
            F.col("b.s").alias("max_eval_sim"),
            (-F.col("b.nege")).alias("nearest_eval_id"),
            (F.col("b.s") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def semantic_decontaminate_sql(
    corpus_sql: str,
    eval_sql: str,
    threshold: float = 0.8,
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`semantic_decontaminate`; subqueries
    yield (vec_id, embedding) each. Same sequential folds and
    round-before-compare."""
    from dataframeutils_spark.operators.similarity import _dot_sql, _norm_sql
    from dataframeutils_spark.schema import siground_sql

    dot = _dot_sql("c.embedding", "e.embedding", dim)
    sim = siground_sql(f"({dot} / (c.cn * e.en))")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS cn
  FROM ({corpus_sql})
), evals AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS en
  FROM ({eval_sql})
), scored AS (
  SELECT c.vec_id AS cid, e.vec_id AS eid, {sim} AS s
  FROM (SELECT * FROM corpus WHERE cn > 0) c,
       (SELECT * FROM evals WHERE en > 0) e
), ranked AS (
  SELECT cid, eid, s,
         row_number() OVER (PARTITION BY cid ORDER BY s DESC, eid) AS r
  FROM scored
)
SELECT cid AS vec_id, s AS max_eval_sim, eid AS nearest_eval_id,
       s >= {threshold} AS contaminated
FROM ranked WHERE r = 1
"""


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity release audit: group rows by their quasi-identifier
    combination and report how much of the dataset sits in equivalence
    classes smaller than ``k`` — the standard re-identification risk
    check run before publishing event logs or per-user aggregates
    (Sweeney 2002; a row in a class of size < k is linkable to an
    individual by anyone who knows its quasi-identifiers).

    One row out: (k, n_rows, n_classes, n_classes_below_k,
    n_rows_at_risk, risk_pct, min_class_size, max_class_size).

    Scale shape: ONE map-side-combinable groupBy on the quasi columns
    (exchange = |classes|, never rows), then a single-row aggregate
    over the class-size table. No row payload ever shuffles.
    """
    from dataframeutils_spark.schema import decround

    classes = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count("*").alias("sz")
    )
    below = F.col("sz") < k
    return classes.agg(
        F.lit(k).cast("int").alias("k"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(below.cast("long")).alias("n_classes_below_k"),
        F.sum(F.when(below, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        decround(
            F.sum(F.when(below, F.col("sz")).otherwise(F.lit(0)))
            / F.sum("sz")
        ).alias("risk_pct"),
        F.min("sz").cast("long").alias("min_class_size"),
        F.max("sz").cast("long").alias("max_class_size"),
    )


def k_anonymity_sql(quasi_exprs: list[str], k: int, table: str) -> str:
    """DuckDB oracle for :func:`k_anonymity` — same two-level
    aggregate over the given quasi-identifier SQL expressions."""
    from dataframeutils_spark.schema import decround_sql

    keys = ", ".join(quasi_exprs)
    risk = decround_sql(
        "sum(CASE WHEN sz < {k} THEN sz ELSE 0 END) * 1.0 / sum(sz)".format(k=k)
    )
    # GROUP BY ALL: quasi_exprs may carry AS aliases
    return f"""
WITH classes AS (
  SELECT {keys}, count(*) AS sz FROM {table} GROUP BY ALL
)
SELECT CAST({k} AS INT) AS k,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN sz < {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_k,
       CAST(sum(CASE WHEN sz < {k} THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       {risk} AS risk_pct,
       CAST(min(sz) AS BIGINT) AS min_class_size,
       CAST(max(sz) AS BIGINT) AS max_class_size
FROM classes
"""

def l_diversity(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 3
) -> DataFrame:
    """l-diversity release audit (Machanavajjhala et al. 2007): the
    companion check to :func:`k_anonymity` — a class can be large
    (k-anonymous) yet still leak if every row in it shares the same
    SENSITIVE value. Groups rows by quasi-identifier combination and
    measures the number of DISTINCT sensitive values per class;
    classes with fewer than ``l`` are at attribute-disclosure risk.

    One row out: (l, n_rows, n_classes, n_classes_below_l,
    n_rows_at_risk, risk_pct, min_diversity, max_diversity).

    Scale shape: distinct-pair reduction first (groupBy quasi +
    sensitive — map-side combinable, exchange bounded by distinct
    pairs), then classes, then one single-row aggregate. The naive
    countDistinct-per-class plan is the same thing; spelling it as
    two groupBys keeps every stage partial-aggregatable.
    """
    from dataframeutils_spark.schema import decround

    quasi = [F.col(c) for c in quasi_cols]
    pairs = df.groupBy(*quasi, F.col(sensitive_col)).agg(
        F.count("*").alias("pair_rows")
    )
    classes = pairs.groupBy(*quasi).agg(
        F.count("*").alias("diversity"),
        F.sum("pair_rows").alias("sz"),
    )
    below = F.col("diversity") < l
    return classes.agg(
        F.lit(l).cast("int").alias("l"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(below.cast("long")).alias("n_classes_below_l"),
        F.sum(F.when(below, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        decround(
            F.sum(F.when(below, F.col("sz")).otherwise(F.lit(0))) / F.sum("sz")
        ).alias("risk_pct"),
        F.min("diversity").cast("long").alias("min_diversity"),
        F.max("diversity").cast("long").alias("max_diversity"),
    )


def l_diversity_sql(
    quasi_exprs: list[str], sensitive_expr: str, l: int, table: str
) -> str:
    """DuckDB oracle for :func:`l_diversity` — same two-level
    distinct-pair reduction."""
    from dataframeutils_spark.schema import decround_sql

    keys = ", ".join(quasi_exprs)
    # strip AS aliases for the inner grouping reference list
    names = [e.split(" AS ")[-1].strip() for e in quasi_exprs]
    risk = decround_sql(
        f"sum(CASE WHEN diversity < {l} THEN sz ELSE 0 END) * 1.0 / sum(sz)"
    )
    return f"""
WITH pairs AS (
  SELECT {keys}, {sensitive_expr} AS sens, count(*) AS pair_rows
  FROM {table} GROUP BY ALL
), classes AS (
  SELECT {', '.join(names)}, count(*) AS diversity, sum(pair_rows) AS sz
  FROM pairs GROUP BY ALL
)
SELECT CAST({l} AS INT) AS l,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN diversity < {l} THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_below_l,
       CAST(sum(CASE WHEN diversity < {l} THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       {risk} AS risk_pct,
       CAST(min(diversity) AS BIGINT) AS min_diversity,
       CAST(max(diversity) AS BIGINT) AS max_diversity
FROM classes
"""


def benford_audit(df: DataFrame, amount_col: str) -> DataFrame:
    """Benford first-digit audit over a monetary column — the classic
    fabricated-data / ETL-corruption screen (Benford 1938, Nigrini's
    forensic usage): natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); a synthetic or truncated feed doesn't.

    First-digit extraction avoids float log10/pow entirely (a 1-ulp
    divergence at an exact power of 10 would flip the digit): the
    amount is fixed-pointed to integer cents and the digit is the
    first character of its DECIMAL STRING — integer formatting is
    exact and identical in both engines. Per digit: observed share
    (a pure integer ratio), Benford share, deviation; the overall
    chi-square statistic rides along on every row.

    One combinable groupBy over 9 digit classes — the exchange is 9
    rows at any corpus size.

    Output: (digit, n_obs, obs_share, benford_share, deviation, chi2).
    """
    from pyspark.sql import Window

    from dataframeutils_spark.schema import decround

    amt = F.col(amount_col)
    ints = F.round(amt * 100).cast("long")
    d = (
        # ints >= 1, not amt > 0: an amount in (0, half-a-cent) rounds
        # to integer 0 whose "first digit" is 0 — log(1 + 1/0) would
        # crash Spark's ANSI side while the oracle NULLs the row
        df.filter(ints >= 1)
        .select(F.substring(ints.cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n_obs"))
    )
    w = Window.partitionBy()
    tot = F.sum("n_obs").over(w)
    exp = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    scored = d.select(
        "digit",
        "n_obs",
        (F.col("n_obs") / tot).alias("obs_share"),
        exp.alias("_exp"),
        tot.alias("_tot"),
    )
    chi2 = F.sum(
        (F.col("obs_share") - F.col("_exp"))
        * (F.col("obs_share") - F.col("_exp"))
        / F.col("_exp")
        * F.col("_tot")
    ).over(w)
    return scored.select(
        "digit",
        "n_obs",
        decround(F.col("obs_share")).alias("obs_share"),
        decround(F.col("_exp")).alias("benford_share"),
        decround(F.col("obs_share") - F.col("_exp")).alias("deviation"),
        decround(chi2).alias("chi2"),
    )


def benford_audit_sql(table: str, amount_expr: str) -> str:
    """DuckDB oracle for :func:`benford_audit` — same string-domain
    digit extraction and integer-ratio shares."""
    from dataframeutils_spark.schema import decround_sql

    ints = f"CAST(round(({amount_expr}) * 100) AS BIGINT)"
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST({ints} AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM {table} WHERE {ints} >= 1
  GROUP BY 1
), s AS (
  SELECT digit, n_obs,
         n_obs / sum(n_obs) OVER () AS obs_share,
         ln(1.0 + 1.0 / digit) / ln(10.0) AS expd,
         sum(n_obs) OVER () AS tot
  FROM d
)
SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
       {decround_sql('obs_share')} AS obs_share,
       {decround_sql('expd')} AS benford_share,
       {decround_sql('obs_share - expd')} AS deviation,
       {decround_sql('sum((obs_share - expd) * (obs_share - expd) / expd * tot) OVER ()')} AS chi2
FROM s
"""


# --------------------------------------------------------------------------
# encoding-health audit (mojibake / control chars / script mix)
# --------------------------------------------------------------------------

# portable character classes: explicit codepoint ranges only — named
# Unicode properties spell differently in Java regex (Spark) vs RE2
# (DuckDB) and may bind to different Unicode versions, so the audit
# sticks to ranges both engines interpret identically
_ENC_PATTERNS = (
    # U+FFFD replacement char: the canonical "decode already failed" marker
    ("replacement", "�"),
    # C0 control chars except tab/newline/carriage-return: binary
    # contamination or charset mangling
    ("control", "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"),
    # classic UTF-8-read-as-Latin-1 mojibake: 'Ã'/'Â' followed by
    # another high-Latin-1 char (é→Ã©, ü→Ã¼, NBSP→Â )
    ("mojibake", "[ÃÂ][ -ÿ]"),
    # printable ASCII (the baseline mass)
    ("ascii", "[\\x20-\\x7E]"),
    # CJK unified ideographs (script-mix dial)
    ("cjk", "[一-鿿]"),
)


def encoding_audit(
    docs: DataFrame,
    max_bad_ratio: float = 0.001,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document encoding-health audit — the decode-sanity gate a
    web corpus runs before any content-level cleaning: counts of
    U+FFFD replacement chars (a decoder already gave up), raw C0
    control characters (binary contamination), and the classic
    UTF-8-read-as-Latin-1 mojibake digraphs (Ã©, Ã¼, Â +NBSP …), plus
    the ASCII/CJK character shares (script-mix dial for routing to
    language-specific pipelines). ``enc_ok`` gates on
    (replacement + control + mojibake) / chars ≤ ``max_bad_ratio``.

    All counts are explicit-codepoint-range regex extractions (the
    pii_scrub discipline: Java∩RE2-portable patterns, no named Unicode
    properties whose definitions drift between engines) in ONE
    scan-side projection — zero shuffle, exactly oracle-checkable.

    Output: (doc_id, n_chars, n_replacement, n_control, n_mojibake,
    ascii_ratio, cjk_ratio, bad_ratio, enc_ok).
    """
    from dataframeutils_spark.schema import decround

    text = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, pat in _ENC_PATTERNS
    }
    n_chars = F.length(text)
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    bad = (
        counts["replacement"] + counts["control"] + counts["mojibake"]
    ).cast("double") / denom
    rbad = decround(bad)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        counts["replacement"].alias("n_replacement"),
        counts["control"].alias("n_control"),
        counts["mojibake"].alias("n_mojibake"),
        decround(counts["ascii"].cast("double") / denom).alias("ascii_ratio"),
        decround(counts["cjk"].cast("double") / denom).alias("cjk_ratio"),
        rbad.alias("bad_ratio"),
        (rbad <= max_bad_ratio).alias("enc_ok"),
    )


def encoding_audit_sql(
    table: str = "documents",
    max_bad_ratio: float = 0.001,
    text_expr: str = "text",
) -> str:
    from dataframeutils_spark.schema import decround_sql

    c = {
        name: f"len(regexp_extract_all({text_expr}, '{pat}'))"
        for name, pat in _ENC_PATTERNS
    }
    denom = f"greatest(length({text_expr}), 1)::DOUBLE"
    bad = f"({c['replacement']} + {c['control']} + {c['mojibake']}) / {denom}"
    return f"""
SELECT doc_id,
       length({text_expr}) AS n_chars,
       {c['replacement']}::INT AS n_replacement,
       {c['control']}::INT AS n_control,
       {c['mojibake']}::INT AS n_mojibake,
       {decround_sql(f"{c['ascii']} / {denom}")} AS ascii_ratio,
       {decround_sql(f"{c['cjk']} / {denom}")} AS cjk_ratio,
       {decround_sql(bad)} AS bad_ratio,
       {decround_sql(bad)} <= {max_bad_ratio} AS enc_ok
FROM {table}
"""


# --------------------------------------------------------------------------
# t-closeness (ordered-attribute EMD) — the third rung of the release ladder
# --------------------------------------------------------------------------


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_bin_col: str,
    n_bins: int,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness release audit (Li, Li & Venkatasubramanian 2007):
    the third rung of the privacy ladder — a class can be k-anonymous
    AND l-diverse yet still leak when its sensitive-value
    DISTRIBUTION differs from the table's (all its salaries in the
    top decile, say). Per equivalence class, the Earth Mover's
    Distance between the class's distribution over the ORDERED
    sensitive bins and the global distribution, with the standard
    ordered-domain ground distance: EMD = Σ_{i<m} |Σ_{j≤i}(p_j−q_j)|
    / (m−1). Classes with rounded EMD > ``t`` violate t-closeness.

    ``sensitive_bin_col`` must already hold an ordered integer bin in
    [0, n_bins) — binning is the caller's (exactly mirrorable) choice.

    One row out: (t, m_bins, n_rows, n_classes, n_classes_above_t,
    n_rows_at_risk, risk_pct, max_emd).

    Scale shape: one combinable groupBy to (class, bin) cells
    (exchange bounded by |classes|·m, never rows), a broadcast m-row
    global distribution, a dense class×bin grid built from the
    |classes|-row table × broadcast bin spine, and per-class windows
    over exactly m rows. Risk is counted on the decimal-ROUNDED EMD
    so the threshold compare is engine-identical (PSI discipline).
    """
    from pyspark.sql import Window

    from dataframeutils_spark.schema import decround

    spark = df.sparkSession
    quasi = [F.col(c) for c in quasi_cols]
    cells = df.groupBy(*quasi, F.col(sensitive_bin_col).alias("bin")).agg(
        F.count("*").alias("c")
    )
    classes = cells.groupBy(*quasi).agg(F.sum("c").alias("sz"))
    total = cells.agg(F.sum("c").alias("n_total"))
    glob = (
        cells.groupBy("bin")
        .agg(F.sum("c").alias("gc"))
        .crossJoin(F.broadcast(total))
        .select("bin", (F.col("gc") / F.col("n_total")).alias("q"))
    )
    spine = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    grid = (
        classes.crossJoin(F.broadcast(spine))
        .join(cells, [*quasi_cols, "bin"], "left")
        .join(F.broadcast(glob), "bin", "left")
        .select(
            *quasi,
            "bin",
            "sz",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("sz")).alias("p"),
            F.coalesce(F.col("q"), F.lit(0.0)).alias("q"),
        )
    )
    w = (
        Window.partitionBy(*quasi)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    emds = (
        grid.withColumn("cum", F.sum(F.col("p") - F.col("q")).over(w))
        .filter(F.col("bin") < n_bins - 1)
        .groupBy(*quasi, "sz")
        .agg(
            decround(F.sum(F.abs(F.col("cum"))) / F.lit(n_bins - 1)).alias(
                "emd"
            )
        )
    )
    above = F.col("emd") > t
    return emds.agg(
        F.lit(t).alias("t"),
        F.lit(n_bins).cast("int").alias("m_bins"),
        F.sum("sz").cast("long").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.sum(above.cast("long")).alias("n_classes_above_t"),
        F.sum(F.when(above, F.col("sz")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        decround(
            F.sum(F.when(above, F.col("sz")).otherwise(F.lit(0))) / F.sum("sz")
        ).alias("risk_pct"),
        F.max("emd").alias("max_emd"),
    )


def t_closeness_sql(
    quasi_exprs: list[str],
    sensitive_bin_expr: str,
    n_bins: int,
    t: float,
    table: str,
) -> str:
    """DuckDB oracle for :func:`t_closeness` — same cell reduction,
    dense grid, ordered cumsum and rounded-EMD threshold."""
    from dataframeutils_spark.schema import decround_sql

    keys = ", ".join(quasi_exprs)
    names = [e.split(" AS ")[-1].strip() for e in quasi_exprs]
    nm = ", ".join(names)
    emd = decround_sql(f"sum(abs(cum)) / {n_bins - 1}")
    risk = decround_sql(
        "sum(CASE WHEN above THEN sz ELSE 0 END) * 1.0 / sum(sz)"
    )
    return f"""
WITH cells AS (
  SELECT {keys}, {sensitive_bin_expr} AS bin, count(*) AS c
  FROM {table} GROUP BY ALL
), classes AS (
  SELECT {nm}, sum(c) AS sz FROM cells GROUP BY ALL
), gdist AS (
  SELECT bin, sum(c) * 1.0 / (SELECT sum(c) FROM cells) AS q
  FROM cells GROUP BY bin
), spine AS (
  SELECT CAST(s.b AS INT) AS bin FROM range(0, {n_bins}) s(b)
), grid AS (
  SELECT {', '.join('cl.' + n for n in names)}, sp.bin, cl.sz,
         COALESCE(ce.c, 0) * 1.0 / cl.sz AS p,
         COALESCE(g.q, 0.0) AS q
  FROM classes cl CROSS JOIN spine sp
  LEFT JOIN cells ce
    ON {' AND '.join(f'ce.{n} = cl.{n}' for n in names)} AND ce.bin = sp.bin
  LEFT JOIN gdist g ON g.bin = sp.bin
), cums AS (
  SELECT {nm}, sz, bin,
         sum(p - q) OVER (PARTITION BY {nm} ORDER BY bin) AS cum
  FROM grid
), emds AS (
  SELECT {nm}, sz, {emd} AS emd
  FROM cums WHERE bin < {n_bins - 1} GROUP BY ALL
), flagged AS (
  SELECT sz, emd, emd > {t} AS above FROM emds
)
SELECT {t} AS t,
       CAST({n_bins} AS INT) AS m_bins,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_classes_above_t,
       CAST(sum(CASE WHEN above THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       {risk} AS risk_pct,
       max(emd) AS max_emd
FROM flagged
"""
