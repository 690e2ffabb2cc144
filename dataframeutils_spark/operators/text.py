"""Text-analysis operators for large-scale training-data pipelines.

No counterpart in the reference (SURVEY §2.3) — these are BASELINE.json
north-star operators over the ``documents`` table, all fully native
(one projection / one groupBy; no Python in the hot path) and therefore
exactly oracle-checkable against DuckDB:

* :func:`text_stats` — token counting (whitespace + word-ish regex) and
  quality scoring (length / punctuation / stopword / uppercase ratios).
* :func:`language_id` — stopword-hit n-gram heuristic across a fixed
  language table; argmax score wins.
* :func:`fingerprint` — bottom-k document fingerprint: the k smallest
  distinct token-trigram hashes, md5-folded to one 32-hex digest.

Scale notes: everything is a scan-side projection over ``text`` —
no shuffle at all for :func:`text_stats`/:func:`language_id`;
:func:`fingerprint` shuffles only (doc_id, 60-bit hash) pairs, never
text. At 100 TB these pipeline into the same stage as the parquet scan
(whole-stage codegen), reading only the pruned ``text`` column.

Tokenizer contracts: the Spark operators and their DuckDB oracles share
two splits, and each is defined once per engine here.

* Space tokens: :func:`_tokens` / :func:`_tokens_sql` split on single
  spaces and drop empty tokens, so a tab or newline stays inside a
  token. :func:`_terms` is the lowercased form over a column, the term
  stream of the corpus statistics (``_tokens_sql("lower(text)")`` in
  the oracles); :func:`_doc_terms` explodes it per document.
* Whitespace runs: :func:`_ws_split` / :func:`_ws_split_sql` split on
  ``\\s+`` and keep the empty token a leading or trailing run leaves.

``lower`` itself differs outside ASCII: ``lower('İ')`` is ``'i̇'``
(i + combining dot above) in Spark but ``'i'`` in DuckDB. The shipped
testdata is ASCII only, so no oracle meets it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60, portable_hash60_sql
from dataframeutils_spark.operators.local_solve import spread

# A word, a number run, or a single non-space symbol — the BPE-ish
# pre-tokenizer split (letters / digits / punctuation never share a
# token). Same regex string works in Spark and DuckDB/RE2.
WORDISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

PUNCT_RE = "[^A-Za-z0-9 ]"

# Tiny fixed stopword lists for the language-ID heuristic. Deliberately
# small and hard-coded: the operator contract is "argmax of per-language
# evidence", not lexicon quality.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for", "with", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es": ("el", "la", "los", "las", "es", "en", "que", "por", "una", "con"),
}


def _tokens(text_col: Column) -> Column:
    return F.filter(F.split(text_col, " "), lambda t: F.length(t) > 0)


def _tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`_tokens` over the SQL expression ``expr``."""
    return f"list_filter(string_split({expr}, ' '), t -> length(t) > 0)"


def _terms(text_col: str) -> Column:
    """Lowercased :func:`_tokens` of column ``text_col``: the term stream."""
    return _tokens(F.lower(F.col(text_col)))


def _ws_split(text_col: Column) -> Column:
    """Split on whitespace runs, keeping the empty edge tokens."""
    return F.split(text_col, r"\s+")


def _ws_split_sql(expr: str) -> str:
    """DuckDB twin of :func:`_ws_split` over the SQL expression ``expr``."""
    return f"string_split_regex({expr}, '\\s+')"


def _doc_terms(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, term) rows of every document, spread by id before the explode."""
    return spread(docs, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), F.explode(_terms(text_col)).alias("term")
    )


def ngram_array(toks: Column, n: int) -> Column:
    """Token n-grams as a ``array<string>`` of space-joined windows.

    Built with ``zip_with`` over ``slice`` views (not ``transform`` over
    indices) so free subexpressions are never re-evaluated per element
    after optimizer inlining — see :func:`repetition_columns` for the
    measured pathology. Docs with fewer than ``n`` tokens yield an
    empty array, never NULL.
    """
    if n == 1:
        return toks
    m = F.size(toks) - (n - 1)
    views = [F.slice(toks, k + 1, m) for k in range(n)]
    grams = views[0]
    for v in views[1:]:
        grams = F.zip_with(grams, v, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_array_sql(toks_expr: str, n: int) -> str:
    """DuckDB equivalent of :func:`ngram_array` over a list expression."""
    gram = " || ' ' || ".join(f"{toks_expr}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks_expr}) >= {n} "
        f"THEN list_transform(range(1, len({toks_expr}) - {n} + 2), i -> {gram}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def text_stat_columns(text_col: str = "text") -> dict[str, Column]:
    """The :func:`text_stats` output columns as named expressions, so
    composite pipelines can evaluate them inside an existing projection
    (one scan) instead of self-joining operator outputs on doc_id."""
    text = F.col(text_col)
    toks = _tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_wordish = F.size(F.regexp_extract_all(text, F.lit(WORDISH_RE), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(PUNCT_RE), 0))
    n_upper = F.size(F.regexp_extract_all(text, F.lit("[A-Z]"), 0))
    n_letters = F.size(F.regexp_extract_all(text, F.lit("[A-Za-z]"), 0))
    en_stops = list(LANG_STOPWORDS["en"])
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(en_stops)))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    upper_ratio = n_upper.cast("double") / F.greatest(n_letters, F.lit(1))
    mean_tok = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    length_ok = (n_tokens >= 5) & (n_tokens <= 100000)
    quality = (
        F.when(~length_ok, F.lit(0.0))
        .otherwise(
            F.lit(1.0)
            - F.least(F.lit(0.5), punct_ratio * 2)
            - F.when(n_stop == 0, F.lit(0.25)).otherwise(F.lit(0.0))
            - F.least(F.lit(0.25), upper_ratio)
        )
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_wordish": n_wordish,
        "n_punct": n_punct,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "upper_ratio": upper_ratio,
        "mean_token_len": mean_tok,
        "quality": quality,
    }


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts and quality signals.

    Output: (doc_id, n_chars, n_tokens, n_wordish, n_punct, punct_ratio,
    stopword_ratio, upper_ratio, mean_token_len, quality).

    ``quality`` is a [0,1] heuristic: penalize extreme length, high
    punctuation density and zero stopwords — the standard cheap filters
    a pretraining pipeline applies before anything model-based.
    """
    cols = text_stat_columns(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"), *[c.alias(n) for n, c in cols.items()]
    )


def text_stats_sql(table: str = "documents") -> str:
    """DuckDB oracle for :func:`text_stats` (same expressions)."""
    toks = _tokens_sql("text")
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS["en"])
    return f"""
SELECT doc_id,
  length(text) AS n_chars,
  len({toks}) AS n_tokens,
  len(regexp_extract_all(text, '{WORDISH_RE}')) AS n_wordish,
  len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct,
  len(regexp_extract_all(text, '{PUNCT_RE}')) / greatest(length(text), 1)::DOUBLE AS punct_ratio,
  len(list_filter({toks}, t -> lower(t) IN ({stops}))) / greatest(len({toks}), 1)::DOUBLE AS stopword_ratio,
  len(regexp_extract_all(text, '[A-Z]')) / greatest(len(regexp_extract_all(text, '[A-Za-z]')), 1)::DOUBLE AS upper_ratio,
  length(text) / greatest(len({toks}), 1)::DOUBLE AS mean_token_len,
  CASE WHEN len({toks}) < 5 OR len({toks}) > 100000 THEN 0.0
       ELSE 1.0
            - least(0.5, 2 * len(regexp_extract_all(text, '{PUNCT_RE}')) / greatest(length(text), 1)::DOUBLE)
            - CASE WHEN len(list_filter({toks}, t -> lower(t) IN ({stops}))) = 0 THEN 0.25 ELSE 0.0 END
            - least(0.25, len(regexp_extract_all(text, '[A-Z]')) / greatest(len(regexp_extract_all(text, '[A-Za-z]')), 1)::DOUBLE)
  END AS quality
FROM {table}
"""


def ngram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_top: int = 50_000,
    k_smooth: float = 0.5,
) -> DataFrame:
    """Corpus-trained bigram language-model score per document:
    (doc_id, n_bigrams, avg_logprob).

    The model-based quality signal pretraining pipelines run after the
    cheap heuristics (CCNet-style: score text against an in-domain LM;
    outliers on either tail are boilerplate or garbage). Two passes,
    both bounded: (1) train — corpus unigram/bigram counts, keep the
    top ``n_top`` of each by (count desc, term asc) so the LM table
    stays broadcastable no matter the corpus size; (2) score —
    re-tokenize and average add-k-smoothed ``ln P(w2|w1) =
    ln((C12 + k) / (C1 + k·V))`` over each doc's bigrams, with OOV
    counts 0 (V = distinct corpus unigram count, computed in-plan).

    Plan shape: explode → two map-side-combinable count groupBys →
    TakeOrdered caps → BROADCAST joins back onto the per-doc bigram
    stream → one groupBy(doc). The only full-width shuffles carry
    (token-pair, count) rows; the LM itself never exceeds ``n_top``
    rows. Everything is deterministic closed-form double math, so the
    whole two-pass train+score pipeline is exactly oracle-checkable.
    """
    tokd = docs.select(
        F.col(id_col).alias("doc_id"), _ws_split(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_bi = tokd.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    doc_uni = tokd.select("doc_id", F.explode(toks).alias("w")).filter(
        F.length("w") > 0
    )

    uni_counts = doc_uni.groupBy("w").agg(F.count("*").alias("c1"))
    # in-plan scalar V (distinct unigrams) — no driver-side action
    v_df = uni_counts.agg(F.count("*").cast("double").alias("v"))
    top_uni = uni_counts.orderBy(F.col("c1").desc(), F.col("w")).limit(n_top)
    top_bi = (
        doc_bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .orderBy(F.col("c12").desc(), F.col("w1"), F.col("w2"))
        .limit(n_top)
    )

    k = F.lit(float(k_smooth))
    scored = (
        doc_bi.join(F.broadcast(top_bi), ["w1", "w2"], "left")
        .join(F.broadcast(top_uni.withColumnRenamed("w", "w1")), ["w1"], "left")
        .crossJoin(F.broadcast(v_df))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + k)
                / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + k * F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.avg("lp").alias("avg_logprob")
    )


def ngram_lm_score_sql(
    table: str = "documents", n_top: int = 50_000, k_smooth: float = 0.5
) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {_ws_split_sql("text")} AS toks FROM {table}
), bi AS (
  SELECT doc_id, u.bg.w1 AS w1, u.bg.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 2
                       THEN list_transform(range(1, len(toks)),
                                           i -> {{'w1': toks[i], 'w2': toks[i + 1]}})
                       ELSE [] END) AS bg
    FROM tok) u
), uni AS (
  SELECT doc_id, u.w AS w FROM (
    SELECT doc_id, unnest(toks) AS w FROM tok) u
  WHERE length(u.w) > 0
), uc AS (
  SELECT w, count(*) AS c1 FROM uni GROUP BY w
), v AS (
  SELECT count(*)::DOUBLE AS v FROM uc
), top_uni AS (
  SELECT w, c1 FROM uc ORDER BY c1 DESC, w LIMIT {n_top}
), top_bi AS (
  SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
  ORDER BY c12 DESC, w1, w2 LIMIT {n_top}
)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       avg(ln((coalesce(tb.c12, 0)::DOUBLE + {k_smooth})
              / (coalesce(tu.c1, 0)::DOUBLE + {k_smooth} * v.v))) AS avg_logprob
FROM bi b
LEFT JOIN top_bi tb ON tb.w1 = b.w1 AND tb.w2 = b.w2
LEFT JOIN top_uni tu ON tu.w = b.w1
CROSS JOIN v
GROUP BY b.doc_id
"""


def repetition_columns(toks: Column, n: int = 3) -> dict[str, Column]:
    """The :func:`repetition_stats` measures as named expressions over a
    token-array column.

    The n-gram array is built with ``zip_with`` over ``slice`` views
    instead of a ``transform`` over indices ON PURPOSE: HOF *inputs*
    are evaluated once, but a lambda body re-evaluates its free
    subexpressions per element — and the optimizer's filter pushdown
    substitutes alias definitions into the lambda (an
    ``element_at(toks, i+k)`` formulation became an inlined
    ``split(text)`` per element per row after the pipeline's gate
    filter pushed down: measured 2 s → 20 s at sf0.1). The zip_with
    lambdas touch only lambda-bound variables, so they are immune to
    inlining.
    """
    grams = ngram_array(toks, n)
    n_ngrams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        n_ngrams > 0, F.lit(1.0) - n_distinct.cast("double") / n_ngrams
    ).otherwise(F.lit(0.0))
    return {
        "n_ngrams": n_ngrams,
        "n_distinct_ngrams": n_distinct,
        "dup_ngram_ratio": ratio,
    }


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Within-document repetition: (doc_id, n_ngrams, n_distinct_ngrams,
    dup_ngram_ratio).

    ``dup_ngram_ratio`` = 1 − distinct/total token n-grams — the
    standard cheap signal for degenerate generated/boilerplate text
    (high ratio = the doc repeats itself). Fully native single
    projection: token array → n-gram array → ``array_distinct`` — no
    explode, no shuffle, pipelines into the scan like
    :func:`text_stats`.
    """
    tokd = docs.select(
        F.col(id_col).alias("doc_id"), _ws_split(F.col(text_col)).alias("toks")
    )
    cols = repetition_columns(F.col("toks"), n=n)
    return tokd.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def repetition_stats_sql(table: str = "documents", n: int = 3) -> str:
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
WITH tok AS (
  SELECT doc_id, {_ws_split_sql("text")} AS toks FROM {table}
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {n}
              THEN list_transform(range(1, len(toks) - {n} + 2), i -> {gram})
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM tok
)
SELECT doc_id,
       len(grams) AS n_ngrams,
       len(list_distinct(grams)) AS n_distinct_ngrams,
       CASE WHEN len(grams) > 0
            THEN 1.0 - len(list_distinct(grams)) / len(grams)::DOUBLE
            ELSE 0.0 END AS dup_ngram_ratio
FROM g
"""


def language_id_columns(text_col: str = "text") -> dict[str, Column]:
    """The :func:`language_id` output columns as named expressions (see
    :func:`text_stat_columns` for why)."""
    toks = _terms(text_col)
    n_tokens = F.greatest(F.size(toks), F.lit(1))

    def stop_hits(sw: tuple[str, ...]) -> Column:
        # single-arg lambda only: a 2-arg lambda makes F.filter pass the
        # element *index* as the second argument
        words = list(sw)
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    scored = F.array(
        *[
            F.struct(
                (stop_hits(sw).cast("double") / n_tokens).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, sw in sorted(LANG_STOPWORDS.items())
        ]
    )
    # array_max on struct compares (score, lang) lexicographically: max
    # score, then max lang — mirror that exact tie-break in the oracle.
    best = F.array_max(scored)
    return {
        "lang_pred": F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
        "lang_score": best["score"],
    }


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-evidence language ID: (doc_id, lang_pred, lang_score).

    Score per language = hits of that language's stopword list in the
    lowercased token stream, normalized by token count. Winner = max
    score; ties break lexicographically by language code (deterministic
    in both engines); zero evidence anywhere → ``'und'``.
    """
    cols = language_id_columns(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"), *[c.alias(n) for n, c in cols.items()]
    )


def language_id_sql(table: str = "documents") -> str:
    toks = _tokens_sql("lower(text)")
    score = lambda sw: (
        f"len(list_filter({toks}, t -> t IN ({', '.join(repr(s) for s in sw)})))"
        f" / greatest(len({toks}), 1)::DOUBLE"
    )
    cols = ",\n    ".join(
        f"{score(sw)} AS s_{lang}" for lang, sw in sorted(LANG_STOPWORDS.items())
    )
    langs = sorted(LANG_STOPWORDS)
    pairs = ", ".join(f"(s_{l}, '{l}')" for l in langs)
    return f"""
WITH scored AS (
  SELECT doc_id,
    {cols}
  FROM {table}
), best AS (
  SELECT doc_id, list_max([{pairs}]) AS b FROM scored
)
SELECT doc_id,
       CASE WHEN b[1]::DOUBLE > 0 THEN b[2] ELSE 'und' END AS lang_pred,
       b[1]::DOUBLE AS lang_score
FROM best
"""


def fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    n: int = 3,
) -> DataFrame:
    """Bottom-k rolling fingerprint: (doc_id, fp, n_grams).

    Hash every token ``n``-gram (the rolling windows of the token
    stream) with the portable 60-bit hash, keep the ``k`` smallest
    distinct values, md5-fold their '-'-joined decimal string into one
    32-hex digest. Equal fingerprints ⇒ near-identical token streams —
    the classic winnowing-style containment sketch, entirely native.
    """
    # Token array in its own projection: higher-order-function lambdas
    # re-evaluate free subexpressions per array element when
    # interpreted, so the tokenization must be a bound column, not an
    # inline split (same pathology/fix as dedup.shingles).
    tokd = docs.select(F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("toks"))
    toks = F.col("toks")
    # sequence(0, k) with k < 0 yields a DESCENDING sequence in Spark,
    # not an empty one — guard short docs explicitly.
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gramd = tokd.select("doc_id", grams.alias("grams"))
    hashes = F.transform(F.array_distinct(F.col("grams")), lambda g: portable_hash60(g))
    bottom = F.slice(F.array_sort(F.array_distinct(hashes)), 1, k)
    return gramd.select(
        "doc_id",
        F.md5(F.concat_ws("-", F.transform(bottom, lambda h: h.cast("string")))).alias("fp"),
        F.size(F.col("grams")).alias("n_grams"),
    )


def fingerprint_sql(table: str = "documents", k: int = 8, n: int = 3) -> str:
    """DuckDB oracle for :func:`fingerprint` via explode + window."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
WITH tok AS (
  SELECT doc_id, {_tokens_sql("text")} AS toks FROM {table}
), gr AS (
  SELECT doc_id, len(toks) - {n} + 1 AS n_grams,
         unnest(CASE WHEN len(toks) >= {n}
                     THEN list_transform(range(1, len(toks) - {n} + 2), i -> {gram})
                     ELSE [NULL] END) AS g
  FROM tok
), hashed AS (
  SELECT DISTINCT doc_id, n_grams,
         CASE WHEN g IS NULL THEN NULL
              ELSE {portable_hash60_sql('g')} END AS h
  FROM gr
), bottom AS (
  SELECT doc_id, greatest(n_grams, 0) AS n_grams,
         list_sort(list_filter(list(h), x -> x IS NOT NULL))[1:{k}] AS bk
  FROM hashed GROUP BY doc_id, n_grams
)
SELECT doc_id,
       -- coalesce: for docs shorter than n tokens bk is empty and
       -- list_aggregate returns NULL, while Spark's concat_ws over an
       -- empty array returns '' — both engines must emit md5('')
       md5(coalesce(list_aggregate(list_transform(bk, x -> x::VARCHAR), 'string_agg', '-'), '')) AS fp,
       n_grams
FROM bottom
"""


# ---------------------------------------------------------------------------
# corpus-level term statistics (heavy hitters, TF-IDF)
# ---------------------------------------------------------------------------


def topk_terms(
    docs: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide top-k terms by frequency: (term, n, rank).

    The vocabulary/heavy-hitter scan every corpus audit starts with.
    Scale shape: explode → groupBy(term) rides Spark's map-side partial
    aggregation (each task emits its local term counts, the shuffle
    carries ~|vocab| rows per task, not |tokens|), and the final top-k
    is :func:`ranked_topk` — no global sort of the vocabulary.
    """
    toks = spread(docs, F.col(id_col)).select(F.explode(_terms(text_col)).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    return ranked_topk(counts, k, [F.col("n").desc(), F.col("term")])


def topk_terms_sql(table: str = "documents", k: int = 50) -> str:
    return f"""
WITH toks AS (
  SELECT unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), counts AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term
)
SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
FROM counts
QUALIFY rank <= {k}
"""


def tfidf_topterms(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    (doc_id, term, rank, tfidf).

    tfidf = tf · (ln((1+N)/(1+df)) + 1) — the sklearn smooth-idf
    formula, from published definition. All integer inputs (tf, df, N)
    so both engines compute ln() of identical doubles; the score is
    rounded to the engine-wide significant-digit contract BEFORE
    ranking so the (score desc, term) order cannot be flipped by a
    1-ULP ln() divergence between JVM and DuckDB libm.

    Scale shape: the expensive tokenize→explode→count pipeline runs
    ONCE — df (doc frequency) is a count window over ``term`` on the tf
    table, not a self-join (a join formulation makes Catalyst recompute
    the whole token pipeline per branch: measured 3 parquet scans in
    the physical plan), and the corpus doc count N comes from a
    doc_id-only second scan that never explodes tokens. Three shuffles
    of the doc×term table (group keys, term window, doc rank window),
    no skew (a doc has bounded distinct terms; a term's window carries
    one row per containing doc — stopword terms are the biggest, ~N
    rows, same order as the groupBy shuffle already carries).
    """
    from dataframeutils_spark.schema import siground

    toks = _doc_terms(docs, text_col, id_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = F.count("*").over(Window.partitionBy("term"))
    # docs with ≥1 token, from a light scan (id + text length only — no
    # explode); doc_id is unique in the documents contract
    nd = docs.select(
        F.count(F.when(F.size(_terms(text_col)) > 0, 1)).alias("n_docs")
    )
    idf = F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "term", siground(F.col("tf") * idf).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return scored.select(
        "doc_id", "term", F.row_number().over(w).alias("rank"), "tfidf"
    ).filter(F.col("rank") <= k)


def tfidf_topterms_sql(table: str = "documents", k: int = 3) -> str:
    from dataframeutils_spark.schema import siground_sql

    score = siground_sql("tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0)")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM tf
), scored AS (
  SELECT tf.doc_id, tf.term, {score} AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
)
SELECT doc_id, term,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank,
       tfidf
FROM scored
QUALIFY rank <= {k}
"""


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval (Robertson & Spärck Jones, public formula): the
    top-k documents for a bag-of-terms query.

    Output: (doc_id, rank, score) with
    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``,
    ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``.

    Scale shape: the token pipeline runs once; the query-term filter
    lands immediately after the tf groupBy, so only rows for the
    query's terms (|q| · df rows, not the whole doc×term table) reach
    the df window and the scoring join. N and avgdl come from a
    doc-level aggregate that never explodes tokens. Scores are rounded
    to significant digits BEFORE ranking (cross-engine ln parity, same
    contract as tfidf).
    """
    from dataframeutils_spark.schema import siground

    qt = [t.lower() for t in query_terms]
    toks = _doc_terms(docs, text_col, id_col)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("term").isin(qt))
    )
    dfreq = F.count("*").over(Window.partitionBy("term"))
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_terms(text_col)).alias("dl"),
    )
    # N and avgdl over token-bearing docs only (empty docs carry no
    # mass), derived from the same dl projection — one light scan
    stats = (
        dl.filter(F.col("dl") > 0)
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(F.col("dl").cast("double")).alias("avgdl"),
        )
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfpart = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.withColumn("df", dfreq)
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(siground(F.sum(idf * tfpart)).alias("score"))
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    return ranked_topk(scored, k, order).select("doc_id", "rank", "score")


def bm25_search_sql(
    query_terms: tuple[str, ...],
    table: str = "documents",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    from dataframeutils_spark.schema import siground_sql

    toks = _tokens_sql("lower(text)")
    qlist = ", ".join(f"'{t.lower()}'" for t in query_terms)
    contrib = (
        f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * "
        f"(tf * ({k1} + 1)) / (tf + {k1} * ((1.0 - {b}) + {b} * dl / avgdl))"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
), tf0 AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), tf AS (
  SELECT * FROM tf0 WHERE term IN ({qlist})
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
  SELECT count(*) AS n_docs, avg(len({toks})::DOUBLE) AS avgdl
  FROM {table} WHERE len({toks}) > 0
), dl AS (
  SELECT doc_id, len({toks}) AS dl FROM {table}
), scored AS (
  SELECT tf.doc_id, {siground_sql(f'sum({contrib})')} AS score
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank, score
FROM scored
QUALIFY rank <= {k}
"""


# ---------------------------------------------------------------------------
# document chunking (context windows for embedding / retrieval)
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size overlapping token windows per doc — the chunking step
    an embedding / retrieval pipeline runs before encoding:
    (doc_id, chunk_idx, start_tok, n_tokens, chunk_hash).

    Chunk ``i`` covers tokens ``[i·stride, i·stride + window)``;
    chunking stops once a window reaches the doc's end (1 chunk when
    n ≤ window, else ⌈(n−window)/stride⌉+1), so no trailing chunk is
    ever fully contained in its predecessor — each chunk contributes
    ≥1 new token and no embedding call is wasted on a redundant
    window. The final chunk may be short. ``chunk_hash`` is the portable 60-bit hash of the
    space-rejoined window — the id a downstream embedding cache or
    chunk-level dedup keys on — so the output carries 8-byte hashes,
    never repeated text.

    No counterpart in the reference (SURVEY §2.3) — north-star text
    surface. Scale: one scan-side projection + explode (~n/stride rows
    per doc), zero shuffle, no Python; at 100 TB the explode factor is
    bounded by window/stride overlap (≈1.33× token volume here).
    """
    from dataframeutils_spark.operators.dedup import portable_hash60

    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}, {window}")
    toks = _tokens(F.col(text_col))
    n = F.size("toks")
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window).cast("double") / stride).cast("int") + 1
    )
    starts = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    tokd = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    chunk = F.slice(F.col("toks"), F.col("i") * stride + 1, window)
    return (
        tokd.select("doc_id", "toks", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_idx"),
            (F.col("i") * stride).cast("long").alias("start_tok"),
            F.size(chunk).cast("long").alias("n_tokens"),
            portable_hash60(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
    )


def chunk_documents_sql(
    table: str = "documents", window: int = 32, stride: int = 24
) -> str:
    from dataframeutils_spark.operators.dedup import portable_hash60_sql

    h = portable_hash60_sql(
        f"array_to_string(toks[i * {stride} + 1 : i * {stride} + {window}], ' ')"
    )
    return f"""
WITH tokd AS (
  SELECT doc_id, {_tokens_sql("text")} AS toks
  FROM {table}
),
ex AS (
  SELECT doc_id, toks,
         unnest(range(0, CASE WHEN len(toks) <= {window} THEN 1
                              ELSE CAST(ceil((len(toks) - {window}) / {stride}.0) AS INTEGER) + 1
                         END)) AS i
  FROM tokd WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {stride} AS BIGINT) AS start_tok,
       CAST(len(toks[i * {stride} + 1 : i * {stride} + {window}]) AS BIGINT) AS n_tokens,
       {h} AS chunk_hash
FROM ex
"""


def vocab_growth(
    docs: DataFrame,
    bucket: int = 250,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: per ``bucket``-sized block
    of documents in doc-id order — tokens seen in the block, cumulative
    tokens, terms first seen in the block, cumulative vocabulary.

    The curve is the corpus-health dial a pretraining run reads before
    committing: sub-Heaps growth (vocab_cum flattening against
    tokens_cum) means the tail of the corpus is re-treading the head
    (duplication / template collapse); super-linear growth means noise
    (OCR garbage, random IDs) is inflating the vocabulary.

    Scale shape: ONE explode pass; ``min(bucket)`` per term is a
    map-side-combinable aggregate (the shuffle carries ~|vocab| rows per
    task, not |tokens|); everything after runs on the tiny bucket table
    (n_docs / bucket rows — pick ``bucket`` so this is thousands, which
    keeps the two running-sum windows single-partition-safe because the
    table is bounded, the same contract as the panel stats).
    No counterpart in the reference (north-star text tier).
    """
    b = F.expr(f"CAST({id_col} AS BIGINT) DIV {bucket}").alias("bucket")
    toks = docs.select(b, F.explode(_terms(text_col)).alias("term"))
    per_bucket = toks.groupBy("bucket").agg(F.count("*").alias("n_tokens"))
    first_seen = toks.groupBy("term").agg(F.min("bucket").alias("bucket"))
    new_terms = first_seen.groupBy("bucket").agg(F.count("*").alias("new_terms"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(new_terms, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
        )
        .select(
            "bucket",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("tokens_cum"),
            "new_terms",
            F.sum("new_terms").over(w).alias("vocab_cum"),
        )
    )


def vocab_growth_sql(table: str = "documents", bucket: int = 250) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id // {bucket} AS bucket, unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), per_bucket AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY bucket
), first_seen AS (
  SELECT term, min(bucket) AS bucket FROM tok GROUP BY term
), new_terms AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms
  FROM first_seen GROUP BY bucket
)
SELECT p.bucket,
       n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY p.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS tokens_cum,
       CAST(COALESCE(new_terms, 0) AS BIGINT) AS new_terms,
       CAST(sum(COALESCE(new_terms, 0)) OVER (ORDER BY p.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_cum
FROM per_bucket p LEFT JOIN new_terms USING (bucket)
"""


# ---------------------------------------------------------------------------
# hybrid retrieval (character-gram arm + reciprocal-rank fusion)
# ---------------------------------------------------------------------------


def token_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token Shannon entropy + type/token ratio — the
    information-density quality signal (near-zero entropy = degenerate
    repetition that slips past length/punctuation heuristics; a
    CCNet/Gopher-style filter input).

    H = ln(n) − Σ c·ln(c)/n over within-doc token counts (exact
    integer counts; the two-term form needs ONE combinable aggregate
    per doc). norm_entropy = H/ln(n_types) ∈ [0,1] (1 = uniform use
    of the doc's vocabulary). ttr = n_types/n_tokens.

    Scale: explode → one (doc, term) groupBy with map-side combine →
    one doc-level aggregate; shuffles (doc_id, term-count) pairs only,
    never text. Wordless docs are absent from the output.
    """
    from dataframeutils_spark.schema import siground

    toks = _doc_terms(docs, text_col, id_col)
    cnt = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias(
            "_clnc"
        ),
    )
    n = F.col("n_tokens").cast("double")
    h = F.log(n) - F.col("_clnc") / n
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        siground(h).alias("entropy"),
        # try_divide: a single-type doc has ln(n_types)=0 → NULL (the
        # oracle's NULL-division path), not an ANSI error
        siground(
            F.try_divide(h, F.log(F.col("n_types").cast("double")))
        ).alias("norm_entropy"),
        siground(F.col("n_types") / n).alias("ttr"),
    )


def token_entropy_sql(table: str = "documents") -> str:
    from dataframeutils_spark.schema import siground_sql

    h = "ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE)"
    norm = (
        f"CASE WHEN ln(CAST(n_types AS DOUBLE)) <> 0 "
        f"THEN ({h}) / ln(CAST(n_types AS DOUBLE)) END"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), cnt AS (
  SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
), agg AS (
  SELECT doc_id,
         sum(c) AS n_tokens, count(*) AS n_types,
         sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
  FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       {siground_sql(h)} AS entropy,
       {siground_sql(norm)} AS norm_entropy,
       {siground_sql('n_types / CAST(n_tokens AS DOUBLE)')} AS ttr
FROM agg
"""


def pmi_collocations(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` adjacent-bigram collocations by pointwise mutual
    information — PMI = ln(P(w1w2)/(P(w1)P(w2))) with
    P(w1w2) = c₁₂/N_bi, P(w) = c_w/N_tok (Church & Hanks 1990). The
    phrase detector a tokenizer/vocab pipeline runs before merging
    multi-word units.

    ``min_count`` keeps rare-pair noise out (PMI's classic failure
    mode: hapax pairs score highest); score is rounded to significant
    digits BEFORE ranking, ties by (w1, w2) — deterministic rank in
    both engines.

    Scale: two combinable count groupBys over the exploded stream; the
    unigram join runs AFTER the min_count filter, so only surviving
    pairs join; the final rank is a distributed TakeOrdered, never a
    global window.

    Output: (w1, w2, pair_count, pmi, rank).
    """
    from dataframeutils_spark.schema import siground

    docs = spread(docs)
    toks = _terms(text_col)
    m = F.size(toks) - 1
    pairs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = docs.filter(F.size(toks) >= 2).select(F.explode(pairs).alias("pr")).select(
        "pr.w1", "pr.w2"
    )
    uni = docs.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count("*").alias("cu")
    )
    nbi = bi.groupBy().agg(F.count("*").cast("double").alias("nb"))
    ntok = uni.groupBy().agg(F.sum("cu").cast("double").alias("nt"))
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    scored = (
        cb.join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2")), "w2")
        .crossJoin(F.broadcast(nbi))
        .crossJoin(F.broadcast(ntok))
        .select(
            "w1",
            "w2",
            "pair_count",
            siground(
                F.log(
                    (F.col("pair_count") / F.col("nb"))
                    / ((F.col("c1") / F.col("nt")) * (F.col("c2") / F.col("nt")))
                )
            ).alias("pmi"),
        )
    )
    order = [F.col("pmi").desc(), F.col("w1"), F.col("w2")]
    return ranked_topk(scored, k, order).select(
        "w1", "w2", "pair_count", "pmi", "rank"
    )


def pmi_collocations_sql(
    k: int = 50, min_count: int = 5, table: str = "documents"
) -> str:
    from dataframeutils_spark.schema import siground_sql

    pmi = "ln((pair_count / nb) / ((a.cu / nt) * (b.cu / nt)))"
    return f"""
WITH tok AS (
  SELECT {_tokens_sql("lower(text)")} AS toks FROM {table}
), bi AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM tok WHERE len(toks) >= 2
), uni AS (
  SELECT unnest(toks) AS w FROM tok
), cu AS (
  SELECT w, count(*) AS cu FROM uni GROUP BY w
), nbi AS (
  SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi
), ntok AS (
  SELECT CAST(sum(cu) AS DOUBLE) AS nt FROM cu
), cb AS (
  SELECT w1, w2, count(*) AS pair_count FROM bi GROUP BY w1, w2
  HAVING count(*) >= {min_count}
), scored AS (
  SELECT w1, w2, pair_count,
         {siground_sql(pmi)} AS pmi
  FROM cb
  JOIN cu a ON a.w = cb.w1
  JOIN cu b ON b.w = cb.w2
  CROSS JOIN nbi CROSS JOIN ntok
)
SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count, pmi, rank FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def ranked_topk(
    scored: DataFrame,
    k: int,
    order_cols: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed top-k with an explicit rank column.

    ``orderBy(...).limit(k)`` plans as ``TakeOrderedAndProject`` —
    every task keeps only a k-row heap and the driver merges heaps —
    so no single task ever sorts the full candidate set. (The
    unpartitioned ``row_number()`` window this replaces funnels ALL
    candidates through ONE task: for the chargram arm that is
    effectively the whole corpus.) The rank column is then recomputed
    by the same total ordering over the ≤k surviving rows — a k-row
    window, constant work at any corpus size. ``order_cols`` must be
    a total order (ties broken by a unique id) so the k-row cut is
    deterministic and identical to the old global-window ranks.
    """
    top = scored.orderBy(*order_cols).limit(k)
    w = Window.orderBy(*order_cols)
    return top.withColumn(rank_col, F.row_number().over(w))


def grouped_topk(
    scored: DataFrame,
    group_cols: list[str],
    k: int,
    order_cols: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k with an explicit rank column, two-phase.

    The naive ``row_number() OVER (PARTITION BY group)`` funnels each
    group's FULL candidate set through one task — for a retrieval
    query that is Σ_t df(t) rows. Phase 1 ranks within (group, the
    task's own physical partition) and keeps k, so every task sorts
    only its local slice; phase 2 ranks the ≤ k·P survivors per group.
    Any disjoint cover of rows preserves the global top-k, so the
    non-deterministic partition id is safe — it only decides WHERE a
    candidate is pre-cut, never whether a winner survives.
    ``order_cols`` must be a total order (ties broken by a unique id).
    """
    pre = scored.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(*group_cols, "_pid").orderBy(*order_cols)
    cut = pre.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= k
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        cut.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
        .drop("_pid", "_r1")
    )


def _chargrams(s: str, n: int = 3) -> list[str]:
    s = s.lower()
    return sorted({s[i : i + n] for i in range(len(s) - n + 1)})


def chargram_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character n-gram Jaccard retrieval — the typo-robust lexical
    arm (a misspelled query still shares most of its trigrams with
    the right documents, where token-level BM25 scores zero).

    The query's gram set is a DRIVER-SIDE literal (both engines see
    the same list); each document's distinct grams are computed
    scan-side and the Jaccard is a pure INTEGER ratio
    |∩| / (|doc| + |q| − |∩|) — deterministic without rounding.
    Output: (doc_id, rank, score), rank by (score desc, doc_id).

    Implementation is explode → two-level groupBy, NOT a higher-order
    ``transform``/``array_distinct`` fold: HOF lambdas evaluate
    interpreted (outside whole-stage codegen) and measured 4× slower
    than the exploded pipeline at sf0.1 even after parallelizing; the
    exploded form stays fully codegen'd, combines map-side, and
    shuffles only (doc_id, 3-char gram) pairs. Texts shorter than
    ``n`` carry no grams (the length filter — matching the oracle's
    empty ``range``; Spark's ``sequence(1, 0)`` would otherwise count
    DOWN and emit phantom sub-n grams).
    """
    qgrams = _chargrams(query, n)
    txt = F.lower(F.col(text_col))
    g = (
        spread(docs, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), txt.alias("_t"))
        .filter(F.length("_t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("_t") - (n - 1))
            ).alias("_p"),
            "_t",
        )
        .select("doc_id", F.substring(F.col("_t"), F.col("_p"), n).alias("gm"))
    )
    # distinct gram set per doc (first groupBy), then one combinable
    # aggregate for both |doc grams| and |∩ query grams|
    agg = (
        g.groupBy("doc_id", "gm")
        .agg(F.lit(1).alias("_one"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nd"),
            F.sum(
                F.when(F.col("gm").isin(qgrams), 1).otherwise(0)
            ).alias("_inter"),
        )
    )
    scored = agg.filter(F.col("_inter") > 0).select(
        "doc_id",
        (
            F.col("_inter")
            / (F.col("_nd") + F.lit(len(qgrams)) - F.col("_inter")).cast("double")
        ).alias("score"),
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    return ranked_topk(scored, k, order).select("doc_id", "rank", "score")


def chargram_search_sql(
    query: str, k: int = 10, n: int = 3, table: str = "documents"
) -> str:
    qgrams = _chargrams(query, n)
    qlist = "[" + ", ".join("'" + g.replace("'", "''") + "'" for g in qgrams) + "]"
    return f"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substr(lower(text), p, {n})
                        for p in range(1, greatest(length(text) - {n - 2}, 1))]) AS dg
  FROM {table}
), s AS (
  SELECT doc_id,
         len(list_filter(dg, x -> list_contains({qlist}, x))) AS inter,
         len(dg) AS nd
  FROM g
), sc AS (
  SELECT doc_id,
         inter / CAST(nd + {len(qgrams)} - inter AS DOUBLE) AS score
  FROM s WHERE inter > 0
)
SELECT doc_id, rank, score FROM (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank, score
  FROM sc
) WHERE rank <= {k}
"""


def hybrid_search_rrf(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    query_string: str,
    k: int = 10,
    arm_k: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): fuse the BM25 token arm and the char-gram Jaccard arm as
    RRF(d) = Σ_arms 1/(rrf_k + rank_arm(d)) — rank-only fusion, so
    incomparable score scales never matter and the fused score is a
    sum of exact rationals of INTEGER ranks (identical doubles in
    both engines). The retrieval-augmented-pipeline pattern: every
    arm is an independent top-``arm_k`` query; fusion is one
    broadcast-sized full outer join.

    Output: (doc_id, rrf_score, bm25_rank, chargram_rank), top ``k``
    by (rrf_score desc, doc_id).
    """
    b = bm25_search(docs, query_terms, k=arm_k).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )
    c = chargram_search(docs, query_string, k=arm_k).select(
        "doc_id", F.col("rank").alias("chargram_rank")
    )
    fused = b.join(c, on="doc_id", how="full").select(
        "doc_id",
        "bm25_rank",
        "chargram_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("chargram_rank")), F.lit(0.0)
            )
        ).alias("rrf_score"),
    )
    # Fusion input is ≤ 2·arm_k rows, but keep the distributed top-k
    # shape anyway (TakeOrderedAndProject, never a global window).
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "rrf_score", "bm25_rank", "chargram_rank")
    )


def hybrid_search_rrf_sql(
    query_terms: tuple[str, ...],
    query_string: str,
    k: int = 10,
    arm_k: int = 50,
    rrf_k: int = 60,
    table: str = "documents",
) -> str:
    return f"""
WITH b AS (
  SELECT doc_id, rank AS bm25_rank FROM ({bm25_search_sql(query_terms, k=arm_k, table=table)})
), c AS (
  SELECT doc_id, rank AS chargram_rank FROM ({chargram_search_sql(query_string, k=arm_k, table=table)})
), fused AS (
  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         b.bm25_rank, c.chargram_rank,
         COALESCE(1.0 / ({rrf_k} + b.bm25_rank), 0.0)
           + COALESCE(1.0 / ({rrf_k} + c.chargram_rank), 0.0) AS rrf_score
  FROM b FULL OUTER JOIN c ON c.doc_id = b.doc_id
)
SELECT doc_id, rrf_score, bm25_rank, chargram_rank FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS fr
  FROM fused
) WHERE fr <= {k}
"""


# ---------------------------------------------------------------------------
# corpus-relative document KL divergence + Zipf fit
# ---------------------------------------------------------------------------


def doc_kl_divergence(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document KL divergence from the corpus unigram distribution:
    KL(doc ‖ corpus) = Σ_w (c_w/n_d)·ln((c_w/n_d)/(C_w/N)) — the
    distribution-level outlier score (high = off-topic or degenerate,
    near-zero = boilerplate indistinguishable from the corpus prior);
    the per-document companion to :func:`ngram_lm_score` that needs no
    smoothing because every doc term is by construction in the corpus
    table.

    All probabilities are ratios of exact integer counts; the ln-sum
    rides the rounding contract. Scale: the same exploded count stream
    feeds both groupBys (map-side combinable); the doc×term ⋈ corpus
    term join is keyed on term, and only (term, count) pairs shuffle —
    never text.

    Output: (doc_id, n_tokens, n_types, kl).
    """
    from dataframeutils_spark.schema import siground

    toks = _doc_terms(docs, text_col, id_col).localCheckpoint(eager=False)
    dc = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    cc = toks.groupBy("term").agg(F.count("*").alias("cw"))
    ntot = toks.groupBy().agg(F.count("*").cast("double").alias("nt"))
    dn = dc.groupBy("doc_id").agg(
        F.sum("c").alias("nd"), F.count("*").alias("n_types")
    )
    j = (
        dc.join(cc, "term")
        .join(dn, "doc_id")
        .crossJoin(F.broadcast(ntot))
    )
    term_kl = (F.col("c") / F.col("nd")) * F.log(
        (F.col("c") / F.col("nd")) / (F.col("cw") / F.col("nt"))
    )
    out = j.groupBy("doc_id").agg(
        F.first("nd").alias("n_tokens"),
        F.first("n_types").alias("n_types"),
        F.sum(term_kl).alias("_kl"),
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        siground(F.col("_kl")).alias("kl"),
    )


def doc_kl_divergence_sql(table: str = "documents") -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), dc AS (
  SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
), cc AS (
  SELECT term, count(*) AS cw FROM tok GROUP BY term
), nt AS (
  SELECT CAST(count(*) AS DOUBLE) AS nt FROM tok
), dn AS (
  SELECT doc_id, sum(c) AS nd, count(*) AS n_types FROM dc GROUP BY doc_id
), j AS (
  SELECT dc.doc_id, dn.nd, dn.n_types,
         (dc.c / CAST(dn.nd AS DOUBLE))
           * ln((dc.c / CAST(dn.nd AS DOUBLE)) / (cc.cw / nt.nt)) AS tkl
  FROM dc JOIN cc USING (term) JOIN dn USING (doc_id) CROSS JOIN nt
)
SELECT doc_id, CAST(any_value(nd) AS BIGINT) AS n_tokens,
       CAST(any_value(n_types) AS BIGINT) AS n_types,
       {siground_sql('sum(tkl)')} AS kl
FROM j GROUP BY doc_id
"""


def zipf_fit(
    docs: DataFrame, top_r: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Zipf's-law fit over the corpus rank–frequency curve: OLS of
    ln(count) on ln(rank) over the top ``top_r`` terms —
    (n_terms_used, slope, intercept, r2). A healthy natural-language
    corpus has slope ≈ −1; a flat slope means templated/synthetic
    text, a cliff means a truncated vocabulary. The corpus-health
    one-liner next to :func:`vocab_growth`.

    Ranks are deterministic ((count desc, term) via the distributed
    TakeOrdered top-k); the OLS solves from sufficient statistics on
    the ≤ top_r surviving rows (the panel_ols discipline, 1 regressor)
    with the same sse clamp and NULL-guards.
    """
    from dataframeutils_spark.schema import siground

    cnt = (
        spread(docs)
        .select(F.explode(_terms(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    order = [F.col("c").desc(), F.col("term")]
    top = ranked_topk(cnt, top_r, order).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = top.groupBy().agg(
        F.count("*").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_samp("x").alias("vx"),
        F.var_samp("y").alias("vy"),
        F.covar_samp("x", "y").alias("cxy"),
    )
    slope = F.try_divide(F.col("cxy"), F.col("vx"))
    intercept = F.col("my") - slope * F.col("mx")
    r2 = F.try_divide(F.col("cxy") * F.col("cxy"), F.col("vx") * F.col("vy"))
    return agg.filter(F.col("n") >= 10).select(
        F.col("n").cast("long").alias("n_terms_used"),
        siground(slope).alias("slope"),
        siground(intercept).alias("intercept"),
        siground(r2).alias("r2"),
    )


def zipf_fit_sql(top_r: int = 1000, table: str = "documents") -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH cnt AS (
  SELECT term, count(*) AS c FROM (
    SELECT unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
  ) GROUP BY term
), top AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM (
    SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank FROM cnt
  ) WHERE rank <= {top_r}
), agg AS (
  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
         var_samp(x) AS vx, var_samp(y) AS vy, covar_samp(x, y) AS cxy
  FROM top
)
SELECT CAST(n AS BIGINT) AS n_terms_used,
       {siground_sql('CASE WHEN vx <> 0 THEN cxy / vx END')} AS slope,
       {siground_sql('my - (CASE WHEN vx <> 0 THEN cxy / vx END) * mx')} AS intercept,
       {siground_sql('CASE WHEN vx * vy <> 0 THEN cxy * cxy / (vx * vy) END')} AS r2
FROM agg WHERE n >= 10
"""


# ---------------------------------------------------------------------------
# retrieval-quality audit: nDCG@k / MRR over the retrieval arms
# ---------------------------------------------------------------------------


def retrieval_quality(
    docs: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...], str], ...],
    k: int = 10,
    arm_k: int = 50,
    rel_cap: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-quality audit: nDCG@k and MRR@k of the engine's two
    retrieval arms (BM25 tokens, hybrid RRF fusion) against the
    deterministic graded-relevance oracle — the quality dial that
    completes bm25_search/hybrid_search the way similarity_recall
    completes the ANN paths (an exactly-checked NUMBER for "is the
    ranking any good", not just "does it run").

    ``queries`` is a literal tuple of (query_id, terms, query_string)
    — a fixed evaluation set, exactly like bm25_search's literal
    query. Per (query, arm):

    * DCG@k  = Σ_{r≤k} (2^rel(d_r) − 1) / log2(r + 1) — gains are
      INTEGER bit-shifts (engine-exact), only the log2 rides the
      rounding contract;
    * IDCG@k = the same sum over the ideal ordering (rel desc, id) —
      distributed TakeOrdered over the Σ df-bounded relevance table;
    * nDCG   = DCG / IDCG (NULL when no relevant doc exists);
    * MRR@k  = 1 / min{r ≤ k : rel(d_r) ≥ 1} (NULL when the arm
      retrieved nothing relevant in the top k).

    Scale shape (r12 verdict item 4 — CONSTANT plan size in the eval
    set): the eval set is folded into two literal broadcast frames —
    (query_id, term) and (query_id, gram) — joined once into ONE
    shared token pipeline and ONE shared gram pipeline; every stage
    after carries query_id as an extra grouping key. The old form
    unioned one full retrieval subplan per eval query (63 exchanges
    at |eval| = 3); this plan's exchange count does not grow with the
    eval set. Per-query top-k runs two-phase (rank within the task's
    own partition first, then a per-query window over ≤ k·P
    survivors) so no task ever sorts a query's full Σ_t df(t)
    candidate set. Values are identical to the per-query production
    arms (bm25_search / hybrid_search_rrf formulas verbatim; pinned
    in tests/test_web.py).

    Output: (query_id, arm, k, n_relevant, dcg, idcg, ndcg, mrr),
    floats decimal-rounded.
    """
    from dataframeutils_spark.schema import decround, siground

    spark = docs.sparkSession
    k1, b_ = 1.2, 0.75
    rrf_k, ngram = 60, 3
    # --- literal eval-set frames (broadcast; both engines see the
    # same lists) ---
    evalq = spark.createDataFrame(
        [(qid, t.lower()) for qid, terms, _ in queries for t in terms],
        "query_id string, term string",
    )
    union_terms = sorted({t.lower() for _, terms, _ in queries for t in terms})
    # --- shared token pipeline (bm25_search's shape, run ONCE) ---
    toks = _doc_terms(docs, text_col, id_col)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("term").isin(union_terms))
    )
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_terms(text_col)).alias("dl"),
    )
    stats = dl.filter(F.col("dl") > 0).agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    # df(t) is corpus-level (docs containing t) — identical whether
    # tf was filtered to one query's terms or the union. A broadcast
    # join against the ≤|union terms|-row df table instead of
    # bm25_search's per-term window: no exchange, and tf keeps its
    # doc_id partitioning so every groupBy below that includes doc_id
    # in its keys is exchange-free (subset-satisfied clustering).
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # matched is bounded by Σ_q Σ_t df(t) and feeds two consumers
    # (relevance + bm25 scoring); truncate the lineage so the token
    # pipeline executes once
    matched = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(evalq), "term")
    ).localCheckpoint(eager=False)
    # --- graded relevance: rel = min(cap, Σ_t tf) per (query, doc) ---
    # (four consumers: ideal pool, n_relevant, both metric joins)
    rel = (
        matched.groupBy("query_id", "doc_id")
        .agg(F.least(F.lit(rel_cap), F.sum("tf")).cast("int").alias("rel"))
        .localCheckpoint(eager=False)
    )
    # --- bm25 arm (shared plan, grouped by query) ---
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfpart = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b_) + F.lit(b_) * F.col("dl") / F.col("avgdl"))
    )
    bm25_scored = (
        matched.crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(siground(F.sum(idf * tfpart)).alias("score"))
    )
    order = [F.col("score").desc(), F.col("doc_id")]
    # --- chargram arm (chargram_search's shape, run ONCE) ---
    txt = F.lower(F.col(text_col))
    g = (
        spread(docs, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), txt.alias("_t"))
        .filter(F.length("_t") >= ngram)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("_t") - (ngram - 1))
            ).alias("_p"),
            "_t",
        )
        .select(
            "doc_id", F.substring(F.col("_t"), F.col("_p"), ngram).alias("gm")
        )
        .groupBy("doc_id", "gm")
        .agg(F.lit(1).alias("_one"))
    )
    # |doc grams| and EVERY query's |∩| in one combinable aggregate
    # pass (one per-query sum column, then stack to rows) — the gram
    # table is consumed exactly once, no self-join for _nd
    cg_aggs = [F.count("*").alias("_nd")]
    stack_parts = []
    for i, (qid, _, qs) in enumerate(queries):
        grams = _chargrams(qs, ngram)
        cg_aggs.append(
            F.sum(F.when(F.col("gm").isin(grams), 1).otherwise(0)).alias(
                f"_i{i}"
            )
        )
        stack_parts.append(f"'{qid}', _i{i}, CAST({len(grams)} AS DOUBLE)")
    gagg = g.groupBy("doc_id").agg(*cg_aggs)
    cg_scored = (
        gagg.selectExpr(
            "doc_id",
            "_nd",
            f"stack({len(queries)}, {', '.join(stack_parts)})"
            " AS (query_id, _inter, nq)",
        )
        .filter(F.col("_inter") > 0)
        .select(
            "query_id",
            "doc_id",
            (
                F.col("_inter")
                / (F.col("_nd") + F.col("nq") - F.col("_inter"))
            ).alias("score"),
        )
    )
    # --- ONE shared per-(arm, query) top-k for all three ranked
    # lists (ideal rides along: its (rel desc, doc_id) order is the
    # same (score desc, doc_id) total order with score = rel) ---
    pool = (
        bm25_scored.withColumn("_arm", F.lit("bm25"))
        .unionByName(cg_scored.withColumn("_arm", F.lit("cg")))
        .unionByName(
            rel.select(
                "query_id",
                "doc_id",
                F.col("rel").cast("double").alias("score"),
            ).withColumn("_arm", F.lit("ideal"))
        )
    )
    # topped is ≤ arm_k · arms · |eval| rows and feeds five consumers
    topped = grouped_topk(
        pool, ["_arm", "query_id"], arm_k, order
    ).localCheckpoint(eager=False)
    bm25_full = topped.filter(F.col("_arm") == "bm25")
    cg_full = topped.filter(F.col("_arm") == "cg")
    bm25_top = bm25_full.filter(F.col("rank") <= k).select(
        "query_id", "doc_id", "rank"
    )
    ideal = topped.filter(
        (F.col("_arm") == "ideal") & (F.col("rank") <= k)
    ).select(
        "query_id", F.col("score").cast("int").alias("rel"), "rank"
    )
    # --- RRF fusion per query (hybrid_search_rrf's formula) ---
    bj = bm25_full.select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    cj = cg_full.select(
        "query_id", "doc_id", F.col("rank").alias("chargram_rank")
    )
    fused = bj.join(cj, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("chargram_rank")),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    rrf_top = grouped_topk(
        fused, ["query_id"], k, [F.col("rrf_score").desc(), F.col("doc_id")]
    ).select("query_id", "doc_id", "rank")
    # --- metrics per (query, arm) ---
    gain = F.expr("shiftleft(1, rel) - 1")
    dgain = gain.cast("double") / F.log2(F.col("rank") + F.lit(1.0))
    idcg_df = ideal.groupBy("query_id").agg(F.sum(dgain).alias("idcg"))
    nrel_df = (
        rel.filter(F.col("rel") >= 1)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_relevant"))
    )

    def arm_metrics(ranked: DataFrame, arm: str) -> DataFrame:
        # Retrieved docs WITHOUT a relevance row have rel = 0: their
        # dgain is exactly +0.0 and they never set first-rel, so an
        # INNER join against the ≤k-row broadcast ranking is
        # value-identical to the left join + coalesce — and streams
        # rel map-side instead of shuffling it. A query whose hits
        # are all irrelevant still gets a row (dcg 0.0) from the
        # k-bounded n_retrieved aggregate; a query whose arm
        # retrieved nothing gets none (dcg NULL), both matching the
        # per-query aggregates this replaced.
        hit = rel.join(F.broadcast(ranked), ["query_id", "doc_id"], "inner")
        m = hit.groupBy("query_id").agg(
            F.sum(dgain).alias("_dcg_rel"),
            F.min(F.when(F.col("rel") >= 1, F.col("rank"))).alias("_fr"),
        )
        nret = ranked.groupBy("query_id").agg(F.count("*").alias("_nret"))
        return (
            nret.join(F.broadcast(m), "query_id", "left")
            .select(
                "query_id",
                F.coalesce(F.col("_dcg_rel"), F.lit(0.0)).alias("dcg"),
                "_fr",
            )
            .withColumn("arm", F.lit(arm))
        )

    metrics = arm_metrics(bm25_top, "bm25").unionByName(
        arm_metrics(rrf_top, "rrf")
    )
    # base frame: one row per (query, arm) even when an arm retrieved
    # nothing (the old per-query aggregates always emitted a row)
    base = spark.createDataFrame(
        [(qid, arm) for qid, _, _ in queries for arm in ("bm25", "rrf")],
        "query_id string, arm string",
    )
    return (
        base.join(metrics, ["query_id", "arm"], "left")
        .join(F.broadcast(idcg_df), "query_id", "left")
        .join(F.broadcast(nrel_df), "query_id", "left")
        .select(
            "query_id",
            "arm",
            F.lit(k).cast("int").alias("k"),
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            decround(F.col("dcg")).alias("dcg"),
            decround(F.col("idcg")).alias("idcg"),
            decround(F.try_divide(F.col("dcg"), F.col("idcg"))).alias("ndcg"),
            decround(F.lit(1.0) / F.col("_fr").cast("double")).alias("mrr"),
        )
    )


def retrieval_quality_sql(
    queries: tuple[tuple[str, tuple[str, ...], str], ...],
    k: int = 10,
    arm_k: int = 50,
    rel_cap: int = 4,
    table: str = "documents",
) -> str:
    """DuckDB oracle for :func:`retrieval_quality` — replays the same
    arms (bm25_search_sql / hybrid_search_rrf_sql), the same graded
    relevance formula, and the same metric algebra per query."""
    from dataframeutils_spark.schema import decround_sql

    parts = []
    for qid, terms, qstring in queries:
        qlist = ", ".join(f"'{t.lower()}'" for t in terms)
        rel_cte = f"""
  SELECT doc_id, least({rel_cap}, count(*))::INT AS rel
  FROM (SELECT doc_id, unnest({_tokens_sql("lower(text)")}) AS term FROM {table})
  WHERE term IN ({qlist}) GROUP BY doc_id"""
        gain = "((1 << rel) - 1)"
        dgain = f"{gain}::DOUBLE / log2(rank + 1.0)"
        for arm in ("bm25", "rrf"):
            if arm == "bm25":
                arm_sql = f"SELECT doc_id, rank FROM ({bm25_search_sql(terms, k=k, table=table)})"
            else:
                arm_sql = f"""SELECT doc_id,
       row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
FROM ({hybrid_search_rrf_sql(terms, qstring, k=k, arm_k=arm_k, table=table)})"""
            parts.append(f"""
SELECT '{qid}' AS query_id, '{arm}' AS arm, CAST({k} AS INT) AS k,
       (SELECT count(*) FROM ({rel_cte}) WHERE rel >= 1)::BIGINT AS n_relevant,
       {decround_sql('m.dcg')} AS dcg,
       {decround_sql('i.idcg')} AS idcg,
       {decround_sql('m.dcg / NULLIF(i.idcg, 0)')} AS ndcg,
       {decround_sql('1.0 / m.first_rel')} AS mrr
FROM (
  SELECT sum({dgain}) AS dcg,
         min(CASE WHEN rel >= 1 THEN rank END) AS first_rel
  FROM (
    SELECT a.rank, COALESCE(r.rel, 0) AS rel
    FROM ({arm_sql}) a LEFT JOIN ({rel_cte}) r USING (doc_id)
  )
) m CROSS JOIN (
  SELECT sum({dgain}) AS idcg FROM (
    SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rank
    FROM ({rel_cte}) QUALIFY rank <= {k}
  )
) i""")
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# term drift: top-k vocabulary movement between corpus snapshots
# ---------------------------------------------------------------------------


def term_drift(
    old: DataFrame,
    new: DataFrame,
    k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Top-k term movement between two corpus snapshots — "what
    changed in this crawl" at the vocabulary level: for every term in
    EITHER snapshot's top-k (by count), both counts, corpus shares,
    the share delta, both ranks, and a status
    (``new`` = entered the top-k, ``dropped`` = left it, ``moved``
    otherwise). The heavy-hitter companion to the distribution-level
    drift reports (source_quality_drift, doc_kl): spam campaigns,
    template floods and topic shifts surface as terms shooting into
    the head.

    Counts and shares are CORPUS-LEVEL for every union-top-k term:
    a term that exists in the reference corpus but fell outside its
    top-k still reports its true cnt_ref/share_ref (status ``new``
    refers to top-k membership only), so share_delta reflects real
    movement rather than top-k truncation (r12 advice).

    Scale shape: one map-side-combinable term count per snapshot
    (topk_terms' shape), TakeOrdered top-k each side, then the ≤ 2k
    union-term list is broadcast-semi-joined back against each full
    count table (map-side, no shuffle of the vocab) and all remaining
    joins run on ≤ 2k rows. Shares are exact integer ratios,
    decimal-rounded.

    Output: (term, cnt_ref, cnt_cur, share_ref, share_cur,
    share_delta, rank_ref, rank_cur, status), one row per union-top-k
    term.
    """
    from dataframeutils_spark.schema import decround

    def top(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame, DataFrame]:
        toks = df.select(F.explode(_terms(text_col)).alias("term"))
        cnt = toks.groupBy("term").agg(F.count("*").alias(f"cnt_{tag}"))
        tot = cnt.agg(F.sum(f"cnt_{tag}").alias(f"tot_{tag}"))
        ranked = ranked_topk(
            cnt, k, [F.col(f"cnt_{tag}").desc(), F.col("term")],
            rank_col=f"rank_{tag}",
        )
        return cnt, ranked, tot

    rc, r, tr = top(old, "ref")
    cc, c, tc = top(new, "cur")
    # union-top-k membership + ranks (≤ 2k rows) ...
    u = r.select("term", "rank_ref").join(
        c.select("term", "rank_cur"), "term", "full"
    )
    # ... then TRUE corpus-level counts for every union term: semi-cut
    # each full count table to the broadcast union-term list map-side,
    # then bounded left joins (the vocab never shuffles).
    terms = u.select("term")
    rc_u = rc.join(F.broadcast(terms), "term", "leftsemi")
    cc_u = cc.join(F.broadcast(terms), "term", "leftsemi")
    j = (
        u.join(rc_u, "term", "left")
        .join(cc_u, "term", "left")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tc))
    )
    share_ref = F.col("cnt_ref") / F.col("tot_ref").cast("double")
    share_cur = F.col("cnt_cur") / F.col("tot_cur").cast("double")
    status = (
        F.when(F.col("rank_ref").isNull(), F.lit("new"))
        .when(F.col("rank_cur").isNull(), F.lit("dropped"))
        .otherwise(F.lit("moved"))
    )
    return j.select(
        "term",
        "cnt_ref",
        "cnt_cur",
        decround(share_ref).alias("share_ref"),
        decround(share_cur).alias("share_cur"),
        decround(
            F.coalesce(share_cur, F.lit(0.0)) - F.coalesce(share_ref, F.lit(0.0))
        ).alias("share_delta"),
        "rank_ref",
        "rank_cur",
        status.alias("status"),
    )


def term_drift_sql(old_rel: str, new_rel: str, k: int = 100) -> str:
    """DuckDB oracle for :func:`term_drift`. ``old_rel`` / ``new_rel``
    are unaliased parenthesized subqueries with a ``text`` column."""
    from dataframeutils_spark.schema import decround_sql


    def top(rel: str, tag: str) -> str:
        return f"""cnt_{tag} AS (
  SELECT term, count(*) AS cnt_{tag}
  FROM (SELECT unnest({_tokens_sql("lower(text)")}) AS term FROM {rel} AS s_{tag})
  GROUP BY term
), tot_{tag} AS (
  SELECT sum(cnt_{tag})::DOUBLE AS tot_{tag} FROM cnt_{tag}
), top_{tag} AS (
  SELECT term, cnt_{tag},
         row_number() OVER (ORDER BY cnt_{tag} DESC, term) AS rank_{tag}
  FROM cnt_{tag} QUALIFY rank_{tag} <= {k}
)"""

    sr = "c_ref.cnt_ref / tot_ref"
    sc = "c_cur.cnt_cur / tot_cur"
    return f"""
WITH {top(old_rel, 'ref')}, {top(new_rel, 'cur')},
u AS (
  SELECT COALESCE(t_ref.term, t_cur.term) AS term,
         t_ref.rank_ref, t_cur.rank_cur
  FROM top_ref t_ref
  FULL OUTER JOIN top_cur t_cur ON t_cur.term = t_ref.term
)
SELECT u.term,
       c_ref.cnt_ref, c_cur.cnt_cur,
       {decround_sql(sr)} AS share_ref,
       {decround_sql(sc)} AS share_cur,
       {decround_sql(f"COALESCE({sc}, 0.0) - COALESCE({sr}, 0.0)")}
         AS share_delta,
       u.rank_ref::INT AS rank_ref, u.rank_cur::INT AS rank_cur,
       CASE WHEN u.rank_ref IS NULL THEN 'new'
            WHEN u.rank_cur IS NULL THEN 'dropped'
            ELSE 'moved' END AS status
FROM u
LEFT JOIN cnt_ref c_ref ON c_ref.term = u.term
LEFT JOIN cnt_cur c_cur ON c_cur.term = u.term
CROSS JOIN tot_ref CROSS JOIN tot_cur
"""
