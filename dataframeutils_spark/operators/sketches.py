"""Custom mergeable sketches and distributed index/profile primitives.

Complements the built-in sketch paths (HLL++ distinct counts and
Greenwald-Khanna percentiles, SURVEY §2 N25) with structures Spark does
not ship natively:

* :func:`countmin_sketch` / :func:`countmin_estimate` — a count-min
  sketch (Cormode & Muthukrishnan 2005, public) built as a tiny
  (depth × width) cell table. Deterministic portable hashing makes the
  whole estimate exactly reproducible in DuckDB, so the operator gets a
  full exact oracle — rare for a sketch.
* :func:`inverted_index` — term → posting-list construction with df
  counts and a skew-robust bounded-postings path.
* :func:`embedding_dim_stats` — per-dimension moments over an
  ``array<float>`` column.

Scale notes:

* The count-min build explodes tokens ``depth`` ways but Spark's
  map-side partial aggregation collapses each task's cells before the
  shuffle: the exchange carries at most ``tasks × depth × width`` rows
  regardless of corpus size — that boundedness is the whole point of
  the sketch. The estimate side broadcasts the sketch (≤ depth·width
  cells by construction) so scoring any term set is shuffle-free.
* :func:`inverted_index` caps postings per term with a two-phase
  bottom-k (per-salt partial sort_array slice, then a final merge
  slice) so one hot term (a stopword over 100 TB) never funnels its
  full posting list through a single task. ``df`` is still exact.
* :func:`embedding_dim_stats` posexplodes N×D rows, but they live only
  inside the scan stage: the hash aggregate emits D partial rows per
  task, so the shuffle is ``tasks × D`` — per-dimension stats at 100 TB
  cost one scan plus a D-row exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60, portable_hash60_sql
from dataframeutils_spark.operators.local_solve import spread
from dataframeutils_spark.operators.similarity import (
    _fold_sql,
    _hash_uniform,
    _hash_uniform_sql,
    _ivf_lists_sql,
)
from dataframeutils_spark.operators.text import _terms, _tokens_sql

# --------------------------------------------------------------------------
# count-min sketch
# --------------------------------------------------------------------------


def _cm_bucket(term: Column, row: int, width: int) -> Column:
    # independent rows via seeded portable hash; hash60 is non-negative
    # so plain pmod is safe in both engines
    return F.pmod(
        portable_hash60(F.concat(F.lit(f"cm{row}:"), term)), F.lit(width)
    )


def _cm_bucket_sql(term_expr: str, row: int, width: int) -> str:
    seeded = f"'cm{row}:' || {term_expr}"
    return f"{portable_hash60_sql(seeded)} % {width}"


def countmin_sketch(
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build a count-min sketch over a term stream.

    Input: one row per token occurrence. Output: (cm_row, bucket, cnt)
    — at most ``depth × width`` rows total. Each occurrence increments
    one cell per row; map-side combine bounds the shuffle at
    ``tasks × depth × width`` cells.
    """
    cells = terms.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"),
                        _cm_bucket(F.col(term_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell")
    )
    return cells.groupBy("cell.cm_row", "cell.bucket").agg(
        F.count("*").alias("cnt")
    )


def countmin_estimate(
    sketch: DataFrame,
    query_terms: DataFrame,
    term_col: str = "term",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch: (term, n_est) with the classic min-over-
    rows upper-bound estimate. The sketch side is broadcast (≤
    depth×width cells), so estimation never shuffles the term set."""
    probes = query_terms.select(
        F.col(term_col).alias("term"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("cm_row"),
                        _cm_bucket(F.col(term_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("term", "cell.cm_row", "cell.bucket")
    return (
        probes.join(F.broadcast(sketch), ["cm_row", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("n_est"))
    )


def countmin_profile(
    docs: DataFrame,
    k: int = 50,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heavy-hitter audit: exact top-k term counts side-by-side with
    their count-min estimates.

    Output: (term, n_exact, n_est, overcount) — ``overcount = n_est −
    n_exact`` is ≥ 0 by the sketch's one-sided error guarantee, which
    the oracle therefore checks for every row. One token scan feeds
    both the exact counts and the sketch (ReuseExchange dedupes it).
    """
    toks = spread(docs, F.col(id_col)).select(F.explode(_terms(text_col)).alias("term"))
    exact = toks.groupBy("term").agg(F.count("*").alias("n_exact"))
    top = exact.orderBy(F.col("n_exact").desc(), F.col("term")).limit(k)
    sketch = countmin_sketch(toks, depth=depth, width=width)
    est = countmin_estimate(sketch, top.select("term"), depth=depth, width=width)
    return top.join(est, "term").select(
        "term",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
    )


def countmin_profile_sql(
    table: str = "documents", k: int = 50, depth: int = 4, width: int = 1024
) -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT {i} AS cm_row, {_cm_bucket_sql('term', i, width)} AS bucket, "
        f"term FROM toks"
        for i in range(depth)
    )
    return f"""
WITH toks AS (
  SELECT unnest({_tokens_sql("lower(text)")}) AS term FROM {table}
), probes AS (
  {cell_rows}
), sketch AS (
  SELECT cm_row, bucket, count(*) AS cnt FROM probes GROUP BY cm_row, bucket
), exact AS (
  SELECT term, count(*) AS n_exact FROM toks GROUP BY term
  ORDER BY n_exact DESC, term LIMIT {k}
), est AS (
  SELECT p.term, min(s.cnt) AS n_est
  FROM (SELECT DISTINCT term, cm_row, bucket FROM probes
        WHERE term IN (SELECT term FROM exact)) p
  JOIN sketch s USING (cm_row, bucket)
  GROUP BY p.term
)
SELECT term, n_exact, n_est, n_est - n_exact AS overcount
FROM exact JOIN est USING (term)
"""


# --------------------------------------------------------------------------
# inverted index
# --------------------------------------------------------------------------


def inverted_index(
    docs: DataFrame,
    max_postings: int = 20,
    min_df: int = 1,
    n_salts: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term → bounded posting list: (term, df, postings).

    ``df`` is the exact document frequency; ``postings`` joins the
    ``max_postings`` SMALLEST doc_ids (deterministic) with ','. The
    bottom-k is two-phase — per (term, salt) partial slice, then a
    final merge-and-slice — so a degenerate hot term shuffles at most
    ``n_salts × max_postings`` ids to one task, never its whole list.
    """
    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_terms(text_col))).alias("term"),
    )
    partial = (
        terms.groupBy(
            "term", F.pmod(F.col("doc_id"), F.lit(n_salts)).alias("salt")
        )
        .agg(
            F.count("*").alias("df_part"),
            F.slice(
                F.sort_array(F.collect_list("doc_id")), 1, max_postings
            ).alias("post_part"),
        )
    )
    return (
        partial.groupBy("term")
        .agg(
            F.sum("df_part").alias("df"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("post_part"))),
                1,
                max_postings,
            ).alias("post"),
        )
        .filter(F.col("df") >= min_df)
        .select(
            "term",
            "df",
            F.array_join("post", ",").alias("postings"),
        )
    )


def inverted_index_sql(
    table: str = "documents", max_postings: int = 20, min_df: int = 1
) -> str:
    toks = f"list_distinct({_tokens_sql('lower(text)')})"
    return f"""
WITH terms AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
)
SELECT term,
       count(*) AS df,
       array_to_string(
         list_slice(list_sort(list(doc_id)), 1, {max_postings}), ','
       ) AS postings
FROM terms
GROUP BY term
HAVING count(*) >= {min_df}
"""


# --------------------------------------------------------------------------
# per-dimension embedding stats
# --------------------------------------------------------------------------


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension moments: (dim, n, mean, std, vmin, vmax).

    The feature-distribution audit run before normalizing / projecting
    an embedding table. posexplode rows exist only inside the scan
    stage — the hash aggregate's map-side combine means the shuffle
    carries ``tasks × D`` partial rows, not N × D values.
    """
    exploded = emb.select(
        F.posexplode(F.col(vec_col)).alias("dim", "v")
    ).select("dim", F.col("v").cast("double").alias("v"))
    return exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("mean"),
        F.stddev_samp("v").alias("std"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )


def embedding_dim_stats_sql(table: str = "embeddings") -> str:
    return f"""
WITH vals AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM {table}
)
SELECT dim, count(*) AS n, avg(v) AS mean, stddev_samp(v) AS std,
       min(v) AS vmin, max(v) AS vmax
FROM vals GROUP BY dim
"""


# --------------------------------------------------------------------------
# int8 embedding quantization
# --------------------------------------------------------------------------


def embedding_quantize(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-dimension int8 quantization:
    (vec_id, qvec, max_abs_err).

    Scales each dimension by its corpus-wide max |value| (from one
    tiny aggregate, broadcast back) and rounds to [-127, 127] —
    the standard 4× memory cut before ANN indexing. ``qvec`` is the
    codes joined with ',' (engine-portable exact comparison);
    ``max_abs_err`` audits the per-vector reconstruction error.

    Scale shape: the stats pass is the :func:`embedding_dim_stats`
    aggregate (shuffle = tasks×D partials) collapsed to ONE broadcast
    row carrying the per-dim scale array; quantization itself is a
    scan-side projection with `transform` over the zipped
    (value, scale) pairs — no Python, no extra shuffle.
    """
    exploded = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
    scales = (
        exploded.groupBy("dim")
        .agg(F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("s"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "s"))
            ).alias("ds")
        )
        .select(F.transform("ds", lambda x: x["s"]).alias("scales"))
    )
    q = F.zip_with(
        F.col(vec_col),
        F.col("scales"),
        lambda v, s: F.round(v.cast("double") / s.cast("double") * 127).cast(
            "int"
        ),
    )
    deq = F.zip_with(
        F.col("q"),
        F.col("scales"),
        lambda c, s: c.cast("double") * s.cast("double") / 127,
    )
    err = F.zip_with(
        F.col(vec_col),
        F.col("deq"),
        lambda v, d: F.abs(v.cast("double") - d),
    )
    return (
        emb.crossJoin(F.broadcast(scales))
        .withColumn("q", q)
        .withColumn("deq", deq)
        .select(
            F.col(id_col).alias("vec_id"),
            F.array_join(F.transform("q", lambda c: c.cast("string")), ",").alias(
                "qvec"
            ),
            F.array_max(err).alias("max_abs_err"),
        )
    )


def embedding_quantize_sql(table: str = "embeddings") -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH vals AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM {table}
), sc AS (
  SELECT dim, GREATEST(max(abs(v)), 1e-30) AS s FROM vals GROUP BY dim
), scales AS (
  SELECT list(s ORDER BY dim) AS scales FROM sc
), q AS (
  SELECT vec_id, embedding, scales,
         list_transform(
           list_zip(embedding, scales),
           p -> CAST(round(CAST(p[1] AS DOUBLE) / CAST(p[2] AS DOUBLE) * 127)
                     AS INTEGER)
         ) AS codes
  FROM {table} CROSS JOIN scales
)
SELECT vec_id,
       array_to_string(codes, ',') AS qvec,
       {siground_sql('''list_max(list_transform(
           list_zip(embedding, codes, scales),
           p -> abs(CAST(p[1] AS DOUBLE)
                    - CAST(p[2] AS DOUBLE) * CAST(p[3] AS DOUBLE) / 127)))''')}
         AS max_abs_err
FROM q
"""


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def _pq_dmat(
    emb: DataFrame, m: int, k: int, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Input plus ``dmat``: per-subspace distance matrix (m arrays of k
    squared-L2 distances of the vector's subspace against the
    hash-derived codebook, entries from ``similarity._hash_uniform``
    under the 'pq:' salt). ``dmat`` is the shared kernel of PQ:
    argmin per row → the code (:func:`pq_quantize`); the raw arrays of
    a QUERY vector → the ADC lookup table (:func:`pq_topk`).

    Diffs are materialized once via zip_with (x*x binds the lambda var
    — single evaluation; pow(x, 2.0) is avoided because Math.pow is
    not guaranteed bit-equal to x*x across engines), and the fold is
    sequential so both engines add in index order.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    w = dim // m
    spark = emb.sparkSession
    codebook = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda c: F.transform(
                    F.sequence(F.lit(0), F.lit(w - 1)),
                    lambda d: _hash_uniform(
                        F.concat(
                            F.lit("pq:"), s.cast("string"), F.lit(":"), c.cast("string"),
                            F.lit(":"), d.cast("string"),
                        )
                    ),
                ),
            ),
        ).alias("cb")
    )
    vec = F.col(vec_col)
    cb = F.col("cb")

    def sub_dists(s: Column) -> Column:
        return F.transform(
            F.element_at(cb, s + 1),
            lambda cent: F.aggregate(
                F.zip_with(
                    F.slice(vec, s * w + 1, w),
                    cent,
                    lambda a, b: a.cast("double") - b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ),
        )

    dmat = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), sub_dists)
    return emb.crossJoin(F.broadcast(codebook)).withColumn("dmat", dmat).drop("cb")


def pq_quantize(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization: (vec_id, pq_codes, sq_err) — the standard
    memory-compression step for billion-scale ANN (Jégou, Douze &
    Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
    2011): split each D-dim vector into ``m`` subspaces of width D/m,
    code each subspace as the index of its nearest of ``k`` centroids
    (squared-L2, first-min tiebreak), store m log2(k)-bit codes per
    vector — 64 dims × 4 bytes → 8 bytes here.

    The codebook is hash-derived (pseudo-uniform in [-1,1)) so the
    whole operator is exactly oracle-checkable end-to-end, like the
    hyperplane-LSH path; production swaps in per-subspace k-means
    sub-codebooks exactly as ivf_topk swaps its hash quantizer for
    MLlib k-means (same plan shape, rows-only check). ``sq_err`` is the
    per-vector total squared reconstruction error — the audit column a
    recall-vs-memory sizing pass reads.

    Scale shape: the codebook (m×k×(D/m) doubles = k×D total) is built
    ONCE as a one-row DataFrame and broadcast; coding is a scan-side
    native HOF projection — per vector m·k·(D/m) = k·D multiply-adds,
    no Python, no shuffle, no explode. The distance fold is
    sequential-order-pinned so Spark and DuckDB produce bit-identical
    doubles (the fold of ``similarity._fold_sql``).
    """
    from dataframeutils_spark.schema import siground

    return (
        _pq_dmat(emb, m, k, dim, vec_col)
        .select(
            F.col(id_col).alias("vec_id"),
            F.array_join(
                F.transform(
                    F.col("dmat"),
                    lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("string"),
                ),
                ",",
            ).alias("pq_codes"),
            siground(
                F.aggregate(
                    F.transform(F.col("dmat"), F.array_min),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("sq_err"),
        )
    )


def _pq_dmat_sql(m: int, k: int, dim: int, table: str) -> str:
    """DuckDB twin of :func:`_pq_dmat`: (vec_id, dmat), the m×k
    squared-L2 distances of each sub-vector to each codebook entry."""
    w = dim // m
    comp = _hash_uniform_sql(
        "('pq:' || s::VARCHAR || ':' || c::VARCHAR || ':' || d::VARCHAR)"
    )
    diffs = f"""list_transform(range(0, {w}), d ->
            embedding[s * {w} + d + 1]::DOUBLE - {comp})"""
    sub = f"list_transform(range(0, {k}), c -> {_fold_sql(f'list_transform({diffs}, x -> x * x)')})"
    return f"""
  SELECT vec_id, list_transform(range(0, {m}), s -> {sub}) AS dmat
  FROM {table}
"""


def pq_quantize_sql(
    m: int = 8, k: int = 16, dim: int = 64, table: str = "embeddings"
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH dm AS ({_pq_dmat_sql(m, k, dim, table)})
SELECT vec_id,
       array_to_string(list_transform(dmat, ds ->
         (list_position(ds, list_min(ds)) - 1)::VARCHAR), ',') AS pq_codes,
       {siground_sql(_fold_sql("list_transform(dmat, ds -> list_min(ds))"))} AS sq_err
FROM dm
"""


def pq_topk(
    emb: DataFrame,
    k_neighbors: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    query_mod: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of Jégou et al. 2011: (query_id, neighbor_id, rank, adc_dist).

    The corpus is represented ONLY by its m PQ codes (8 bytes/vector
    here vs 256 raw); each query vector builds an m×k lookup table —
    which is exactly its :func:`_pq_dmat` distance matrix — and scoring
    a corpus vector is m table lookups + adds instead of D multiplies.
    Queries are the deterministic ``id % query_mod == 0`` slice so the
    operator is self-contained on one table.

    Scale shape: query LUTs broadcast (Q·m·k doubles); the corpus side
    streams codes through a scan-side projection — no shuffle until the
    per-query top-k window over Q·N scored rows, and in production the
    same LUTs ride on an IVF routing join (FAISS IVFADC) so N shrinks
    to the probed lists first. Native HOFs end-to-end; exactly
    oracle-checkable including rank order (bit-identical fold sums).
    """
    dm = _pq_dmat(emb, m, k, dim, vec_col)
    corpus = dm.select(
        F.col(id_col).alias("nid"),
        F.transform(
            F.col("dmat"), lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int")
        ).alias("codes"),
    )
    queries = (
        dm.filter(F.col(id_col) % query_mod == 0)
        .select(F.col(id_col).alias("qid"), F.col("dmat").alias("lut"))
    )
    # explicit m-term sum, NOT aggregate(zip_with(...)): higher-order
    # lambdas evaluate interpreted per scored row — and this operator
    # scores Q×N rows by design (the exact brute-force ADC baseline) —
    # while fixed-index element_at terms stay inside whole-stage
    # codegen (the ivfadc_topk fix, applied to the Q×N hot path it
    # came from). Left-assoc addition order is identical to the fold
    # this replaces, so the doubles are bit-identical.
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.col("lut").getItem(s), F.col("codes").getItem(s) + 1
        )
    from pyspark.sql import Window

    from dataframeutils_spark.schema import siground

    w = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        corpus.join(F.broadcast(queries), F.col("nid") != F.col("qid"))
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_neighbors)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
            siground("adc").alias("adc_dist"),
        )
    )


def pq_topk_sql(
    k_neighbors: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    query_mod: int = 10,
    table: str = "embeddings",
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH dm AS ({_pq_dmat_sql(m, k, dim, table)}),
corpus AS (
  SELECT vec_id AS nid,
         list_transform(dmat, ds -> list_position(ds, list_min(ds)) - 1) AS codes
  FROM dm
),
queries AS (
  SELECT vec_id AS qid, dmat AS lut FROM dm WHERE vec_id % {query_mod} = 0
),
scored AS (
  SELECT q.qid, c.nid,
         {_fold_sql(f"list_transform(range(0, {m}), s -> q.lut[s + 1][c.codes[s + 1] + 1])")} AS adc
  FROM corpus c JOIN queries q ON c.nid <> q.qid
)
SELECT qid AS query_id, nid AS neighbor_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS INTEGER) AS rank,
       {siground_sql('adc')} AS adc_dist
FROM scored
QUALIFY rank <= {k_neighbors}
"""


def ivfadc_topk(
    emb: DataFrame,
    k_neighbors: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    n_centroids: int = 24,
    n_probe: int = 4,
    query_mod: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    list_cap: int | None = None,
) -> DataFrame:
    """IVF + ADC composed — FAISS's IVFADC layout (Jégou et al. 2011
    §IV) as one Spark plan: vectors live in coarse inverted lists
    (hash-derived IVF centroids, exactly as :func:`~dataframeutils_spark
    .operators.similarity.ivf_topk`), and within the probed lists
    candidates are scored by ADC lookups over their m PQ codes instead
    of full-vector math.

    This removes :func:`pq_topk`'s Q×N wall: a query touches only its
    ``n_probe`` lists (≈ n_probe·N/C candidates), and each candidate
    costs m table lookups against the query's broadcast LUT. Raw
    vectors appear in exactly two scan-side projections (assignment
    fold, PQ coding) and never shuffle; the only wide rows are
    (qid, nid, adc) candidates.

    Fully hash-derived (IVF 'ivf:' salt, PQ 'pq:' salt) → exact DuckDB
    oracle including rank order. Production swaps both quantizers for
    their k-means twins (rows-only), same plan shape.
    """
    from pyspark.sql import Window

    from dataframeutils_spark.operators import similarity as sim
    from dataframeutils_spark.schema import siground

    lists = sim._rank_lists(
        sim._vectors(emb, id_col, vec_col).crossJoin(
            F.broadcast(sim.ivf_centroids(emb.sparkSession, n_centroids, dim))
        ),
        n_probe,
    )
    dm = _pq_dmat(emb, m, k, dim, vec_col)
    codes = dm.select(
        F.col(id_col).alias("nid"),
        F.transform(
            F.col("dmat"), lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int")
        ).alias("codes"),
    )
    luts = dm.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("qid"), F.col("dmat").alias("lut")
    )
    # One grouping of the one ranked table pairs each list's probing
    # queries with its members (r = 1): two filters of it joined on
    # centroid would each plan the N×C fold and the ranking window.
    is_member = F.col("r") == 1
    members = F.collect_list(F.when(is_member, F.col("vec_id")))
    if list_cap is not None:
        # Occupancy cap (the N102 multiprobe discipline applied to the
        # coarse lists): a query scans at most list_cap members per
        # probed list — candidates ≤ n_probe·list_cap per query at ANY
        # corpus size, instead of n_probe·N/C. Members survive in a
        # deterministic salted-hash order so both engines keep the
        # same ones (the dHash/LSH bucket_cap rule); sorted
        # (hash, id) structs are that order with its tie-break.
        h = portable_hash60(F.concat(F.lit("ivfcap:"), F.col("vec_id").cast("string")))
        keyed = F.struct(h.alias("h"), F.col("vec_id").alias("nid"))
        capped = F.slice(F.array_sort(F.collect_list(F.when(is_member, keyed))), 1, list_cap)
        members = F.transform(capped, lambda e: e["nid"])
    cand = (
        lists.groupBy("centroid")
        .agg(
            F.collect_list(F.when(F.col("vec_id") % query_mod == 0, F.col("vec_id"))).alias("qids"),
            members.alias("nids"),
        )
        .select(F.explode("qids").alias("qid"), "nids")
        .select("qid", F.explode("nids").alias("nid"))
        .filter(F.col("qid") != F.col("nid"))
    )
    # explicit m-term sum, NOT aggregate(zip_with(...)): higher-order
    # lambdas evaluate interpreted per candidate row; fixed-index
    # element_at terms stay inside whole-stage codegen (measured ~2×
    # on the 20k-vector stress run). Left-assoc addition order is
    # identical to the fold this replaces.
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.col("lut").getItem(s), F.col("codes").getItem(s) + 1
        )
    wk = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("nid").asc())
    return (
        cand.join(codes, "nid")
        .join(F.broadcast(luts), "qid")
        .withColumn("adc", adc)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k_neighbors)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
            siground("adc").alias("adc_dist"),
        )
    )


def _assign_cap_sql(list_cap: int | None) -> str:
    """Inverted-list occupancy cap, mirrored from :func:`ivfadc_topk`:
    keep list members in deterministic salted-hash order."""
    if list_cap is None:
        return "SELECT nid, centroid FROM assign0"
    h = portable_hash60_sql("('ivfcap:' || nid::VARCHAR)")
    return f"""SELECT nid, centroid FROM (
    SELECT nid, centroid,
           row_number() OVER (PARTITION BY centroid ORDER BY {h}, nid) AS cr
    FROM assign0
  ) WHERE cr <= {list_cap}"""


def ivfadc_topk_sql(
    k_neighbors: int = 5,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    n_centroids: int = 24,
    n_probe: int = 4,
    query_mod: int = 10,
    table: str = "embeddings",
    list_cap: int | None = None,
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH {_ivf_lists_sql(table, dim, n_centroids)}, assign0 AS (
  SELECT vec_id AS nid, centroid FROM ranked WHERE r = 1
), assign AS (
  {_assign_cap_sql(list_cap)}
), probes AS (
  SELECT vec_id AS qid, centroid FROM ranked
  WHERE r <= {n_probe} AND vec_id % {query_mod} = 0
), dm AS ({_pq_dmat_sql(m, k, dim, table)}), codes AS (
  SELECT vec_id AS nid,
         list_transform(dmat, ds -> list_position(ds, list_min(ds)) - 1) AS codes
  FROM dm
), luts AS (
  SELECT vec_id AS qid, dmat AS lut FROM dm WHERE vec_id % {query_mod} = 0
), cand AS (
  SELECT p.qid, a.nid FROM probes p JOIN assign a USING (centroid)
  WHERE p.qid <> a.nid
), scored AS (
  SELECT c.qid, c.nid,
         {_fold_sql(f"list_transform(range(0, {m}), s -> l.lut[s + 1][cd.codes[s + 1] + 1])")} AS adc
  FROM cand c JOIN codes cd USING (nid) JOIN luts l USING (qid)
)
SELECT qid AS query_id, nid AS neighbor_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS INTEGER) AS rank,
       {siground_sql('adc')} AS adc_dist
FROM scored
QUALIFY rank <= {k_neighbors}
"""


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------


def _bloom_pos(key: Column, i: int, m_bits: int) -> Column:
    # k independent hash functions via seeded portable hash (same trick
    # as _cm_bucket; 'bl' salt keeps the family independent of count-min)
    return F.pmod(
        portable_hash60(F.concat(F.lit(f"bl{i}:"), key)), F.lit(m_bits)
    )


def _bloom_pos_sql(key_expr: str, i: int, m_bits: int) -> str:
    seeded = f"('bl{i}:' || {key_expr})"
    return f"{portable_hash60_sql(seeded)} % {m_bits}"


def bloom_words(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Build a Bloom filter (Bloom 1970) as packed 32-bit words.

    Output: (word_idx, word) — at most ``m_bits / 32`` rows. Each key
    sets ``k_hashes`` bits; the build is a ``bit_or`` aggregate, so the
    sketch is MERGEABLE (union two filters = OR their words) and the
    map-side partial collapses every task's contribution to ≤ m/32
    rows before the exchange — the same boundedness argument as the
    count-min build. 32-bit words keep the shift arithmetic far from
    BIGINT sign territory in both engines.
    """
    pos = keys.select(
        F.explode(
            F.array(
                *[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k_hashes)]
            )
        ).alias("pos")
    )
    return pos.select(
        (F.col("pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
    ).groupBy("word_idx").agg(F.bit_or("bit").alias("word"))


def bloom_membership(
    corpus: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a corpus-built Bloom filter and audit it against truth.

    Output per probe key: (key, claimed_member, actual_member,
    false_positive). ``claimed_member`` is the filter's answer (all k
    bits set); ``actual_member`` the exact semi-join truth; a Bloom
    filter admits false positives but NEVER false negatives — the
    driver oracle re-derives all three columns, so a single missed
    member would hash-mismatch.

    Scale: the filter is ≤ m/32 rows and is broadcast, so probing any
    stream is scan-side (explode k ints per probe, broadcast-join,
    bool_and) — no shuffle proportional to probes. The exact-truth join
    exists only for the audit; production membership is the broadcast
    probe alone. At 100 TB this is the standard pre-join existence
    filter: build once on the small side, probe the big side in its
    scan stage.
    """
    words = bloom_words(corpus, key_col, m_bits, k_hashes)
    probe_bits = probes.select(
        F.col(key_col).alias("key"),
        F.posexplode(
            F.array(
                *[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k_hashes)]
            )
        ).alias("i", "pos"),
    ).select(
        "key",
        (F.col("pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
    )
    claimed = (
        probe_bits.join(F.broadcast(words), "word_idx", "left")
        .select(
            "key",
            (F.col("bit").bitwiseAND(F.coalesce("word", F.lit(0))) != 0).alias("hit"),
        )
        .groupBy("key")
        .agg(F.bool_and("hit").alias("claimed_member"))
    )
    truth = corpus.select(F.col(key_col).alias("key")).distinct().withColumn(
        "actual_member", F.lit(True)
    )
    return claimed.join(truth, "key", "left").select(
        "key",
        "claimed_member",
        F.coalesce("actual_member", F.lit(False)).alias("actual_member"),
        (F.col("claimed_member") & ~F.coalesce("actual_member", F.lit(False))).alias(
            "false_positive"
        ),
    )


def bloom_membership_sql(
    corpus_sql: str,
    probes_sql: str,
    key_expr: str = "key",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> str:
    """DuckDB oracle for :func:`bloom_membership` — identical seeded
    positions, 32-bit word packing, and bit tests; ``corpus_sql`` /
    ``probes_sql`` are subqueries yielding a ``key`` column."""
    build_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos_sql('key', i, m_bits)} AS pos FROM corpus"
        for i in range(k_hashes)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT key, {_bloom_pos_sql('key', i, m_bits)} AS pos FROM probes"
        for i in range(k_hashes)
    )
    return f"""
WITH corpus AS ({corpus_sql}), probes AS ({probes_sql}),
bpos AS ({build_pos}),
words AS (
  SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY 1
),
ppos AS ({probe_pos}),
hits AS (
  SELECT p.key,
         (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))
           & COALESCE(w.word, 0) <> 0 AS hit
  FROM ppos p LEFT JOIN words w ON w.word_idx = CAST(p.pos // 32 AS BIGINT)
),
claimed AS (
  SELECT key, bool_and(hit) AS claimed_member FROM hits GROUP BY key
),
truth AS (SELECT DISTINCT key FROM corpus)
SELECT c.key, c.claimed_member,
       (t.key IS NOT NULL) AS actual_member,
       c.claimed_member AND t.key IS NULL AS false_positive
FROM claimed c LEFT JOIN truth t ON t.key = c.key
"""


def bloom_shard_index(
    keys: DataFrame,
    key_col: str = "key",
    shard_col: str = "shard",
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Per-shard Bloom index: (shard, word_idx, word) — the file-level
    data-skipping structure Parquet bloom filters / Delta file stats
    implement: one small filter per storage unit, consulted at query
    time to prune units that cannot contain a key. ≤ shards × m/32
    rows, built with one map-side-combined bit_or aggregate."""
    pos = keys.select(
        shard_col,
        F.explode(
            F.array(
                *[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k_hashes)]
            )
        ).alias("pos"),
    )
    return pos.select(
        shard_col,
        (F.col("pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
    ).groupBy(shard_col, "word_idx").agg(F.bit_or("bit").alias("word"))


def bloom_skipping_audit(
    keys: DataFrame,
    probes: DataFrame,
    n_shards: int,
    key_col: str = "key",
    shard_col: str = "shard",
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> DataFrame:
    """Audit shard pruning: for every probe key, how many shards the
    per-shard Bloom index admits vs how many actually hold the key.

    Output per probe: (key, n_shards_claimed, n_shards_actual,
    n_false_pos, n_skipped) with n_skipped = n_shards −
    n_shards_claimed — the scan work the index saves. False negatives
    are impossible (oracle-checked: claimed ⊇ actual for every row).

    Scale: the index is ≤ shards × m/32 rows and broadcasts; probing
    is scan-side (probe × shard × k bit tests, collapsed map-side to
    one row per probe). At 100 TB the real deployment consults the
    index in the planner — this operator is the calibration query that
    sizes m against the observed false-positive scan waste."""
    index = bloom_shard_index(keys, key_col, shard_col, m_bits, k_hashes)
    shards = keys.sparkSession.range(n_shards).select(
        F.col("id").cast("int").alias(shard_col)
    )
    probe_bits = probes.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[_bloom_pos(F.col(key_col), i, m_bits) for i in range(k_hashes)]
            )
        ).alias("pos"),
    ).select(
        "key",
        (F.col("pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
    )
    tested = (
        probe_bits.crossJoin(F.broadcast(shards))
        .join(F.broadcast(index), [shard_col, "word_idx"], "left")
        .select(
            "key",
            shard_col,
            (F.col("bit").bitwiseAND(F.coalesce("word", F.lit(0))) != 0).alias("hit"),
        )
        .groupBy("key", shard_col)
        .agg(F.bool_and("hit").alias("claimed"))
    )
    truth = keys.select(
        F.col(key_col).alias("key"), F.col(shard_col), F.lit(True).alias("actual")
    ).distinct()
    per_shard = tested.join(truth, ["key", shard_col], "left").select(
        "key",
        "claimed",
        F.coalesce("actual", F.lit(False)).alias("actual"),
    )
    return per_shard.groupBy("key").agg(
        F.sum(F.col("claimed").cast("int")).alias("n_shards_claimed"),
        F.sum(F.col("actual").cast("int")).alias("n_shards_actual"),
        F.sum((F.col("claimed") & ~F.col("actual")).cast("int")).alias("n_false_pos"),
        (F.lit(n_shards) - F.sum(F.col("claimed").cast("int"))).alias("n_skipped"),
    )


def bloom_skipping_audit_sql(
    keys_sql: str,
    probes_sql: str,
    n_shards: int,
    m_bits: int = 1024,
    k_hashes: int = 3,
) -> str:
    """DuckDB oracle for :func:`bloom_skipping_audit`; ``keys_sql``
    yields (key, shard), ``probes_sql`` yields key."""
    build_pos = " UNION ALL ".join(
        f"SELECT shard, {_bloom_pos_sql('key', i, m_bits)} AS pos FROM keys"
        for i in range(k_hashes)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT key, {_bloom_pos_sql('key', i, m_bits)} AS pos FROM probes"
        for i in range(k_hashes)
    )
    return f"""
WITH keys AS ({keys_sql}), probes AS ({probes_sql}),
bpos AS ({build_pos}),
idx AS (
  SELECT shard, CAST(pos // 32 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
  FROM bpos GROUP BY 1, 2
),
shards AS (SELECT CAST(unnest(generate_series(0, {n_shards} - 1)) AS INTEGER) AS shard),
ppos AS ({probe_pos}),
tested AS (
  SELECT p.key, s.shard,
         bool_and(((CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))
                   & COALESCE(i.word, 0)) <> 0) AS claimed
  FROM ppos p
  CROSS JOIN shards s
  LEFT JOIN idx i
    ON i.shard = s.shard AND i.word_idx = CAST(p.pos // 32 AS BIGINT)
  GROUP BY p.key, s.shard
),
truth AS (SELECT DISTINCT key, shard, TRUE AS actual FROM keys)
SELECT t.key,
       CAST(sum(CASE WHEN t.claimed THEN 1 ELSE 0 END) AS BIGINT) AS n_shards_claimed,
       CAST(sum(CASE WHEN COALESCE(u.actual, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_shards_actual,
       CAST(sum(CASE WHEN t.claimed AND NOT COALESCE(u.actual, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       {n_shards} - CAST(sum(CASE WHEN t.claimed THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
FROM tested t
LEFT JOIN truth u ON u.key = t.key AND u.shard = t.shard
GROUP BY t.key
"""


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------


def _hll_rho(h: Column, p: int) -> Column:
    """Register value rho for a 60-bit portable hash: the low ``p`` bits
    pick the bucket, the remaining ``60 - p`` bits w feed rho =
    (position of the leftmost 1-bit in the (60-p)-bit field) =
    leading-zero-count(w) + 1 = (61 - p) - length(bin(w)), with the
    all-zero word mapping to the maximum 61 - p. ``length(bin(x))`` is
    ``floor(log2 x) + 1`` exactly — integer arithmetic, no float log —
    and ``bin`` renders identically in Spark and DuckDB."""
    w = F.shiftright(h, p)
    return F.when(w == 0, F.lit(61 - p)).otherwise(
        F.lit(61 - p) - F.length(F.bin(w))
    )


def _hll_rho_sql(h_expr: str, p: int) -> str:
    return (
        f"CASE WHEN ({h_expr} >> {p}) = 0 THEN {61 - p} "
        f"ELSE {61 - p} - length(bin({h_expr} >> {p})) END"
    )


def hll_registers(
    items: DataFrame,
    item_col: str = "item",
    group_cols: tuple[str, ...] = (),
    p: int = 10,
) -> DataFrame:
    """Build HyperLogLog registers (Flajolet et al. 2007, public) over a
    value stream, optionally per group.

    Output: (*group_cols, bucket, rho) — at most ``2**p`` rows per
    group. The build is a ``max`` aggregate over (group, bucket), so the
    sketch is MERGEABLE (union of two streams = elementwise max of
    their registers) and map-side partial aggregation bounds the
    exchange at ``tasks × groups × 2**p`` rows regardless of stream
    size — at 100 TB each executor ships ≤ 2**p register rows per
    group, never the values. The reference has no sketch layer at all
    (SURVEY §2.3); this complements Spark's builtin HLL++
    (``approx_count_distinct``) with a register table that is exactly
    reproducible in DuckDB, so the whole estimate gets a full exact
    oracle — same rarity as :func:`countmin_sketch`.
    """
    m = 1 << p
    h = portable_hash60(F.col(item_col))
    gcols = [F.col(g) for g in group_cols]
    return (
        items.select(
            *gcols,
            F.pmod(h, F.lit(m)).alias("bucket"),
            _hll_rho(h, p).alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


# rho cap for the 2^-rho sum: terms are then >= 2^-40 while the sum is
# < 2^p + 1, so every partial sum fits a 53-bit mantissa exactly (p +
# 40 <= 50 bits of span) -> the double sum is EXACT and order-
# independent in both engines. A register only exceeds 40 with
# probability ~2^-40 per bucket, where the cap's relative error is
# ~2^-30 of one term — far below SIG_DIGITS rounding.
_HLL_RHO_CAP = 40


def hll_estimate(
    registers: DataFrame,
    group_cols: tuple[str, ...] = (),
    p: int = 10,
) -> DataFrame:
    """Turn register tables into cardinality estimates per group.

    Classic HLL estimator: E = alpha_m * m^2 / Z with Z = sum over all
    m buckets of 2^-rho (absent buckets contribute 2^0 = 1), switching
    to linear counting E = m * ln(m / zeros) when E <= 2.5 m and empty
    buckets remain. 2^-rho is computed as 1.0 / (1L << rho) — an exact
    IEEE division by a power of two — and rho is capped so the sum is
    exact (see _HLL_RHO_CAP); the only libm calls are the final ln /
    division, absorbed by siground.

    Output: (*group_cols, nonzero, est).
    """
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)  # bias constant, m >= 128
    term = 1.0 / F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(least(rho, {_HLL_RHO_CAP}) AS INT))"
    ).cast("double")
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("nonzero"),
        F.sum(term).alias("zsum"),
    )
    zeros = F.lit(m) - F.col("nonzero")
    z = zeros.cast("double") + F.col("zsum")
    e_raw = F.lit(alpha * m * m) / z
    est = F.when(
        (e_raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*group_cols, "nonzero", est.alias("est"))


def hll_distinct_words(
    docs: DataFrame,
    group_col: str = "lang",
    p: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Per-group distinct-token cardinality: HLL estimate audited
    against the exact count.

    Output: (group, n_exact, nonzero, est, rel_err), siground-rounded
    floats. The exact side exists only for the audit; production use is
    registers alone — one token scan, a ≤ groups × 2**p register
    exchange, mergeable across shards/days by bucketwise max.
    """
    from dataframeutils_spark.schema import siground

    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(_terms(text_col)).alias("item"),
    )
    regs = hll_registers(toks, "item", ("grp",), p)
    est = hll_estimate(regs, ("grp",), p)
    exact = toks.groupBy("grp").agg(F.count_distinct("item").alias("n_exact"))
    return (
        exact.join(est, "grp")
        .select(
            "grp",
            "n_exact",
            "nonzero",
            siground(F.col("est")).alias("est"),
            siground(
                (F.col("est") - F.col("n_exact")) / F.col("n_exact")
            ).alias("rel_err"),
        )
        .orderBy("grp")
    )


def hll_distinct_words_sql(
    table: str = "documents", group_col: str = "lang", p: int = 10
) -> str:
    """DuckDB oracle for :func:`hll_distinct_words` — identical hash,
    bucket/rho split, capped 2^-rho sum, bias constant, and linear-
    counting switch."""
    from dataframeutils_spark.schema import siground_sql

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # precompute alpha * m^2 in Python so both engines divide the SAME
    # double constant (and DuckDB never parses it as DECIMAL, which
    # overflows on the * m^2 rescale)
    am2 = f"CAST({alpha * m * m!r} AS DOUBLE)"
    md = f"CAST({float(m)!r} AS DOUBLE)"
    h = portable_hash60_sql("item")
    toks = (
        f"SELECT {group_col} AS grp, unnest({_tokens_sql('lower(text)')}) AS item "
        f"FROM {table}"
    )
    est_expr = (
        f"CASE WHEN {am2} / z <= CAST({2.5 * m!r} AS DOUBLE) AND zeros > 0 "
        f"THEN {md} * ln({md} / zeros) "
        f"ELSE {am2} / z END"
    )
    return f"""
WITH toks AS ({toks}),
regs AS (
  SELECT grp, {h} % {m} AS bucket, max({_hll_rho_sql(h, p)}) AS rho
  FROM toks GROUP BY 1, 2
),
agg AS (
  SELECT grp, count(*) AS nonzero,
         sum(1.0 / CAST(CAST(1 AS BIGINT) << CAST(least(rho, {_HLL_RHO_CAP}) AS INTEGER) AS DOUBLE)) AS zsum
  FROM regs GROUP BY grp
),
sized AS (
  SELECT grp, nonzero, CAST({m} - nonzero AS DOUBLE) AS zeros,
         CAST({m} - nonzero AS DOUBLE) + zsum AS z
  FROM agg
),
exact AS (
  SELECT grp, count(DISTINCT item) AS n_exact FROM toks GROUP BY grp
)
SELECT e.grp, e.n_exact, s.nonzero,
       {siground_sql(est_expr)} AS est,
       {siground_sql(f"(({est_expr}) - e.n_exact) / e.n_exact")} AS rel_err
FROM exact e JOIN sized s USING (grp)
ORDER BY e.grp
"""


# --------------------------------------------------------------------------
# equi-width histogram sketch (mergeable quantiles)
# --------------------------------------------------------------------------


def hist_sketch(
    values: DataFrame,
    value_col: str = "value",
    group_cols: tuple[str, ...] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 64,
) -> DataFrame:
    """Equi-width histogram sketch over a numeric stream, optionally per
    group: (*group_cols, bin, cnt), at most ``n_bins`` rows per group.

    The build is a count aggregate, so the sketch is MERGEABLE (union
    two histograms = sum their bin counts) and map-side combine bounds
    the exchange at ``tasks × groups × n_bins`` rows — the same
    boundedness as the count-min/bloom/HLL builds. This is the
    distribution member of the sketch suite: count-min answers
    frequency, bloom membership, HLL cardinality, the histogram
    quantiles/shape. Unlike t-digest/GK it is insertion-order
    independent, which is what makes an exact cross-engine oracle
    possible. Out-of-range values clamp into the edge bins.
    """
    width = (hi - lo) / n_bins
    if width <= 0:
        # degenerate range (constant column): everything lands in bin 0
        # instead of dividing by zero; hist_quantiles then interpolates
        # to exactly lo for every q
        b = F.lit(0)
    else:
        raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")
    return (
        values.groupBy(*group_cols, b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 64,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the
    first bin whose cumulative count crosses ``t = q * total``, linearly
    interpolated within the bin — ``est = lo + width * (bin + (t -
    cum_before) / cnt)``. Max error is one bin width by construction.

    Output: (*group_cols, q, n, est). The crossing-bin selection is a
    join predicate (cum_before < t <= cum), exactly one row per
    (group, q) because cumulative counts only move on occupied bins.
    """
    from pyspark.sql import Window

    width = (hi - lo) / n_bins
    w = (
        Window.partitionBy(*[F.col(g) for g in group_cols])
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*[F.col(g) for g in group_cols])
    cum = sketch.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    t = F.col("q") * F.col("n").cast("double")
    frac = (t - (F.col("cum") - F.col("cnt")).cast("double")) / F.col(
        "cnt"
    ).cast("double")
    est = F.lit(lo) + F.lit(width) * (F.col("bin").cast("double") + frac)
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(
            ((F.col("cum") - F.col("cnt")).cast("double") < t)
            & (F.col("cum").cast("double") >= t)
        )
        .select(*group_cols, "q", "n", est.alias("est"))
    )


def hist_quantile_profile(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    n_bins: int = 64,
) -> DataFrame:
    """Histogram-sketch quantiles audited against the exact interpolated
    percentile: (group, q, n, est, exact, abs_err), siground-rounded.

    Bounds [lo, hi] come from one global min/max aggregate (broadcast —
    at 100 TB the bounds pass and the sketch build pipeline into the
    same scan via ReuseExchange or run on yesterday's bounds). The
    exact side exists only for the audit; production merges per-shard
    histograms and estimates at read time.
    """
    from dataframeutils_spark.schema import siground

    bounds = events.agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
    ).collect()[0]
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    sk = hist_sketch(events, value_col, (group_col,), lo, hi, n_bins)
    est = hist_quantiles(sk, qs, (group_col,), lo, hi, n_bins)
    exact = events.groupBy(group_col).agg(
        *[
            F.expr(f"percentile({value_col}, {q!r})").alias(f"x{i}")
            for i, q in enumerate(qs)
        ]
    )
    melted = exact.select(
        group_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"x{i}").alias("exact")
                    )
                    for i, q in enumerate(qs)
                ]
            )
        ).alias("e"),
    ).select(group_col, "e.q", "e.exact")
    return (
        est.join(melted, [group_col, "q"])
        .select(
            group_col,
            "q",
            "n",
            siground(F.col("est")).alias("est"),
            siground(F.col("exact")).alias("exact"),
            siground(F.abs(F.col("est") - F.col("exact"))).alias("abs_err"),
        )
        .orderBy(group_col, "q")
    )


def hist_quantile_profile_sql(
    table: str = "events",
    value_col: str = "value",
    group_col: str = "event_type",
    qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    n_bins: int = 64,
) -> str:
    """DuckDB oracle for :func:`hist_quantile_profile` — identical bin
    arithmetic, crossing-bin predicate, and interpolation; exact side is
    ``quantile_cont`` (the same type-7 interpolated percentile as
    Spark's ``percentile``)."""
    from dataframeutils_spark.schema import siground_sql

    q_rows = ", ".join(f"({float(q)!r})" for q in qs)
    # DuckDB's quantile_cont requires a CONSTANT q — one aggregate per q
    exact_rows = " UNION ALL ".join(
        f"SELECT {group_col} AS grp, {float(q)!r} AS q, "
        f"quantile_cont({value_col}, {float(q)!r}) AS exact "
        f"FROM {table} GROUP BY 1"
        for q in qs
    )
    return f"""
WITH bounds AS (
  SELECT CAST(min({value_col}) AS DOUBLE) AS lo,
         CAST(max({value_col}) AS DOUBLE) AS hi
  FROM {table}
),
params AS (
  SELECT lo, hi, (hi - lo) / {n_bins} AS width FROM bounds
),
sk AS (
  SELECT {group_col} AS grp,
         CAST(least(greatest(floor(({value_col} - p.lo) / p.width), 0), {n_bins - 1}) AS INTEGER) AS bin,
         count(*) AS cnt
  FROM {table}, params p
  GROUP BY 1, 2
),
cum AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY grp) AS n
  FROM sk
),
quants(q) AS (VALUES {q_rows}),
est AS (
  SELECT c.grp, qq.q, c.n,
         p.lo + p.width * (CAST(c.bin AS DOUBLE)
           + (qq.q * CAST(c.n AS DOUBLE) - CAST(c.cum - c.cnt AS DOUBLE)) / CAST(c.cnt AS DOUBLE)) AS est
  FROM cum c CROSS JOIN quants qq CROSS JOIN params p
  WHERE CAST(c.cum - c.cnt AS DOUBLE) < qq.q * CAST(c.n AS DOUBLE)
    AND CAST(c.cum AS DOUBLE) >= qq.q * CAST(c.n AS DOUBLE)
),
exact AS (
  {exact_rows}
)
SELECT e.grp AS {group_col}, e.q, CAST(e.n AS BIGINT) AS n,
       {siground_sql("e.est")} AS est,
       {siground_sql("x.exact")} AS exact,
       {siground_sql("abs(e.est - x.exact)")} AS abs_err
FROM est e JOIN exact x ON e.grp = x.grp AND e.q = x.q
ORDER BY e.grp, e.q
"""


# --------------------------------------------------------------------------
# K-Minimum-Values sketch (set overlap / Jaccard estimation)
# --------------------------------------------------------------------------


TWO60 = float(1 << 60)


def kmv_sketch(
    items: DataFrame,
    item_col: str = "item",
    group_col: str = "grp",
    k: int = 256,
    n_salts: int = 16,
) -> DataFrame:
    """K-Minimum-Values sketch (Beyer et al. 2007, public) per group:
    the ``k`` smallest distinct portable hashes of the item stream.

    Output: (grp, n_items, sketch) — ``n_items`` the exact distinct
    count (the salts partition the hash space, so per-salt set sizes
    sum exactly), ``sketch`` an ascending array of ≤ k longs.

    Unlike HLL, KMV supports set INTERSECTION estimation: because
    every group's sketch keeps the same "k smallest by one global
    hash" prefix of the universe, two sketches can be unioned and
    compared element-for-element. Build is the repo's two-phase
    bottom-k (``inverted_index`` pattern): per (group, hash-salt)
    partial sort+slice, then a final merge over ≤ salts × k values —
    a hot group never funnels its full distinct-hash set through one
    task. Sketches MERGE by re-slicing the concatenation (same
    bottom-k algebra), so per-shard sketches combine without
    re-reading items. Deterministic (order-independent bottom-k of a
    fixed hash) → exactly reproducible in DuckDB.
    """
    h = portable_hash60(F.col(item_col))
    partial = (
        items.select(
            F.col(group_col).alias("grp"),
            h.alias("h"),
            F.pmod(h, F.lit(n_salts)).alias("salt"),
        )
        .groupBy("grp", "salt")
        .agg(
            F.sort_array(F.collect_set("h")).alias("cell")
        )
        .select(
            "grp",
            F.size("cell").alias("nd_part"),
            F.slice("cell", 1, k).alias("sk_part"),
        )
    )
    return partial.groupBy("grp").agg(
        F.sum("nd_part").alias("n_items"),
        F.slice(
            F.sort_array(F.flatten(F.collect_list("sk_part"))), 1, k
        ).alias("sketch"),
    )


def kmv_overlap(
    sketches_df: DataFrame,
    k: int = 256,
) -> DataFrame:
    """Pairwise set-overlap estimates from KMV sketches: for every
    group pair (a < b), union/intersection/Jaccard via the classic
    estimator — union sketch S = bottom-k of (sk_a ∪ sk_b); if S is
    unsaturated it IS the exact distinct union; else est_union =
    (k-1) / U(k-th min), with U the hash normalized to [0,1); ρ =
    |{x ∈ S : x ∈ sk_a ∧ x ∈ sk_b}| / |S| and est_inter = ρ ·
    est_union (exact again when unsaturated).

    Output: (src_a, src_b, n_a, n_b, est_union, est_inter,
    jaccard_est). The sketch table is ≤ groups × (k+2) values, so the
    pairwise self-join broadcasts — estimating overlap across ANY
    number of 100 TB corpora costs one sketch build per corpus plus
    driver-side-sized arithmetic, never a cross-corpus join.
    """
    a = sketches_df.select(
        F.col("grp").alias("src_a"),
        F.col("n_items").alias("n_a"),
        F.col("sketch").alias("sk_a"),
    )
    b = sketches_df.select(
        F.col("grp").alias("src_b"),
        F.col("n_items").alias("n_b"),
        F.col("sketch").alias("sk_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    u = F.slice(F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b"))), 1, k)
    pairs = pairs.select(
        "src_a", "src_b", "n_a", "n_b", "sk_a", "sk_b", u.alias("u")
    )
    n_u = F.size("u")
    kth = F.element_at("u", n_u)
    inter = F.size(
        F.filter(
            F.col("u"),
            lambda x: F.array_contains(F.col("sk_a"), x)
            & F.array_contains(F.col("sk_b"), x),
        )
    )
    est_union = F.when(n_u < k, n_u.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth.cast("double") / F.lit(TWO60))
    )
    rho = inter.cast("double") / n_u.cast("double")
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        est_union.alias("est_union"),
        (rho * est_union).alias("est_inter"),
        rho.alias("jaccard_est"),
    )


def corpus_overlap(
    docs: DataFrame,
    group_col: str = "source",
    n: int = 3,
    k: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Cross-source n-gram overlap audit: KMV estimates of shared
    shingle counts between every source pair, against the exact
    intersection — the pre-flight contamination/redundancy scan run
    BEFORE committing to a cross-corpus dedup pass (estimate first
    from per-corpus sketches; join only where the estimate says
    overlap exists).

    Output: (src_a, src_b, n_a, n_b, est_union, est_inter,
    jaccard_est, exact_inter), floats siground-rounded. The exact side
    is audit-only: an 8-byte-hash self-join, never text.
    """
    from dataframeutils_spark.operators.dedup import shingles
    from dataframeutils_spark.schema import siground

    sh = shingles(docs, text_col=text_col, id_col=group_col, n=n)
    grams = sh.select(F.col("doc_id").alias("grp"), F.col("shingle").alias("item"))
    sk = kmv_sketch(grams, "item", "grp", k=k)
    est = kmv_overlap(sk, k=k)
    hashed = grams.select(
        "grp", portable_hash60(F.col("item")).alias("h")
    ).distinct()
    ha = hashed.select(F.col("grp").alias("src_a"), "h")
    hb = hashed.select(F.col("grp").alias("src_b"), "h")
    exact = (
        ha.join(hb, ["h"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            siground(F.col("est_union")).alias("est_union"),
            siground(F.col("est_inter")).alias("est_inter"),
            siground(F.col("jaccard_est")).alias("jaccard_est"),
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
        )
        .orderBy("src_a", "src_b")
    )


def corpus_overlap_sql(
    table: str = "documents",
    group_col: str = "source",
    n: int = 3,
    k: int = 256,
) -> str:
    """DuckDB oracle for :func:`corpus_overlap` — identical shingle
    construction (``dedup._shingle_cte``), bottom-k sketch, union
    re-slice, and estimator arithmetic."""
    from dataframeutils_spark.operators.dedup import _shingle_cte
    from dataframeutils_spark.schema import siground_sql

    src = f"(SELECT {group_col} AS doc_id, text FROM {table})"
    h = portable_hash60_sql("shingle")
    est_union = (
        f"CASE WHEN len(u) < {k} THEN CAST(len(u) AS DOUBLE) "
        f"ELSE CAST({float(k - 1)!r} AS DOUBLE) / (CAST(u[len(u)] AS DOUBLE) / CAST({TWO60!r} AS DOUBLE)) END"
    )
    inter = (
        "len(list_filter(u, x -> list_contains(sk_a, x) AND list_contains(sk_b, x)))"
    )
    rho = f"CAST({inter} AS DOUBLE) / CAST(len(u) AS DOUBLE)"
    return f"""
WITH {_shingle_cte(src, n)},
hashed AS (
  SELECT DISTINCT doc_id AS grp, {h} AS h FROM sh
),
sk AS (
  SELECT grp, count(*) AS n_items,
         list_slice(list_sort(list(h)), 1, {k}) AS sketch
  FROM hashed GROUP BY grp
),
pairs AS (
  SELECT a.grp AS src_a, b.grp AS src_b, a.n_items AS n_a, b.n_items AS n_b,
         a.sketch AS sk_a, b.sketch AS sk_b,
         list_slice(list_sort(list_distinct(list_concat(a.sketch, b.sketch))), 1, {k}) AS u
  FROM sk a JOIN sk b ON a.grp < b.grp
),
est AS (
  SELECT src_a, src_b, n_a, n_b,
         {est_union} AS est_union,
         {rho} * ({est_union}) AS est_inter,
         {rho} AS jaccard_est
  FROM pairs
),
exact AS (
  SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS exact_inter
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, e.n_a, e.n_b,
       {siground_sql("e.est_union")} AS est_union,
       {siground_sql("e.est_inter")} AS est_inter,
       {siground_sql("e.jaccard_est")} AS jaccard_est,
       COALESCE(x.exact_inter, 0) AS exact_inter
FROM est e LEFT JOIN exact x ON e.src_a = x.src_a AND e.src_b = x.src_b
ORDER BY e.src_a, e.src_b
"""


# --------------------------------------------------------------------------
# count-min join-size estimation (the CBO primitive)
# --------------------------------------------------------------------------


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    depth: int = 4,
    width: int = 2048,
    portable: bool = True,
) -> DataFrame:
    """Estimate |left ⋈ right| on a key WITHOUT running the join — the
    cost-based-optimizer primitive that decides broadcast vs shuffle vs
    "don't run this at all". Classic count-min inner product
    (Cormen/Muthukrishnan): per sketch row, Σ_buckets cntL·cntR is an
    upper bound on Σ_key cntL(k)·cntR(k); min over the depth rows is
    the estimate. Hash collisions only ever ADD mass, so est ≥ exact
    (≥1 over_ratio asserted in tests and visible in the output).

    100 TB shape: each side pays one map-side-combined sketch build
    (exchange ≤ tasks × depth × width cells); the inner product runs on
    two ≤ depth×width cell tables. The exact audit side (per-key count
    join) exists for the oracle at test scale — at production scale the
    estimate is the point and the exact side is exactly what you are
    avoiding.
    """
    from dataframeutils_spark.schema import siground

    def sketch(df: DataFrame, key: str, out: str) -> DataFrame:
        term = F.col(key).cast("string")
        if portable:
            bucket = lambda i: _cm_bucket(term, i, width)  # noqa: E731
        else:
            # production hash: one xxhash64 JVM intrinsic per row per
            # sketch row instead of md5+conv — measured 4x cheaper on
            # the 100x stress; loses only the DuckDB-exact oracle
            bucket = lambda i: F.pmod(  # noqa: E731
                F.abs(F.xxhash64(F.lit(f"cm{i}:"), term)), F.lit(width)
            )
        cells = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("cm_row"),
                            bucket(i).alias("bucket"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("cell")
        )
        return cells.groupBy("cell.cm_row", "cell.bucket").agg(
            F.count("*").alias(out)
        )

    skl = sketch(left, left_key, "cnt_l")
    skr = sketch(right, right_key, "cnt_r")
    # A depth row whose buckets never overlap has true inner product 0 —
    # which PROVES the join is empty. Materialize all depth rows (left
    # join from 0..depth-1, inner product coalesced to 0) so that row
    # wins the min instead of being silently dropped by the inner join.
    ip_rows = (
        skl.join(skr, ["cm_row", "bucket"])
        .groupBy("cm_row")
        .agg(F.sum(F.col("cnt_l") * F.col("cnt_r")).alias("ip"))
    )
    est = (
        left.sparkSession.range(depth)
        .select(F.col("id").cast("int").alias("cm_row"))
        .join(ip_rows, "cm_row", "left")
        .agg(F.min(F.coalesce("ip", F.lit(0).cast("long"))).alias("est_size"))
    )
    cl = left.groupBy(F.col(left_key).cast("string").alias("k")).agg(
        F.count("*").alias("c_l")
    )
    cr = right.groupBy(F.col(right_key).cast("string").alias("k")).agg(
        F.count("*").alias("c_r")
    )
    exact = cl.join(cr, "k").agg(
        F.coalesce(
            F.sum(F.col("c_l") * F.col("c_r")), F.lit(0).cast("long")
        ).alias("exact_size")
    )
    nl = left.agg(F.count("*").alias("n_left"))
    nr = right.agg(F.count("*").alias("n_right"))
    return (
        nl.crossJoin(nr)
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
        .select(
            "n_left",
            "n_right",
            "exact_size",
            "est_size",
            F.when(F.col("exact_size") == 0, F.lit(None).cast("double"))
            .otherwise(siground(F.col("est_size") / F.col("exact_size")))
            .alias("over_ratio"),
        )
    )


def join_size_estimate_sql(
    left_sql: str,
    right_sql: str,
    left_key: str,
    right_key: str,
    depth: int = 4,
    width: int = 2048,
) -> str:
    """DuckDB oracle: same seeded buckets, same inner product, exact
    per-key count join. ``left_sql``/``right_sql`` are subqueries."""
    from dataframeutils_spark.schema import siground_sql

    cells_l = " UNION ALL ".join(
        f"SELECT {i} AS cm_row, {_cm_bucket_sql(f'CAST({left_key} AS VARCHAR)', i, width)} AS bucket FROM l"
        for i in range(depth)
    )
    cells_r = " UNION ALL ".join(
        f"SELECT {i} AS cm_row, {_cm_bucket_sql(f'CAST({right_key} AS VARCHAR)', i, width)} AS bucket FROM r"
        for i in range(depth)
    )
    return f"""
WITH l AS ({left_sql}), r AS ({right_sql}),
skl AS (SELECT cm_row, bucket, count(*) AS cnt_l
        FROM ({cells_l}) GROUP BY cm_row, bucket),
skr AS (SELECT cm_row, bucket, count(*) AS cnt_r
        FROM ({cells_r}) GROUP BY cm_row, bucket),
ip AS (SELECT skl.cm_row, sum(cnt_l * cnt_r) AS ip
       FROM skl JOIN skr USING (cm_row, bucket) GROUP BY skl.cm_row),
est AS (SELECT CAST(min(COALESCE(ip, 0)) AS BIGINT) AS est_size
        FROM (SELECT range AS cm_row FROM range({depth})) rows
        LEFT JOIN ip USING (cm_row)),
exact AS (SELECT CAST(COALESCE(sum(c_l * c_r), 0) AS BIGINT) AS exact_size FROM
  (SELECT CAST({left_key} AS VARCHAR) AS k, count(*) AS c_l FROM l GROUP BY 1) a
  JOIN
  (SELECT CAST({right_key} AS VARCHAR) AS k, count(*) AS c_r FROM r GROUP BY 1) b
  USING (k)),
nl AS (SELECT count(*) AS n_left FROM l),
nr AS (SELECT count(*) AS n_right FROM r)
SELECT n_left, n_right, exact_size, est_size,
       CASE WHEN exact_size = 0 THEN NULL
            ELSE {siground_sql("est_size * 1.0 / exact_size")} END AS over_ratio
FROM nl, nr, exact, est
"""
