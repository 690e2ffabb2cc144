"""Similarity search over an ``array<float>`` embedding column.

North-star operators (no counterpart in the reference — SURVEY §2.3):

* :func:`brute_force_topk` — exact cosine top-k, the correctness
  baseline. Normalize once, join queries × corpus, fold the dot product
  with JVM higher-order functions (``zip_with`` + ``aggregate`` —
  whole-stage codegen, no Python), rank with one window.
* :func:`hyperplane_signatures` / :func:`ann_topk` — the 100 TB path:
  random-hyperplane LSH. Each vector gets a b-bit signature (sign of
  the dot product with b pseudo-random hyperplanes); candidates are
  pairs whose signatures share a band; exact cosine re-ranks only the
  candidates. Hyperplane components are *hash-derived*
  (``u(p,d) = portable_hash60('p:d') / 2^59 - 1``, pseudo-uniform in
  [-1,1)) — no RNG state to ship, bit-identical in Spark and DuckDB, so
  even the ANN path is fully oracle-checkable.

Fold-order contract: :func:`_dot`/:func:`_norm` (Spark) and their
twins :func:`_dot_sql`/:func:`_norm_sql` over :func:`_fold_sql`
(DuckDB) add the double terms left to right from 0.0, so every cosine
in the embedding operators is bit-identical across the two engines.
Spell every dot product, norm and list sum an oracle compares
through them.

Scale notes: brute force is O(|Q|·|corpus|·dim) — right for re-ranking
and small query sets (broadcast the query side: |Q| rows vs 100 TB
corpus means the join must be a BroadcastNestedLoop over the *small*
side only). ANN shuffles (vec_id, band, band-hash) triples — linear —
and re-ranks only bucket collisions. Skew guard: near-duplicate-heavy
corpora make hot buckets; cap re-rank fan-out per bucket upstream
(dedup first — the pipelines compose in that order on purpose).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60, portable_hash60_sql
from dataframeutils_spark.operators.local_solve import spread

TWO59 = float(2**59)


def _hash_uniform(key: Column) -> Column:
    """Pseudo-uniform double in [-1, 1) from a string key,
    ``portable_hash60(key) / 2^59 - 1``: the one source of every
    hash-derived quantizer entry (hyperplanes, IVF centroids, PQ
    codebooks; the key's salt keeps the families independent)."""
    return portable_hash60(key).cast("double") / F.lit(TWO59) - F.lit(1.0)


def _hash_uniform_sql(key: str) -> str:
    """DuckDB twin of :func:`_hash_uniform`, bit-identical."""
    return f"({portable_hash60_sql(key)}::DOUBLE / {TWO59} - 1.0)"


def _embedding_dim(corpus: DataFrame, vec_col: str) -> int:
    """Width of the first vector — a driver-side ``first()`` job, the
    fallback when a caller does not pass ``dim``."""
    first = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    return first["d"] if first is not None else 0


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold of Σ aᵢ·bᵢ in double — same order both engines.

    Measured dead end, recorded so it isn't retried: unrolling this
    fold into a flat 64-term ``0.0 + a₁·b₁ + …`` expression (to escape
    interpreted HOF lambdas) is 2-3× SLOWER at scale — 431 s vs 127 s
    for the 10× IVF stress — because the per-term ``element_at`` chains
    defeat codegen long before the lambda overhead is repaid.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _fold_sql(terms: str) -> str:
    """DuckDB twin of the ``aggregate`` fold: left-to-right double sum
    of the list ``terms`` (``list_sum``/``list_dot_product`` may add in
    a different order)."""
    return f"list_reduce(list_prepend(0.0, {terms}), (a, b) -> a + b)"


def _dot_sql(a: str, b: str, n: int | None = None) -> str:
    """DuckDB twin of :func:`_dot` over positions 1..``n`` (default
    ``len(a)``)."""
    return _fold_sql(
        f"list_transform(range(1, {n or f'len({a})'} + 1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    )


def _norm_sql(v: str) -> str:
    """DuckDB twin of :func:`_norm`."""
    return f"sqrt({_fold_sql(f'list_transform({v}, x -> x::DOUBLE * x::DOUBLE)')})"


def _cos_sql(a: str, b: str) -> str:
    """Cosine of two list expressions; NULL when either norm is zero,
    like Spark's ``try_divide``."""
    return f"{_dot_sql(a, b)} / NULLIF({_norm_sql(a)} * {_norm_sql(b)}, 0)"


def _normed(df: DataFrame, id_col: str, vec_col: str, p: str, *extra: Column) -> DataFrame:
    """One side of an exact top-k pair table: ``{p}id``, ``{p}v``, the
    ``extra`` columns and the norm ``{p}n``. Norms are per-VECTOR
    quantities: computed under the join (once per row on each side),
    never in the pair projection, where the interpreted array fold
    would run once per PAIR (measured ~2× on the sf0.1 recall audit).
    Same doubles, bit-identical cos_sim."""
    return df.select(
        F.col(id_col).alias(f"{p}id"), F.col(vec_col).alias(f"{p}v"), *extra
    ).withColumn(f"{p}n", _norm(F.col(f"{p}v")))


def _exact_topk(pairs: DataFrame, k: int, q_out: str, n_out: str) -> DataFrame:
    """Exact cosine top-k over a pair table (qid, nid, qv, nv, qn, nn):
    vectors ``qv``/``nv`` with their precomputed norms ``qn``/``nn``.
    Ranks by (cos_sim desc, nid); a zero norm scores NULL and ranks
    last. Output (q_out, n_out, rank, cos_sim)."""
    # try_divide: a zero-norm vector would make ANSI mode (Spark 4
    # default) throw on the division; DuckDB yields NULL — match it
    cos = F.try_divide(_dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn"))
    scored = pairs.select("qid", "nid", cos.alias("cos_sim"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(q_out),
            F.col("nid").alias(n_out),
            "rank",
            "cos_sim",
        )
    )


def _exact_topk_sql(
    pairs: str,
    k: int,
    q_out: str = "query_id",
    n_out: str = "neighbor_id",
    ctes: str = "",
) -> str:
    """DuckDB twin of :func:`_exact_topk`. ``pairs`` is the FROM clause
    binding the query vector row ``q`` and the neighbor row ``n``;
    ``ctes`` are the WITH entries it reads."""
    return f"""
WITH {ctes + ", " if ctes else ""}scored AS (
  SELECT q.vec_id AS {q_out}, n.vec_id AS {n_out},
         {_cos_sql("q.embedding", "n.embedding")} AS cos_sim
  {pairs}
)
SELECT {q_out}, {n_out},
       row_number() OVER (PARTITION BY {q_out} ORDER BY cos_sim DESC, {n_out}) AS rank,
       cos_sim
FROM scored
QUALIFY rank <= {k}
"""


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos_sim).

    ``queries`` defaults to the corpus itself (all-pairs self-search,
    excluding the identity match). Ties rank deterministically by
    neighbor id. The query side is marked broadcastable: at scale the
    corpus never shuffles — each executor streams its corpus partition
    past the broadcast queries.

    This is the EXACT baseline, O(|Q|·|corpus|·dim): right for small
    query sets and for oracle-scale self-search; :func:`ann_topk` is the
    production path. ``max_query_rows`` guards the broadcast side (which
    in self-search mode is the whole corpus) — above it the all-pairs
    cost is a scale-killer, so the operator raises instead of silently
    launching an O(n²) job. Pass ``None`` to bypass (you know the size).
    """
    if max_query_rows is not None:
        # bounded probe: the guard job costs O(max_query_rows) instead of
        # a full count of the input at call time
        q_side = queries if queries is not None else corpus
        if q_side.limit(max_query_rows + 1).count() > max_query_rows:
            raise ValueError(
                f"brute_force_topk query side exceeds "
                f"max_query_rows={max_query_rows}; this is the O(n²) "
                "exact baseline — use ann_topk for large corpora, or pass "
                "max_query_rows=None to force."
            )
    c = _normed(corpus, id_col, vec_col, "n")
    q = _normed(queries if queries is not None else corpus, id_col, vec_col, "q")
    joined = c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
    return _exact_topk(joined, k, "query_id", "neighbor_id")


def brute_force_topk_sql(
    k: int = 5,
    table: str = "embeddings",
    q_pred: str = "TRUE",
    q_rel: str | None = None,
) -> str:
    """DuckDB oracle: the same sequential-fold cosine
    (:func:`_exact_topk_sql`). ``q_pred`` filters the QUERY side (alias
    ``q``) — the oracle twin of :func:`recall_audit`'s sampled-query
    ground truth."""
    return _exact_topk_sql(
        f"FROM {q_rel or table} q JOIN {table} n ON q.vec_id <> n.vec_id\n  WHERE {q_pred}",
        k,
    )


def hard_negatives(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchor_rows: int | None = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-similar vectors with a DIFFERENT label —
    (anchor_id, negative_id, rank, cos_sim).

    The negatives that matter for embedding training are the ones the
    model currently confuses (high cosine, wrong class); random
    negatives are trivially separable. This is the exact baseline —
    brute force with the label-inequality predicate pushed into the
    join, so same-label pairs never reach scoring. At corpus scale,
    use :func:`hard_negatives_ann` (LSH candidates, oversampled, then
    label-filtered and re-ranked) or route through the IVF index and
    filter inside the probed lists — both reuse this output contract;
    ``tests/test_northstar.py`` pins the ANN tier's recall against
    this baseline.

    Same scale shape as :func:`brute_force_topk`: anchors broadcast,
    corpus never shuffles, ``max_anchor_rows`` guards the O(n²) scan.
    """
    if max_anchor_rows is not None:
        if corpus.limit(max_anchor_rows + 1).count() > max_anchor_rows:
            raise ValueError(
                f"hard_negatives anchor side exceeds max_anchor_rows="
                f"{max_anchor_rows}; mine candidates with ann_topk/IVF "
                "and re-rank, or pass max_anchor_rows=None to force."
            )
    c = _normed(corpus, id_col, vec_col, "n", F.col(label_col).alias("nlabel"))
    q = _normed(corpus, id_col, vec_col, "q", F.col(label_col).alias("qlabel"))
    joined = c.join(F.broadcast(q), F.col("qlabel") != F.col("nlabel"))
    return _exact_topk(joined, k, "anchor_id", "negative_id")


def hard_negatives_ann(
    corpus: DataFrame,
    k: int = 5,
    oversample: int = 4,
    bits: int = 32,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """The 100 TB tier of :func:`hard_negatives`: LSH candidates
    (``k·oversample`` per anchor — same-label neighbors crowd the top
    of any bucket, so oversampling keeps enough cross-label survivors),
    then label-filter and re-rank to k. Same output contract as the
    exact baseline; recall against it is pinned in pytest.

    Scale shape: everything upstream is :func:`ann_topk`'s linear
    signature pipeline; the label attachment is two equi-joins that
    shuffle only the candidate triples (≤ N·k·oversample rows of ids
    and one double — never the vectors or payloads)."""
    cand = ann_topk(
        corpus, k=k * oversample, bits=bits, bands=bands,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    labels = corpus.select(F.col(id_col), F.col(label_col))
    a_lab = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("_albl")
    )
    n_lab = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nlbl")
    )
    filtered = (
        cand.join(a_lab, "query_id")
        .join(n_lab, "neighbor_id")
        .filter(F.col("_albl") != F.col("_nlbl"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        filtered.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("neighbor_id").alias("negative_id"),
            F.col("_r").alias("rank"),
            "cos_sim",
        )
    )


def hard_negatives_sql(k: int = 5, table: str = "embeddings") -> str:
    """DuckDB oracle: identical sequential-fold scoring, label
    inequality in the join predicate."""
    return _exact_topk_sql(
        f"FROM {table} q JOIN {table} n ON q.label <> n.label",
        k,
        "anchor_id",
        "negative_id",
    )


def hyperplane_signatures(
    corpus: DataFrame,
    bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """b-bit sign signature per vector: (vec_id, plane, bit).

    Long layout (one row per plane) — banding and band-hashing are then
    one groupBy, exactly like the MinHash pipeline in
    :mod:`dataframeutils_spark.operators.dedup`.

    ``dim`` is the embedding width (fixed by contract). Pass it to skip
    the fallback ``first()`` probe — a driver-side action that launches
    an extra Spark job per call. If passed, it MUST equal the true
    width: a shorter ``dim`` would zip mismatched lengths and
    NULL-poison the projection.
    """
    spark = corpus.sparkSession
    # The hyperplane entries depend only on (plane, dim) — a constant
    # bits×dim matrix. Build it ONCE (bits rows) and broadcast-cross-
    # join, instead of re-deriving every md5 component per corpus row:
    # higher-order-function lambdas evaluate interpreted, so the inline
    # version cost N×bits×dim hash evaluations (measured 76 s → ~5 s at
    # sf0.1 for 2000 vecs × 64 dims × 16 planes).
    if dim is None:
        dim = _embedding_dim(corpus, vec_col)
    mat = spark.range(bits).select(
        F.col("id").cast("int").alias("plane"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: _hash_uniform(
                F.concat(F.col("plane").cast("string"), F.lit(":"), d.cast("string"))
            ),
        ).alias("u"),
    )
    exploded = (
        spread(corpus, F.col(id_col))
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(mat))
    )
    return exploded.select(
        "vec_id", "plane", (_dot(F.col("v"), F.col("u")) > 0).cast("int").alias("bit")
    )


# Hot-bucket occupancy cap applied by DEFAULT in every LSH probe path
# (engine AND oracle — keep the two aligned): at most this many
# hash-ordered index entries survive per (band, bucket), so candidate
# count per query is bounded by bands x (1+r) x cap at ANY corpus size
# — the only 100x-safe shape on skewed or near-duplicate-heavy corpora,
# where one hot signature can hold a constant fraction of the corpus
# and make the bucket self-join quadratic. Uncapped exact-bucket
# semantics are OPT-IN via bucket_cap=None (kept by the registered
# similarity_ann_multiprobe query as the uncapped reference variant).
# Recall floor under the cap is pinned in tests/test_northstar.py.
DEFAULT_BUCKET_CAP = 64


def ann_topk(
    corpus: DataFrame,
    k: int = 5,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """LSH-bucketed approximate top-k: (query_id, neighbor_id, rank, cos_sim).

    This is the PRODUCTION similarity path at scale (linear signature
    pipeline; :func:`brute_force_topk` is the guarded exact baseline).
    Signature → band-hash → bucket self-join → exact cosine on
    candidates only → per-query rank. With r = bits/bands rows per
    band, a pair at angle θ collides on ≥1 band with probability
    1 − (1 − (1 − θ/π)^r)^bands. ``dim`` as in
    :func:`hyperplane_signatures` (skip the probe job). ``bucket_cap``
    as in :func:`ann_topk_multiprobe` — the hot-bucket occupancy bound,
    ON by default (``DEFAULT_BUCKET_CAP``); ``None`` opts in to exact
    bucket semantics.
    """
    sigs = hyperplane_signatures(corpus, bits, id_col, vec_col, dim=dim)
    return _bucketed_topk_from_sigs(
        sigs, corpus, k, bits, bands, id_col, vec_col, bucket_cap=bucket_cap,
    )


def ann_topk_multiprobe(
    corpus: DataFrame,
    k: int = 5,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    probe_limit: int | None = None,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07 idea on sign LSH):
    each query probes its own band bucket PLUS the r = bits/bands
    buckets at Hamming distance 1 (one bit flipped), so a near neighbor
    that lands one sign flip away is still found. Recall rises roughly
    like adding r extra bands WITHOUT recomputing signatures or storing
    a larger index — the standard way to buy recall at query time on a
    fixed index. Candidates stay bucket-occupancy-bounded: the index
    side of the equi-join is unchanged; only the probe side carries
    (1+r) rows per (vec, band). Fully hash-derived and deterministic →
    exact DuckDB oracle (:func:`ann_topk_multiprobe_sql`).

    ``bucket_cap`` is the 100×-scale knob: at most ``bucket_cap`` INDEX
    entries survive per (band, bucket) — a deterministic hash-ordered
    sample — so a hot bucket (skewed or near-duplicate-heavy corpora
    put a large corpus fraction in one signature) can never make probe
    cost quadratic: candidates per query are bounded by
    bands × (1+r) × bucket_cap regardless of corpus size. Capping
    trades a bounded, reproducible recall loss (pinned ≥ 0.9 on
    clustered data in tests/test_northstar.py) for a hard join-output
    bound. Capping is the DEFAULT (``DEFAULT_BUCKET_CAP``) — the only
    100×-safe shape on skewed corpora; pass ``bucket_cap=None`` to opt
    in to exact bucket semantics.

    ``probe_limit`` bounds the PROBE fan-out (the other half of the
    cost — ``bucket_cap`` bounds candidates per probe, but the probe
    side of the equi-join is still (1+r)× the query count by
    construction). With a limit q < r, each query keeps its own
    bucket plus only the q LOWEST-OCCUPANCY non-empty Hamming-1
    buckets — ranked against a broadcast occupancy map of the (capped)
    index, which is bounded by geometry at bands × 2^r rows at ANY
    corpus size. Probes into empty buckets are pruned outright (they
    can contribute no candidate), and hot-bucket probes — the
    expensive ones — are deprioritized. The selection is a
    deterministic (occupancy, bucket) order, identical in both
    engines, so the limited path stays exactly oracle-checkable
    (:func:`ann_topk_sql` mirrors it). ``None`` keeps the full
    (1+r)× probe set."""
    sigs = hyperplane_signatures(corpus, bits, id_col, vec_col, dim=dim)
    return _bucketed_topk_from_sigs(
        sigs, corpus, k, bits, bands, id_col, vec_col,
        multiprobe=True, bucket_cap=bucket_cap, probe_limit=probe_limit,
    )


def _bucketed_topk_from_sigs(
    sigs: DataFrame,
    corpus: DataFrame,
    k: int,
    bits: int,
    bands: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool = False,
    bucket_cap: int | None = None,
    probe_limit: int | None = None,
) -> DataFrame:
    rows_per_band = bits // bands
    band_hash = (
        sigs.withColumn("band", (F.col("plane") / rows_per_band).cast("int"))
        .groupBy("vec_id", "band")
        .agg(
            F.sum(
                F.col("bit")
                * F.pow(F.lit(2.0), (F.col("plane") % rows_per_band).cast("double")).cast("long")
            ).alias("bh")
        )
    )
    # self-join on the small signature table (see dedup: collect-and-
    # explode copies O(|bucket|²) array bytes on hot buckets; the hash
    # join streams and ReuseExchange dedupes the upstream pipeline)
    b = band_hash.select(F.col("vec_id").alias("nid"), "band", "bh")
    if bucket_cap is not None:
        # occupancy cap: keep a deterministic hash-ordered sample of at
        # most bucket_cap index entries per (band, bucket). The window
        # partitions on the join keys, so its exchange is the same
        # hash partitioning the equi-join needs — no extra shuffle
        # shape, just the one row_number pass on the index side.
        order = portable_hash60(
            F.concat(F.lit("cap:"), F.col("nid").cast("string"))
        )
        w_cap = Window.partitionBy("band", "bh").orderBy(order, "nid")
        b = (
            b.withColumn("_rn", F.row_number().over(w_cap))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    if multiprobe:
        # query side also probes every bucket at Hamming distance 1 from
        # its own signature (flip each of the r bits): 1 + r probe rows
        # per (vec, band). The index side stays unchanged, so the join
        # is the same 8-byte-key equi-join with a (1+r)x probe side —
        # candidates remain bucket-occupancy-bounded.
        if probe_limit is not None:
            # probe fan-out bound: rank each query's r Hamming-1 probes
            # by the occupancy of the (capped) index bucket they would
            # hit — a broadcast map bounded by GEOMETRY at
            # bands × 2^r rows regardless of corpus size — and keep
            # only the probe_limit lowest-occupancy NON-EMPTY buckets
            # (inner join prunes empty-bucket probes for free: they
            # can contribute no candidate). Hot buckets, the probes
            # whose join output actually costs, lose first. (occ, bh)
            # order is deterministic in both engines → exact oracle.
            occ = b.groupBy("band", "bh").agg(F.count("*").alias("occ"))
            flips = band_hash.select(
                F.col("vec_id").alias("qid"),
                "band",
                F.explode(
                    F.array(
                        *[
                            F.col("bh").bitwiseXOR(F.lit(1 << j))
                            for j in range(rows_per_band)
                        ]
                    )
                ).alias("bh"),
            )
            w_probe = Window.partitionBy("qid", "band").orderBy("occ", "bh")
            sel = (
                flips.join(F.broadcast(occ), ["band", "bh"])
                .withColumn("_pn", F.row_number().over(w_probe))
                .filter(F.col("_pn") <= probe_limit)
                .select("qid", "band", "bh")
            )
            a = band_hash.select(
                F.col("vec_id").alias("qid"), "band", "bh"
            ).unionByName(sel)
        else:
            probe_bh = F.explode(
                F.array(
                    F.col("bh"),
                    *[
                        F.col("bh").bitwiseXOR(F.lit(1 << j))
                        for j in range(rows_per_band)
                    ],
                )
            )
            a = band_hash.select(
                F.col("vec_id").alias("qid"), "band", probe_bh.alias("bh")
            )
    else:
        a = band_hash.select(F.col("vec_id").alias("qid"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    return _rerank_topk(cand, corpus, k, id_col, vec_col)


def _rerank_topk(
    cand: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of a (qid, nid) candidate table → top-k.

    Norms are per VECTOR (:func:`_normed`); the candidate set is
    orders of magnitude larger than the corpus. The LSH re-rank: band
    collisions are a (qid, nid) table with no one list per neighbor.

    Scoring is the JVM fold (oracle-exact). At scale every vector
    crosses the join once per candidate PAIR (134 s on 13.4M candidates
    at the 10× stress), which is why IVF, where every neighbor sits in
    exactly one list, re-ranks per list instead
    (:func:`_ivf_rerank_grouped`, 25 s).
    """
    pairs = cand.join(_normed(corpus, id_col, vec_col, "q"), "qid").join(
        _normed(corpus, id_col, vec_col, "n"), "nid"
    )
    return _exact_topk(pairs, k, "query_id", "neighbor_id")


# re-rank source of the candidate-table oracles: (qid, nid) -> vectors
_CAND_PAIRS_SQL = (
    "FROM cand c JOIN {table} q ON q.vec_id = c.qid JOIN {table} n ON n.vec_id = c.nid"
)


def ann_topk_sql(
    k: int = 5,
    bits: int = 16,
    bands: int = 4,
    table: str = "embeddings",
    dim: int = 64,
    multiprobe: bool = False,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    probe_limit: int | None = None,
) -> str:
    """DuckDB oracle for :func:`ann_topk` — same hash-derived
    hyperplanes, bands and re-rank, in plain SQL.

    ``dim`` bounds the projection's dimension range and must be the
    SAME value the Spark call site uses (share one constant), else the
    two engines project onto different subspaces and silently diverge.
    ``multiprobe`` mirrors :func:`ann_topk_multiprobe`: the probe side
    adds the r Hamming-distance-1 buckets per (vec, band).
    ``bucket_cap`` mirrors the occupancy cap: same hash-ordered
    row_number sample of the index side, so the capped scale path is
    exactly oracle-checkable too. ``probe_limit`` mirrors the probe
    fan-out bound: each query keeps its own bucket plus only the
    probe_limit lowest-occupancy NON-EMPTY Hamming-1 buckets, ranked
    by the same (occupancy, bucket) order as the engine.
    """
    rows_per_band = bits // bands
    if bucket_cap is not None:
        caph = portable_hash60_sql("('cap:' || vec_id::VARCHAR)")
        idx_cte = f""", idx AS (
  SELECT vec_id, band, bh FROM bh
  QUALIFY row_number() OVER (PARTITION BY band, bh
                             ORDER BY {caph}, vec_id) <= {bucket_cap}
)"""
        idx_src = "idx"
    else:
        idx_cte = ""
        idx_src = "bh"
    if multiprobe and probe_limit is not None:
        probe_cte = f""", occ AS (
  SELECT band, bh, count(*) AS occ FROM {idx_src} GROUP BY band, bh
), flips AS (
  SELECT vec_id, band, xor(bh, CAST(pow(2.0, f.f) AS BIGINT)) AS bh
  FROM bh, range(0, {rows_per_band}) f(f)
), sel AS (
  SELECT fl.vec_id, fl.band, fl.bh
  FROM flips fl JOIN occ o ON fl.band = o.band AND fl.bh = o.bh
  QUALIFY row_number() OVER (PARTITION BY fl.vec_id, fl.band
                             ORDER BY o.occ, fl.bh) <= {probe_limit}
), probe AS (
  SELECT vec_id, band, bh FROM bh
  UNION ALL
  SELECT vec_id, band, bh FROM sel
)"""
        probe_src = "probe"
    elif multiprobe:
        probe_cte = f""", probe AS (
  SELECT vec_id, band, bh FROM bh
  UNION ALL
  SELECT vec_id, band, xor(bh, CAST(pow(2.0, f.f) AS BIGINT)) AS bh
  FROM bh, range(0, {rows_per_band}) f(f)
)"""
        probe_src = "probe"
    else:
        probe_cte = ""
        probe_src = "bh"
    u = _hash_uniform_sql("(plane::VARCHAR || ':' || (d - 1)::VARCHAR)")
    ctes = f"""proj AS (
  SELECT e.vec_id, p.plane,
         sum(e.embedding[d.d]::DOUBLE * {u}) AS s
  FROM {table} e,
       range(0, {bits}) p(plane),
       range(1, {dim} + 1) d(d)
  WHERE d.d <= len(e.embedding)
  GROUP BY e.vec_id, p.plane
), sig AS (
  SELECT vec_id, plane, CAST(s > 0 AS INT) AS bit FROM proj
), bh AS (
  -- // : DuckDB CAST(x/4 AS INT) *rounds*; Spark's cast truncates
  SELECT vec_id, plane // {rows_per_band} AS band,
         sum(bit * CAST(pow(2.0, plane % {rows_per_band}) AS BIGINT)) AS bh
  FROM sig GROUP BY vec_id, band
){idx_cte}{probe_cte}, cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM {probe_src} a JOIN {idx_src} b ON a.band = b.band AND a.bh = b.bh AND a.vec_id <> b.vec_id
)"""
    return _exact_topk_sql(_CAND_PAIRS_SQL.format(table=table), k, ctes=ctes)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer bucketing
# ---------------------------------------------------------------------------


def ivf_centroids(spark, n_centroids: int, dim: int) -> DataFrame:
    """Hash-derived coarse-quantizer table: (centroid, u, nrm).

    Random directions are a *correctness baseline* quantizer (uniform
    bucket occupancy, oracle-checkable; entries from
    :func:`_hash_uniform` under the 'ivf:' salt); for data-adaptive
    buckets use :func:`train_centroids_kmeans` — both feed
    :func:`ivf_topk`.
    """
    return spark.range(n_centroids).select(
        F.col("id").cast("int").alias("centroid"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: _hash_uniform(
                F.concat(
                    F.lit("ivf:"), F.col("centroid").cast("string"), F.lit(":"),
                    d.cast("string"),
                )
            ),
        ).alias("u"),
    ).select("centroid", "u", _norm(F.col("u")).alias("nrm"))


def _hash_quantizer(
    corpus: DataFrame, n_centroids: int | None, dim: int | None, vec_col: str
) -> DataFrame:
    """The default IVF quantizer: :func:`ivf_centroids` with C
    auto-sized by :func:`auto_centroid_count` from a corpus count when
    ``n_centroids`` is None, and ``dim`` probed when None."""
    if n_centroids is None:
        n_centroids = auto_centroid_count(corpus.count())
    if dim is None:
        dim = _embedding_dim(corpus, vec_col)
    return ivf_centroids(corpus.sparkSession, n_centroids, dim)


def _centroids_sql(table: str, dim: int, n_centroids: int | None) -> str:
    """DuckDB twin of :func:`_hash_quantizer` as the ``cent``/``cn``
    CTEs (centroid, u, nrm). ``n_centroids=None`` sizes C to
    greatest(4, ceil(sqrt(count(*)))) over ``table`` — integer-exact
    like :func:`auto_centroid_count`."""
    if n_centroids is None:
        c_bound = (
            f"(SELECT CAST(greatest(4, ceil(sqrt(count(*)))) AS BIGINT) - 1 FROM {table})"
        )
        cent_src = f"(SELECT unnest(generate_series(0, {c_bound})) AS c) c"
    else:
        cent_src = f"range(0, {n_centroids}) c(c)"
    u = _hash_uniform_sql("('ivf:' || c.c::VARCHAR || ':' || (d - 1)::VARCHAR)")
    return f"""cent AS (
  SELECT c.c AS centroid,
         list_transform(range(1, {dim} + 1), d -> {u}) AS u
  FROM {cent_src}
), cn AS (
  SELECT centroid, u, {_norm_sql('u')} AS nrm FROM cent
)"""


def train_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """PRODUCTION quantizer: k-means centroids via Spark MLlib (same
    (centroid, u, nrm) shape as :func:`ivf_centroids`). Data-adaptive
    buckets have far better occupancy balance than random directions on
    clustered corpora; training cost is a few passes over a sample.
    No DuckDB equivalent → queries built on it are rows-only.
    ``n_centroids=None`` auto-sizes as in :func:`ivf_topk`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_centroids is None:
        n_centroids = auto_centroid_count(corpus.count())
    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    spark = corpus.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "centroid int, u array<double>").select(
        "centroid", "u", _norm(F.col("u")).alias("nrm")
    )


def auto_centroid_count(n_rows: int) -> int:
    """C = max(4, ⌈√N⌉) — the classic IVF sizing: with C ∝ √N both the
    assignment cost (N·C) and the probe cost (n_probe·N²/C) grow as
    N^1.5, instead of the N² a FIXED C degenerates to (measured 352 s
    at a 10× stress vs 28 s after auto-sizing). Exact integer sqrt/ceil
    — DuckDB's ceil(sqrt(N)) computes the identical value, keeping the
    auto-sized query oracle-checkable."""
    return max(4, math.ceil(math.sqrt(n_rows)))


def _vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))


def _rank_lists(pairs: DataFrame, n_probe: int) -> DataFrame:
    """Oracle-exact coarse assignment: fold-score (vec_id, v) ×
    (centroid, u, nrm) ``pairs`` as dot / |u| (|v| is constant per
    vector, so the argmax does not need it) and rank with one window.
    Returns the ranked lists (vec_id, centroid, r) for r ≤ ``n_probe``:
    r = 1 is the vector's own inverted list, every row is a list it
    probes. Ties break on the smaller centroid id.
    :func:`_ivf_lists_sql` is the DuckDB twin."""
    scored = pairs.select(
        "vec_id",
        "centroid",
        # try_divide: a collapsed kmeans centroid can be the zero
        # vector (nrm=0) — ANSI mode (Spark 4 default) would throw on
        # plain /; NULL scores rank last (desc → nulls last)
        F.try_divide(_dot(F.col("v"), F.col("u")), F.col("nrm")).alias("score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("centroid"))
    return scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= n_probe)


def _ivf_lists_sql(table: str, dim: int, n_centroids: int | None) -> str:
    """DuckDB twin of :func:`_rank_lists` over the hash quantizer: the
    :func:`_centroids_sql` CTEs, then ``sc`` (vec_id, centroid, score)
    and ``ranked`` (vec_id, centroid, r)."""
    return f"""{_centroids_sql(table, dim, n_centroids)}, sc AS (
  SELECT e.vec_id, c.centroid, {_dot_sql('e.embedding', 'c.u', dim)} / NULLIF(c.nrm, 0) AS score
  FROM {table} e, cn c
), ranked AS (
  SELECT vec_id, centroid,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid) AS r
  FROM sc
)"""


def _centroid_matrix(centroids: DataFrame):
    """A (centroid, u, nrm) table — C rows, small by construction — as
    numpy arrays (ids, u, nrm) in ascending centroid order."""
    import numpy as np

    rows = sorted(centroids.select("centroid", "u", "nrm").collect(), key=lambda r: r["centroid"])
    return (
        np.array([r["centroid"] for r in rows], dtype=np.int64),
        np.array([r["u"] for r in rows], dtype=np.float64),
        np.array([r["nrm"] for r in rows], dtype=np.float64),
    )


def _cosine_scores(u, nrm):
    """B×C argmax scores v·u / |u| of a numpy batch against the rows of
    ``u``; a zero-norm row scores −inf (the fold path's NULL)."""
    import numpy as np

    return lambda v: np.where(nrm > 0, (v @ u.T) / nrm, -np.inf)


def _rank_lists_arrow(
    corpus: DataFrame, id_col: str, vec_col: str, cids, score, n_probe: int
) -> DataFrame:
    """Arrow twin of :func:`_rank_lists` for a collected quantizer: one
    pass per Arrow batch, no crossJoin, no window, no shuffle.
    ``score(v)`` maps a B×dim batch to B×C scores whose columns follow
    the ascending centroid ids ``cids``; −inf marks a centroid the row
    cannot see.

    The fold path materializes N×C skinny rows and shuffles them all
    through the argmax window — at N = 2.5M, C = 1600 that is 4×10⁹
    rows and the measured wall at the 100× stress. Here the centroid
    matrix (C × dim — metadata-sized by the √N rule; 100 TB ⇒ ~150 MB,
    still driver-feasible) is closed over and each batch does one
    matmul and a stable partial sort, so equal scores resolve to the
    smaller centroid id, as in the window.
    """
    import numpy as np

    nb = min(max(n_probe, 1), len(cids))
    id_type = corpus.schema[id_col].dataType.simpleString()

    def rank_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = score(v)
            idx = np.argsort(-s, axis=1, kind="stable")[:, :nb]
            b = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf[id_col].to_numpy(), nb),
                    "centroid": cids[idx].reshape(b * nb).astype(np.int32),
                    "r": np.tile(np.arange(1, nb + 1), b),
                }
            )

    par = corpus.sparkSession.sparkContext.defaultParallelism
    src = corpus.select(F.col(id_col), F.col(vec_col))
    if src.rdd.getNumPartitions() < par:
        # pin Arrow-stage parallelism: AQE sizes partitions for JVM
        # stages and starves Python ones (see the minhash note)
        src = spread(src)
    return src.mapInPandas(rank_batches, f"vec_id {id_type}, centroid int, r int")


def ivf_topk(
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: (query_id, neighbor_id, rank, cos_sim).

    The second scale path next to LSH (:func:`ann_topk`): every vector
    is assigned to its nearest coarse centroid (one inverted list per
    centroid); a query probes its ``n_probe`` nearest lists and exact
    cosine re-ranks only their members. Ties in both argmax and ranking
    break on the smaller id — deterministic in both engines.

    ``centroids=None`` (the default) is the hash-derived quantizer
    (:func:`ivf_centroids`) with the oracle-exact fold+window
    assignment (:func:`_rank_lists`; N × C folds, shuffle keyed on the
    vector id), twinned by :func:`ivf_topk_sql`. ``n_centroids=None``
    auto-sizes C to :func:`auto_centroid_count` from a corpus count —
    a metadata-cheap job on parquet. A fixed C is a scale trap: bucket
    occupancy N/C grows linearly, so re-rank work grows quadratically.

    A passed ``centroids`` table (:func:`train_centroids_kmeans` — the
    production quantizer, rows-only by construction) is collected and
    assigned with one numpy matmul per Arrow batch
    (:func:`_rank_lists_arrow`), same argmax and tie-break, no N×C
    shuffle. At extreme N (C beyond ~10⁵) the flat assignment itself
    becomes the bottleneck; :func:`ivf_topk_hier` is the two-level
    quantizer for that regime.

    Re-rank is always :func:`_ivf_rerank_grouped`: one numpy matmul
    per inverted list, so the candidate pair table is never built
    (measured 0.6 s assignment vs 134 s pairwise fold re-rank at the
    10× stress, where hot lists blow up the candidate count).
    """
    if centroids is None:
        lists = _rank_lists(
            _vectors(corpus, id_col, vec_col).crossJoin(
                F.broadcast(_hash_quantizer(corpus, n_centroids, dim, vec_col))
            ),
            n_probe,
        )
    else:
        cids, u, nrm = _centroid_matrix(centroids)
        lists = _rank_lists_arrow(corpus, id_col, vec_col, cids, _cosine_scores(u, nrm), n_probe)
    return _ivf_rerank_grouped(lists, corpus, k, id_col, vec_col)


def _lloyd_numpy(x, k: int, seed: int = 42, iters: int = 20):
    """Plain Lloyd k-means on a SMALL matrix (the fine-centroid table —
    C = ⌈√N⌉ rows by construction, driver-side numpy is the right
    tool). Returns (reps[k, dim], assignment[len(x)]). Empty clusters
    keep their previous rep — harmless for a coarse router."""
    import numpy as np

    rng = np.random.RandomState(seed)
    reps = x[rng.choice(len(x), size=k, replace=False)].copy()
    assign = np.zeros(len(x), dtype=np.int64)
    for _ in range(iters):
        d2 = ((x[:, None, :] - reps[None, :, :]) ** 2).sum(axis=2)
        new_assign = d2.argmin(axis=1)
        if (new_assign == assign).all():
            break
        assign = new_assign
        for j in range(k):
            members = x[assign == j]
            if len(members):
                reps[j] = members.mean(axis=0)
    return reps, assign


def ivf_topk_hier(
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    n_coarse: int | None = None,
    coarse_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    centroids: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """Two-level (hierarchical) IVF — the published answer to the flat
    assignment wall (cf. the inverted multi-index family): at extreme N
    the flat ivf_topk scores N×C centroid folds AND shuffles N×C skinny
    rows through the argmax window; with C = √N that whole stage is
    N^1.5. Here the C fine centroids are themselves clustered into
    C1 = ⌈√C⌉ coarse groups (driver-side Lloyd on a C-row matrix — tiny
    by construction), and assignment becomes two bounded stages:

    * stage A: N × C1 scores, argmax window over N×C1 skinny rows →
      each vector's ``coarse_probe`` nearest coarse groups;
    * stage B: broadcast-join only the fine centroids of those groups —
      N × (coarse_probe·C/C1) scores map-side, window over the same
      skinny row count → fine assignment + ``n_probe`` probe lists.

    Total per-vector work: C1 + coarse_probe·C/C1 ≈ √C·(1+coarse_probe)
    instead of C — at N = 2.5M (C ≈ 1600, C1 = 40) that is ~8× fewer
    folds and ~8× fewer shuffled rows. Assignment is approximate (a
    fine centroid outside the probed coarse groups is unseen — standard
    two-level IVF semantics), so this is the production/scale variant
    with a rows-only driver check; recall vs the flat assignment is
    pinned in pytest. Re-rank is :func:`_ivf_rerank_grouped`.

    The quantizer picks the assignment as in :func:`ivf_topk`: the
    default hash quantizer runs the two fold+window stages above; a
    passed ``centroids`` table runs both stages in one Arrow pass per
    batch (:func:`_rank_lists_arrow`), with the same probed-group
    visibility and tie-breaks.

    At 100 TB the driver-side Lloyd stays honest: C = √N = 3×10⁵ rows
    × dim doubles ≈ 150 MB — still a driver-feasible matrix; beyond
    that, train the coarse level with MLlib k-means instead.
    """
    import numpy as np

    spark = corpus.sparkSession
    hashed = centroids is None
    if hashed:
        centroids = _hash_quantizer(corpus, n_centroids, dim, vec_col)
    cids, x, nrm = _centroid_matrix(centroids)
    if n_coarse is None:
        n_coarse = max(2, math.ceil(math.sqrt(len(x))))
    n_coarse = min(n_coarse, len(x))
    reps, fine_to_coarse = _lloyd_numpy(x, n_coarse, seed=seed)

    if not hashed:
        # coarse scores via a B×C1 matmul pick each row's coarse_probe
        # groups, then fine scores via a B×C matmul MASKED to the
        # probed groups (exact two-level semantics — unprobed fine
        # centroids are invisible). The "wasted" flops on masked
        # columns are deliberate: dgemm at B×C×dim is orders cheaper
        # than avoiding them row-wise, and the hierarchy's real win
        # (C1+probe·C/C1 work) only matters at extreme C, where this
        # kernel should chunk columns instead.
        coarse_scores = _cosine_scores(reps, np.sqrt(np.einsum("ij,ij->i", reps, reps)))
        fine_scores = _cosine_scores(x, nrm)
        cp = min(coarse_probe, len(reps))

        def score(v):
            # top coarse_probe groups per row (stable → smaller group
            # id on ties, matching the window contract)
            gsel = np.argsort(-coarse_scores(v), axis=1, kind="stable")[:, :cp]
            fs = fine_scores(v)
            mask = np.zeros_like(fs, dtype=bool)
            for j in range(cp):
                mask |= fine_to_coarse[None, :] == gsel[:, j][:, None]
            return np.where(mask, fs, -np.inf)

        lists = _rank_lists_arrow(corpus, id_col, vec_col, cids, score, n_probe)
        return _ivf_rerank_grouped(lists, corpus, k, id_col, vec_col)

    coarse = spark.createDataFrame(
        [(j, [float(v) for v in reps[j]]) for j in range(n_coarse)],
        "coarse int, cu array<double>",
    ).select("coarse", "cu", _norm(F.col("cu")).alias("cnrm"))
    routing = spark.createDataFrame(
        [(int(c), int(g)) for c, g in zip(cids, fine_to_coarse)],
        "centroid int, coarse int",
    )
    fine = centroids.join(F.broadcast(routing), "centroid")
    vecs = _vectors(corpus, id_col, vec_col)
    # stage A: skinny rows only through the window shuffle — the vector
    # itself is re-joined afterwards rather than dragged through N×C1
    # shuffled copies
    cscored = (
        vecs.crossJoin(F.broadcast(coarse))
        .select(
            "vec_id",
            "coarse",
            F.try_divide(_dot(F.col("v"), F.col("cu")), F.col("cnrm")).alias("cscore"),
        )
    )
    w_a = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), F.col("coarse"))
    probed_groups = (
        cscored.withColumn("cr", F.row_number().over(w_a))
        .filter(F.col("cr") <= coarse_probe)
        .select("vec_id", "coarse")
    )
    # stage B: fine candidates arrive via broadcast (no shuffle); scores
    # are computed map-side and only skinny (vec_id, centroid, score)
    # rows reach the argmax window
    lists = _rank_lists(
        probed_groups.join(vecs, "vec_id").join(F.broadcast(fine), "coarse"), n_probe
    )
    return _ivf_rerank_grouped(lists, corpus, k, id_col, vec_col)


def _ivf_rerank_grouped(
    lists: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF re-rank: group the ranked ``lists`` (vec_id, centroid, r)
    by inverted list and score each bucket with ONE numpy matmul. Every
    row of a list is a query probing it; the rows with r = 1 are its
    members. One grouping of one ranked table, so the coarse ranking is
    planned once and each vector ships once per probed list.

    The per-pair formulations (JVM fold or per-pair pandas UDF) ship
    every vector once per CANDIDATE PAIR — O(occupancy²) bytes per
    bucket across the JVM↔Arrow boundary; at the 10× stress that is
    13.4M pairs ≈ 14 GB and dominates wall time (measured 134 s fold /
    86 s per-pair-arrow). Grouping per list ships O(occupancy), then
    computes the bucket's full cosine matrix in C and emits only each
    query's per-bucket top-k (global top-k ⊆ union of per-bucket top-ks
    since every candidate lives in exactly one list). Measured 25 s
    end-to-end on the same stress — 5-6× over the fold. BLAS
    accumulation order differs from the sequential fold only in the
    last ulp of cos_sim, so the (query, neighbor, rank) output equals
    the DuckDB oracle's and the rounded cos_sim does too:
    ``similarity_ivf`` and ``similarity_recall`` are exact-gated
    through this re-rank.
    """
    # the output schema must carry the CALLER's id type — a hardcoded
    # `long` would cast-garble string/decimal ids
    id_dt = corpus.schema[id_col].dataType.simpleString()
    members = lists.join(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")), "vec_id"
    )

    # cap the per-matmul score matrix at ~32M doubles (256 MB): a HOT
    # inverted list (adversarially clustered data under a non-adaptive
    # quantizer) can hold 100k+ members AND be probed by as many
    # queries — the unchunked Q×N matrix then needs tens of GB in one
    # Python worker, which crashes it (observed at the 100× stress
    # with hash-derived centroids). Chunking the query side bounds
    # memory at CHUNK_CELLS regardless of occupancy; the hot bucket is
    # then merely slow, which is the quantizer's problem to solve
    # (kmeans-trained centroids keep lists balanced), not a crash.
    CHUNK_CELLS = 32_000_000

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # sort members by id so a stable argsort on -score breaks
        # cosine ties toward the smaller neighbor id (the fold path's
        # ORDER BY cos DESC, nid contract)
        npdf = pdf[pdf["r"] == 1].sort_values("vec_id")
        if len(npdf) == 0:
            return pd.DataFrame({"qid": [], "nid": [], "cos_sim": []})
        n = np.stack(npdf["v"].to_numpy()).astype(np.float64, copy=False)
        nn = np.sqrt(np.einsum("ij,ij->i", n, n))
        with np.errstate(divide="ignore", invalid="ignore"):
            n_unit = (n / np.where(nn > 0, nn, np.nan)[:, None]).T
        nids = npdf["vec_id"].to_numpy()
        take = min(k + 1, len(nids))  # +1: the self-match may rank first
        chunk = max(1, CHUNK_CELLS // max(len(nids), 1))
        out_q, out_n, out_c = [], [], []
        for lo in range(0, len(pdf), chunk):
            qc = pdf.iloc[lo : lo + chunk]
            q = np.stack(qc["v"].to_numpy()).astype(np.float64, copy=False)
            qn = np.sqrt(np.einsum("ij,ij->i", q, q))
            with np.errstate(divide="ignore", invalid="ignore"):
                s = (q / np.where(qn > 0, qn, np.nan)[:, None]) @ n_unit
            qids = qc["vec_id"].to_numpy()
            order = np.argsort(-s, axis=1, kind="stable")
            for i in range(len(qids)):
                cols = order[i, :take]
                cols = cols[nids[cols] != qids[i]][:k]
                out_q.extend([qids[i]] * len(cols))
                out_n.extend(nids[cols])
                out_c.extend(s[i, cols])
        out = pd.DataFrame({"qid": out_q, "nid": out_n, "cos_sim": out_c})
        # zero-norm vectors score NaN here but NULL on the fold path
        # (try_divide) — and NaN sorts FIRST under desc() while NULL
        # sorts last, so convert to keep the two paths rank-identical
        sim = pd.Series(out_c, dtype="float64")
        if sim.isna().any():
            out["cos_sim"] = sim.astype(object).where(sim.notna(), None)
        return out

    per_bucket = members.groupBy("centroid").applyInPandas(
        bucket_topk, f"qid {id_dt}, nid {id_dt}, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        per_bucket.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "rank",
            "cos_sim",
        )
    )


def ivf_topk_sql(
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 2,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`ivf_topk` (hash-derived centroids only).

    Every reduction is a sequential list_reduce fold so the doubles are
    bit-identical to Spark's ``aggregate`` — scores feed an argmax, so
    even 1-ULP order noise could flip an assignment. ``dim`` must match
    the Spark call site (shared constant), as in :func:`ann_topk_sql`.
    ``n_centroids=None`` mirrors the Spark auto-sizing
    (:func:`_centroids_sql`).
    """
    ctes = f"""{_ivf_lists_sql(table, dim, n_centroids)}, assign AS (
  SELECT vec_id AS nid, centroid FROM ranked WHERE r = 1
), probes AS (
  SELECT vec_id AS qid, centroid FROM ranked WHERE r <= {n_probe}
), cand AS (
  SELECT p.qid, a.nid FROM probes p JOIN assign a USING (centroid) WHERE p.qid <> a.nid
)"""
    return _exact_topk_sql(_CAND_PAIRS_SQL.format(table=table), k, ctes=ctes)


def recall_audit(
    emb: DataFrame,
    k: int = 5,
    bits: int = 32,
    bands: int = 4,
    n_probe: int = 2,
    dim: int | None = None,
    max_rows: int | None = 100_000,
    sample_mod: int | None = 16,
    arms: tuple[str, ...] = ("ann_lsh", "ivf"),
    max_queries: int | None = None,
) -> DataFrame:
    """Recall@k of the approximate search paths measured against the
    exact brute-force top-k, as a first-class query: one row per method
    — (method, n_queries, avg_recall, min_recall).

    This is the quality dial a real ANN deployment tunes (bits/bands
    for LSH, C/n_probe for IVF) — here it is a gate-checked number, not
    a notebook anecdote: everything is hash-derived and deterministic,
    so the DuckDB oracle recomputes the identical recall exactly.

    ``sample_mod``: the exact ground truth is computed for a
    deterministic hash-sample of ~1/``sample_mod`` of the vectors as
    QUERIES (against the FULL corpus) — the standard ANN-benchmark
    methodology (a recall estimate needs a few hundred queries, not
    all N), and the difference between an O(N²/mod) audit and an O(N²)
    one: at sf0.1 the full self-search ground truth alone is ~78 s
    while the sampled audit is a few seconds, and the ratio GROWS with
    N. ``None`` audits every vector (tiny corpora only; the
    ``max_rows`` guard still applies to the brute-force side).

    ``arms`` selects the method rows: any of ``ann_lsh``, ``ivf``,
    ``ann_multiprobe`` (all hash-derived → exactly oracle-checkable via
    :func:`recall_audit_sql`) and ``ivf_kmeans`` (the MLlib k-means
    quantizer, assigned in Arrow batches — the configuration a real
    deployment runs on clustered corpora; no
    DuckDB k-means → rows-only, its recall floor on clustered data is
    pinned in tests/test_northstar.py). Splitting the exact arms
    and the k-means arm into two REGISTERED queries keeps the
    hash-gated audit plan small while the expensive production arm
    stays rows-only on its own.
    """
    from dataframeutils_spark.schema import decround

    queries = emb
    qh = portable_hash60(
        F.concat(F.lit("recall:"), F.col("vec_id").cast("string"))
    )
    if sample_mod is not None:
        queries = emb.filter(qh % sample_mod == 0)
    if max_queries is not None:
        # FIXED-size query sample regardless of corpus size (the r13
        # 100x stress finding): sample_mod alone keeps Q = N/mod, so
        # the exact ground truth is O(N²/mod) — quadratic. A recall
        # estimate needs a few hundred queries, not N/16 of them;
        # capping by deterministic hash order makes the audit O(Q·N)
        # with constant Q at ANY corpus size. TakeOrdered — no global
        # sort.
        queries = queries.orderBy(qh.asc(), F.col("vec_id").asc()).limit(
            max_queries
        )
    # The brute-force ground truth is by far the dominant cost and is
    # read once per method (twice total) — eager-localCheckpoint it so
    # the O(N²/mod) matmul pipeline runs EXACTLY once, and the result
    # (n_queries × k id pairs, a few kB) feeds both method branches
    # from the block cache with truncated lineage.
    exact = brute_force_topk(
        emb, queries=queries, k=k, max_query_rows=max_rows
    ).select("query_id", "neighbor_id").localCheckpoint()
    builders = {
        "ann_lsh": lambda: ann_topk(emb, k=k, bits=bits, bands=bands, dim=dim),
        "ivf": lambda: ivf_topk(
            emb, k=k, n_centroids=None, n_probe=n_probe, dim=dim
        ),
        "ann_multiprobe": lambda: ann_topk_multiprobe(
            emb, k=k, bits=bits, bands=bands, dim=dim
        ),
        "ivf_kmeans": lambda: ivf_topk(
            emb,
            k=k,
            n_probe=n_probe,
            dim=dim,
            centroids=train_centroids_kmeans(emb),
        ),
    }
    unknown = [a for a in arms if a not in builders]
    if unknown:
        raise ValueError(f"unknown recall_audit arms: {unknown}")
    methods = {a: builders[a]().select("query_id", "neighbor_id") for a in arms}
    out = None
    for name, approx in methods.items():
        # one LEFT join per method (approx top-k pairs are unique, so
        # multiplicity is 1) — hit counting and the per-query exact
        # count come out of the same aggregate, instead of a semi-join
        # plus a second scan of `exact`
        per_q = (
            exact.join(
                approx.withColumn("_hit", F.lit(1)),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("*").alias("n_exact"), F.sum("_hit").alias("n_hit"))
            .select(
                "query_id",
                (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")).alias(
                    "recall"
                ),
            )
        )
        row = per_q.agg(
            F.lit(name).alias("method"),
            F.count("*").alias("n_queries"),
            decround(F.avg("recall")).alias("avg_recall"),
            decround(F.min("recall")).alias("min_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def recall_audit_sql(
    k: int = 5,
    bits: int = 32,
    bands: int = 4,
    n_probe: int = 2,
    dim: int = 64,
    table: str = "embeddings",
    sample_mod: int | None = 16,
    arms: tuple[str, ...] = ("ann_lsh", "ivf"),
    max_queries: int | None = None,
) -> str:
    """Oracle for :func:`recall_audit` — one UNION ALL branch per
    hash-derived arm (``ann_lsh``, ``ivf``, ``ann_multiprobe``);
    ``ivf_kmeans`` has no SQL form and cannot appear here."""
    from dataframeutils_spark.schema import decround_sql

    q_pred = "TRUE"
    q_rel = None
    if sample_mod is not None:
        h = portable_hash60_sql("('recall:' || q.vec_id::VARCHAR)")
        q_pred = f"{h} % {sample_mod} = 0"
    if max_queries is not None:
        hb = portable_hash60_sql("('recall:' || vec_id::VARCHAR)")
        w = f"WHERE {hb} % {sample_mod} = 0 " if sample_mod is not None else ""
        q_rel = (
            f"(SELECT vec_id, embedding FROM {table} {w}"
            f"ORDER BY {hb}, vec_id LIMIT {max_queries})"
        )
        q_pred = "TRUE"

    def one(name: str, approx_sql: str) -> str:
        return f"""
SELECT '{name}' AS method,
       count(*) AS n_queries,
       {decround_sql('avg(recall)')} AS avg_recall,
       {decround_sql('min(recall)')} AS min_recall
FROM (
  SELECT e.query_id,
         CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
  FROM ({brute_force_topk_sql(k, table, q_pred=q_pred, q_rel=q_rel)}) e
  LEFT JOIN ({approx_sql}) a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)"""

    arm_sql = {
        "ann_lsh": lambda: ann_topk_sql(
            k=k, bits=bits, bands=bands, dim=dim, table=table
        ),
        "ivf": lambda: ivf_topk_sql(
            k=k, n_centroids=None, n_probe=n_probe, table=table, dim=dim
        ),
        "ann_multiprobe": lambda: ann_topk_sql(
            k=k, bits=bits, bands=bands, dim=dim, table=table, multiprobe=True
        ),
    }
    unknown = [a for a in arms if a not in arm_sql]
    if unknown:
        raise ValueError(f"no SQL oracle for recall_audit arms: {unknown}")
    return "\nUNION ALL\n".join(one(a, arm_sql[a]()) for a in arms)


def label_agreement(
    emb: DataFrame,
    bits: int = 32,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """1-NN label agreement per class: for each vector whose LSH search
    returns a nearest neighbor, does that neighbor carry the same
    label? The standard embedding-space health metric (precision@1)
    before trusting the space for classification-adjacent work —
    near-random agreement means the embedding does not separate the
    labels, however good the loss curve looked.

    Uses the deterministic single-probe LSH path, so the
    whole audit — including which queries HAVE a neighbor — is exactly
    oracle-checkable and runs at corpus scale (bucket-bounded; the
    guarded O(N²) brute force is unnecessary because agreement is a
    statistical rate, not a per-query guarantee).

    Output per label: (label, n_queries, n_agree, agree_rate) +
    coverage (queries with any candidate / class size). Classes where
    NO query has an LSH candidate still appear, with n_queries = 0,
    coverage = 0 and agree_rate NULL — the degenerate case a health
    metric must surface rather than drop.
    """
    from dataframeutils_spark.schema import decround

    nn = ann_topk(emb, k=1, bits=bits, bands=bands, id_col=id_col,
                  vec_col=vec_col, dim=dim).filter(F.col("rank") == 1)
    lab = emb.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_lab"))
    q_lab = lab.select(F.col("_id").alias("query_id"), F.col("_lab").alias("q_label"))
    n_lab = lab.select(F.col("_id").alias("neighbor_id"), F.col("_lab").alias("n_label"))
    scored = nn.join(q_lab, "query_id").join(n_lab, "neighbor_id")
    per_label = scored.groupBy(F.col("q_label").alias("label")).agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("q_label") == F.col("n_label")).cast("long")).alias("n_agree"),
    )
    class_sizes = emb.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("class_size")
    )
    n_q = F.coalesce(F.col("n_queries"), F.lit(0).cast("long"))
    n_a = F.coalesce(F.col("n_agree"), F.lit(0).cast("long"))
    return (
        class_sizes.join(per_label, "label", "left")
        .select(
            "label",
            "class_size",
            n_q.alias("n_queries"),
            n_a.alias("n_agree"),
            F.when(n_q > 0, decround(n_a / n_q)).alias("agree_rate"),
            decround(n_q / F.col("class_size")).alias("coverage"),
        )
    )


def label_agreement_sql(
    bits: int = 32,
    bands: int = 4,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    """DuckDB oracle for :func:`label_agreement` — the ann_topk oracle
    at k=1 joined with labels, same aggregates."""
    from dataframeutils_spark.schema import decround_sql

    ann = ann_topk_sql(k=1, bits=bits, bands=bands, table=table, dim=dim)
    rate = decround_sql("n_agree * 1.0 / n_queries")
    cov = decround_sql("coalesce(n_queries, 0) * 1.0 / class_size")
    return f"""
WITH nn AS ({ann}),
scored AS (
  SELECT q.label AS label, (q.label = n.label) AS agree
  FROM nn JOIN {table} q ON q.vec_id = nn.query_id
          JOIN {table} n ON n.vec_id = nn.neighbor_id
  WHERE nn.rank = 1
),
per_label AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM scored GROUP BY label
),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS class_size
  FROM {table} GROUP BY label
)
SELECT label, class_size,
       CAST(coalesce(n_queries, 0) AS BIGINT) AS n_queries,
       CAST(coalesce(n_agree, 0) AS BIGINT) AS n_agree,
       CASE WHEN coalesce(n_queries, 0) > 0 THEN {rate} END AS agree_rate,
       {cov} AS coverage
FROM sizes LEFT JOIN per_label USING (label)
"""


def embedding_class_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class embedding geometry: class size, mean distance to the
    class centroid (intra-class dispersion), nearest OTHER centroid and
    its distance, and the separation ratio inter/intra — the
    class-collapse detector (separation ≲ 1 means classes overlap and
    SemDeDup/IVF/classification over this space will blur them).

    Scale shape: centroids come from ONE Arrow batch-partial pass
    (exchange = batches × labels × (1 + D) cells, never vectors — the
    covariance-partials pattern); distances are a second scan with the
    ≤|labels| centroid table broadcast and the fold JVM-side; the
    pairwise-centroid step runs on the tiny centroid table. Float sums
    are batch-order-dependent → siground absorbs the residue (the
    standard cross-engine contract).

    Output: (label, n, intra_dist, nearest_label, inter_dist,
    separation), separation = inter / intra (NULL when intra is 0).
    """
    from dataframeutils_spark.schema import siground

    spark = emb.sparkSession

    def part(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            out = []
            for lab, grp in pdf.groupby(label_col):
                m = np.stack(grp[vec_col].to_numpy()).astype("float64")
                out.append((int(lab), len(m), m.sum(axis=0).tolist()))
            yield pd.DataFrame(out, columns=["label", "n", "s"])

    parts = emb.select(label_col, vec_col).mapInPandas(
        part, "label int, n long, s array<double>"
    )
    sums = (
        parts.select("label", F.posexplode("s").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.sum("val").alias("sv"))
    )
    sizes = emb.groupBy(F.col(label_col).alias("label")).agg(F.count("*").alias("n"))
    # eager-materialize the tiny (labels × D) centroid table: it feeds
    # three consumers (intra distances + both sides of the pairwise
    # step) and would otherwise re-run the Arrow partial pass per use
    cent = (
        sums.join(F.broadcast(sizes), "label")
        .select("label", "pos", (F.col("sv") / F.col("n")).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform(F.col("pc"), lambda x: x["c"]).alias("centroid")
        )
        .localCheckpoint()
    )
    with_c = emb.select(
        F.col(label_col).alias("label"), F.col(vec_col).alias("v")
    ).join(F.broadcast(cent), "label")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("v"), F.col("centroid"),
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    intra = with_c.groupBy("label").agg(F.avg(dist).alias("intra_raw"))
    a = cent.select(F.col("label").alias("la"), F.col("centroid").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("centroid").alias("cb"))
    cd = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    pairs = (
        a.join(b, F.col("la") != F.col("lb"))
        .select("la", "lb", siground(cd).alias("d"))
    )
    w = Window.partitionBy("la").orderBy(F.col("d").asc(), F.col("lb").asc())
    nearest = (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            F.col("la").alias("label"),
            F.col("lb").alias("nearest_label"),
            F.col("d").alias("inter_dist"),
        )
    )
    return (
        sizes.join(intra, "label")
        .join(nearest, "label")
        .select(
            "label",
            "n",
            siground(F.col("intra_raw")).alias("intra_dist"),
            "nearest_label",
            "inter_dist",
            F.when(F.col("intra_raw") == 0, F.lit(None).cast("double"))
            .otherwise(siground(F.col("inter_dist") / F.col("intra_raw")))
            .alias("separation"),
        )
    )


def embedding_class_stats_sql(table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`embedding_class_stats`: explode
    positions (N·D rows — oracle scale only), per-(label, dim) average
    centroid, per-vector distance, same nearest-other-centroid ranking
    (distance sigrounded BEFORE ranking, as on the Spark side)."""
    from dataframeutils_spark.schema import siground_sql

    cd = siground_sql("sqrt(sum((a.c - b.c) * (a.c - b.c)))")
    return f"""
WITH pos AS (
  SELECT vec_id, label, i, CAST(v[i] AS DOUBLE) AS val
  FROM (SELECT vec_id, label, embedding AS v FROM {table}),
       LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t
),
cent AS (
  SELECT label, i, avg(val) AS c FROM pos GROUP BY label, i
),
dist AS (
  SELECT p.vec_id, p.label,
         sqrt(sum((p.val - c.c) * (p.val - c.c))) AS d
  FROM pos p JOIN cent c ON p.label = c.label AND p.i = c.i
  GROUP BY p.vec_id, p.label
),
intra AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n, avg(d) AS intra_raw
  FROM dist GROUP BY label
),
cpairs AS (
  SELECT a.label AS la, b.label AS lb, {cd} AS d
  FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
  GROUP BY a.label, b.label
),
nearest AS (
  SELECT la AS label, lb AS nearest_label, d AS inter_dist,
         row_number() OVER (PARTITION BY la ORDER BY d, lb) AS r
  FROM cpairs
)
SELECT i.label, i.n,
       {siground_sql('intra_raw')} AS intra_dist,
       nearest_label, inter_dist,
       CASE WHEN intra_raw = 0 THEN NULL
            ELSE {siground_sql('inter_dist / intra_raw')} END AS separation
FROM intra i JOIN nearest nr ON nr.label = i.label AND nr.r = 1
"""


# ---------------------------------------------------------------------------
# ROC-AUC of centroid similarity (class separability as one number)
# ---------------------------------------------------------------------------


def _centroid_scores(
    emb: DataFrame, id_col: str, vec_col: str, label_col: str
) -> tuple[DataFrame, Column]:
    """Every vector × every class centroid: the broadcast cross join
    (vid, v, lab, cls, cvec) and its decimal-ROUNDED cosine score.

    Centroids come from one (label × dim) map-side-combinable
    aggregate. Zero-norm vectors and centroids are filtered on BOTH
    sides rather than try_divided: a NULL score would rank NULLS FIRST
    in Spark but NULLS LAST in DuckDB, silently skewing every rank.
    The score is rounded because centroid means carry
    aggregation-order ulp noise that ranking and binning must not see.
    """
    from dataframeutils_spark.schema import decround

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.col(label_col).alias("lab"),
    )
    cent = (
        base.select("lab", F.posexplode(F.col("v")).alias("pos", "x"))
        .groupBy("lab", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy(F.col("lab").alias("cls"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("_sm")
        )
        .select("cls", F.transform(F.col("_sm"), lambda s: s.m).alias("cvec"))
    )
    cent = cent.filter(_norm(F.col("cvec")) > 0)
    base = base.filter(_norm(F.col("v")) > 0)
    cos = _dot(F.col("v"), F.col("cvec")) / (_norm(F.col("v")) * _norm(F.col("cvec")))
    return base.crossJoin(F.broadcast(cent)), decround(cos)


def _centroid_scores_sql(table: str) -> str:
    """DuckDB twin of :func:`_centroid_scores`: the WITH entries
    ``dims``, ``cent`` and ``cs`` (cls, vid, is_pos, s)."""
    from dataframeutils_spark.schema import decround_sql

    return f"""dims AS (
  SELECT label AS lab, i.i AS pos, avg(embedding[i.i]::DOUBLE) AS m
  FROM {table}
  CROSS JOIN (SELECT unnest(range(1, len((SELECT embedding FROM {table} LIMIT 1)) + 1)) AS i) i
  GROUP BY label, i.i
), cent AS (
  SELECT lab AS cls, list(m ORDER BY pos) AS cvec FROM dims GROUP BY lab
), cs AS (
  SELECT c.cls, e.vec_id AS vid, e.label = c.cls AS is_pos,
         {decround_sql(_cos_sql("e.embedding", "c.cvec"))} AS s
  FROM {table} e CROSS JOIN cent c
  WHERE {_norm_sql("e.embedding")} > 0 AND {_norm_sql("c.cvec")} > 0
)"""


def embedding_auc(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class ROC-AUC of cosine-to-own-centroid as a classifier
    score — the rank-based (Mann-Whitney) formulation: does distance
    to the class centroid actually separate the class from the rest?
    The one-number companion to label_agreement / class-stats: AUC is
    threshold-free and insensitive to score calibration.

    AUC_c = (Σ_{i∈c} rank(s_i) − n_c(n_c+1)/2) / (n_c · (N − n_c))
    over scores s = cos(v, centroid_c), ranked ASCENDING with
    AVERAGE ranks on ties. Scores are decimal-ROUNDED before ranking
    (:func:`_centroid_scores`), and the average-rank formula
    (min-rank + (tie−1)/2) makes ties engine-independent.

    Scale shape: centroids via one (label × dim) map-side-combinable
    aggregate (exchange = labels × D partials); scoring is one scan
    against the broadcast 10-row centroid table; the per-class rank
    is a window over (class) — the one global-ish sort, standard for
    exact AUC (a histogram-bucketed AUC is the approximate scale-out
    when N per class exceeds a task).

    Output: (class, n_pos, n_neg, auc).
    """
    from dataframeutils_spark.schema import decround

    pairs, s = _centroid_scores(emb, id_col, vec_col, label_col)
    scored = pairs.select(
        "cls",
        "vid",
        (F.col("lab") == F.col("cls")).alias("is_pos"),
        s.alias("s"),
    )
    wc = Window.partitionBy("cls").orderBy("s")
    tie = Window.partitionBy("cls", "s")
    ranked = scored.withColumn(
        "avg_rank",
        F.rank().over(wc) + (F.count("*").over(tie) - F.lit(1)) / F.lit(2.0),
    )
    agg = ranked.groupBy("cls").agg(
        F.count(F.when(F.col("is_pos"), F.lit(1))).alias("n_pos"),
        F.count(F.when(~F.col("is_pos"), F.lit(1))).alias("n_neg"),
        F.sum(F.when(F.col("is_pos"), F.col("avg_rank"))).alias("rsum"),
    )
    return agg.select(
        F.col("cls").alias("class"),
        "n_pos",
        "n_neg",
        decround(
            F.try_divide(
                F.col("rsum") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0),
                F.col("n_pos").cast("double") * F.col("n_neg"),
            )
        ).alias("auc"),
    )


def embedding_auc_sql(table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`embedding_auc` — same sequential-fold
    cosine, pre-rank decimal rounding and average-rank tie formula."""
    from dataframeutils_spark.schema import decround_sql

    return f"""
WITH {_centroid_scores_sql(table)}, ranked AS (
  SELECT *,
         rank() OVER (PARTITION BY cls ORDER BY s)
           + (count(*) OVER (PARTITION BY cls, s) - 1) / 2.0 AS avg_rank
  FROM cs
)
SELECT cls AS class,
       CAST(count(*) FILTER (WHERE is_pos) AS BIGINT) AS n_pos,
       CAST(count(*) FILTER (WHERE NOT is_pos) AS BIGINT) AS n_neg,
       {decround_sql(
           "(sum(CASE WHEN is_pos THEN avg_rank END) "
           "- count(*) FILTER (WHERE is_pos) * (count(*) FILTER (WHERE is_pos) + 1) / 2.0) "
           "/ (CAST(count(*) FILTER (WHERE is_pos) AS DOUBLE) * count(*) FILTER (WHERE NOT is_pos))"
       )} AS auc
FROM ranked
GROUP BY cls
"""


# ---------------------------------------------------------------------------
# embedding-space drift between corpus snapshots
# ---------------------------------------------------------------------------


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    cos_alarm: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding-space drift between two snapshots — the
    vector-side companion to the per-source quality drift report: did
    a class's CENTROID move (re-embedding model change, upstream
    distribution shift, silent feature corruption) even when row
    counts look stable.

    Per label: centroid cosine between snapshots, centroid L2 shift,
    mean vector norms, counts, and an alarm when the cosine falls
    below ``cos_alarm``.

    Scale shape: each snapshot reduces to per-(label, dim) sufficient
    sums via posexplode INSIDE the scan stage (embedding_dim_stats
    pattern) — the exchange carries labels × dims partial rows, never
    vectors; the snapshot join is on the tiny (label, dim) key and
    every per-label reduction is map-side combinable. Centroid
    algebra (dot, norms, L2) runs on the joined cell table; floats
    are decimal-rounded (aggregation-order ulp noise).

    Output: (label, n_ref, n_cur, centroid_cos, centroid_shift,
    norm_ref, norm_cur, drifted).
    """
    from dataframeutils_spark.schema import decround

    def cells(df: DataFrame, tag: str) -> DataFrame:
        ex = df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "x"),
        )
        return ex.groupBy("label", "dim").agg(
            F.sum(F.col("x").cast("double")).alias(f"s_{tag}"),
            F.count("*").alias(f"n_{tag}"),
        )

    j = cells(old, "ref").join(cells(new, "cur"), ["label", "dim"], "full")
    mr = F.col("s_ref") / F.col("n_ref")
    mc = F.col("s_cur") / F.col("n_cur")
    per = j.groupBy("label").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(mr * mc).alias("_dot"),
        F.sum(mr * mr).alias("_r2"),
        F.sum(mc * mc).alias("_c2"),
        F.sum((mr - mc) * (mr - mc)).alias("_l2"),
    )
    cos = F.try_divide(
        F.col("_dot"), F.sqrt(F.col("_r2")) * F.sqrt(F.col("_c2"))
    )
    rcos = decround(cos)
    return per.select(
        "label",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        rcos.alias("centroid_cos"),
        decround(F.sqrt(F.col("_l2"))).alias("centroid_shift"),
        decround(F.sqrt(F.col("_r2"))).alias("norm_ref"),
        decround(F.sqrt(F.col("_c2"))).alias("norm_cur"),
        F.coalesce(rcos < cos_alarm, F.lit(True)).alias("drifted"),
    )


def embedding_drift_sql(
    old_rel: str,
    new_rel: str,
    cos_alarm: float = 0.98,
) -> str:
    """DuckDB oracle for :func:`embedding_drift`. ``old_rel`` /
    ``new_rel`` are unaliased parenthesized subqueries with
    (vec_id, embedding, label)."""
    from dataframeutils_spark.schema import decround_sql

    def cells(rel: str, tag: str) -> str:
        return f"""cells_{tag} AS (
  SELECT label, dim, sum(x) AS s_{tag}, count(*) AS n_{tag}
  FROM (
    SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM {rel} AS e
  )
  GROUP BY label, dim
)"""

    cos = "(_dot / NULLIF(sqrt(_r2) * sqrt(_c2), 0))"
    return f"""
WITH {cells(old_rel, 'ref')}, {cells(new_rel, 'cur')},
j AS (
  SELECT COALESCE(r.label, c.label) AS label,
         r.s_ref / r.n_ref AS mr, c.s_cur / c.n_cur AS mc,
         r.n_ref, c.n_cur
  FROM cells_ref r FULL OUTER JOIN cells_cur c
    ON r.label = c.label AND r.dim = c.dim
), per AS (
  SELECT label, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
         sum(mr * mc) AS _dot, sum(mr * mr) AS _r2,
         sum(mc * mc) AS _c2, sum((mr - mc) * (mr - mc)) AS _l2
  FROM j GROUP BY label
)
SELECT label,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       {decround_sql(cos)} AS centroid_cos,
       {decround_sql('sqrt(_l2)')} AS centroid_shift,
       {decround_sql('sqrt(_r2)')} AS norm_ref,
       {decround_sql('sqrt(_c2)')} AS norm_cur,
       COALESCE({decround_sql(cos)} < {cos_alarm}, TRUE) AS drifted
FROM per
"""


# ---------------------------------------------------------------------------
# calibration audit (reliability bins + ECE + Brier)
# ---------------------------------------------------------------------------


def calibration_audit(
    emb: DataFrame,
    n_bins: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class calibration audit of the cosine-to-centroid score
    used as a membership probability — the companion question to
    :func:`embedding_auc`: AUC says the score RANKS the class above
    the rest; calibration says whether its VALUE means what a
    downstream threshold assumes (Guo et al. 2017's ECE, Brier 1950).
    Score → probability proxy p = (cos + 1) / 2; outcome y = (label
    == class); reliability bins b = min(B−1, ⌊p·B⌋):

    * ECE  = Σ_b (n_b/N) · |acc_b − conf_b| (expected calibration
      error over occupied bins);
    * Brier = mean (p − y)²;
    * max_gap = max_b |acc_b − conf_b|.

    Output: (class, n, n_bins_occupied, ece, brier, max_gap).

    Scale shape: identical to embedding_auc up to the scored
    projection (one labels×D combinable centroid aggregate broadcast
    over the scan); then ONE (class, bin) groupBy — exchange bounded
    by classes · B cells, never rows — and a per-class reduce over
    ≤ B bin rows. p is built from the decimal-ROUNDED cosine so bin
    assignment is engine-identical.
    """
    from dataframeutils_spark.schema import decround

    pairs, s = _centroid_scores(emb, id_col, vec_col, label_col)
    p = (s + F.lit(1.0)) / F.lit(2.0)
    scored = pairs.select(
        "cls",
        (F.col("lab") == F.col("cls")).cast("int").alias("y"),
        p.alias("p"),
    )
    cells = scored.withColumn(
        "bin",
        F.least(
            F.lit(n_bins - 1), F.floor(F.col("p") * n_bins).cast("int")
        ),
    ).groupBy("cls", "bin").agg(
        F.count("*").alias("nb"),
        F.sum("p").alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(
            (F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))
        ).alias("sq"),
    )
    gap = F.abs(F.col("sy") / F.col("nb") - F.col("sp") / F.col("nb"))
    return (
        cells.groupBy("cls")
        .agg(
            F.sum("nb").alias("n"),
            F.count("*").alias("n_bins_occupied"),
            (F.sum(F.col("nb") * gap) / F.sum("nb")).alias("_ece"),
            (F.sum("sq") / F.sum("nb")).alias("_brier"),
            F.max(gap).alias("_maxgap"),
        )
        .select(
            F.col("cls").alias("class"),
            F.col("n").cast("long").alias("n"),
            F.col("n_bins_occupied").cast("long").alias("n_bins_occupied"),
            decround(F.col("_ece")).alias("ece"),
            decround(F.col("_brier")).alias("brier"),
            decround(F.col("_maxgap")).alias("max_gap"),
        )
    )


def calibration_audit_sql(n_bins: int = 10, table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`calibration_audit` — same rounded
    cosine, probability mapping, bin cells and per-class reduce."""
    from dataframeutils_spark.schema import decround_sql

    return f"""
WITH {_centroid_scores_sql(table)}, scored AS (
  SELECT cls, CAST(is_pos AS INT) AS y, (s + 1.0) / 2.0 AS p FROM cs
), cells AS (
  SELECT cls, least({n_bins - 1}, CAST(floor(p * {n_bins}) AS INT)) AS bin,
         count(*) AS nb, sum(p) AS sp, sum(y) AS sy,
         sum((p - y) * (p - y)) AS sq
  FROM scored GROUP BY cls, bin
)
SELECT cls AS class,
       CAST(sum(nb) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins_occupied,
       {decround_sql(
           "sum(nb * abs(sy * 1.0 / nb - sp / nb)) / sum(nb)"
       )} AS ece,
       {decround_sql("sum(sq) / sum(nb)")} AS brier,
       {decround_sql("max(abs(sy * 1.0 / nb - sp / nb))")} AS max_gap
FROM cells
GROUP BY cls
"""


# ---------------------------------------------------------------------------
# MMD two-sample drift via hash-derived random Fourier features
# ---------------------------------------------------------------------------


def _rff_u(salt: str, *parts: Column) -> Column:
    """Deterministic uniform in (0, 1] from the portable hash."""
    key = F.concat_ws(":", F.lit(salt), *[p.cast("string") for p in parts])
    return (portable_hash60(key) + F.lit(1.0)) / F.lit(2.0 * TWO59)


def rff_features(spark, n_features: int, dim: int, sigma: float) -> DataFrame:
    """Hash-derived random-Fourier-feature table (d, w, b) for an RBF
    kernel of bandwidth ``sigma`` (Rahimi & Recht 2007): w entries are
    exact Box–Muller Gaussians from two hash uniforms (the
    ivf_centroids derivation discipline, 'mmdw:' salt), scaled 1/σ;
    b ~ U[0, 2π). Fully deterministic → the MMD below is exactly
    oracle-checkable."""
    d = F.col("id").cast("int")
    return spark.range(n_features).select(
        d.alias("d"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: (
                F.sqrt(-2.0 * F.log(_rff_u("mmdw1", d, i)))
                * F.cos(2.0 * math.pi * _rff_u("mmdw2", d, i))
                / F.lit(sigma)
            ),
        ).alias("w"),
        (2.0 * math.pi * _rff_u("mmdb", d)).alias("b"),
    )


def mmd_drift(
    old: DataFrame,
    new: DataFrame,
    n_features: int = 32,
    sigma: float = 4.0,
    threshold: float = 0.05,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label Maximum Mean Discrepancy between two embedding
    snapshots, RBF kernel approximated by ``n_features`` hash-derived
    random Fourier features (Gretton et al. 2012 + Rahimi & Recht
    2007): MMD² ≈ ‖mean_ref z − mean_cur z‖² with
    z_d(x) = √(2/D)·cos(w_dᵀx + b_d). The DISTRIBUTION-level
    companion to embedding_drift's centroid test: a centroid can stay
    put while the cloud's shape changes (mode split, variance
    collapse) — MMD with a characteristic kernel sees it.

    ``drifted`` compares the decimal-ROUNDED mmd2 against
    ``threshold`` (PSI discipline).

    Output: (label, n_ref, n_cur, mmd2, drifted), labels present in
    BOTH snapshots (appeared/vanished labels are embedding_drift's
    job).

    Scale shape: the feature table is D broadcast rows; each snapshot
    is ONE scan — vectors meet the broadcast features map-side, and
    only (label, d) partial means shuffle (labels·D rows). The
    quadratic-kernel MMD would be an N² join; the RFF form is the
    100 TB shape.
    """
    from dataframeutils_spark.schema import decround

    spark = old.sparkSession
    dim = old.select(F.size(F.col(vec_col)).alias("s")).first()["s"]
    feats = rff_features(spark, n_features, dim, sigma)
    amp = math.sqrt(2.0 / n_features)

    def means(df: DataFrame, tag: str) -> DataFrame:
        z = F.lit(amp) * F.cos(
            _dot(F.col(vec_col), F.col("w")) + F.col("b")
        )
        return (
            df.crossJoin(F.broadcast(feats))
            .groupBy(F.col(label_col).alias("label"), F.col("d"))
            .agg(
                F.avg(z).alias(f"mz_{tag}"),
                F.count("*").alias(f"n_{tag}"),
            )
        )
    mr = means(old, "ref")
    mc = means(new, "cur")
    j = mr.join(mc, ["label", "d"])
    diff = F.col("mz_ref") - F.col("mz_cur")
    agg = j.groupBy("label").agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        decround(F.sum(diff * diff)).alias("mmd2"),
    )
    return agg.select(
        "label",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        "mmd2",
        (F.col("mmd2") > threshold).alias("drifted"),
    )


def mmd_drift_sql(
    old_rel: str,
    new_rel: str,
    dim: int,
    n_features: int = 32,
    sigma: float = 4.0,
    threshold: float = 0.05,
) -> str:
    """DuckDB oracle for :func:`mmd_drift` — same hash-derived
    features, sequential-fold dot, per-(label, d) means."""
    from dataframeutils_spark.operators.dedup import portable_hash60_sql
    from dataframeutils_spark.schema import decround_sql

    two60 = float(2 * 2**59)

    def u(salt: str, parts: str) -> str:
        h = portable_hash60_sql(f"('{salt}' || ':' || {parts})")
        return f"(({h}) + 1.0) / {two60}"

    u1 = u("mmdw1", "f.d::VARCHAR || ':' || i::VARCHAR")
    u2 = u("mmdw2", "f.d::VARCHAR || ':' || i::VARCHAR")
    ub = u("mmdb", "f.d::VARCHAR")
    amp = math.sqrt(2.0 / n_features)
    dot = _dot_sql("e.embedding", "f.w", dim)

    def means(rel: str, tag: str) -> str:
        return f"""m_{tag} AS (
  SELECT e.label, f.d, avg({amp} * cos({dot} + f.b)) AS mz_{tag},
         count(*) AS n_{tag}
  FROM {rel} e CROSS JOIN feats f
  GROUP BY e.label, f.d
)"""

    return f"""
WITH feats AS (
  SELECT f.d,
         list_transform(range(0, {dim}), i ->
           sqrt(-2.0 * ln({u1})) * cos(2.0 * pi() * {u2}) / {sigma}) AS w,
         2.0 * pi() * {ub} AS b
  FROM range(0, {n_features}) f(d)
),
{means(old_rel, 'ref')},
{means(new_rel, 'cur')}
SELECT r.label,
       CAST(max(r.n_ref) AS BIGINT) AS n_ref,
       CAST(max(c.n_cur) AS BIGINT) AS n_cur,
       {decround_sql('sum((r.mz_ref - c.mz_cur) * (r.mz_ref - c.mz_cur))')} AS mmd2,
       {decround_sql('sum((r.mz_ref - c.mz_cur) * (r.mz_ref - c.mz_cur))')} > {threshold} AS drifted
FROM m_ref r JOIN m_cur c ON c.label = r.label AND c.d = r.d
GROUP BY r.label
"""
