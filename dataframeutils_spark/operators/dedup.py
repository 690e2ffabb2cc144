"""Deduplication operators for large-scale training-data pipelines.

No counterpart in the reference (SURVEY §2.3) — these are the
BASELINE.json north-star operators, built Spark-native:

* :func:`exact_dedup` — hash-groupBy on md5(text).
* :func:`shingles` / :func:`minhash_signatures` /
  :func:`lsh_candidate_pairs` — classic MinHash+LSH
  (shingle → k permuted hashes → min → band → bucket join).
* :func:`ngram_jaccard_pairs` — exact n-gram Jaccard verification over
  min-shingle-blocked candidates (LSH with k=1 identity permutation).
* :func:`simhash` — 60-bit SimHash from token hashes via conditional
  bit sums (fully native, no UDF).
* :func:`embedding_dup_pairs` — cosine near-duplicate pairs over an
  ``array<float>`` embedding column.

Hashing: :func:`portable_hash60` derives 60-bit integers from md5 hex
substrings — computable identically in Spark and DuckDB, which is what
makes even the MinHash/LSH pipeline fully oracle-checkable. Only the
MinHash signature (:func:`minhash_signatures`, :func:`minhash_lsh_pairs`)
also offers ``xxhash64`` (``portable=False``: one JVM intrinsic instead
of md5+substring+base-conversion per shingle), through the same plan
shape.

Scale notes: every stage is explode → hash → groupBy — linear in
corpus size, shuffling only (doc_id | shingle | band) keys. Candidate
verification joins only LSH-blocked pairs, never the full cross
product. Skewed shingles (stopword n-grams) are the classic hot-key
hazard: distinct-per-doc dedup happens before the shingle shuffle, and
AQE skew-join handles the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.local_solve import route_local, spread

# ---------------------------------------------------------------------------
# hashing schemes
# ---------------------------------------------------------------------------


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash = first 15 hex chars of md5 — bit-identical
    in Spark (conv) and DuckDB (hex-literal cast)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, n_docs, keep_doc_id).

    ``keep_doc_id`` = min id per hash group — the canonical survivor a
    dedup pipeline would retain. One shuffle on the 32-hex-char hash,
    never on the text payload itself (at 100 TB the md5 is computed
    scan-side and only 32 bytes/row shuffle).
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_doc_id"))
    )


# Explicit literal-char whitespace class — NOT \s: Java's \s includes
# vertical tab (\x0B) while RE2's does not, so the shorthand would make
# the two engines canonicalize the same document differently. The
# literal bytes below mean the same thing in both dialects.
_WS_RUN = "[ \t\n\r\f\x0b]+"


def canonical_text(col: Column) -> Column:
    """Canonical form for fuzzy-exact dedup: lowercase + whitespace
    runs collapsed to single spaces + trimmed. Deliberately ONLY
    whitespace/case (no punctuation stripping — Java vs RE2 punct
    classes diverge on unicode, and dropping punctuation changes
    meaning); near-dup beyond that is MinHash territory."""
    return F.trim(F.regexp_replace(F.lower(col), _WS_RUN, " "))


def canonical_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fuzzy-exact dedup tier between :func:`exact_dedup` and MinHash:
    group documents by the canonical-form hash — (canon_hash, n_docs,
    keep_doc_id, n_variants). ``n_variants`` counts distinct RAW
    hashes inside the group, i.e. how many byte-level variants the
    canonicalization collapsed (re-encoded crawls, trailing-newline
    twins, case-mangled mirrors — the duplicates exact_dedup MISSES
    and MinHash wastes shingling on).

    Same scale shape as exact_dedup: both hashes computed scan-side,
    one shuffle on the 32-hex canonical key (64 bytes/row with the raw
    hash), map-side combinable aggregates.
    """
    return (
        docs.select(
            F.md5(canonical_text(F.col(text_col))).alias("canon_hash"),
            F.md5(F.col(text_col)).alias("_raw"),
            F.col(id_col).alias("id"),
        )
        .groupBy("canon_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("keep_doc_id"),
            F.countDistinct("_raw").alias("n_variants"),
        )
    )


def canonical_dedup_sql(table: str = "documents") -> str:
    canon = f"trim(regexp_replace(lower(text), '{_WS_RUN}', ' ', 'g'))"
    return f"""
SELECT md5({canon}) AS canon_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_variants
FROM {table} GROUP BY 1
"""


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Tokenization: split on whitespace runs. Distinctness before any
    shuffle keeps hot shingles from multiplying.

    The doc_id repartition before the explode matters: a compact scan
    (one small file locally; a handful of row groups per task at
    100 TB) would otherwise fan out ×shingles×perms on too few cores —
    the downstream hash work is 100-1000× the scan size, so parallelism
    must be set *before* the multiplication, not after.
    """
    from dataframeutils_spark.operators.text import _ws_split

    # Materialize the token array in its own projection before the
    # higher-order transform. HOFs run interpreted (CodegenFallback)
    # and re-evaluate free subexpressions once PER ARRAY ELEMENT — an
    # inline split() here costs O(tokens) per shingle, O(tokens²) per
    # doc (measured 124 s → 4 s at sf0.1). As a multi-use non-trivial
    # alias the projection survives CollapseProject, so the lambda's
    # element_at hits a bound column, not a recomputed split.
    tokd = spread(docs, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), _ws_split(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    # sequence(0, k) with k < 0 descends instead of being empty — guard
    # docs shorter than n tokens (they contribute no shingles).
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokd.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def minhash_signatures(
    shingle_df: DataFrame, num_perm: int = 16, portable: bool = True
) -> DataFrame:
    """MinHash signature in long layout: (doc_id, perm, min_hash).

    Permutation i hashes ``"<i>:<shingle>"`` — k independent hash
    functions from one base hash. All ``num_perm`` hashes are computed
    as inline columns of ONE projection over the (doc, shingle) stream
    and min-aggregated per doc in a single codegen pass, then unpacked
    to the long layout (identical values: min over the same multiset
    per permutation). The previous ×num_perm row explode pushed
    num_perm× the rows through the aggregate for the same hash count.

    Practical ``num_perm`` ceiling: the fused form generates
    2·num_perm expressions in one codegen aggregate; at the library's
    call sites (num_perm ≤ 16) this is comfortably inside the JVM's
    64 KB method limit, but several hundred permutations would tip
    whole-stage codegen into its interpreted fallback and widen the
    aggregation buffer to num_perm longs per group — above ~128
    permutations, prefer chunking the mins into several aggregates
    (or the historical exploded formulation).
    """

    mins = _minhash_mins(shingle_df, num_perm=num_perm, portable=portable)
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"_m{i}") for i in range(num_perm)])
        ).alias("perm", "min_hash"),
    )


def _minhash_mins(
    shingle_df: DataFrame, num_perm: int = 16, portable: bool = True
) -> DataFrame:
    """Wide MinHash signature: (doc_id, _m0.._m{num_perm-1}) — the
    fused one-pass aggregate behind :func:`minhash_signatures` and the
    band-hash fast path of :func:`minhash_lsh_pairs`."""

    # One parsed F.expr per permutation instead of ~7 py4j Column calls
    # each (identical Catalyst tree — the conv/substr/md5 fragment is
    # portable_hash60's own SQL form; plan construction is a per-query
    # driver cost the bench pays at any scale, r14 §fixed-tail).
    def h_sql(i: int) -> str:
        salted = f"concat('{i}:', shingle)"
        if portable:
            return f"CAST(conv(substring(md5({salted}), 1, 15), 16, 10) AS BIGINT)"
        return f"xxhash64({salted})"

    return shingle_df.groupBy("doc_id").agg(
        *[F.expr(f"min({h_sql(i)})").alias(f"_m{i}") for i in range(num_perm)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame, num_perm: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature and emit candidate pairs sharing any band.

    (doc_a, doc_b) with doc_a < doc_b, distinct. Probability theory of
    MinHash-LSH: with r = num_perm/bands rows per band, a pair with
    Jaccard j collides on ≥1 band with prob 1-(1-j^r)^bands.
    """
    rows_per_band = num_perm // bands
    banded = signatures.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
    band_hash = (
        banded.groupBy("doc_id", "band")
        .agg(F.md5(F.concat_ws("_", F.sort_array(F.collect_list("min_hash")))).alias("bh"))
    )
    return _pairs_from_band_hashes(band_hash)


def _pairs_from_band_hashes(band_hash: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing any (band, bh) bucket.

    Self-join on the small (doc × band) band-hash table. NOT a
    collect-and-explode: exploding per-bucket id arrays copies the
    whole array once per member (O(|bucket|²) tungsten traffic on hot
    buckets — measured 12× slower on clustered corpora), while the
    hash join streams; the duplicated upstream pipeline dedupes via
    Spark's ReuseExchange (identical exchange subtrees run once).

    The join strategy is pinned to a SHUFFLE hash join (guide §3.1:
    pick it deliberately). When size estimates look small Catalyst
    would otherwise broadcast one side — which is doubly wrong here:
    (a) a BroadcastExchange is not an Exchange, so ReuseExchange can
    no longer collapse the two identical self-join subtrees and the
    whole upstream shingle→minhash pipeline executes TWICE (measured
    3.3 → 5.2 s at 10x when the fused path's tighter stats tipped the
    planner to broadcast), and (b) the band table is corpus-sized
    (4 rows per doc), so broadcasting it cannot scale past the 8 GB
    relation cap anyway. With both sides shuffled on (band, bh) the
    exchanges are canonically identical and the pipeline runs once."""
    a = band_hash.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b = band_hash.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    return (
        a.join(b.hint("shuffle_hash"), on=["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(
    shingle_df: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Fused shingles → MinHash → banded candidate pairs — exactly
    ``lsh_candidate_pairs(minhash_signatures(shingle_df))`` with the
    long-layout round-trip removed: the band hashes are computed
    directly from the wide min columns of the ONE fused signature
    aggregate (:func:`_minhash_mins`), so the plan has no
    posexplode-then-re-aggregate and no collect_list
    ObjectHashAggregate between the signature aggregate and the band
    self-join.

    Value identity with the long-layout path, by construction: each
    band's hash is md5 over the band's ``rows_per_band`` min values
    sorted NUMERICALLY then cast to strings — the analyzer resolves
    ``concat_ws(sort_array(collect_list(min_hash)))`` as
    cast-after-sort too (concat_ws needs array<string>), so the md5
    input strings are identical. Pinned by
    ``tests/test_northstar.py::test_minhash_lsh_pairs_match_long_layout``.
    """
    rows_per_band = num_perm // bands
    mins = _minhash_mins(shingle_df, num_perm=num_perm, portable=portable)
    band_cols = [
        F.expr(
            "md5(concat_ws('_', CAST(array_sort(array("
            + ", ".join(
                f"_m{b * rows_per_band + j}" for j in range(rows_per_band)
            )
            + ")) AS ARRAY<STRING>)))"
        )
        for b in range(bands)
    ]
    banded = mins.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bh")
    )
    return _pairs_from_band_hashes(banded)


def ngram_jaccard_pairs(
    shingle_df: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs:
    (doc_a, doc_b, n_inter, n_union, jaccard).

    Without an explicit candidate set, blocks on the lexicographic
    *minimum shingle* per doc (MinHash with the identity permutation,
    k=1) — a deterministic, engine-portable blocker.
    """
    counts = shingle_df.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if candidates is None:
        min_sh = shingle_df.groupBy("doc_id").agg(F.min("shingle").alias("msh"))
        a = min_sh.select(F.col("doc_id").alias("doc_a"), "msh")
        b = min_sh.select(F.col("doc_id").alias("doc_b"), "msh")
        candidates = (
            a.join(b, "msh").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
        )
    sa = shingle_df.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    sb = shingle_df.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("sh_b"))
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash (fully native — no UDF)
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """60-bit SimHash per doc: (doc_id, simhash).

    Token multiset → per-token 60-bit hash → for every bit position,
    sum(+1 if set else −1) weighted by token count → sign vector →
    integer. Entirely conditional aggregation: one explode + one
    groupBy, no Python.
    """
    from dataframeutils_spark.operators.text import _ws_split

    toks = spread(docs, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(_ws_split(F.col(text_col))).alias("tok"),
    ).filter(F.length("tok") > 0)
    counted = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("w"))
    hashed = counted.select("doc_id", "w", portable_hash60(F.col("tok")).alias("h"))
    # One parsed F.expr per aggregate / one for the bit recombination
    # instead of ~1100 py4j Column calls: the strings parse to the
    # identical Catalyst tree (optimized-plan sameResult pinned in
    # tests/test_northstar.py), and plan CONSTRUCTION drops ~1.5 s per
    # invocation — a per-query driver cost the bench pays at any scale
    # (r14 §fixed-tail).
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN w ELSE -w END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*bit_sums)
    chain = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return agg.select("doc_id", F.expr(chain).alias("simhash"))


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3, bands: int = 4, bits: int = 60) -> DataFrame:
    """Hamming-distance ≤ max_hamming pairs via band blocking: split the
    hash into ``bands`` segments; any pair within distance
    ``bands - 1`` shares at least one exact segment (pigeonhole).
    Output (doc_a, doc_b, hamming)."""
    seg = bits // bands
    mask = (1 << seg) - 1
    segs = sim_df.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), i * seg).bitwiseAND(F.lit(mask)).alias("seg"),
                )
                for i in range(bands)
            ])
        ).alias("bs"),
    ).select("doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.seg").alias("seg"))
    # self-join, not collect-and-explode — see lsh_candidate_pairs
    a = segs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "seg")
    b = segs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "seg")
    pairs = (
        a.join(b, ["band", "seg"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def shared_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Cross-document exact long-span sharing: per doc — (doc_id,
    n_spans, n_shared_spans, max_span_df).

    The substring-level dedup signal (cf. Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): a length-``n`` token
    span appearing in more than one document marks boilerplate /
    copied passages that document-level dedup misses. ``span_df`` =
    number of docs containing the span; ``n_shared_spans`` counts a
    doc's spans with df > 1.

    Scale shape: spans are hashed SCAN-SIDE and only the 8-byte hash
    shuffles (never span text — at n=8 a span is ~50 bytes, so this is
    a 6× shuffle reduction and removes the hot-string skew surface);
    then one groupBy(hash) + one join-back + one groupBy(doc). 60-bit
    hash collisions are negligible and — being the portable hash —
    IDENTICAL in both engines, so the query stays exactly
    oracle-checkable. Docs shorter than ``n`` tokens contribute no
    spans and are absent from the output (they cannot share one).
    """
    sh = shingles(docs, text_col=text_col, id_col=id_col, n=n)
    hashed = sh.select("doc_id", portable_hash60(F.col("shingle")).alias("span_h"))
    span_df = hashed.groupBy("span_h").agg(F.count("*").alias("df"))
    return (
        hashed.join(span_df, "span_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_shared_spans"),
            F.max("df").alias("max_span_df"),
        )
    )


def shared_span_stats_sql(table: str = "documents", n: int = 8) -> str:
    return f"""
WITH {_shingle_cte(table, n)}, h AS (
  SELECT doc_id, {portable_hash60_sql("shingle")} AS span_h FROM sh
), c AS (
  SELECT span_h, count(*) AS df FROM h GROUP BY span_h
)
SELECT h.doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN c.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
       max(c.df) AS max_span_df
FROM h JOIN c USING (span_h)
GROUP BY h.doc_id
"""


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------


def _cc_numpy(a, b):
    """Exact union-find over numpy id arrays; returns (nodes, labels)
    with labels[i] = min id in node i's component. Hook-to-min over all
    edges (segment minima via one sort + reduceat), then full
    pointer-doubling path compression, repeated to fixed point — every
    step vectorized, O(E log E) total. Works for int64 and ASCII string
    arrays alike (np.unique sorts both; index order == id order, so the
    min index is the min id — lexicographic for strings, matching the
    distributed path's F.min semantics)."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a) :]
    parent = np.arange(len(nodes))
    while True:
        pa, pb = parent[ai], parent[bi]
        hi = np.maximum(pa, pb)
        lo = np.minimum(pa, pb)
        upd = parent.copy()
        order = np.argsort(hi, kind="stable")
        hs, ls = hi[order], lo[order]
        starts = np.flatnonzero(np.r_[True, hs[1:] != hs[:-1]])
        # one min per distinct hi node; keys are unique so the
        # unbuffered minimum.at degenerates to a cheap gather-compare
        np.minimum.at(upd, hs[starts], np.minimum.reduceat(ls, starts))
        while True:
            nxt = upd[upd]
            if np.array_equal(nxt, upd):
                break
            upd = nxt
        if np.array_equal(upd, parent):
            break
        parent = upd
    return nodes, nodes[parent]


def _connected_components_local(pairs: DataFrame, numeric_ids: bool) -> DataFrame:
    """Driver-local exact component solve for a bounded, already
    materialized (src, dst) pair table — see
    :func:`connected_components` for when this engages. Collect via
    Arrow (zero row-by-row pickling either direction)."""
    import pandas as pd

    spark = pairs.sparkSession
    tbl = pairs.toArrow()
    if numeric_ids:
        a = tbl.column("src").to_numpy(zero_copy_only=False)
        b = tbl.column("dst").to_numpy(zero_copy_only=False)
        schema = "doc_id bigint, cluster_id bigint"
    else:
        a = tbl.column("src").to_pandas().to_numpy()
        b = tbl.column("dst").to_pandas().to_numpy()
        schema = "doc_id string, cluster_id string"
    if len(a) == 0:
        return spark.createDataFrame([], schema=schema)
    nodes, labels = _cc_numpy(a, b)
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "cluster_id": labels}), schema=schema
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    numeric_ids: bool = True,
    local_edge_threshold: int = 4_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list:
    (doc_id, cluster_id) with cluster_id = min node id in the component.

    Min-label propagation WITH adaptive pointer doubling (hash-to-min
    family; cf. Rastogi et al., "Finding Connected Components in
    Map-Reduce in Logarithmic Rounds"): labels START at
    min(self, neighbors) — the result of the first propagation round,
    fused into the initialization as a single aggregation over the edge
    table — then each loop round takes the min of (its label, its
    neighbors' labels) and — from loop round 3 — the label of its
    label. The neighbor step moves one hop; the label-of-label jump
    doubles the closed distance, so an adversarial diameter-D chain
    converges in O(log D) rounds instead of O(D) — with ``max_iter=25``
    that covers diameters beyond 2^22, unreachable for any physical
    graph. The jump engages late because near-dup graphs (tiny cliques,
    diameter 1-2) converge before then — the common case pays the fused
    init plus ONE verification round (one join + one groupBy over the
    EDGE table, never the corpus); only genuinely deep graphs add the
    label self-join.

    Per-round ``localCheckpoint`` truncates the lineage (chained
    shuffles would otherwise re-execute from the scan on every action)
    and the convergence check is a metadata-cheap aggregate, not a
    collect.

    Scale-adaptive small-graph path: the candidate-pair table is
    materialized once (the upstream pair pipeline is paid exactly once
    either way) and counted. When it is below
    ``local_edge_threshold`` edges (default 4M ≈ 64 MB of long pairs —
    the same bounded-collect discipline as a broadcast-join decision;
    0 disables the local path), the components are solved exactly on
    the driver with a vectorized numpy union-find (hook-to-min +
    pointer-doubling compression)
    instead of running O(log D) distributed rounds whose per-round
    scheduling overhead dwarfs the data at that size (measured: 12
    rounds over a 376-node winnow graph ≈ 5 s of fixed cost; the local
    solve is < 50 ms). Labels are identical — min node id per
    component — and above the threshold the distributed loop runs
    unchanged, so the operator's 100 TB shape is untouched.

    ``max_iter`` contract below the threshold: the local solve always
    runs to the exact fixed point, so a ``max_iter`` too small for the
    graph's diameter raises only on the distributed path (which fails
    loud rather than return split clusters). A converged result is
    identical either way; the local path simply cannot produce the
    unconverged-failure case. Set ``local_edge_threshold=0`` to
    exercise the distributed ``max_iter`` guard.
    """
    if max_iter < 1:
        # max_iter=0 would silently return the fused-init labels
        # unverified — fail loud at the boundary
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # min-label propagation is order-generic: numeric ids keep the
    # historical long cast (8-byte shuffle keys); string ids (e.g. the
    # linkage module's 'L:<id>'/'R:<id>' nodes) propagate by
    # lexicographic min, identical in Spark and DuckDB for ASCII.
    src, dst = F.col(src_col), F.col(dst_col)
    if numeric_ids:
        src, dst = src.cast("long"), dst.cast("long")
    pairs, local = route_local(
        edges.select(src.alias("src"), dst.alias("dst")), local_edge_threshold
    )
    if local:
        return _connected_components_local(pairs, numeric_ids=numeric_ids)
    sym = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()  # symmetrize from materialized blocks (no recompute)
    # Fused round 0: identity labels after one neighbor-min round are
    # exactly min(self, neighbors), computable as ONE aggregation over
    # the symmetric edge table — replacing distinct + identity init +
    # a full join/groupBy/checkpoint/probe cycle. Tiny duplicate
    # cliques (diameter 1, the common case) are already converged
    # here, so they pay a single verification round below; at scale
    # this removes one whole shuffle round over the edge table.
    labels = (
        sym.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("nbr_min"))
        .select(
            "node",
            F.least(F.col("node"), F.col("nbr_min")).alias("label"),
        )
    )
    changed = 0
    for round_idx in range(max_iter):
        # candidate label per node = min over incoming neighbor labels
        nbr = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stage = labels.join(nbr, labels["node"] == nbr["node2"], "left").select(
            "node",
            "label",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("mid_label"),
        )
        if round_idx >= 2:
            # pointer doubling: jump to the PREVIOUS round's label of my
            # new label (labels is already checkpointed, so this
            # self-join costs one hash join, no recompute). If the
            # neighbor step closes distance d, the jump closes 2d+1 —
            # exponential convergence. Engaged only from loop round 3
            # (the 4th propagation round counting the fused init):
            # near-dup graphs (tiny cliques, diameter 1-2) converge
            # before then and never pay the extra join; anything still
            # unconverged has real depth and needs the O(log D) ramp.
            ptr = labels.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            stage = stage.join(ptr, stage["mid_label"] == ptr["p_node"], "left").select(
                "node",
                "label",
                F.least(
                    F.col("mid_label"),
                    F.coalesce(F.col("p_label"), F.col("mid_label")),
                ).alias("mid_label"),
            )
        # eager checkpoint: one materialization per round feeds both the
        # convergence probe and the next round's labels
        merged = stage.select(
            "node", "label", F.col("mid_label").alias("new_label")
        ).localCheckpoint()
        # probe every round (the fused init above may already have
        # converged diameter-1 graphs before the loop starts)
        changed = merged.filter(F.col("label") != F.col("new_label")).limit(1).count()
        labels = merged.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if changed != 0:
        # One hop per round means a component with diameter > max_iter
        # would silently come back SPLIT into several cluster_ids —
        # multiple "canonical" survivors inside one true duplicate
        # cluster. Fail loud instead of returning wrong labels.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(covers component diameters up to ~2^{max_iter - 1} under "
            "pointer doubling). Returning would silently split one true "
            "cluster into several cluster_ids; raise max_iter instead."
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def duplicate_components(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The shared near-duplicate label table (doc_id, cluster_id):
    MinHash-LSH candidate pairs → connected components, min-id label.
    ONE definition of the duplicate graph, consumed by
    :func:`dedup_clusters` (which decorates it with sizes/canonical
    flags) and by leakage-safe splitting (which keys on cluster_id
    alone) — a change to pair generation propagates to every consumer
    instead of silently diverging."""
    sh = shingles(docs, text_col=text_col, id_col=id_col, n=n)
    pairs = minhash_lsh_pairs(sh, num_perm=num_perm, bands=bands)
    return connected_components(pairs)


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate cluster resolution — the step a real dedup
    pipeline needs *after* pair generation: which doc survives.

    MinHash-LSH candidate pairs (:func:`lsh_candidate_pairs`) are the
    edges; connected components resolve transitive duplicate groups
    (A~B, B~C ⇒ {A,B,C} one cluster, even if A,C never collided);
    output one row per clustered doc:
    (doc_id, cluster_id, cluster_size, is_canonical) — canonical = the
    min doc_id, the standard keep-first policy. Singletons (docs with no
    duplicate) are excluded: at 100 TB the interesting set is the
    duplicates (a few % of the corpus), and emitting the ~100 % of
    singleton docs would dwarf it.
    """
    comp = duplicate_components(
        docs, text_col=text_col, id_col=id_col, n=n,
        num_perm=num_perm, bands=bands,
    )
    size = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(size, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# embedding near-duplicates
# ---------------------------------------------------------------------------


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold: (vec_a, vec_b, cos_sim).

    Brute-force formulation (the correctness baseline): normalize once,
    self-join, fold the dot product with ``zip_with``+``aggregate`` —
    JVM-side higher-order functions, no Python. For 100 TB use the
    LSH-bucketed variant in
    :mod:`dataframeutils_spark.operators.similarity` (``ann_topk`` with
    a similarity filter) — this one is O(n²) by design for exactness at
    oracle scale, so ``max_rows`` refuses inputs where the crossJoin
    would be a scale-killer (``None`` bypasses the guard and its
    ``count()`` job).
    """
    if max_rows is not None:
        # bounded probe: cost O(max_rows) regardless of input size (a
        # full count() here would itself be a whole-input job at call
        # time, even when the caller never acts on the result)
        if embeddings.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"embedding_dup_pairs input exceeds max_rows={max_rows}; "
                "this is the O(n²) exact "
                "baseline — use the LSH path in operators.similarity for "
                "large corpora, or pass max_rows=None to force."
            )
    from dataframeutils_spark.operators.similarity import _dot, _norm

    e = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"), _norm(F.col(vec_col)).alias("nrm")
    ).filter(F.col("nrm") > 0)
    a = e.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    dot = _dot(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (dot / (F.col("na") * F.col("nb"))).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_dup_clusters(
    embeddings: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Transitive cluster resolution over embedding-cosine near-dup
    pairs: (vec_id, cluster_id, cluster_size, is_canonical) — the
    semantic-duplicate analogue of :func:`dedup_clusters` (A≈B, B≈C ⇒
    one cluster even if A,C never pair directly; canonical = min id).

    Edges here come from the guarded all-pairs exactness baseline
    (:func:`embedding_dup_pairs`), which keeps the query fully
    oracle-checkable; at 100 TB feed the SAME connected-components
    resolver with ANN/IVF-blocked pairs instead (operators.similarity)
    — the cluster step is identical either way and only ever shuffles
    the edge table.
    """
    pairs = embedding_dup_pairs(
        embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col, max_rows=max_rows
    )
    comp = connected_components(pairs, src_col="vec_a", dst_col="vec_b")
    size = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(size, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def embedding_dup_clusters_sql(table: str = "embeddings", threshold: float = 0.45) -> str:
    """Recursive-CTE closure over the embedding near-dup pairs — same
    shape as :func:`dedup_clusters_sql`."""
    return f"""
WITH RECURSIVE pairs AS ({embedding_dup_sql(table, threshold)}),
sym AS (
  SELECT vec_a AS s, vec_b AS d FROM pairs
  UNION SELECT vec_b, vec_a FROM pairs
),
reach(v, r) AS (
  SELECT s, s FROM sym
  UNION
  SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.v
),
lab AS (
  SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY v
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM lab
"""


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders (portable-hash pipelines only)
# ---------------------------------------------------------------------------

# Token/shingle fragments shared by the oracles. Must mirror the Spark
# expressions exactly: split is REGEX '\s+' with empties kept (Spark
# F.split semantics), shingles distinct per doc, n-gram guard for short
# docs.


def _shingle_cte(table: str = "documents", n: int = 3) -> str:
    from dataframeutils_spark.operators.text import _ws_split_sql

    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
tok AS (
  SELECT doc_id, {_ws_split_sql("text")} AS toks FROM {table}
), sh AS (
  SELECT DISTINCT doc_id, g AS shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= {n}
                       THEN list_transform(range(1, len(toks) - {n} + 2), i -> {gram})
                       ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM tok)
)"""


def exact_dedup_sql(table: str = "documents") -> str:
    return f"""
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM {table} GROUP BY md5(text)
"""


def minhash_lsh_sql(table: str = "documents", n: int = 3, num_perm: int = 16, bands: int = 4) -> str:
    r = num_perm // bands
    h = portable_hash60_sql("(p.perm::VARCHAR || ':' || shingle)")
    return f"""
WITH {_shingle_cte(table, n)}, mh AS (
  SELECT doc_id, p.perm, min({h}) AS min_hash
  FROM sh, range(0, {num_perm}) p(perm)
  GROUP BY doc_id, p.perm
), banded AS (
  SELECT doc_id, perm // {r} AS band,
         md5(list_aggregate(list_transform(list_sort(list(min_hash)), x -> x::VARCHAR), 'string_agg', '_')) AS bh
  FROM mh GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def dedup_clusters_sql(
    table: str = "documents", n: int = 3, num_perm: int = 16, bands: int = 4
) -> str:
    """DuckDB oracle for :func:`dedup_clusters`: transitive closure of
    the LSH pair graph via a recursive CTE (set-semantics UNION
    terminates it), cluster id = min reachable node. Closure is O(V·E)
    — fine at oracle scale, exactly what the distributed min-label
    propagation avoids at 100 TB."""
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
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM lab
"""


def ngram_jaccard_sql(table: str = "documents", n: int = 3, threshold: float = 0.0) -> str:
    return f"""
WITH {_shingle_cte(table, n)}, counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), min_sh AS (
  SELECT doc_id, min(shingle) AS msh FROM sh GROUP BY doc_id
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM min_sh a JOIN min_sh b ON a.msh = b.msh AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter,
       ca.n_sh + cb.n_sh - i.n_inter AS n_union,
       i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter)::DOUBLE AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.doc_a
JOIN counts cb ON cb.doc_id = i.doc_b
WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter)::DOUBLE >= {threshold}
"""


def simhash_sql(table: str = "documents", bits: int = 60) -> str:
    from dataframeutils_spark.operators.text import _ws_split_sql

    h = portable_hash60_sql("tok")
    return f"""
WITH toks AS (
  SELECT doc_id, t AS tok FROM (
    SELECT doc_id, unnest({_ws_split_sql("text")}) AS t FROM {table})
  WHERE length(t) > 0
), counted AS (
  SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY doc_id, tok
), hashed AS (
  SELECT doc_id, w, {h} AS h FROM counted
), bitsum AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN w ELSE -w END) AS s
  FROM hashed, range(0, {bits}) b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN pow(2.0, i)::BIGINT ELSE 0 END)::BIGINT AS simhash
FROM bitsum GROUP BY doc_id
"""


def simhash_near_sql(table: str = "documents", max_hamming: int = 3, bands: int = 4, bits: int = 60) -> str:
    seg = bits // bands
    mask = (1 << seg) - 1
    return f"""
WITH sims AS ({simhash_sql(table, bits)}), segs AS (
  SELECT doc_id, simhash, b.band, (simhash >> (b.band * {seg})) & {mask} AS seg
  FROM sims, range(0, {bands}) b(band)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM segs a JOIN segs b ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def embedding_dup_sql(table: str = "embeddings", threshold: float = 0.45) -> str:
    from dataframeutils_spark.operators.similarity import _dot_sql, _norm_sql

    dot = _dot_sql("a.embedding", "b.embedding")
    na, nb = _norm_sql("a.embedding"), _norm_sql("b.embedding")
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {dot} / ({na} * {nb}) AS cos_sim
FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
WHERE {na} > 0 AND {nb} > 0
  AND {dot} / ({na} * {nb}) >= {threshold}
"""

# ---------------------------------------------------------------------------
# incremental dedup (new batch vs corpus snapshot)
# ---------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "h",
) -> DataFrame:
    """Classify every NEW-batch doc against an existing corpus snapshot:
    (doc_id, status) with status ∈ {'dup_of_corpus', 'dup_in_batch',
    'new'} — the operator an ongoing ingestion pipeline runs on each
    crawl without rescanning the corpus.

    No counterpart in the reference (eager single-frame library,
    SURVEY §2.3) — north-star dedup surface.

    ``corpus_hashes`` is the maintained signature store: ONE column of
    content hashes (8-byte longs), not text. At 100 TB the corpus text
    is never read again — each ingest appends the surviving batch's
    hashes to the store, so cost is O(|batch| + |store|) hash-only
    shuffle, not O(|corpus text|).

    Plan: batch is hashed scan-side; the left join against the distinct
    store and the first-occurrence window both partition by the SAME
    8-byte key, so Spark plans one exchange for the batch side
    (ReuseExchange/AQE) and the text never shuffles. 'dup_in_batch'
    keeps min-doc_id-first semantics consistent with exact_dedup.
    """
    b = batch.select(
        F.col(id_col).alias("doc_id"), portable_hash60(F.col(text_col)).alias("h")
    )
    store = corpus_hashes.select(F.col(hash_col).alias("h")).distinct()
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(F.col("doc_id").asc())
    )
    joined = b.join(store.withColumn("in_corpus", F.lit(True)), "h", "left")
    return joined.select(
        "doc_id",
        F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
        .when(rn == 1, F.lit("new"))
        .otherwise(F.lit("dup_in_batch"))
        .alias("status"),
    )


def snapshot_split(
    docs: DataFrame, id_col: str = "doc_id", salt: str = "snap"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (corpus, batch) halves of one documents table —
    the driver-testable stand-in for 'yesterday's corpus, today's
    crawl'. Hash-parity on the id, same stability contract as
    operators.sampling (order/partition independent, engine portable).
    """
    side = F.pmod(
        portable_hash60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), F.lit(2)
    )
    return docs.filter(side == 0), docs.filter(side == 1)


def incremental_dedup_sql(
    table: str = "documents", salt: str = "snap"
) -> str:
    """DuckDB oracle for :func:`incremental_dedup` over the
    :func:`snapshot_split` halves of ``table``."""
    side = portable_hash60_sql(f"('{salt}:' || doc_id::VARCHAR)")
    h = portable_hash60_sql("text")
    return f"""
WITH d AS (
  SELECT doc_id, {h} AS h, {side} % 2 AS side FROM {table}
),
corpus AS (SELECT DISTINCT h FROM d WHERE side = 0),
batch AS (
  SELECT doc_id, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM d WHERE side = 1
)
SELECT b.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.rn = 1 THEN 'new'
            ELSE 'dup_in_batch' END AS status
FROM batch b LEFT JOIN corpus c ON b.h = c.h
"""


# ---------------------------------------------------------------------------
# keep-best cluster resolution
# ---------------------------------------------------------------------------


def keep_best_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """:func:`dedup_clusters` with a QUALITY keep policy: within each
    transitive near-dup cluster keep the doc maximizing ``quality_col``
    (tiebreak min doc_id) instead of blindly keeping the min id — the
    policy real corpora want ('keep the most complete copy', or swap in
    an lm_quality score for 'keep the cleanest').

    Output: (doc_id, cluster_id, cluster_size, quality, keep).

    Scale: the cluster table is a few % of the corpus (duplicates
    only), so the quality join is a broadcast of clusters against the
    docs scan — no extra full shuffle; the keep decision is one window
    over clusters partitioned by cluster_id (already the join output's
    key).
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(
        docs, text_col=text_col, id_col=id_col, n=n, num_perm=num_perm,
        bands=bands,
    ).drop("is_canonical")
    quality = docs.select(
        F.col(id_col).alias("doc_id"), F.col(quality_col).alias("quality")
    )
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("quality").desc(), F.col("doc_id").asc()
        )
    )
    return (
        clusters.join(quality, "doc_id")
        .select("doc_id", "cluster_id", "cluster_size", "quality", (rn == 1).alias("keep"))
    )


def keep_best_clusters_sql(
    table: str = "documents",
    quality_col: str = "n_chars",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> str:
    """Recursive-CTE closure (as :func:`dedup_clusters_sql`) + quality
    argmax window."""
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
sized AS (
  SELECT doc_id, cluster_id,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM lab
)
SELECT s.doc_id, s.cluster_id, s.cluster_size,
       t.{quality_col} AS quality,
       row_number() OVER (PARTITION BY s.cluster_id
                          ORDER BY t.{quality_col} DESC, s.doc_id ASC) = 1 AS keep
FROM sized s JOIN {table} t ON s.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# LSH tuning audit: empirical detection rate vs the analytic S-curve
# ---------------------------------------------------------------------------


def lsh_tuning_audit(
    docs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    n: int = 3,
    n_buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Band-parameter tuning audit: per true-Jaccard decile —
    (bucket, n_pairs, n_detected, detect_rate, expected).

    HOW an (r, b) banding choice gets validated before a 100 TB dedup
    run: MinHash theory says a pair with Jaccard s survives banding
    with probability 1-(1-s^r)^b (the S-curve; Broder's MinHash +
    the standard LSH banding analysis). This audit computes every
    pair's TRUE shingle Jaccard, marks whether the production
    ``lsh_candidate_pairs`` banding actually emitted it, and compares
    the per-decile empirical detection rate against the analytic
    expectation averaged over the same pairs — a miscalibrated band
    count shows up as expected≫observed in the decile where the dedup
    threshold lives.

    Pair universe = pairs sharing ≥1 shingle (Jaccard > 0); a banded
    candidate requires a shared band minimum, hence (up to portable-
    hash collisions, identical in both engines) a shared shingle — so
    the universe contains every detectable pair and the audit is
    exactly oracle-checkable. Scale note: the shingle self-join is
    Σ df² over shingle frequencies — this is an AUDIT to run on a
    hash-sample (:func:`dataframeutils_spark.operators.sampling.hash_sample`)
    of the corpus, not the full 100 TB; the sample's S-curve is the
    corpus's.
    """
    r = num_perm // bands
    sh = shingles(docs, text_col=text_col, id_col=id_col, n=n)
    hashed = sh.select("doc_id", portable_hash60(F.col("shingle")).alias("sh_h"))
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = hashed.select(F.col("doc_id").alias("doc_a"), "sh_h")
    b = hashed.select(F.col("doc_id").alias("doc_b"), "sh_h")
    inter = (
        a.join(b, "sh_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jacc = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jacc",
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        )
    )
    cand = minhash_lsh_pairs(sh, num_perm=num_perm, bands=bands).withColumn(
        "_det", F.lit(1)
    )
    j = jacc.join(cand, ["doc_a", "doc_b"], "left").withColumn(
        "detected", F.col("_det").isNotNull()
    )
    expected = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("jacc"), F.lit(float(r))), F.lit(float(bands))
    )
    bucket = F.least(
        F.floor(F.col("jacc") * n_buckets), F.lit(n_buckets - 1)
    ).cast("int")
    return (
        j.select(bucket.alias("bucket"), "detected", expected.alias("exp"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("detected").cast("long")).alias("n_detected"),
            F.avg(F.col("detected").cast("double")).alias("detect_rate"),
            F.avg("exp").alias("expected"),
        )
    )


def lsh_tuning_audit_sql(
    table: str = "documents",
    num_perm: int = 16,
    bands: int = 4,
    n: int = 3,
    n_buckets: int = 10,
) -> str:
    r = num_perm // bands
    h = portable_hash60_sql("shingle")
    return f"""
WITH {_shingle_cte(table, n)}, hsh AS (
  SELECT doc_id, {h} AS sh_h FROM sh
), sz AS (
  SELECT doc_id, count(*) AS sz FROM hsh GROUP BY doc_id
), it AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM hsh a JOIN hsh b ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jc AS (
  SELECT doc_a, doc_b,
         n_inter / (sa.sz + sb.sz - n_inter)::DOUBLE AS jacc
  FROM it
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
), cand AS (
  SELECT * FROM ({minhash_lsh_sql(table, n, num_perm, bands)})
), flagged AS (
  SELECT LEAST(CAST(floor(jacc * {n_buckets}) AS INTEGER), {n_buckets - 1})
           AS bucket,
         CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS det,
         1.0 - power(1.0 - power(jacc, {float(r)}), {float(bands)}) AS exp
  FROM jc LEFT JOIN cand c USING (doc_a, doc_b)
)
SELECT bucket, count(*) AS n_pairs,
       CAST(sum(det) AS BIGINT) AS n_detected,
       avg(det::DOUBLE) AS detect_rate,
       avg(exp) AS expected
FROM flagged GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (the embedding-dedup scale path)
# ---------------------------------------------------------------------------


def semdedup_prune(
    embeddings: DataFrame,
    n_clusters: int | None = None,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    whose quadratic is bounded by CLUSTER size, never corpus size.

    1. Assign every embedding to its nearest coarse centroid (the same
       hash-derived, oracle-checkable quantizer as ``ivf_topk``;
       ``n_clusters=None`` auto-sizes C = max(4, ceil(sqrt(N))) so
       cluster population ~ sqrt(N) keeps the within-cluster pairwise
       step at ~N total pair work).
    2. Within each cluster, pairs with cosine >= ``threshold`` are
       near-duplicates; following the paper we KEEP the member with
       the LOWEST similarity to its centroid (it carries the most
       non-redundant signal) — deterministically: a prunes b iff
       sim(a,b) >= t AND (cent_sim(a), id(a)) < (cent_sim(b), id(b))
       on siground-rounded similarities (round-before-compare, the
       engine's cross-engine ordering contract).

    Output: (vec_id, centroid, cent_sim, kept) for every input vector
    with a non-NULL, nonzero-norm embedding; the others have no
    direction to cluster by and are dropped, in both engines.

    Scale: assignment is a broadcast nested-loop over <= C centroid
    rows (scan-side, no shuffle of the corpus); the only exchange of
    vectors is the equi-join on ``centroid`` — exactly the co-location
    the published algorithm requires — and each task's pairwise work
    is quadratic only in its cluster's population. Unlike
    :func:`embedding_dup_pairs` (the O(n^2) exactness baseline) there
    is no crossJoin anywhere.
    """
    from dataframeutils_spark.operators.similarity import _dot, _hash_quantizer, _norm
    from dataframeutils_spark.schema import siground

    cents = _hash_quantizer(embeddings, n_clusters, dim, vec_col)
    e = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nv"),
    ).filter(F.col("nv") > 0)
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vid", "v", "nv", "centroid",
        (_dot(F.col("v"), F.col("u")) / (F.col("nrm") * F.col("nv"))).alias("cs"),
    )
    # argmax(cs, tiebreak min centroid) as a map-side-combined max(struct):
    # the N×C scored rows stay inside their scan task and the exchange
    # carries ONE partial row per vector — a window over vid here would
    # shuffle all N×C rows with their vector payloads (the flat-IVF
    # pathology README "Scale lessons" measured and killed)
    best = F.max(F.struct(F.col("cs"), (-F.col("centroid")).alias("negc")))
    assigned = (
        scored.groupBy("vid")
        .agg(best.alias("best"), F.first("v").alias("v"), F.first("nv").alias("nv"))
        .select(
            "vid", "v", "nv",
            (-F.col("best.negc")).cast("int").alias("centroid"),
            siground(F.col("best.cs")).alias("cent_sim"),
        )
    )
    # Measured dead end (recorded so it isn't retried): the three
    # consumers below (pair sides a and b + the final projection) each
    # recompute the N×C assignment because the column renames defeat
    # ReuseExchange. localCheckpoint-ing `assigned` to share one
    # computation measured 43.7 s vs 7.5 s at the 100× stress — the
    # materialization+rescan beats codegen-pipelined recompute only at
    # far larger C·dim, so the recompute stays.
    a = assigned.select(
        F.col("vid").alias("a_vid"), F.col("v").alias("a_v"), F.col("nv").alias("a_nv"),
        "centroid", F.col("cent_sim").alias("a_cent"),
    )
    b = assigned.select(
        F.col("vid").alias("b_vid"), F.col("v").alias("b_v"), F.col("nv").alias("b_nv"),
        "centroid", F.col("cent_sim").alias("b_cent"),
    )
    pair_sim = siground(
        _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_nv") * F.col("b_nv"))
    )
    dominates = (F.col("a_cent") < F.col("b_cent")) | (
        (F.col("a_cent") == F.col("b_cent")) & (F.col("a_vid") < F.col("b_vid"))
    )
    pruned = (
        a.join(b, "centroid")
        .filter(F.col("a_vid") != F.col("b_vid"))
        .filter(dominates)
        .filter(pair_sim >= F.lit(threshold))
        .select(F.col("b_vid").alias("vid"))
        .distinct()
        .withColumn("is_pruned", F.lit(True))
    )
    return (
        assigned.join(pruned, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            "centroid",
            "cent_sim",
            (~F.coalesce("is_pruned", F.lit(False))).alias("kept"),
        )
    )


def semdedup_prune_sql(
    n_clusters: int | None = None,
    threshold: float = 0.45,
    table: str = "embeddings",
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`semdedup_prune` — identical hash-derived
    centroids, sequential list_reduce folds (bit-identical to Spark's
    aggregate), siground rounding BEFORE every comparison."""
    from dataframeutils_spark.operators.similarity import _centroids_sql, _dot_sql, _norm_sql
    from dataframeutils_spark.schema import siground_sql

    cdot = _dot_sql("e.embedding", "c.u", dim)
    pdot = _dot_sql("a.v", "b.v", dim)
    return f"""
WITH {_centroids_sql(table, dim, n_clusters)}, ev AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nv FROM {table}
), sc AS (
  SELECT e.vec_id, e.embedding, e.nv, c.centroid,
         {cdot} / (c.nrm * e.nv) AS cs
  FROM (SELECT * FROM ev WHERE nv > 0) e, cn c
), ranked AS (
  SELECT vec_id, embedding, nv, centroid, cs,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid) AS r
  FROM sc
), assigned AS (
  SELECT vec_id AS vid, embedding AS v, nv, centroid,
         {siground_sql('cs')} AS cent_sim
  FROM ranked WHERE r = 1
), pruned AS (
  SELECT DISTINCT b.vid
  FROM assigned a JOIN assigned b USING (centroid)
  WHERE a.vid <> b.vid
    AND (a.cent_sim < b.cent_sim OR (a.cent_sim = b.cent_sim AND a.vid < b.vid))
    AND {siground_sql(f'({pdot} / (a.nv * b.nv))')} >= {threshold}
)
SELECT s.vid AS vec_id, s.centroid, s.cent_sim,
       (p.vid IS NULL) AS kept
FROM assigned s LEFT JOIN pruned p ON p.vid = s.vid
"""


# ---------------------------------------------------------------------------
# fuzzy term matching: SymSpell deletion-neighborhood blocked edit distance
# ---------------------------------------------------------------------------


def _deletion_keys(term: Column) -> Column:
    """The term plus every single-character deletion of it — the
    SymSpell blocking set (Garbe): two terms with Levenshtein ≤ 1
    ALWAYS share at least one entry (substitution → both delete that
    position; insert/delete → the shorter string IS a deletion of the
    longer), so the block join has perfect recall at distance 1 — a
    guarantee length-band/prefix heuristics cannot give."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(term)),
        lambda i: F.concat(
            term.substr(F.lit(1), i - 1),
            term.substr(i + 1, F.length(term)),
        ),
    )
    return F.array_union(F.array(term), dels)


def fuzzy_term_pairs(
    docs: DataFrame,
    min_len: int = 4,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Spell-variant candidate pairs over the corpus vocabulary:
    (term_a, term_b, dist, n_a, n_b) for every distinct token pair at
    Levenshtein distance ≤ 1 — the fuzzy-dedup / spell-normalization
    primitive (suggesting the higher-frequency side as canonical).

    Scale: the quadratic is avoided by exact SymSpell blocking — each
    VOCABULARY term (already collapsed from the corpus by one count
    aggregate; min_len/min_count prune it) explodes into ≤ len+1
    deletion keys, hashed to 8 bytes so the block join shuffles ints,
    never strings times keys. Pairs sharing several keys are deduped
    BEFORE the Levenshtein verify, and the verify itself is a native
    JVM function on the bounded candidate set. No all-pairs anywhere.
    """
    from dataframeutils_spark.operators.text import _terms

    vocab = (
        docs.select(F.explode(_terms(text_col)).alias("term"))
        .filter(F.length("term") >= min_len)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    keyed = vocab.select(
        "term",
        "n",
        F.explode(_deletion_keys(F.col("term"))).alias("variant"),
    ).select("term", "n", portable_hash60(F.col("variant")).alias("k"))
    a = keyed.select(
        F.col("k"), F.col("term").alias("term_a"), F.col("n").alias("n_a")
    )
    b = keyed.select(
        F.col("k"), F.col("term").alias("term_b"), F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "k")
        .filter(F.col("term_a") < F.col("term_b"))
        .select("term_a", "term_b", "n_a", "n_b")
        .distinct()
    )
    return cand.select(
        "term_a",
        "term_b",
        F.levenshtein("term_a", "term_b").alias("dist"),
        "n_a",
        "n_b",
    ).filter(F.col("dist") <= 1)


def fuzzy_term_lookup(
    probes: DataFrame,
    vocab: DataFrame,
    probe_col: str = "probe",
    term_col: str = "term",
) -> DataFrame:
    """Spell-correction lookup: match every probe string against a
    vocabulary at Levenshtein ≤ 1 via the same SymSpell deletion-key
    blocking as :func:`fuzzy_term_pairs` (perfect recall at distance
    1). Output: (probe, term, dist) — one row per match.

    Scale: both sides explode ≤ len+1 deletion keys hashed to 8 bytes;
    the candidate join shuffles ints, candidates dedupe before the
    native Levenshtein verify. A dictionary-sized vocab side can be
    broadcast by the optimizer; nothing is ever all-pairs."""
    p = (
        probes.select(F.col(probe_col).alias("probe"))
        .select("probe", F.explode(_deletion_keys(F.col("probe"))).alias("variant"))
        .select("probe", portable_hash60(F.col("variant")).alias("k"))
    )
    v = (
        vocab.select(F.col(term_col).alias("term"))
        .select("term", F.explode(_deletion_keys(F.col("term"))).alias("variant"))
        .select("term", portable_hash60(F.col("variant")).alias("k"))
    )
    cand = p.join(v, "k").select("probe", "term").distinct()
    return cand.select(
        "probe", "term", F.levenshtein("probe", "term").alias("dist")
    ).filter(F.col("dist") <= 1)


def fuzzy_term_lookup_sql(probes_sql: str, vocab_sql: str) -> str:
    """DuckDB oracle for :func:`fuzzy_term_lookup`; subqueries yield a
    ``probe`` / ``term`` column respectively."""
    dels = (
        "list_append(list_transform(range(1, length({t}) + 1), "
        "i -> substr({t}, 1, i - 1) || substr({t}, i + 1)), {t})"
    )
    return f"""
WITH probes AS ({probes_sql}), vocab AS ({vocab_sql}),
pk AS (SELECT probe, unnest({dels.format(t='probe')}) AS variant FROM probes),
vk AS (SELECT term, unnest({dels.format(t='term')}) AS variant FROM vocab),
cand AS (SELECT DISTINCT p.probe, v.term FROM pk p JOIN vk v USING (variant))
SELECT probe, term, levenshtein(probe, term) AS dist
FROM cand
WHERE levenshtein(probe, term) <= 1
"""


# ---------------------------------------------------------------------------
# segment-level boilerplate scrub (CCNet-style line dedup, segmented)
# ---------------------------------------------------------------------------


def boilerplate_scrub(
    docs: DataFrame,
    seg_words: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove exact text segments that repeat across ``min_docs``+
    documents and rebuild each document — the CCNet/RefinedWeb
    paragraph-dedup pass, segmented on fixed ``seg_words``-word windows
    because this corpus has no newline structure. (No counterpart in
    the reference — north-star cleaning tier next to ``exact_dedup``,
    which drops whole duplicate documents; this drops duplicated
    REGIONS inside otherwise-unique documents: headers, footers,
    licence blocks.)

    100 TB shape: segmentation is a scan-side higher-order projection
    (no explode of text into the plan until the count). The duplicate
    count shuffles ONLY (xxhash64(seg), doc_id) pairs — 16 bytes per
    segment, text never shuffles. The surviving duplicate-hash set is
    by definition the corpus' repeated boilerplate (≪ corpus; same
    bounded-broadcast class as decontaminate's eval-gram set) and comes
    back as a one-row broadcast array; the rebuild is then scan-side
    again — zero exchanges carry document text end-to-end. 64-bit hash
    collisions merge counts (measure-zero, documented; the oracle
    compares segment text directly).
    """
    words = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, seg_words), " "),
    )
    base = docs.select(F.col(id_col).alias("doc_id"), segs.alias("segs"))
    dup = (
        base.select("doc_id", F.explode("segs").alias("seg"))
        .select("doc_id", F.xxhash64("seg").alias("seg_hash"))
        .groupBy("seg_hash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .agg(F.collect_list("seg_hash").alias("dup_hashes"))
    )
    kept = base.crossJoin(F.broadcast(dup)).select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segs"),
        F.filter(
            "segs",
            lambda s: ~F.array_contains(F.col("dup_hashes"), F.xxhash64(s)),
        ).alias("keep"),
    )
    clean = F.array_join("keep", " ")
    return kept.select(
        "doc_id",
        "n_segs",
        (F.col("n_segs") - F.size("keep")).cast("long").alias("n_dropped"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


def boilerplate_scrub_sql(
    table: str = "documents", seg_words: int = 10, min_docs: int = 2
) -> str:
    """DuckDB oracle for :func:`boilerplate_scrub` — joins on segment
    TEXT (the hash-free ground truth) and rebuilds with an ordered
    string_agg."""
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM {table}
), exploded AS (
  SELECT doc_id, ws[i] AS w, i AS ord
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) t
), segs AS (
  SELECT doc_id, CAST((ord - 1) // {seg_words} AS BIGINT) AS seg_id,
         string_agg(w, ' ' ORDER BY ord) AS seg
  FROM exploded GROUP BY doc_id, CAST((ord - 1) // {seg_words} AS BIGINT)
), dup AS (
  SELECT seg FROM segs GROUP BY seg
  HAVING count(DISTINCT doc_id) >= {min_docs}
), flagged AS (
  SELECT s.doc_id, s.seg_id, s.seg, (d.seg IS NOT NULL) AS is_dup
  FROM segs s LEFT JOIN dup d ON s.seg = d.seg
)
SELECT doc_id,
  count(*) AS n_segs,
  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  md5(coalesce(string_agg(CASE WHEN NOT is_dup THEN seg END, ' ' ORDER BY seg_id), '')) AS clean_md5,
  length(coalesce(string_agg(CASE WHEN NOT is_dup THEN seg END, ' ' ORDER BY seg_id), '')) AS clean_len
FROM flagged GROUP BY doc_id
"""


def dup_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Cross-source near-duplicate matrix: per unordered source pair,
    how many LSH candidate pairs connect them and how many distinct
    documents are involved — the provenance report that tells a corpus
    owner WHERE the duplication lives (two mirrors of the same crawl,
    one source re-hosting another, intra-source template spam) before
    deciding which source to drop or cap.

    Output: (src_a, src_b, n_pairs, n_docs), src_a ≤ src_b.

    Scale shape: the pair generation is the standard banded-LSH path
    (never all-pairs); attaching sources is two joins of the pair table
    against the pruned (doc_id, source) projection — the pair table is
    the small side (a few % of docs pair up), and the aggregates are
    map-side-combinable counts over ≤ |sources|² rows.
    """
    sh = shingles(docs, text_col=text_col, id_col=id_col, n=n)
    pairs = minhash_lsh_pairs(sh, num_perm=num_perm, bands=bands)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(source_col).alias("src")
    )
    src_a = src.select(F.col("doc_id").alias("did_a"), F.col("src").alias("sa"))
    src_b = src.select(F.col("doc_id").alias("did_b"), F.col("src").alias("sb"))
    lab = (
        pairs.join(src_a, F.col("doc_a") == F.col("did_a"))
        .join(src_b, F.col("doc_b") == F.col("did_b"))
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "doc_a",
            "doc_b",
        )
    )
    # ONE aggregation over the pair table exploded into its two doc
    # endpoints: count(*)/2 is exactly the pair count (each pair emits
    # two rows) and count_distinct(doc) the docs involved — the whole
    # LSH pipeline executes once, no checkpoint, no second pass.
    sides = lab.select(
        "src_a", "src_b", F.explode(F.array("doc_a", "doc_b")).alias("doc")
    )
    return sides.groupBy("src_a", "src_b").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.count_distinct("doc").alias("n_docs"),
    )


def dup_matrix_sql(
    table: str = "documents", n: int = 3, num_perm: int = 16, bands: int = 4
) -> str:
    """DuckDB oracle for :func:`dup_matrix`: same LSH pairs, same
    unordered source normalization, same counts."""
    return f"""
WITH pairs AS ({minhash_lsh_sql(table, n, num_perm, bands)}),
lab AS (
  SELECT least(sa.source, sb.source) AS src_a,
         greatest(sa.source, sb.source) AS src_b,
         p.doc_a, p.doc_b
  FROM pairs p
  JOIN {table} sa ON sa.doc_id = p.doc_a
  JOIN {table} sb ON sb.doc_id = p.doc_b
),
sides AS (
  SELECT src_a, src_b, doc_a AS doc FROM lab
  UNION ALL
  SELECT src_a, src_b, doc_b AS doc FROM lab
)
SELECT src_a, src_b,
       CAST(count(*) // 2 AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
FROM sides GROUP BY 1, 2
"""


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    block_df: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric CONTAINMENT scores over rare-shingle-blocked pairs:
    (doc_a, doc_b, n_inter, n_a, n_b, jaccard, containment, relation)
    with containment = |A∩B| / min(|A|,|B|) (Broder's containment
    coefficient). The quote-extraction case Jaccard-LSH structurally
    misses: a short doc fully embedded in a long one has tiny Jaccard
    (the union is dominated by the size mismatch), so its band
    collision probability ≈ J^r ≈ 0 — MinHash banding never even
    PROPOSES the pair. Containment therefore needs its own candidate
    generation: pairs sharing at least one RARE shingle (corpus
    document frequency ≤ ``block_df``). An embedded quote shares ALL
    its shingles with its container — including its rare ones — so
    recall for quotes of ≥ n+block-length tokens is structural, while
    the df cap bounds pair fan-out at block_df² per shingle at ANY
    corpus size (the occupancy-cap discipline; deterministic integer
    filter, identically applied by the oracle).

    ``relation`` labels each surviving pair on the exact INTEGER
    ratios (comparisons cannot flip cross-engine): 'duplicate' when
    jaccard ≥ 0.8, else 'contains' when containment ≥ 0.8, else
    'related'.

    Scale: only 8-byte shingle hashes shuffle; the verify join
    touches candidate × shingle rows with candidates df-bounded.
    """
    sh = shingles(docs, text_col=text_col, id_col=id_col, n=n)
    hashed = sh.select(
        "doc_id", portable_hash60(F.col("shingle")).alias("sh_h")
    ).localCheckpoint(eager=False)
    counts = hashed.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rare = (
        hashed.groupBy("sh_h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= block_df)
        .select("sh_h")
    )
    blocked = hashed.join(rare, "sh_h")
    ba = blocked.select(F.col("doc_id").alias("doc_a"), "sh_h")
    bb = blocked.select(F.col("doc_id").alias("doc_b"), "sh_h")
    cand = (
        ba.join(bb, "sh_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = hashed.select(F.col("doc_id").alias("doc_a"), F.col("sh_h").alias("ha"))
    sb = hashed.select(F.col("doc_id").alias("b_id"), F.col("sh_h").alias("hb"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("b_id")) & (F.col("ha") == F.col("hb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    cont = F.col("n_inter") / F.least("n_a", "n_b").cast("double")
    out = (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            jac.alias("jaccard"),
            cont.alias("containment"),
            F.when(jac >= 0.8, F.lit("duplicate"))
            .when(cont >= 0.8, F.lit("contains"))
            .otherwise(F.lit("related"))
            .alias("relation"),
        )
    )
    return out.filter(F.col("containment") >= threshold)


def containment_pairs_sql(
    table: str = "documents",
    n: int = 3,
    block_df: int = 8,
    threshold: float = 0.5,
) -> str:
    h = portable_hash60_sql("shingle")
    return f"""
WITH {_shingle_cte(table, n)}, hsh AS (
  SELECT doc_id, {h} AS sh_h FROM sh
), rare AS (
  SELECT sh_h FROM hsh GROUP BY sh_h HAVING count(*) <= {block_df}
), blocked AS (
  SELECT hsh.doc_id, hsh.sh_h FROM hsh JOIN rare USING (sh_h)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a JOIN blocked b
    ON a.sh_h = b.sh_h AND a.doc_id < b.doc_id
), cnt AS (
  SELECT doc_id, count(*) AS n_sh FROM hsh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN hsh a ON a.doc_id = c.doc_a
  JOIN hsh b ON b.doc_id = c.doc_b AND b.sh_h = a.sh_h
  GROUP BY c.doc_a, c.doc_b
), scored AS (
  SELECT doc_a, doc_b,
         CAST(n_inter AS BIGINT) AS n_inter,
         CAST(ca.n_sh AS BIGINT) AS n_a,
         CAST(cb.n_sh AS BIGINT) AS n_b,
         n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) AS jaccard,
         n_inter / CAST(least(ca.n_sh, cb.n_sh) AS DOUBLE) AS containment
  FROM inter
  JOIN cnt ca ON ca.doc_id = inter.doc_a
  JOIN cnt cb ON cb.doc_id = inter.doc_b
)
SELECT *, CASE WHEN jaccard >= 0.8 THEN 'duplicate'
               WHEN containment >= 0.8 THEN 'contains'
               ELSE 'related' END AS relation
FROM scored WHERE containment >= {threshold}
"""
