"""Iterative graph analytics as native DataFrame fixpoint loops.

Connected components (transitive dedup clusters) lives in
``operators/dedup.py``; this module adds rank propagation:

* :func:`pagerank` — damped power iteration over a weighted edge
  list, the Pregel message-passing shape expressed as join → groupBy
  per round.
* :func:`textrank_keywords` — TextRank (Mihalcea & Tarau 2004,
  public): PageRank over the token co-occurrence (bigram) graph,
  the classic unsupervised keyword extractor. A FIXED iteration
  count makes the whole computation deterministic, so it carries an
  exact DuckDB oracle (the iterations unrolled as chained CTEs) —
  rare for an iterative algorithm.

Scale notes: one rank iteration = join ranks⋈edges on src (both
sides hash-partitioned on the same key — co-partitioned after round
1) + groupBy(dst) with map-side combine; state per round is one
(node, rank) row per node. ``localCheckpoint`` truncates the plan
every round so 5 or 50 iterations never build an exponential
lineage. Skewed in-degree (a stopword node at 100 TB) rides the
same AQE skew-split as any aggregation; rank values are rounded to
the engine's significant-digit contract BEFORE the final ranking so
cross-engine order can't flip on a last-ulp sum difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.operators.local_solve import route_local, spread
from dataframeutils_spark.operators.text import _terms, _tokens_sql, ranked_topk


def _pagerank_local(
    trans: DataFrame, nodes: DataFrame, iters: int, damping: float
) -> DataFrame:
    """Driver-local power iteration over a bounded, already
    materialized transition table — the connected-components /
    k_core bounded-collect discipline applied to rank propagation.

    The per-round arithmetic is the IDENTICAL formula
    ``r' = (1−d)/n + d · Σ p·r`` on the same (src, dst, p) doubles the
    distributed loop consumes (p is computed in Spark either way); the
    only difference is numpy's summation order inside the per-dst Σ,
    which the r14 boundary audit measured at ≤ 1.4e-10 of a
    last-significant-digit unit against ≥ 1e-2 distance to the nearest
    siground rounding boundary on both gate SFs — eight orders of
    magnitude of headroom. Parity (including the downstream siground)
    is pinned in tests/test_graph.py. Returns (node, rank) rows
    via createDataFrame; all declared rounding happens downstream in
    Spark exactly as on the distributed path.
    """
    import numpy as np

    spark = trans.sparkSession
    tp = trans.toPandas()
    node_arr = np.sort(nodes.toPandas()["node"].to_numpy())
    n = len(node_arr)
    si = np.searchsorted(node_arr, tp["src"].to_numpy())
    di = np.searchsorted(node_arr, tp["dst"].to_numpy())
    # drop edges whose endpoint is not a node (the distributed loop's
    # joins do exactly this); searchsorted clips, so re-check equality
    si_ok = (si < n) & (node_arr[np.minimum(si, n - 1)] == tp["src"].to_numpy())
    di_ok = (di < n) & (node_arr[np.minimum(di, n - 1)] == tp["dst"].to_numpy())
    keep = si_ok & di_ok
    si, di = si[keep], di[keep]
    p = tp["p"].to_numpy()[keep]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(di, weights=p * r[si], minlength=n)
        r = (1.0 - damping) / n + damping * contrib
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", nodes.schema["node"].dataType),
            T.StructField("rank", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        list(zip(node_arr.tolist(), r.tolist())), schema=schema
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    local_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count.

    r_{i+1}(v) = (1−d)/n + d · Σ_{(u,v)∈E} w(u,v)/outw(u) · r_i(u).

    Dangling mass (nodes with no out-edges) is dropped, not
    redistributed — the simplified published variant; both engines
    compute the identical formula. Returns (node, rank) with the raw
    double rank.

    Scale-adaptive small-graph path (the connected-components /
    k_core discipline): the transition table is materialized once and
    counted; at or below ``local_edge_threshold`` edges (default 1M of
    (src, dst, p) rows ≈ 60 MB; 0 disables the local path) the
    ``iters`` rounds run on the driver in vectorized numpy instead of paying
    iters × (join + aggregate + join) of per-round scheduling — and,
    as much, instead of CONSTRUCTING the unrolled iteration plan
    (~2 s of driver-side expression building for 5 rounds). Above the
    threshold the distributed loop runs unchanged. A fixed iteration
    count means both paths run the same number of rounds — there is
    no convergence/truncation divergence to document here.
    """
    nodes = nodes.select(F.col(node_col).alias("node"))
    edges = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    nn = F.broadcast(nodes.agg(F.count("*").alias("n")))
    outw = edges.groupBy("src").agg(F.sum("w").alias("sw"))
    # fold outw into the edge list once: each edge carries its
    # normalized transition probability for every iteration
    trans = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("sw")).alias("p")
    )
    trans, local = route_local(trans, local_edge_threshold)
    if local:
        return _pagerank_local(trans, nodes, iters=iters, damping=damping)

    ranks = nodes.crossJoin(nn).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(iters):
        contrib = (
            trans.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("c"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(nn)
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _bigram_pairs(docs: DataFrame, text_col: str):
    toks = _terms(text_col)
    m = F.size(toks) - 1
    pairs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
    )
    return docs.select(F.explode(pairs).alias("pr")).select(
        "pr.src", "pr.dst"
    )


def textrank_keywords(
    docs: DataFrame,
    k: int = 20,
    iters: int = 5,
    damping: float = 0.85,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level TextRank keywords: (term, rank, score).

    Graph = undirected token co-occurrence (adjacent-bigram) graph,
    edge weight = co-occurrence count (each direction added, so the
    random walk is symmetric); score = PageRank after ``iters``
    rounds, rounded to significant digits before the (score desc,
    term) ranking.
    """
    from dataframeutils_spark.schema import siground

    docs = spread(docs)
    bi = _bigram_pairs(docs, text_col)
    edges = (
        bi.union(bi.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    nodes = docs.select(F.explode(_terms(text_col)).alias("node")).distinct()
    ranks = pagerank(nodes, edges, iters=iters, damping=damping)
    scored = ranks.select(
        F.col("node").alias("term"), siground(F.col("rank")).alias("score")
    )
    # TakeOrderedAndProject over the vocabulary — never a global
    # single-task window (the vocab is corpus-sized at 100 TB).
    order = [F.col("score").desc(), F.col("term")]
    return ranked_topk(scored, k, order).select("term", "rank", "score")


def textrank_keywords_sql(
    table: str = "documents", k: int = 20, iters: int = 5, damping: float = 0.85
) -> str:
    """DuckDB oracle: the power iteration unrolled as chained CTEs."""
    from dataframeutils_spark.schema import siground_sql

    its = []
    for i in range(iters):
        its.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         ({1.0 - damping}) / (SELECT c FROM nn)
           + {damping} * COALESCE(sum(t.p * r{i}.rank), 0) AS rank
  FROM nodes n
  LEFT JOIN trans t ON t.dst = n.node
  LEFT JOIN r{i} ON r{i}.node = t.src
  GROUP BY n.node
)"""
        )
    chain = ",\n".join(its)
    return f"""
WITH tok AS (
  SELECT {_tokens_sql("lower(text)")} AS toks FROM {table}
), bi AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS src,
         unnest(toks[2:len(toks)]) AS dst
  FROM tok
), ed AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM (SELECT src, dst FROM bi UNION ALL SELECT dst, src FROM bi)
  GROUP BY src, dst
), outw AS (
  SELECT src, sum(w) AS sw FROM ed GROUP BY src
), trans AS (
  SELECT ed.src, ed.dst, ed.w / outw.sw AS p FROM ed JOIN outw USING (src)
), nodes AS (
  SELECT DISTINCT unnest(toks) AS node FROM tok
), nn AS (
  SELECT count(*) AS c FROM nodes
), r0 AS (
  SELECT node, 1.0 / (SELECT c FROM nn) AS rank FROM nodes
),
{chain}
SELECT term, rank, score FROM (
  SELECT node AS term,
         row_number() OVER (ORDER BY score DESC, node) AS rank,
         score
  FROM (SELECT node, {siground_sql('rank')} AS score FROM r{iters})
)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# triangle counting (degree-oriented)
# ---------------------------------------------------------------------------


def cooccurrence_edges(
    items: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Undirected co-occurrence edge list: (u, v), u < v, distinct —
    items sharing a group (parts sharing an order) get an edge.

    Scale shape: the pair expansion is a self-join on the GROUP key,
    so fan-out is bounded by max-group-size² (order baskets are ≤ 7
    lineitems), never corpus². DISTINCT collapses repeat co-purchases
    before any downstream join sees them.

    Bounded-group assumption: the ``repartition(g)`` below keys the
    exchange on the group id alone, which concentrates each group in
    one partition — correct and skew-free ONLY while group sizes are
    bounded (≤ 7 here). For unbounded group sizes key the repartition
    on (g, u) so a giant group spreads, and note the lazy
    ``localCheckpoint`` makes the edge build non-fault-tolerant to
    executor loss (acceptable for a deterministic rebuildable table;
    re-run the query on loss).

    Measured alternative, rejected (r13): building per-group sorted
    item arrays with collect_set and expanding the u<v pairs inside
    the array removes one exchange and the join, and wins ~0.7 s warm
    at sf0.1 — but at 10x the partial collect_set aggregation churns
    millions of per-group array buffers (ObjectHashAggregate) and the
    same query swings 11–43 s vs a stable ~6 s here. Rows + hash
    aggregates are the stable shape; keep them.
    """
    # One exchange + ONE materialization feed both self-join sides:
    # hash-partitioning on g alone satisfies the (g, u) dedup's
    # clustered distribution (same-g rows are colocated) and is
    # exactly the distribution the join on g requires — where a plain
    # .distinct() partitions on (g, u) and the join re-exchanges on g.
    # The lazy checkpoint matters more: without it BOTH join sides run
    # the whole scan + exchange + dedup pipeline (the broadcast build
    # side cannot reuse the probe side's exchange), doubling the scan.
    pairs = items.select(F.col(group_col).alias("g"), F.col(item_col).alias("u"))
    a = (
        spread(pairs, F.col("g"))
        .dropDuplicates(["g", "u"])
        .localCheckpoint(eager=False)
    )
    b = a.select(F.col("g"), F.col("u").alias("v"))
    return (
        a.join(b, on="g")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def triangle_counts(edges: DataFrame, top_k: int = 20) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list, top ``top_k`` nodes by (triangles desc, node
    asc).

    Degree-oriented compact-forward (Schank & Wagner 2005; Latapy
    2008): orient every edge from the endpoint earlier in
    (degree, id) order to the later one — bounding every out-degree
    at O(√|E|) so no hub explodes — then count each oriented edge's
    triangles as |N⁺(u) ∩ N⁺(v)| against collected out-neighborhood
    arrays. Unlike the wedge-enumeration MapReduce form (Suri &
    Vassilvitskii 2011) this never materializes the Σ outdeg² wedge
    stream (41M rows for 1.2M co-purchase edges at sf0.1, ~22× the
    1.9M actual triangles): the only fan-out is the explode of the
    intersection itself, i.e. exactly one row per triangle, and the
    intersection is a native JVM ``array_intersect`` over ≤ O(√|E|)
    arrays. Each triangle (a→b, a→c, b→c) is found exactly once, at
    edge (a, b) with c in both out-neighborhoods. All counting is
    exact integer arithmetic; the only float (clustering
    coefficient) is decimal-rounded.
    """
    from dataframeutils_spark.schema import decround

    # Eager checkpoint: edges feeds the degree table AND the oriented
    # join; the oriented table feeds the adjacency build + the edge
    # probe. Without materialization Catalyst clones the whole
    # upstream co-purchase self-join per consumer.
    edges = edges.localCheckpoint()
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint()
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), on="u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), on="v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint()
    # out-neighborhood arrays, ≤ O(√|E|) elements by orientation
    adj = oe.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oe.join(adj, on="src")
        .join(
            adj.select(
                F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_dst")
            ),
            on="dst",
        )
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("nbrs", "nbrs_dst")).alias("c"),
        )
    )
    # single pass over the triangle stream — explode, don't re-derive
    # the intersection once per corner
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        per_node.join(deg, on="node")
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            decround(
                F.lit(2.0)
                * F.col("triangles")
                / (F.col("d").cast("double") * (F.col("d") - F.lit(1)))
            ).alias("clustering_coeff"),
        )
        .orderBy(F.desc("triangles"), F.asc("node"))
        .limit(top_k)
    )
    return out


def triangle_counts_sql(
    table: str, group_col: str, item_col: str, top_k: int = 20
) -> str:
    """DuckDB oracle for :func:`triangle_counts` over the same
    co-occurrence edge construction."""
    from dataframeutils_spark.schema import decround_sql

    cc = decround_sql("2.0 * triangles / (CAST(d AS DOUBLE) * (d - 1))")
    return f"""
WITH it AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS p FROM {table}
), edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM it a JOIN it b ON a.g = b.g AND a.p < b.p
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), oe AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
), tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oe w1
  JOIN oe w2 ON w2.src = w1.src
            AND (w1.ddst, w1.dst) < (w2.ddst, w2.dst)
  JOIN oe cl ON cl.src = w1.dst AND cl.dst = w2.dst
), per_node AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT node, CAST(d AS BIGINT) AS degree,
       CAST(triangles AS BIGINT) AS triangles,
       {cc} AS clustering_coeff
FROM per_node JOIN deg USING (node)
ORDER BY triangles DESC, node ASC
LIMIT {top_k}
"""


# ---------------------------------------------------------------------------
# association rules (market basket)
# ---------------------------------------------------------------------------


def association_rules(
    items: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Top-``top_k`` pairwise association rules over baskets:
    support, confidence and lift for the most frequent co-occurring
    item pairs, both directions (Agrawal et al. 1993).

    Output is TOP-K BY (pair_count desc, lift desc, names), not
    threshold-only: a fixed absolute count threshold admits every
    noise pair as the corpus grows (measured: 2.4M rules at the 10×
    stress), and a fixed relative support threshold goes empty when
    the catalog grows with the corpus — a k-bounded report is the
    scale-stable contract. ``min_pair_count`` keeps singleton
    co-occurrences out of the ranking entirely.

    Every statistic is a ratio of INTEGER counts computed by one
    identical expression in both engines, so the ranking (ints first,
    then the exact-rational lift, then names) is deterministic with
    no rounding machinery.

    Scale shape: pair generation is the bounded per-basket self-join
    (max-basket-size² fan-out, counted map-side); item counts and the
    basket total are combinable aggregates; the pair→item-count joins
    broadcast the item table; the final rank is a TakeOrdered over
    the surviving pairs, never a global sort.
    """
    # lazy checkpoint (materialized at first action, reused by the
    # three consumers) + the basket total as a broadcast 1-row
    # aggregate: no eager Spark action fires at plan-construction time
    it = items.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("p")
    ).distinct().localCheckpoint(eager=False)
    nbdf = it.agg(
        F.count_distinct(F.col("g")).cast("double").alias("nb")
    )
    item_cnt = it.groupBy(F.col("p").alias("item")).agg(F.count("*").alias("ic"))
    b = it.select(F.col("g"), F.col("p").alias("v"))
    pairs = (
        it.join(b, on="g")
        .filter(F.col("p") < F.col("v"))
        .groupBy(F.col("p").alias("u"), F.col("v"))
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= min_pair_count)
    )
    both = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "cab")
    )
    ia = item_cnt.select(F.col("item").alias("u"), F.col("ic").alias("ca"))
    ib = item_cnt.select(F.col("item").alias("v"), F.col("ic").alias("cb"))
    nb = F.col("nb")
    rules = (
        both.crossJoin(F.broadcast(nbdf))
        .join(F.broadcast(ia), on="u")
        .join(F.broadcast(ib), on="v")
        .select(
            F.col("u").alias("antecedent"),
            F.col("v").alias("consequent"),
            F.col("cab").alias("pair_count"),
            (F.col("cab") / nb).alias("support"),
            (F.col("cab") / F.col("ca").cast("double")).alias("confidence"),
            (
                (F.col("cab").cast("double") * nb)
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("lift"),
        )
    )
    # TakeOrderedAndProject — every task keeps a top_k heap; no single
    # task ever sorts the full surviving-pair table (2.4M rows at the
    # 10× stress). Total order (names break all ties) ⇒ deterministic
    # cut, identical to the global-window ranks it replaces.
    return rules.orderBy(
        F.desc("pair_count"), F.desc("lift"), F.asc("antecedent"), F.asc("consequent")
    ).limit(top_k)


def association_rules_sql(
    table: str, group_col: str, item_col: str,
    min_pair_count: int = 2, top_k: int = 100,
) -> str:
    """DuckDB oracle for :func:`association_rules` — identical integer
    count ratios and (count, lift, names) ranking."""
    return f"""
WITH it AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS p FROM {table}
), nb AS (
  SELECT CAST(count(DISTINCT g) AS DOUBLE) AS n FROM it
), ic AS (
  SELECT p AS item, count(*) AS c FROM it GROUP BY p
), pairs AS (
  SELECT a.p AS u, b.p AS v, count(*) AS cab
  FROM it a JOIN it b ON a.g = b.g AND a.p < b.p
  GROUP BY a.p, b.p
  HAVING count(*) >= {min_pair_count}
), bd AS (
  SELECT u, v, cab FROM pairs
  UNION ALL
  SELECT v, u, cab FROM pairs
), rules AS (
  SELECT bd.u AS antecedent, bd.v AS consequent,
         CAST(cab AS BIGINT) AS pair_count,
         cab / nb.n AS support,
         cab / CAST(ia.c AS DOUBLE) AS confidence,
         (CAST(cab AS DOUBLE) * nb.n) / (CAST(ia.c AS DOUBLE) * ib.c) AS lift
  FROM bd
  JOIN ic ia ON ia.item = bd.u
  JOIN ic ib ON ib.item = bd.v
  CROSS JOIN nb
)
SELECT antecedent, consequent, pair_count, support, confidence, lift FROM (
  SELECT *, row_number() OVER (
    ORDER BY pair_count DESC, lift DESC, antecedent, consequent) AS rk
  FROM rules
) WHERE rk <= {top_k}
"""


# ---------------------------------------------------------------------------
# degree assortativity (Newman 2002) + graph summary
# ---------------------------------------------------------------------------


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient over an undirected edge list
    (Newman 2002, eq. 4): the Pearson correlation of the degrees at
    the two ends of an edge — positive on social-style graphs (hubs
    link hubs), negative on web/biology-style graphs (hubs link
    leaves). The one-number topology screen a graph pipeline runs
    before committing to a partitioning strategy: strong negative
    assortativity means hub-adjacent edge partitions will skew.

    With M edges and endpoint degrees (j_i, k_i):
    ``r = (S3/M − (S1/2M)²) / (S2/2M − (S1/2M)²)`` where
    S1 = Σ(j+k), S2 = Σ(j²+k²), S3 = Σ j·k. All three sufficient
    sums are INTEGER (degrees are counts), so the only float is the
    final ratio — exactly the weighted-bins determinism discipline.

    One row out: (n_nodes, n_edges, avg_degree, max_degree,
    assortativity).

    Scale shape: one combinable degree groupBy, two node-keyed joins
    to tag each edge with (du, dv), one single-row aggregate. Nothing
    wider than the edge list ever exists.
    """
    from dataframeutils_spark.schema import decround

    # edges feeds the degree build + the tagging join, and deg feeds
    # three consumers — truncate once so the co-occurrence self-join
    # upstream isn't cloned per consumer (triangle_counts discipline)
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    e = (
        edges.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"),
            on="u",
        )
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"),
            on="v",
        )
    )
    agg = e.agg(
        F.count("*").alias("m"),
        F.sum(F.col("du") + F.col("dv")).alias("s1"),
        F.sum(
            F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
        ).alias("s2"),
        F.sum(F.col("du") * F.col("dv")).alias("s3"),
    )
    nodes = deg.agg(
        F.count("*").alias("n_nodes"), F.max("d").alias("max_degree")
    )
    mu = F.col("s1") / (2.0 * F.col("m"))
    num = F.col("s3") / F.col("m").cast("double") - mu * mu
    den = F.col("s2") / (2.0 * F.col("m")) - mu * mu
    return agg.crossJoin(F.broadcast(nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("m").cast("long").alias("n_edges"),
        decround(2.0 * F.col("m") / F.col("n_nodes")).alias("avg_degree"),
        F.col("max_degree").cast("long").alias("max_degree"),
        decround(F.when(den != 0.0, num / den)).alias("assortativity"),
    )


def degree_assortativity_sql(
    table: str, group_col: str, item_col: str
) -> str:
    """DuckDB oracle for :func:`degree_assortativity` over the same
    co-occurrence edge construction as :func:`triangle_counts_sql`."""
    from dataframeutils_spark.schema import decround_sql

    mu = "s1 / (2.0 * m)"
    num = f"s3 / CAST(m AS DOUBLE) - ({mu}) * ({mu})"
    den = f"s2 / (2.0 * m) - ({mu}) * ({mu})"
    return f"""
WITH it AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS p FROM {table}
), edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM it a JOIN it b ON a.g = b.g AND a.p < b.p
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), tagged AS (
  SELECT du.d AS du, dv.d AS dv
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), agg AS (
  SELECT count(*) AS m, sum(du + dv) AS s1,
         sum(du * du + dv * dv) AS s2, sum(du * dv) AS s3
  FROM tagged
), nodes AS (
  SELECT count(*) AS n_nodes, max(d) AS max_degree FROM deg
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(m AS BIGINT) AS n_edges,
       {decround_sql('2.0 * m / n_nodes')} AS avg_degree,
       CAST(max_degree AS BIGINT) AS max_degree,
       {decround_sql(f'CASE WHEN ({den}) <> 0.0 THEN ({num}) / ({den}) END')}
         AS assortativity
FROM agg CROSS JOIN nodes
"""


# ---------------------------------------------------------------------------
# k-core (fixed-round peeling — exactly oracle-checkable like textrank)
# ---------------------------------------------------------------------------


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _k_core_local(
    edges: DataFrame, k: int, rounds: int
) -> DataFrame:
    """Driver-local exact peel of a bounded, already materialized edge
    table. The peel itself is integer-only numpy (bincount degrees,
    mask edges, repeat ``rounds`` times — identical to the distributed
    loop's semi-joins); the single float in the contract, avg_degree,
    is computed by the SAME Spark decround expression over the exact
    integer sufficient sums, so cross-path rounding is bit-identical."""
    import numpy as np

    from dataframeutils_spark.schema import decround

    spark = edges.sparkSession
    tbl = edges.toArrow()
    u = tbl.column("u").to_numpy(zero_copy_only=False)
    v = tbl.column("v").to_numpy(zero_copy_only=False)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u) :]
    n = len(nodes)
    for _ in range(rounds):
        d = np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)
        keep = d >= k
        alive = keep[ui] & keep[vi]
        ui, vi = ui[alive], vi[alive]
    d = np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)
    d = d[d > 0]
    if len(d) == 0:
        row = [(k, rounds, True, 0, None, None, None, None)]
    else:
        row = [(
            k, rounds, bool(d.min() >= k), len(d), int(d.sum()) // 2,
            int(d.min()), int(d.max()), int(d.sum()),
        )]
    out = spark.createDataFrame(
        row,
        schema="k int, rounds int, converged boolean, n_nodes bigint,"
        " n_edges bigint, min_degree bigint, max_degree bigint,"
        " _sum_d bigint",
    )
    return out.select(
        "k", "rounds", "converged", "n_nodes", "n_edges", "min_degree",
        "max_degree",
        decround(F.col("_sum_d") / F.col("n_nodes")).alias("avg_degree"),
    )


def k_core_summary(
    edges: DataFrame, k: int, rounds: int = 10,
    local_edge_threshold: int = 4_000_000,
) -> DataFrame:
    """k-core of an undirected edge list by FIXED-round peeling:
    ``rounds`` times, drop every node of degree < k and the edges
    touching it (Seidman 1983; the bounded-round unrolling is the
    textrank trick — peeling is idempotent at the fixpoint, so a
    fixed iteration count is deterministic AND exactly
    oracle-checkable, where a loop-until-converged would be
    rows-only). ``converged`` reports whether the last round removed
    nothing, so a pathological graph (a long path needs O(n) rounds)
    is visible rather than silent.

    The k-core is the standard "dense backbone" screen: community
    seeds, spam-farm detection (abnormally dense co-occurrence
    cores), and the safe-to-sample region for graph embeddings.

    One row out: (k, rounds, converged, n_nodes, n_edges,
    min_degree, max_degree, avg_degree) over the surviving subgraph.

    Scale shape: each round = one combinable degree aggregate + two
    broadcast-semi joins keyed on node ids; lineage truncated per
    round (components discipline). State is only the shrinking edge
    list — no per-node arrays, no global window.

    Scale-adaptive small-graph path (same discipline as
    connected_components): the edge table is materialized once and
    counted; at or below ``local_edge_threshold`` edges (default 4M ≈
    64 MB; 0 disables the local path; integral node ids only) the peel
    runs on the driver in vectorized numpy instead of paying ``rounds``
    × (aggregate + two semi-joins)
    of per-round scheduling overhead (measured ~3.8 s for 10 rounds
    over a 1.2M-edge graph at sf0.1; the local peel is < 100 ms).
    avg_degree is rounded by the same Spark decround expression either
    way, so results are identical; above the threshold the distributed
    loop runs unchanged.
    """
    from dataframeutils_spark.schema import decround

    dtypes = dict(edges.dtypes)
    if not (
        dtypes.get("u") in _INTEGRAL_TYPES and dtypes.get("v") in _INTEGRAL_TYPES
    ):
        local_edge_threshold = 0  # the numpy peel needs integral ids
    cur, local = route_local(edges, local_edge_threshold)
    if local:
        return _k_core_local(cur, k=k, rounds=rounds)
    prev_n = None
    for _ in range(rounds):
        deg = (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        cur = (
            cur.join(
                keep.withColumnRenamed("node", "u"), on="u", how="leftsemi"
            )
            .join(
                keep.withColumnRenamed("node", "v"), on="v", how="leftsemi"
            )
            .localCheckpoint(eager=False)
        )
    deg = (
        cur.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # converged ⇔ no node in the final subgraph is below k (one more
    # peel would remove nothing)
    return deg.agg(
        F.lit(k).cast("int").alias("k"),
        F.lit(rounds).cast("int").alias("rounds"),
        F.coalesce(F.min(F.col("d") >= k), F.lit(True)).alias("converged"),
        F.count("*").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
        decround(F.avg("d")).alias("avg_degree"),
    )


def k_core_summary_sql(
    table: str, group_col: str, item_col: str, k: int, rounds: int = 10
) -> str:
    """DuckDB oracle for :func:`k_core_summary` — the peel unrolled
    as chained CTEs over the same co-occurrence edge construction."""
    from dataframeutils_spark.schema import decround_sql

    cte = []
    for r in range(rounds):
        cte.append(f"""deg{r} AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
  ) GROUP BY node
), keep{r} AS (
  SELECT node FROM deg{r} WHERE d >= {k}
), e{r + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{r} e
  WHERE e.u IN (SELECT node FROM keep{r})
    AND e.v IN (SELECT node FROM keep{r})
)""")
    chain = ",\n".join(cte)
    return f"""
WITH it AS (
  SELECT DISTINCT {group_col} AS g, {item_col} AS p FROM {table}
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM it a JOIN it b ON a.g = b.g AND a.p < b.p
),
{chain},
degF AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
  ) GROUP BY node
)
SELECT CAST({k} AS INT) AS k,
       CAST({rounds} AS INT) AS rounds,
       COALESCE(min(d >= {k}), TRUE) AS converged,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(d) / 2 AS BIGINT) AS n_edges,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree,
       {decround_sql('avg(d)')} AS avg_degree
FROM degF
"""
