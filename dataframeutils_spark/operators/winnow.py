"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm) and the near-duplicate pair join
built on them.

No counterpart in the reference (SURVEY §2.3); this is the
position-aware local-fingerprint tier of the dedup family: MinHash
(dedup.py) answers "are these documents similar as BAGS of shingles",
winnowing answers "do they share CONTIGUOUS copied passages" with a
guarantee — any shared substring of length ≥ kgram + window − 1
contributes at least one IDENTICAL selected fingerprint to both
documents, so contiguous-copy recall is structural, not probabilistic.

Selection rule (the SQL-expressible formulation): position p's window
is the ``window`` consecutive k-gram hashes starting at p; the
window's fingerprint is its MINIMUM hash, ties to the RIGHTMOST
position (MOSS's robust-winnowing tie rule), encoded arithmetically —
``key = hash·1024 + (1023 − p mod 1024)`` so one integer ``min`` per
window frame picks (min hash, max position); distinct keys per doc
are the fingerprint set. Both engines evaluate the identical integer
expression, so the selection is exactly oracle-checkable. (The mod
wraps only within a window that crosses a 1024 boundary AND ties on
the 50-bit hash — it can alter which equal-hash position is kept,
never which hash; both engines still agree because they compute the
same key.)

Scale notes (100 TB): k-gram hashing and window-min are scan-side
windows per doc (one exchange keyed by doc); fingerprint density is
2/(window+1) of positions, so the fingerprint table is a bounded
fraction of corpus bytes. The near-dup join is banded by fingerprint
VALUE with the engine-wide occupancy-cap discipline — fingerprints
shared by more than ``max_df`` docs (boilerplate passages) are
dropped before the pair join, the direct analog of the LSH
DEFAULT_BUCKET_CAP, so candidate fan-out per fingerprint is bounded
at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators.dedup import portable_hash60, portable_hash60_sql
from dataframeutils_spark.operators.local_solve import spread

# 50-bit fingerprint hash + 10-bit position tiebreak stays inside the
# signed-64 range for one integer min per window.
_HBITS = 2**50
_PBITS = 1024


def _keyed_positions(
    docs: DataFrame, kgram: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, p, np, key) for every k-gram position — exploded,
    codegen path (no higher-order functions; the chargram_search
    precedent). ``np`` = positions in the doc = length − kgram + 1,
    carried from the scan so consumers never need a COUNT window to
    re-derive it (the explode emits exactly one row per p in
    [1, np] — nothing is dropped in between)."""
    txt = F.lower(F.col(text_col))
    h = F.pmod(portable_hash60(F.substring(F.col("_t"), F.col("p"), kgram)), F.lit(_HBITS))
    return (
        spread(docs, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), txt.alias("_t"))
        .filter(F.length("_t") >= kgram)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("_t") - (kgram - 1))
            ).alias("p"),
            (F.length("_t") - (kgram - 1)).alias("np"),
            "_t",
        )
        .select(
            "doc_id",
            "p",
            "np",
            (
                h * F.lit(_PBITS)
                + (F.lit(_PBITS - 1) - F.pmod(F.col("p"), F.lit(_PBITS)))
            ).alias("key"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    kgram: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Selected winnowing fingerprints per document:
    (doc_id, fp, pos) — fp is the 50-bit k-gram hash, pos the
    (tie-rule) position it was selected at. Documents shorter than
    ``kgram + window − 1`` chars have no complete window and are
    absent by contract.
    """
    keyed = _keyed_positions(docs, kgram, text_col, id_col)
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, window - 1)
    )
    # the last complete window starts at np − (window − 1); np comes
    # from the scan (length − kgram + 1), not a COUNT(*) window — one
    # whole-partition window pass saved over the exploded stream
    sel = (
        keyed.withColumn("_wmin", F.min("key").over(wf))
        .filter(F.col("p") <= F.col("np") - (window - 1))
        .select("doc_id", F.col("_wmin").alias("key"))
        .distinct()
    )
    # integer div, NOT floor(x / 1024): keys reach 2^60 and a double
    # quotient rounds above 2^53, splitting/merging fingerprints
    return sel.select(
        "doc_id",
        F.expr(f"key div {_PBITS}").alias("fp"),
        (F.lit(_PBITS - 1) - F.pmod(F.col("key"), F.lit(_PBITS))).alias("pos_mod"),
    )


def winnow_profile(
    docs: DataFrame,
    kgram: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document winnowing profile: (doc_id, n_positions,
    n_fingerprints, density) — density ≈ 2/(window+1) by the
    winnowing theorem, the audit that the selection is healthy (a
    density far above it means near-constant text defeating the
    hash; far below means the window is too wide for the doc).
    """
    fps = winnow_fingerprints(docs, kgram, window, text_col, id_col)
    npos = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.length(F.lower(F.col(text_col))) - (kgram - 1)).alias("n_positions"),
    ).filter(F.col("n_positions") >= window)
    agg = fps.groupBy("doc_id").agg(F.count("*").alias("n_fingerprints"))
    from dataframeutils_spark.schema import siground

    return npos.join(agg, "doc_id").select(
        "doc_id",
        F.col("n_positions").cast("long").alias("n_positions"),
        F.col("n_fingerprints").cast("long").alias("n_fingerprints"),
        siground(
            F.col("n_fingerprints") / F.col("n_positions").cast("double")
        ).alias("density"),
    )


def winnow_neardup_pairs(
    docs: DataFrame,
    kgram: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous-copy near-duplicate pairs: documents sharing
    ≥ ``min_shared`` selected fingerprints (doc_a < doc_b, with the
    shared count). ``max_df`` drops fingerprints present in more
    documents first — the boilerplate/occupancy cap that bounds the
    per-fingerprint pair fan-out at max_df² at ANY corpus size (the
    LSH DEFAULT_BUCKET_CAP analog; deterministic, an exact count
    filter, so the oracle applies the identical cap).
    """
    # lazy checkpoint: the fingerprint pipeline (explode + window-min
    # + distinct over corpus grams) feeds THREE consumers below (df
    # count + both join sides) — without it each one re-runs the scan
    # (measured 3× the fingerprint cost at the 10× stress)
    fps = (
        winnow_fingerprints(docs, kgram, window, text_col, id_col)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    df_ok = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    kept = fps.join(df_ok, "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _winnow_cte(table: str, kgram: int, window: int) -> str:
    h60 = portable_hash60_sql(f"substr(t, p, {kgram})")
    return f"""
pos AS (
  -- length of the LOWERCASED text, matching the engine (a Unicode
  -- char whose lowercase form changes string length must move the
  -- position range identically in both engines)
  SELECT doc_id, unnest(range(1, length(lower(text)) - {kgram - 2})) AS p,
         lower(text) AS t
  FROM {table} WHERE length(lower(text)) >= {kgram}
), keyed AS (
  SELECT doc_id, p,
         ({h60} % {_HBITS}) * {_PBITS}
           + ({_PBITS - 1} - p % {_PBITS}) AS key
  FROM pos
), sel AS (
  SELECT DISTINCT doc_id, wmin AS key FROM (
    SELECT doc_id, p,
           min(key) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wmin,
           count(*) OVER (PARTITION BY doc_id) AS np
    FROM keyed
  ) WHERE p <= np - {window - 1}
), fp AS (
  SELECT doc_id, key // {_PBITS} AS fp FROM sel
)"""


def winnow_profile_sql(
    table: str = "documents", kgram: int = 5, window: int = 4
) -> str:
    from dataframeutils_spark.schema import siground_sql

    return f"""
WITH {_winnow_cte(table, kgram, window)}, agg AS (
  SELECT doc_id, count(*) AS n_fingerprints FROM fp GROUP BY doc_id
), np AS (
  SELECT doc_id, length(lower(text)) - {kgram - 1} AS n_positions
  FROM {table}
  WHERE length(lower(text)) - {kgram - 1} >= {window}
)
SELECT np.doc_id,
       CAST(n_positions AS BIGINT) AS n_positions,
       CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
       {siground_sql('n_fingerprints / CAST(n_positions AS DOUBLE)')} AS density
FROM np JOIN agg ON agg.doc_id = np.doc_id
"""


def winnow_neardup_sql(
    table: str = "documents",
    kgram: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
) -> str:
    return f"""
WITH {_winnow_cte(table, kgram, window)}, dfp AS (
  SELECT DISTINCT doc_id, fp FROM fp
), ok AS (
  SELECT fp FROM dfp GROUP BY fp HAVING count(*) <= {max_df}
), kept AS (
  SELECT dfp.doc_id, dfp.fp FROM dfp JOIN ok USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


def winnow_clusters(
    docs: DataFrame,
    kgram: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Transitive contiguous-copy clusters: connected components over
    the :func:`winnow_neardup_pairs` edge graph, one row per clustered
    doc — (doc_id, cluster_id, cluster_size, is_canonical), canonical
    = min doc_id (the dedup_clusters contract, so the two dedup tiers
    read identically downstream). Completes the winnowing tier to the
    same pair → cluster → keep/drop pipeline as the MinHash tier: the
    bag-similarity family catches shuffled near-copies, this one
    catches quote chains (A quotes B quotes C ⇒ one provenance
    cluster even though A∩C may be tiny).

    Scale: same bounded pointer-doubling label propagation as every
    components consumer; the edge table is already df-capped.
    """
    from dataframeutils_spark.operators.dedup import connected_components

    pairs = winnow_neardup_pairs(
        docs, kgram, window, min_shared, max_df, text_col, id_col
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    size = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return comp.join(size, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def winnow_clusters_sql(
    table: str = "documents",
    kgram: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 64,
) -> str:
    """DuckDB oracle: recursive-CTE transitive closure over the winnow
    pair graph (the dedup_clusters oracle pattern)."""
    return f"""
WITH RECURSIVE pairs AS ({winnow_neardup_sql(table, kgram, window, min_shared, max_df)}),
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
