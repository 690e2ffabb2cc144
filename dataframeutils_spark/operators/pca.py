"""Embedding covariance / PCA — the whitening and dimensionality
analysis an embedding-centric pipeline (SemDeDup clustering, IVF
routing, dedup thresholds) runs before trusting cosine distances.

No counterpart in the reference (SURVEY §2.3) — north-star embedding
tier next to the per-dimension moment stats (N36).

Scale design (100 TB): the only pass over the vectors is an Arrow
``mapInPandas`` that emits ONE partial row per batch — (n, Σx,
upper-triangle of ΣxxT) — so the exchange carries
``n_batches × (D + D(D+1)/2)`` doubles, never vectors. The Gram matrix
is symmetric, so shipping the full D² (the r7 layout) moved every
off-diagonal cell twice; the triangle layout halves the dominant term
(measured at D=512: 1.00 MB/batch-row vs 2.10 MB). The D×D covariance
itself is a bounded object: reducing it on the driver and
eigendecomposing with numpy is the same bounded-small-side pattern as
the k-means centroid table, NOT a driver-side loop over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataframeutils_spark.schema import siground, siground_sql


def _probe_dim(emb: DataFrame, vec_col: str) -> int:
    """One tiny job: the embedding width, and the n >= 2 guard (n < 2
    makes every sample-covariance cell NULL — divide by n-1 = 0 — so
    fail loudly instead). limit(2) keeps it a single-partition peek,
    not a count of the table."""
    rows = emb.select(F.size(F.col(vec_col)).alias("d")).limit(2).collect()
    if len(rows) < 2:
        raise ValueError(
            "embedding covariance/PCA needs at least 2 vectors to form "
            "a sample covariance"
        )
    return int(rows[0]["d"])


def _partial_moments(emb: DataFrame, vec_col: str) -> DataFrame:
    """One row per Arrow batch: (n, concat(Σx, triu(ΣxxT))),
    accumulated in float64. The upper triangle is row-major:
    cell (i, j≥i) sits at ``i·D − i(i−1)/2 + (j−i)``."""

    def part(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            s = m.sum(axis=0)
            o = m.T @ m
            iu = np.triu_indices(m.shape[1])
            yield pd.DataFrame(
                {"n": [len(m)], "moments": [np.concatenate([s, o[iu]])]}
            )

    return emb.select(vec_col).mapInPandas(part, "n long, moments array<double>")


def _partial_moments_blocked(
    emb: DataFrame, vec_col: str, block: int
) -> DataFrame:
    """Dimension-blocked batch partials for D where a single
    D(D+3)/2-double moment row stops being a sane exchange row
    (D=3072 → 38 MB). One row per (batch, block-pair bi ≤ bj):
    the bi==bj row carries concat(Σx of block bi, triu of the diagonal
    Gram block); the bi<bj row carries the full rect block, row-major.
    Row size is bounded by block² doubles (block=512 → 2 MB) at ANY D,
    and the Gram math is the same m.T @ m sliced per pair — bit-equal
    to the unblocked layout."""

    def part(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            n, d = m.shape
            s = m.sum(axis=0)
            o = m.T @ m
            nb = (d + block - 1) // block
            bi_l, bj_l, arr_l = [], [], []
            for bi in range(nb):
                ri = slice(bi * block, min((bi + 1) * block, d))
                for bj in range(bi, nb):
                    rj = slice(bj * block, min((bj + 1) * block, d))
                    blk = o[ri, rj]
                    if bi == bj:
                        iu = np.triu_indices(blk.shape[0])
                        arr = np.concatenate([s[ri], blk[iu]])
                    else:
                        arr = blk.ravel()
                    bi_l.append(bi)
                    bj_l.append(bj)
                    arr_l.append(arr)
            yield pd.DataFrame(
                {"bi": bi_l, "bj": bj_l, "n": n, "moments": arr_l}
            )

    return emb.select(vec_col).mapInPandas(
        part, "bi int, bj int, n long, moments array<double>"
    )


def _reduce_blocked(parts: DataFrame) -> DataFrame:
    """Elementwise-sum the blocked partials per block-pair (Arrow
    groupBy — n_pairs = nb(nb+1)/2 groups, each summing n_batches
    arrays of ≤ block² doubles). Every batch emits every pair exactly
    once, so the per-pair Σn is the total row count."""

    def red(key, pdf):
        import numpy as np
        import pandas as pd

        arrs = np.stack(pdf["moments"].to_numpy())
        return pd.DataFrame(
            {
                "bi": [key[0]],
                "bj": [key[1]],
                "n": [int(pdf["n"].sum())],
                "moments": [arrs.sum(axis=0)],
            }
        )

    return parts.groupBy("bi", "bj").applyInPandas(
        red, "bi int, bj int, n long, moments array<double>"
    )


def _unpack_blocked_row(arr, bi: int, bj: int, d: int, block: int):
    """Decode one (bi, bj, moments) row of the blocked layout — the ONE
    place that knows the packing: diagonal rows are concat(Σx of block
    bi, row-major upper triangle of the symmetric Gram block),
    off-diagonal rows the full rect. Returns (s_slice-or-None,
    dense block ndarray of shape (bsz_i, bsz_j))."""
    import numpy as np

    bsz_i = min(block, d - bi * block)
    bsz_j = min(block, d - bj * block)
    if bi == bj:
        s = arr[:bsz_i]
        blk = np.zeros((bsz_i, bsz_i))
        blk[np.triu_indices(bsz_i)] = arr[bsz_i:]
        blk = blk + blk.T - np.diag(np.diag(blk))
        return s, blk
    return None, arr.reshape(bsz_i, bsz_j)


def _triu_dim(n_cells: int) -> int:
    """Invert |cells| = D + D(D+1)/2 = D(D+3)/2 exactly."""
    d = int(round((-3 + (9 + 8 * n_cells) ** 0.5) / 2))
    if d * (d + 3) // 2 != n_cells:
        raise ValueError(f"moment vector length {n_cells} is not D(D+3)/2")
    return d


def _cov_cells_select(outer: DataFrame, means: DataFrame, n_row: DataFrame) -> DataFrame:
    """Shared tail: (i, j, xx) + per-dim sums + n → siground'd sample
    covariance rows (upper triangle, i ≤ j)."""
    j_means = means.select(F.col("i").alias("j"), F.col("s_i").alias("s_j"))
    return (
        outer.join(F.broadcast(means), "i")
        .join(F.broadcast(j_means), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            siground(
                (F.col("xx") - F.col("s_i") * F.col("s_j") / F.col("n_total"))
                / (F.col("n_total") - F.lit(1))
            ).alias("cov"),
        )
    )


def _covariance_from_blocked(
    emb: DataFrame, vec_col: str, d: int, block: int
) -> DataFrame:
    """Blocked covariance path for D > block: bounded Arrow reduce per
    block-pair, THEN a single explode of the already-aggregated arrays
    into (i, j) cells — the n_batches factor never multiplies the cell
    explosion, and no exchange row exceeds block² doubles."""
    reduced = _reduce_blocked(
        _partial_moments_blocked(emb, vec_col, block)
    ).localCheckpoint()  # bounded: nb(nb+1)/2 rows of ≤ block² doubles

    def cells_fn(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            for _, row in pdf.iterrows():
                bi, bj = int(row["bi"]), int(row["bj"])
                _, blk = _unpack_blocked_row(
                    np.asarray(row["moments"]), bi, bj, d, block
                )
                if bi == bj:
                    ii, jj = np.triu_indices(blk.shape[0])
                else:
                    ii, jj = (
                        x.ravel() for x in np.indices(blk.shape)
                    )
                yield pd.DataFrame(
                    {
                        "i": bi * block + ii,
                        "j": bj * block + jj,
                        "xx": blk[ii, jj] if bi == bj else blk.ravel(),
                    }
                )

    def means_fn(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            diag = pdf[pdf["bi"] == pdf["bj"]]
            for _, row in diag.iterrows():
                bi = int(row["bi"])
                s, _ = _unpack_blocked_row(
                    np.asarray(row["moments"]), bi, bi, d, block
                )
                yield pd.DataFrame(
                    {"i": bi * block + np.arange(len(s)), "s_i": s}
                )

    cells = reduced.mapInPandas(cells_fn, "i int, j int, xx double")
    means = reduced.mapInPandas(means_fn, "i int, s_i double")
    n_row = (
        reduced.filter((F.col("bi") == 0) & (F.col("bj") == 0))
        .select(F.col("n").alias("n_total"))
    )
    return _cov_cells_select(cells, means, n_row)


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    block: int | None = None,
) -> DataFrame:
    """Sample covariance matrix of the embedding column as (i, j, cov)
    rows, i ≤ j — exactly oracle-checkable, and the bounded input to
    :func:`embedding_pca`.

    cov(i,j) = (Σ x_i·x_j − Σx_i·Σx_j / n) / (n−1), accumulated in
    float64 on both engines; the batch-partial summation-order residue
    is absorbed by the siground contract. The (pos → i, j) triangle
    unravel is a generated integer mapping table joined on pos — exact
    at any D, no float inverse formula.

    ``block`` enables the dimension-blocked layout for D > block
    (modern embedding models ship D = 1536–3072, past the point where
    one D(D+3)/2-double moment row is a sane exchange row): per-batch
    block-pair partials, Arrow-reduced per pair, exploded to cells only
    AFTER aggregation. Same float64 accumulation → same siground'd
    cells (pinned in tests/test_northstar.py).
    """
    d = _probe_dim(emb, vec_col)
    if block is not None and d > block:
        return _covariance_from_blocked(emb, vec_col, d, block)
    parts = _partial_moments(emb, vec_col)
    # bounded reduce: the exchange carries ≤ n_batches × (D + D(D+1)/2)
    cells = (
        parts.select(F.posexplode("moments").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("s"))
    )
    n_row = parts.agg(F.sum("n").alias("n_total"))
    spark = emb.sparkSession
    means = cells.filter(F.col("pos") < d).select(
        F.col("pos").cast("int").alias("i"), F.col("s").alias("s_i")
    )
    # exact integer (pos -> i, j) mapping for the row-major upper
    # triangle: D(D+1)/2 rows, built once, joined on pos
    ij = (
        spark.range(d)
        .select(F.col("id").cast("int").alias("i"))
        .select("i", F.explode(F.sequence(F.col("i"), F.lit(d - 1))).alias("j"))
        .select(
            "i",
            "j",
            (
                F.lit(d) * F.col("i")
                - (F.col("i") * (F.col("i") - 1)) / 2
                + (F.col("j") - F.col("i"))
                + F.lit(d)
            ).cast("long").alias("pos"),
        )
    )
    outer = cells.filter(F.col("pos") >= d).join(ij, "pos").select(
        "i", "j", F.col("s").alias("xx")
    )
    return _cov_cells_select(outer, means, n_row)


def embedding_covariance_sql(
    table: str = "embeddings", vec_col: str = "embedding"
) -> str:
    """DuckDB oracle: explode positions, per-vector self-join — exact
    at oracle scale (N·D² product rows), which is precisely why the
    engine side uses batch partials instead."""
    cov = siground_sql("(sxy - si.s * sj.s / agg.n) / (agg.n - 1.0)")
    return f"""
WITH pos AS (
  SELECT vec_id, i, CAST(v[i] AS DOUBLE) AS val
  FROM (SELECT vec_id, {vec_col} AS v FROM {table}),
       LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t
), agg AS (
  SELECT a.i AS i, b.i AS j, sum(a.val * b.val) AS sxy, count(*) AS n
  FROM pos a JOIN pos b USING (vec_id)
  WHERE a.i <= b.i GROUP BY a.i, b.i
), stats AS (
  SELECT i, sum(val) AS s FROM pos GROUP BY i
)
SELECT CAST(agg.i - 1 AS INT) AS i, CAST(agg.j - 1 AS INT) AS j, {cov} AS cov
FROM agg JOIN stats si ON agg.i = si.i JOIN stats sj ON agg.j = sj.i
"""


#: above this width embedding_pca switches to the blocked layout on its
#: own: one unblocked moment row is D(D+3)/2 doubles (D=2048 → 17 MB),
#: and the driver collect multiplies that by n_batches
_PCA_AUTO_BLOCK_ABOVE = 1024
_PCA_BLOCK = 512


def embedding_pca(
    emb: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    block: int | None = None,
) -> DataFrame:
    """Top-k PCA spectrum of the embedding column: (component,
    eigenvalue, explained_ratio, cum_ratio) — eigenvalues are
    sign-unambiguous (unlike eigenvectors), so the output is
    deterministic. Not SQL-expressible (eigendecomposition) → rows-only
    driver check; pinned against a direct numpy covariance+eigh in
    pytest.

    The spectrum answers the pipeline questions: how many effective
    dimensions the embeddings use (whitening depth for SemDeDup /
    IVF), and whether the space has collapsed (one dominant ratio).
    The collect is bounded either way — data never reaches the driver:
    unblocked, it is the batch-partial table (n_batches × D(D+3)/2
    doubles); for D > ``block`` (auto-engaged above D=1024, the modern
    D=1536–3072 embedding regime) the blocked layout collects the
    ALREADY-REDUCED block-pair table instead — D(D+3)/2 doubles total,
    independent of batch count, with no exchange row over block²
    doubles.
    """
    import numpy as np

    d = _probe_dim(emb, vec_col)
    if block is None and d > _PCA_AUTO_BLOCK_ABOVE:
        block = _PCA_BLOCK
    if block is not None and d > block:
        reduced = _reduce_blocked(
            _partial_moments_blocked(emb, vec_col, block)
        ).collect()  # bounded: nb(nb+1)/2 rows, D(D+3)/2 doubles total
        # n >= 2 already guaranteed by _probe_dim above
        n = next(int(r["n"]) for r in reduced if r["bi"] == 0 and r["bj"] == 0)
        s = np.zeros(d)
        o = np.zeros((d, d))
        for r in reduced:
            bi, bj = int(r["bi"]), int(r["bj"])
            s_slice, blk = _unpack_blocked_row(
                np.asarray(r["moments"]), bi, bj, d, block
            )
            bsz_i, bsz_j = blk.shape
            if s_slice is not None:
                s[bi * block : bi * block + bsz_i] = s_slice
            o[
                bi * block : bi * block + bsz_i,
                bj * block : bj * block + bsz_j,
            ] = blk
            o[
                bj * block : bj * block + bsz_j,
                bi * block : bi * block + bsz_i,
            ] = blk.T
    else:
        parts = _partial_moments(emb, vec_col)
        rows = parts.collect()  # bounded: one row per Arrow batch
        n = sum(r["n"] for r in rows)
        acc = np.sum([np.asarray(r["moments"]) for r in rows], axis=0)
        d = _triu_dim(len(acc))
        s, tri = acc[:d], acc[d:]
        o = np.zeros((d, d))
        iu = np.triu_indices(d)
        o[iu] = tri
        o = o + o.T - np.diag(np.diag(o))
    cov = (o - np.outer(s, s) / n) / (n - 1)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum())
    if total <= 0.0:
        raise ValueError(
            "embedding_pca: covariance trace is 0 — the embedding column "
            "is constant (no variance to decompose)"
        )
    data, cum = [], 0.0
    for c in range(min(k, d)):
        ev = float(evals[c])
        cum += ev / total
        data.append((c, ev, ev / total, cum))
    out = emb.sparkSession.createDataFrame(
        data,
        "component int, eigenvalue double, explained_ratio double, cum_ratio double",
    )
    return out.select(
        "component",
        siground(F.col("eigenvalue")).alias("eigenvalue"),
        siground(F.col("explained_ratio")).alias("explained_ratio"),
        siground(F.col("cum_ratio")).alias("cum_ratio"),
    )
