"""User-facing facade: the reference's two entry points, Spark-native.

A user of wilko2587/DataFrameUtils drives two surfaces:

* ``calculate_weighted_bins(df, ...)`` (``weighted_bins/
  weighted_bin_calculator.py:6``) — re-exported from
  :mod:`dataframeutils_spark.operators.weighted_bins` with the same
  parameter names and defaults.
* ``TimeSeriesStudy(df)`` (``time_series_study/time_series_study.py:39``)
  with ten analysis methods — mirrored here over Spark DataFrames.

Differences from the reference, by design:

* Input is a flat Spark DataFrame + a :class:`PanelSchema` (Spark has no
  MultiIndex); group keys keep the golden ``"v1:v2"`` / ``"__ALL__"``
  string contract in every output's ``group``/``grp`` column.
* Methods return *lazy* DataFrames — composition stays in Catalyst, the
  caller picks the action. ``table=True``/``results_dir`` still write the
  reference's CSV/HTML sinks (O9, ``time_series_study.py:113-125``).
* ``publish_plot`` (matplotlib PNG, O10, ``time_series_study.py:96-111``)
  renders a PNG per analysis from the small result table
  (``limit().toPandas()`` — result tables are tiny; the 100 TB input
  never reaches the driver) when matplotlib is importable, and raises a
  clear ``RuntimeError`` when it is not — never a silent no-op.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from dataframeutils_spark.operators import (
    cross_feature,
    memory as memory_ops,
    ml_fits,
    outliers as outlier_ops,
    panel_stats,
    stat_tests,
)
from dataframeutils_spark.operators.weighted_bins import calculate_weighted_bins  # noqa: F401
from dataframeutils_spark.schema import PanelSchema, melt_panel, validate_panel

_MAX_HTML_ROWS = 1000  # reference: head(1000) in _save_df_table (:119)


def _head_deterministic(df: DataFrame):
    """First ``_MAX_HTML_ROWS`` rows under a total order on all columns.

    A bare ``limit()`` picks whichever partitions answer first, so a
    preview/plot of a >1000-row result would differ across runs; the
    reference's ``head(1000)`` is deterministic because pandas rows are
    ordered. Sorting the (small) result table restores that contract.

    Only orderable columns participate in the sort: Spark raises
    ``AnalysisException`` when ``orderBy`` hits a ``MapType`` (e.g.
    ``events.props``), so those are skipped; if NO column is orderable
    the plain ``limit()`` is the best available contract.
    """
    orderable = [
        f.name for f in df.schema.fields if _is_orderable(f.dataType)
    ]
    if orderable:
        return df.orderBy(*orderable).limit(_MAX_HTML_ROWS).toPandas()
    return df.limit(_MAX_HTML_ROWS).toPandas()


def _is_orderable(dt) -> bool:
    """True iff Spark can sort on this type (no Map anywhere inside)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _is_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_is_orderable(f.dataType) for f in dt.fields)
    return True


def save_plot(df: DataFrame, path: str, title: str | None = None) -> str:
    """PNG plot sink — reference O10 (``time_series_study.py:96-111``).

    Renders the numeric columns of the (small) result table: driver-side
    ``limit(_MAX_HTML_ROWS).toPandas()`` like the HTML sink, then one
    matplotlib figure. Raises ``RuntimeError`` if matplotlib is absent —
    callers asked for a plot, so degrading silently is wrong.
    """
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError as exc:
        raise RuntimeError(
            "publish_plot=True requires matplotlib, which is not installed "
            "in this environment; install matplotlib or pass "
            "publish_plot=False"
        ) from exc

    pdf = _head_deterministic(df)
    num = pdf.select_dtypes("number")
    fig, ax = plt.subplots(figsize=(10, 6))
    if num.shape[1] == 0 or len(num) == 0:
        ax.set_axis_off()
        ax.text(0.5, 0.5, "no numeric columns to plot", ha="center", va="center")
    elif len(num) <= 30:
        num.plot.bar(ax=ax)
    else:
        num.plot(ax=ax)
    ax.set_title(title or os.path.basename(path))
    fig.tight_layout()
    fig.savefig(path)
    plt.close(fig)
    return path


def save_table(df: DataFrame, path: str) -> None:
    """CSV + styled HTML preview sink — reference O9 semantics.

    The CSV is written distributed (a directory of part files — the
    100 TB-safe shape); the HTML preview is driver-side and capped at
    the reference's 1000 rows.
    """
    df.write.mode("overwrite").option("header", True).csv(path + ".csv")
    pdf = _head_deterministic(df)
    with open(path + ".html", "w") as fh:
        fh.write(pdf.to_html(index=False))


class TimeSeriesStudy:
    """Grouped time-series analytics over a panel DataFrame.

    ``df`` is wide: one date column, zero or more group columns, the
    rest numeric features (validated like the reference ctor,
    ``time_series_study.py:48-74``).
    """

    #: mirror of the reference's ctor default (`time_series_study.py:46`)
    DEFAULT_RESULTS_DIR = os.path.join("time_series_study", "results")

    def __init__(
        self,
        df: DataFrame,
        schema: PanelSchema | None = None,
        default_results_dir: str | None = None,
    ):
        from pyspark.sql import functions as F

        from dataframeutils_spark.schema import group_key_col

        self.default_results_dir = default_results_dir or self.DEFAULT_RESULTS_DIR
        self.schema = validate_panel(df, schema or PanelSchema())
        self.df = df
        self.features = list(self.schema.feature_cols)
        self.group_levels = list(self.schema.group_cols)
        self._long = melt_panel(df, self.schema)
        # normalized wide panel (grp, date, features...) — the layout the
        # pairwise operators consume
        self._wide = df.select(
            group_key_col(self.schema.group_cols).alias("grp"),
            F.col(self.schema.date_col).alias("date"),
            *self.features,
        )

    # -- sinks -------------------------------------------------------
    def _sink(
        self,
        df: DataFrame,
        name: str,
        table: bool,
        results_dir: str | None,
    ) -> DataFrame:
        # reference contract (`time_series_study.py:160` etc.): sinks
        # fall back to default_results_dir, never the process CWD
        if table:
            out_dir = results_dir or self.default_results_dir
            os.makedirs(out_dir, exist_ok=True)
            save_table(df, os.path.join(out_dir, name))
        return df

    # -- analyses (one per reference method) --------------------------
    def distribution_diagnostics(
        self, publish_plot: bool = False, table: bool = False, results_dir: str | None = None
    ) -> DataFrame:
        out = panel_stats.distribution_diagnostics(self._long)
        self._sink(out, "distribution_diagnostics", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_distribution_histograms(
                _head_deterministic(out), results_dir or self.default_results_dir
            )
        return out

    def stationarity_tests(
        self,
        regression: str = "c",
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        res = stat_tests.stationarity_tests(self._long, regression=regression)
        summary = stat_tests.stationarity_summary(res)
        self._sink(res, "stationarity_tests", table, results_dir)
        self._sink(summary, "stationarity_summary", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_stationarity(
                _head_deterministic(res),
                _head_deterministic(summary),
                results_dir or self.default_results_dir,
            )
        return res, summary

    def memory_dependence(
        self, publish_plot: bool = False, table: bool = False, results_dir: str | None = None
    ) -> DataFrame:
        acf = memory_ops.acf_hurst(self._long)
        lb = stat_tests.ljung_box_p(self._long)
        out = acf.join(lb, ["grp", "feature"], "left")
        self._sink(out, "memory_dependence", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_hurst(_head_deterministic(out), results_dir or self.default_results_dir)
        return out

    def frequency_domain(
        self,
        detrend: bool = True,
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> DataFrame:
        out = stat_tests.frequency_domain(self._long, detrend=detrend)
        self._sink(out, "frequency_domain", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_dominant_frequency(
                _head_deterministic(out), results_dir or self.default_results_dir
            )
        return out

    def cross_sectional_dispersion(
        self,
        feature: str,
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> DataFrame:
        out = panel_stats.cross_sectional_dispersion(self._long, feature)
        self._sink(out, f"cross_section_dispersion_{feature}", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_dispersion(
                _head_deterministic(out), feature, results_dir or self.default_results_dir
            )
        return out

    def predictability_ar1(
        self, publish_plot: bool = False, table: bool = False, results_dir: str | None = None
    ) -> DataFrame:
        out = panel_stats.predictability_ar1(self._long)
        self._sink(out, "predictability_ar1", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_ar1(_head_deterministic(out), results_dir or self.default_results_dir)
        return out

    def cross_feature_comparisons(
        self,
        feature_pairs: list[tuple[str, str]] | None = None,
        max_lag: int = 10,
        rolling_window: int = 10,
        example_group: tuple | None = None,
        wide_lagged_corr: bool = False,
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> dict[str, Any]:
        """``wide_lagged_corr=True`` returns ``lagged_corr`` in the
        reference's ``lag × pair`` matrix shape
        (``time_series_study.py:604``) instead of the engine-native long
        format."""
        pairs = feature_pairs or cross_feature.default_pairs(self.features)
        lagged_fn = (
            cross_feature.lagged_cross_corr_wide
            if wide_lagged_corr
            else cross_feature.lagged_cross_corr
        )
        out = {
            "lagged_corr": lagged_fn(self._wide, pairs, max_lag=max_lag),
            "cointegration": stat_tests.cointegration(self._wide, pairs, max_lag=max_lag),
            "granger": stat_tests.granger_causality(self._wide, pairs, max_lag=max_lag),
            "mutual_info": cross_feature.mutual_information(self._wide, pairs),
        }
        if pairs:
            a, b = pairs[0]
            out["rolling_corr"] = cross_feature.rolling_corr(
                self._wide, a, b, window=rolling_window
            )
        for name, df in out.items():
            self._sink(df, name, table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            out_dir = results_dir or self.default_results_dir
            lagged = out["lagged_corr"]
            if wide_lagged_corr:
                # the heatmap renderer consumes the long shape
                lagged = cross_feature.lagged_cross_corr(self._wide, pairs, max_lag=max_lag)
            plots.plot_lagged_corr(_head_deterministic(lagged), out_dir)
            if pairs and "rolling_corr" in out:
                plots.plot_rolling_corr_example(
                    _head_deterministic(out["rolling_corr"]),
                    pairs[0][0],
                    pairs[0][1],
                    out_dir,
                    example_group=str(example_group) if example_group is not None else None,
                )
        return out

    def regime_detection(
        self,
        feature: str,
        n_regimes: int = 2,
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> DataFrame:
        out = ml_fits.regime_detection(self._long, feature, n_regimes=n_regimes)
        self._sink(out, f"regime_detection_{feature}", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_regime_analysis(
                _head_deterministic(out), feature, results_dir or self.default_results_dir
            )
        return out

    def volatility_analysis(
        self,
        feature: str,
        model_type: str = "GARCH",
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> DataFrame:
        out = ml_fits.volatility_analysis(self._long, feature, model_type)
        self._sink(out, f"volatility_{feature}", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_volatility_analysis(
                _head_deterministic(out),
                feature,
                model_type,
                results_dir or self.default_results_dir,
            )
        return out

    def outlier_detection(
        self,
        feature: str,
        method: str = "isolation_forest",
        publish_plot: bool = False,
        table: bool = False,
        results_dir: str | None = None,
    ) -> DataFrame:
        if method == "zscore":
            out = outlier_ops.zscore_outliers(self._long, feature)
        else:
            out = ml_fits.ml_outliers(self._long, feature, method)
        self._sink(out, f"outliers_{feature}_{method}", table, results_dir)
        if publish_plot:
            from dataframeutils_spark import plots

            plots.plot_outlier_analysis(
                _head_deterministic(out), feature, method, results_dir or self.default_results_dir
            )
        return out

    # -- reference-shaped summary dicts -------------------------------
    # The engine methods return per-group DataFrames (the 100 TB-safe
    # shape); the reference returns {stats, summary} dicts
    # (`time_series_study.py:769-778, 871-879, 969-977`). These
    # wrappers restore that return shape: ONE distributed aggregate
    # per summary, then a single-row fetch — the summary is a
    # driver-side scalar object by definition.

    def regime_detection_summary(
        self, feature: str, n_regimes: int = 2, **sink_kwargs: Any
    ) -> dict[str, Any]:
        """Reference ``regime_detection`` return shape (`:769-778`).

        ``transition_matrices`` maps to the flattened per-group
        ``p00``/``p11`` columns (canonical regime order — the
        reference's full k×k matrix for k=2 is determined by them).
        Failed fits (``regime_switches = -1`` sentinel) are excluded
        from the averages, mirroring the reference, which only appends
        rows for successful fits.
        """
        from pyspark.sql import functions as F

        stats = self.regime_detection(feature, n_regimes, **sink_kwargs)
        ok = stats.filter(F.col("regime_switches") >= 0)
        row = ok.agg(
            F.avg("regime_switches").alias("avg_switches"),
            F.avg("regime_1_prob").alias("avg_regime_1_prob"),
            F.avg("regime_2_prob").alias("avg_regime_2_prob"),
        ).first()
        return {
            "regime_stats": stats,
            "transition_matrices": stats.select("grp", "feature", "p00", "p11"),
            "summary": {
                "avg_switches": row["avg_switches"],
                "avg_regime_1_prob": row["avg_regime_1_prob"],
                "avg_regime_2_prob": row["avg_regime_2_prob"],
            },
        }

    def volatility_analysis_summary(
        self, feature: str, model_type: str = "GARCH", **sink_kwargs: Any
    ) -> dict[str, Any]:
        """Reference ``volatility_analysis`` return shape (`:871-879`):
        ``vol_clustering`` is the reference's published threshold
        semantics — mean persistence > 0.8; empty panels degrade to
        0 / False exactly as the reference's ``if not vol_df.empty``."""
        from pyspark.sql import functions as F

        stats = self.volatility_analysis(feature, model_type, **sink_kwargs)
        row = stats.filter(F.col("persistence").isNotNull()).agg(
            F.avg("persistence").alias("avg_persistence"),
            F.avg("avg_volatility").alias("avg_volatility"),
        ).first()
        avg_pers = row["avg_persistence"]
        return {
            "volatility_stats": stats,
            "summary": {
                "avg_persistence": avg_pers if avg_pers is not None else 0,
                "avg_volatility": row["avg_volatility"] if row["avg_volatility"] is not None else 0,
                "vol_clustering": bool(avg_pers is not None and avg_pers > 0.8),
            },
        }

    def outlier_detection_summary(
        self, feature: str, method: str = "isolation_forest", **sink_kwargs: Any
    ) -> dict[str, Any]:
        """Reference ``outlier_detection`` return shape (`:969-977`).
        Failed fits (``n_outliers = -1`` sentinel) are excluded."""
        from pyspark.sql import functions as F

        stats = self.outlier_detection(feature, method, **sink_kwargs)
        ok = stats.filter(F.col("n_outliers") >= 0)
        row = ok.agg(
            F.avg("outlier_rate").alias("avg_outlier_rate"),
            F.sum((F.col("n_outliers") > 0).cast("long")).alias("groups_with_outliers"),
            F.sum("n_outliers").alias("total_outliers"),
        ).first()
        return {
            "outlier_stats": stats,
            "summary": {
                "avg_outlier_rate": row["avg_outlier_rate"],
                "groups_with_outliers": row["groups_with_outliers"] or 0,
                "total_outliers": row["total_outliers"] or 0,
            },
        }


class CorpusStudy:
    """Facade for the training-data pipeline surface, symmetric with
    :class:`TimeSeriesStudy`: one object over a ``documents``-shaped
    DataFrame (``doc_id``, ``text``, optional ``source``) exposing the
    cleaning / dedup / analysis / packing operators as lazy DataFrames.

    Engine extension (no reference counterpart — SURVEY §2.3): the
    reference analyses panels; this is the corpus-side entry point a
    pretraining pipeline drives. Every method delegates to the
    operator modules, so plan shapes (and their plan-pinned tests)
    are identical whether called here or directly.
    """

    def __init__(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        self.docs = docs
        self.text_col = text_col
        self.id_col = id_col

    def _kw(self) -> dict[str, str]:
        return {"text_col": self.text_col, "id_col": self.id_col}

    # ---- per-document signals -------------------------------------
    def text_stats(self) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.text_stats(self.docs, **self._kw())

    def language_id(self) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.language_id(self.docs, **self._kw())

    def quality_rules(self, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import cleaning

        return cleaning.quality_rules(self.docs, **self._kw(), **kwargs)

    def pii_scrub(self) -> DataFrame:
        from dataframeutils_spark.operators import cleaning

        return cleaning.pii_scrub(self.docs, **self._kw())

    def repetition(self, n: int = 3) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.repetition_stats(self.docs, n=n, **self._kw())

    # ---- dedup ----------------------------------------------------
    def exact_dedup(self) -> DataFrame:
        from dataframeutils_spark.operators import dedup

        return dedup.exact_dedup(self.docs, **self._kw())

    def minhash_dedup(
        self, num_perm: int = 16, bands: int = 4, **kwargs: Any
    ) -> DataFrame:
        from dataframeutils_spark.operators import dedup

        sh = dedup.shingles(self.docs, **self._kw(), **kwargs)
        return dedup.minhash_lsh_pairs(sh, num_perm=num_perm, bands=bands)

    def lsh_tuning(
        self, num_perm: int = 16, bands: int = 4, **kwargs: Any
    ) -> DataFrame:
        """Empirical vs analytic LSH detection per Jaccard decile —
        run on a hash-sample before committing (r, b) for a dedup
        pass (see :func:`operators.dedup.lsh_tuning_audit`)."""
        from dataframeutils_spark.operators import dedup

        return dedup.lsh_tuning_audit(
            self.docs, num_perm=num_perm, bands=bands, **self._kw(), **kwargs
        )

    def decontaminate(self, benchmark: DataFrame, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import cleaning

        return cleaning.decontaminate(
            self.docs, benchmark, text_col=self.text_col,
            id_col=self.id_col, **kwargs,
        )

    def dsir_select(
        self, target_sources: tuple[str, ...], k: int = 250, **kwargs: Any
    ) -> DataFrame:
        """DSIR importance-resampling selection of the raw pool toward
        the named target sources (operators/sampling.py)."""
        from dataframeutils_spark.operators import sampling

        return sampling.dsir_select(
            self.docs, target_sources=target_sources, k=k,
            text_col=self.text_col, id_col=self.id_col, **kwargs,
        )

    def dedup_keep_best(self, quality_col: str = "n_chars", **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import dedup

        return dedup.keep_best_clusters(
            self.docs, quality_col=quality_col, **self._kw(), **kwargs
        )

    def dedup_against(self, corpus_hashes: DataFrame, **kwargs: Any) -> DataFrame:
        """Incremental dedup of THIS frame (the new batch) against an
        existing corpus's content-hash store."""
        from dataframeutils_spark.operators import dedup

        return dedup.incremental_dedup(
            self.docs, corpus_hashes, **self._kw(), **kwargs
        )

    # ---- corpus-level analysis ------------------------------------
    def topk_terms(self, k: int = 50) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.topk_terms(self.docs, k=k, **self._kw())

    def keywords(self, k: int = 20, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import graph

        return graph.textrank_keywords(
            self.docs, k=k, text_col=self.text_col, **kwargs
        )

    def search(self, query_terms: tuple[str, ...], k: int = 10) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.bm25_search(self.docs, query_terms, k=k, **self._kw())

    def dataset_card(self, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import pipeline

        return pipeline.dataset_card(
            self.docs, text_col=self.text_col, id_col=self.id_col, **kwargs
        )

    def chunk(self, window: int = 32, stride: int = 24) -> DataFrame:
        from dataframeutils_spark.operators import text

        return text.chunk_documents(
            self.docs, window=window, stride=stride, **self._kw()
        )

    # ---- sampling / mixture ---------------------------------------
    def mixture_temperature(self, tau: float = 0.5, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import sampling

        return sampling.mixture_temperature_summary(self.docs, tau=tau, **kwargs)

    def shard_manifest(self, n_shards: int = 16, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import sampling

        return sampling.shard_manifest(
            self.docs, n_shards=n_shards, id_col=self.id_col, **kwargs
        )

    # ---- end of pipeline ------------------------------------------
    def prepare(self, **kwargs: Any) -> DataFrame:
        from dataframeutils_spark.operators import pipeline

        return pipeline.prepare_corpus(
            self.docs, text_col=self.text_col, id_col=self.id_col, **kwargs
        )

    def pack(self, seq_len: int = 256) -> DataFrame:
        from dataframeutils_spark.operators import packing

        return packing.pack_sequences(
            self.docs, seq_len=seq_len, **self._kw()
        )

    def bpe(self, n_merges: int = 30, vocab_top: int = 2000):
        """Train a BPE tokenizer on this corpus: (merge table, rules)."""
        from dataframeutils_spark.operators import bpe as bpe_ops

        return bpe_ops.bpe_train(
            self.docs, n_merges=n_merges, vocab_top=vocab_top,
            text_col=self.text_col,
        )

    def unigram(self, vocab_size: int = 400, **kwargs: Any):
        """Train a unigram-LM (SentencePiece-family) tokenizer on the
        bounded word table; returns (vocab table, {piece: logprob})."""
        from dataframeutils_spark.operators import unigram

        return unigram.unigram_train(
            self.docs, vocab_size=vocab_size, text_col=self.text_col, **kwargs
        )

    def unigram_stats(self, scores: dict[str, float], **kwargs: Any) -> DataFrame:
        """Viterbi-encode the corpus with a trained unigram vocabulary
        (per-doc token counts + compression)."""
        from dataframeutils_spark.operators import unigram

        return unigram.unigram_encode_stats(
            self.docs, scores, id_col=self.id_col, text_col=self.text_col, **kwargs
        )

    def bpe_stats(self, rules) -> DataFrame:
        """Per-doc token stats under previously learned BPE rules."""
        from dataframeutils_spark.operators import bpe as bpe_ops

        return bpe_ops.bpe_encode_stats(
            self.docs, rules, id_col=self.id_col, text_col=self.text_col
        )

    def semantic_decontaminate(
        self, corpus_emb: DataFrame, eval_emb: DataFrame, **kwargs: Any
    ) -> DataFrame:
        """Embedding-level eval-leak gate over this corpus's embeddings."""
        from dataframeutils_spark.operators import cleaning

        return cleaning.semantic_decontaminate(corpus_emb, eval_emb, **kwargs)

    def semdedup(self, embeddings: DataFrame, **kwargs: Any) -> DataFrame:
        """Cluster-scoped semantic dedup over this corpus's embeddings."""
        from dataframeutils_spark.operators import dedup

        return dedup.semdedup_prune(embeddings, **kwargs)

    def scd2_history(self, changes: DataFrame, **kwargs: Any) -> DataFrame:
        """Type-2 SCD version history from a CDC change log."""
        from dataframeutils_spark.operators import pipeline

        return pipeline.scd2_history(changes, id_col=self.id_col, **kwargs)

    def source_overlap(
        self, group_col: str = "source", n: int = 3, k: int = 256
    ) -> DataFrame:
        """Pairwise cross-source shingle-overlap estimates from KMV
        sketches, audited against the exact hash intersection."""
        from dataframeutils_spark.operators import sketches

        return sketches.corpus_overlap(
            self.docs, group_col=group_col, n=n, k=k, text_col=self.text_col
        )

    def vocab_cardinality(self, group_col: str = "lang", p: int = 10) -> DataFrame:
        """Per-group distinct-token HyperLogLog estimate + exact audit
        (mergeable registers — per-shard sketches combine by bucketwise
        max without re-reading text)."""
        from dataframeutils_spark.operators import sketches

        return sketches.hll_distinct_words(
            self.docs, group_col=group_col, p=p, text_col=self.text_col
        )

    def snapshot_diff(self, new_docs: DataFrame, **kwargs: Any) -> DataFrame:
        """Release diff vs a newer snapshot: per-doc added/removed/
        changed/unchanged by content hash (text never shuffles)."""
        from dataframeutils_spark.operators import pipeline

        return pipeline.snapshot_diff(
            self.docs, new_docs, id_col=self.id_col, text_col=self.text_col, **kwargs
        )

    def quota_sample(
        self, pct: int = 20, strat_col: str = "lang", **kwargs: Any
    ) -> DataFrame:
        """EXACT-quota stratified sample: exactly ⌊n_s·pct/100⌋ docs per
        stratum (two-phase skew-proof rank — no task ever sorts a whole
        stratum)."""
        from dataframeutils_spark.operators import sampling

        return sampling.quota_sample(
            self.docs, pct=pct, strat_col=strat_col, id_col=self.id_col, **kwargs
        )

    def curriculum(
        self, score_col: str = "n_chars", n_stages: int = 4, **kwargs: Any
    ) -> DataFrame:
        """Curriculum training manifest: exact-quantile stages
        (easy-to-hard), reproducible hash shuffle within each stage."""
        from dataframeutils_spark.operators import sampling

        return sampling.curriculum_manifest(
            self.docs,
            score_col=score_col,
            n_stages=n_stages,
            id_col=self.id_col,
            **kwargs,
        )

    def hard_negatives(
        self, embeddings: DataFrame, k: int = 5, **kwargs: Any
    ) -> DataFrame:
        """Contrastive hard negatives over an embeddings table: per
        anchor, the top-k most-similar different-label vectors."""
        from dataframeutils_spark.operators import similarity

        return similarity.hard_negatives(embeddings, k=k, **kwargs)


class EventStudy:
    """Facade for the event-log analytics surface: one object over an
    ``events``-shaped DataFrame (``user_id``, ``ts``, ``event_type``)
    exposing sessionization, funnel, retention, and windowed stats as
    lazy DataFrames — the product-analytics entry point, symmetric
    with :class:`TimeSeriesStudy` (panels) and :class:`CorpusStudy`
    (documents). Engine extension; no reference counterpart.
    """

    def __init__(
        self,
        events: DataFrame,
        by: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
    ) -> None:
        self.events = events
        self.by = by
        self.ts_col = ts_col
        self.type_col = type_col

    def sessionize(self, gap_seconds: int = 1800) -> DataFrame:
        from dataframeutils_spark.operators import ranges

        return ranges.sessionize(
            self.events.select(self.by, self.ts_col),
            on=self.ts_col,
            by=(self.by,),
            gap_seconds=gap_seconds,
        )

    def funnel(
        self, steps: list[str], within_seconds: int | None = None
    ) -> DataFrame:
        from dataframeutils_spark.operators import events as events_ops

        return events_ops.funnel(
            self.events,
            steps,
            by=self.by,
            ts_col=self.ts_col,
            type_col=self.type_col,
            within_seconds=within_seconds,
        )

    def retention(self, period_days: int = 7) -> DataFrame:
        from dataframeutils_spark.operators import events as events_ops

        return events_ops.retention_cohorts(
            self.events, by=self.by, ts_col=self.ts_col, period_days=period_days
        )

    def attribution(
        self,
        conversion_type: str,
        touch_types: list[str],
        lookback_seconds: int = 86_400,
        value_col: str = "value",
    ) -> DataFrame:
        from dataframeutils_spark.operators import events as events_ops

        return events_ops.attribution(
            self.events,
            conversion_type,
            touch_types,
            lookback_seconds=lookback_seconds,
            by=self.by,
            ts_col=self.ts_col,
            type_col=self.type_col,
            value_col=value_col,
        )

    def paths(self, depth: int = 3, k: int = 20, gap_seconds: int = 1800) -> DataFrame:
        from dataframeutils_spark.operators import events as events_ops

        return events_ops.event_paths(
            self.events, depth=depth, k=k, gap_seconds=gap_seconds,
            by=self.by, ts_col=self.ts_col, type_col=self.type_col,
        )

    def active_users(self, window_days: int = 7) -> DataFrame:
        from dataframeutils_spark.operators import events as events_ops

        return events_ops.active_users(
            self.events, window_days=window_days, by=self.by, ts_col=self.ts_col
        )

    def windowed_stats(self, window: str = "1 hour") -> DataFrame:
        from dataframeutils_spark.streaming import windows as sw

        return sw.windowed_event_stats(self.events, window=window)

    def distinct_users(self, window: str = "1 hour", p: int = 8) -> DataFrame:
        """Per-window distinct-user HLL estimate + exact audit (batch
        read side of the mergeable-register lambda; pass the events as
        a stream to :func:`streaming.windows.windowed_distinct_registers`
        for the write side)."""
        from dataframeutils_spark.streaming import windows as sw

        return sw.windowed_distinct_users(
            self.events, window=window, p=p, user_col=self.by
        )

    def value_quantiles(
        self,
        qs: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
        value_col: str = "value",
        n_bins: int = 64,
    ) -> DataFrame:
        """Histogram-sketch quantiles of ``value_col`` per event type,
        audited against the exact interpolated percentile."""
        from dataframeutils_spark.operators import sketches

        return sketches.hist_quantile_profile(
            self.events.select(self.type_col, value_col),
            value_col,
            self.type_col,
            qs=qs,
            n_bins=n_bins,
        )
