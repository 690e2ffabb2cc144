#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print one
JSON line {"metric", "value", "unit", "queries", "sf"}.

``value`` is total wall seconds across the headline set; per-query
seconds are in ``queries``. Each query is executed with a count() action
so results never funnel through the driver.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship weighted-bin scan plus one representative
# of each operator family (window-native stats, cross-feature, dedup /
# similarity / text north-star). Fit-based UDF ops (GARCH, Markov, LOF)
# are excluded: their cost is scipy/statsmodels iteration count, not
# engine throughput — pytest covers them.
HEADLINE = [
    "weighted_bins",
    "panel_distribution",
    "panel_dispersion",
    "panel_ffill",
    "panel_resample",
    "panel_ar1",
    "memory_acf_hurst",
    "lagged_corr",
    "mutual_info",
    "zscore_outliers",
    "mad_outliers",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_xxhash",  # production hash path (rows-only query)
    "dedup_simhash",
    "text_stats",
    "language_id",
    "fingerprint",
    "similarity_ann",
    "similarity_ivf",
    "similarity_ivf_kmeans",  # production config: kmeans quantizer + cogrouped Arrow re-rank (rows-only query)
    "similarity_ivf_hier",  # two-level quantizer: the extreme-N assignment path (rows-only query)
    "dedup_clusters",
    "dedup_incremental",
    "dedup_keep_best",
    "shard_manifest",
    "mixture_temperature",
    "dataset_split",
    "hash_sample",
    "weighted_sample",
    "data_mixture",
    "pipeline_prepare",
    "apply_changes",
    "text_repetition",
    "lm_quality",
    "decontaminate",
    "pii_scrub",
    "quality_rules",
    "countmin_profile",
    "inverted_index",
    "embedding_dim_stats",
    "textrank",
    "stream_sliding_stats",
    "bm25_search",
    "pack_sequences",
    "embedding_quantize",
    "embedding_pq",
    "pq_topk",
    "similarity_ivfadc",
    "similarity_recall",
    "chunk_documents",
    "dataset_card",
    "dedup_shared_spans",
    "topk_terms",
    "tfidf_topterms",
    "asof_profile",
    "asof_profile_forward",
    "sales_by_nation",
    "sales_rollup",
    "range_attribution",
    "session_overlap",
    "events_value_profile",
    "events_value_profile_approx",
    "zorder_layout",  # Z-order vs linear zone-map pruning audit
    "salted_join",  # skew-hardened fact join via deterministic salting
    "lsh_tuning",  # LSH band tuning: empirical vs analytic S-curve
    "quantile_bin",  # exact-percentile discretization audit
    "feature_matrix",  # per-user lag/rolling point-in-time features
    "psi_drift",  # population-stability drift monitor
    "compaction_plan",  # small-file coalescing rewrite planner
    "dsir_select",  # hashed-bigram importance-resampling data selection
    "multimodal_real_meta",  # real PNG/WAV header parsing over synthesized containers
    "multimodal_resize",  # real PNG pixel decode + nearest resize + pixel-sum audit
    "multimodal_features",  # real pixel decode + histogram/extrema feature extraction
    "multimodal_gif_frames",  # animated GIF: real LZW frame decode + per-frame stats
    "multimodal_jpeg_pixels",  # baseline JPEG: Huffman+IDCT pixel decode + stats
    "multimodal_wav_samples",  # PCM16 WAV: real sample decode + audio features
    "multimodal_audio_windows",  # windowed PCM segmentation features
    "multimodal_mp4_meta",  # ISO BMFF box walk: tkhd size + stts frame count
    "multimodal_avi_frames",  # MJPEG-in-AVI: RIFF walk + real JPEG frame decode
    "quota_sample",  # exact-quota stratified sample, two-phase skew-proof rank
    "snapshot_diff",  # corpus release diff: scan-side hashes, one id join
    "curriculum",  # staged training order: exact quantile stages + two-phase positions
    "rolling_corr",  # full-window rolling correlation between feature pairs
    "events_props",  # JSON property extraction profile over raw events
    "events_funnel",  # ordered-step funnel: one user exchange, window min-chain
    "events_retention",  # grid-anchored weekly cohort retention matrix
    "bloom_membership",  # mergeable bloom build + broadcast probe + truth audit
    "semdedup",  # cluster-scoped semantic dedup (SemDeDup)
    "scd2_history",  # type-2 SCD history: one key exchange + windows
    "bloom_skipping",  # per-shard bloom data-skipping audit
    "fuzzy_terms",  # SymSpell deletion-blocked Levenshtein lookup
    "events_attribution",  # last-touch + linear conversion attribution
    "event_paths",  # top-k sessionized user paths
    "active_users",  # DAU/WAU engagement curves
    "semantic_decontaminate",  # embedding-level eval-leak gate
    "tpch_q3",  # selective 3-way join, broadcast + top-10
    "tpch_q5",  # 6-way star join, all dims broadcast
    "tpch_q1",  # full-scan pricing summary, map-side-combined agg
    "hll_distinct",  # from-scratch HLL registers + exact-count audit
    "stream_distinct_users",  # windowed distinct-user HLL (lambda read side)
    "hist_quantiles",  # mergeable histogram sketch + exact-percentile audit
    "tpch_q18",  # semi-join-on-aggregate: one exchange, all-broadcast tail
    "corpus_overlap",  # KMV cross-source overlap estimates + exact audit
    "tpch_q4",  # big-big left-semi shuffle join (EXISTS shape)
    "tpch_q6",  # filter-heavy single-agg scan: pure predicate pushdown
    "tpch_q10",  # returned-item customer ranking: one shuffle + broadcasts
    "tpch_q2",  # groupwise-min cost + equality join-back
    "tpch_q7",  # nation-pair volume: one dim joined through two roles
    "tpch_q8",  # market-share conditional ratio over a 5-dim star
    "tpch_q9",  # product-type profit: contains-filtered part broadcast
    "tpch_q11",  # scalar-subquery threshold over a per-part aggregate
    "tpch_q12",  # cross-side date-arithmetic predicate + CASE pivot
    "tpch_q13",  # left-outer + double aggregation (order-count histogram)
    "tpch_q14",  # promo revenue share: one-pass conditional ratio
    "tpch_q15",  # argmax-by-equality top supplier (sigrounded contract)
    "tpch_q16",  # distinct-agg + broadcast anti-join exclusion
    "tpch_q17",  # correlated per-part avg threshold (post-filter agg)
    "tpch_q19",  # OR-of-conjuncts with pushed quantity envelope
    "tpch_q20",  # semi-join on HAVING-filtered two-key aggregate
    "tpch_q21",  # double self-join folded into one per-order aggregate
    "tpch_q22",  # scalar broadcast + anti-join dormant-customer scan
    "boilerplate_scrub",  # cross-corpus segment dedup, text never shuffles
    "decayed_value",  # recency-decay engagement score, one combinable agg
    "winsorize",  # per-type percentile clipping audit, two bounded aggs
    "sales_cube",  # 4-set CUBE in one Expand pass, bounded exchange
    "skew_report",  # join-key skew profiler, one combinable agg
    "embedding_covariance",  # D x D covariance from Arrow batch partials
    "embedding_pca_spectrum",  # top-8 eigenvalues of the bounded covariance
    "join_size_estimate",  # count-min inner-product CBO primitive
    "join_size_estimate_fast",  # xxhash production twin of the same
    "domain_cap",  # per-source cap, straddle-free two-phase rank
    "late_data_audit",  # watermark pre-flight, bucketed running max
    "similarity_ann_multiprobe",  # Hamming-1 probe fan on a fixed LSH index
    "vocab_growth",  # Heaps-law vocabulary curve, one explode pass
    "length_buckets",  # padded-batch waste planner, bounded groupBy
    "similarity_recall_production",  # recall audit incl. k-means + multiprobe arms
    "leakage_safe_split",  # split keyed on near-dup cluster representative
    "stream_heavy_hitters",  # windowed count-min top-k + exact audit
    "dup_matrix",  # cross-source duplication provenance matrix
    "label_agreement",  # 1-NN precision@1 per class over the LSH path
    "embedding_class_stats",  # class-collapse detector: intra vs inter dispersion
    # r9 additions
    "similarity_ann_multiprobe_capped",  # occupancy-capped probes: the 100x knob
    "multimodal_mp4_frame_index",  # ISO 14496-12 sample-table resolution
    "multimodal_webm_frame_index",  # Matroska EBML cluster/SimpleBlock walk
    "multimodal_image_dhash",  # perceptual hash over real PNG decode
    "multimodal_image_phash_dedup",  # rescaled-duplicate groups
    "multimodal_image_neardup",  # banded Hamming pairs (pigeonhole-complete at d<=3)
    "multimodal_audio_fingerprint",  # windowed-energy delta-sign fingerprint
    "multimodal_audio_fp_dedup",  # resampled-audio duplicate groups
    "stationarity_kpss",  # closed-form KPSS, exact-gated (ADF stays rows-only)
    "bpe_pack",  # tokenizer-fed pack manifest (now exact-oracled end to end)
    "frequency_domain",  # periodogram argmax (now exact via the DFT oracle)
    "dedup_canonical",  # fuzzy-exact tier: canonical-form hash groups
    "k_anonymity",  # re-identification audit, |classes|-bounded exchange
    # r10 session-2 additions
    "changepoint_cusum",  # CUSUM mean-shift, pre-rounded argmax
    "seasonal_decompose",  # classical MA decomposition as window algebra
    "panel_ols",  # sufficient-statistics OLS, groups x 10 doubles
    "theilsen_slope",  # robust trend, bounded-pair hash sample
    "mahalanobis_outliers",  # multivariate tier, closed-form 3x3 inverse
    "dtw_distance",  # quadratic DP, calendar-bounded series length
    "l_diversity",  # attribute-disclosure audit, combinable two-level groupBy
    "graph_triangles",  # degree-oriented wedge join over co-purchase graph
    "fuzzy_join",  # deletion-neighborhood (FastSS) blocking + levenshtein
    "entity_resolution",  # components over the match graph, string labels
    "association_rules",  # top-K market-basket rules (scale-stable contract)
    "benford_audit",  # first-digit forensics, 9-row exchange
    "hybrid_search",  # BM25 + chargram arms fused by reciprocal rank
    "survival_km",  # right-censored Kaplan-Meier time-to-next-event
    "embedding_auc",  # per-class centroid ROC-AUC, average-rank ties
    "revenue_concentration",  # per-market Gini + top-share
    "jackknife_ci",  # delete-one-block jackknife over hash blocks
    "ks_drift",  # two-sample KS, pre-rounded ECDF steps
    "chi2_independence",  # contingency chi2, even-dof closed-form p
    "ab_test",  # deterministic-arm experiment readout (A/A calibration)
    # r11 additions: rank statistics, winnowing, EWMA, entropy/PMI
    "spearman_corr",  # tie-averaged ranks, Pearson on exact half-integers
    "mann_whitney",  # rank-sum drift over per-distinct-value cells
    "mann_kendall",  # hash-capped pair set (theilsen precedent)
    "hill_tail",  # per-type top-(k+1) order stats, constant-k heap work
    "token_entropy",  # one count groupBy + one doc aggregate
    "pmi_collocations",  # two count groupBys + TakeOrdered rank
    "winnow_profile",  # per-doc window minima, scan-side
    "winnow_neardup",  # fingerprint-banded pair join, df-capped
    "ewma_control",  # sequential fold as one in-plan aggregate
    "cohort_ltv",  # one user exchange + cohort x age cells
    "event_transitions",  # lead window + combinable type-pair count
    "interarrival_stats",  # integer-microsecond gaps, one moment aggregate
    "extreme_value",  # block maxima + closed-form Gumbel MoM
    "doc_kl",  # shared exploded stream, term-keyed join
    "zipf_fit",  # TakeOrdered top-1000 + sufficient-stats OLS
    "winnow_clusters",  # components over the df-capped winnow pair graph
    "js_drift",  # binned symmetric divergence, series x bins cells
    "rank_transform",  # tie-averaged percentile transform per series
    "dedup_containment",  # asymmetric containment verify over LSH candidates
    "drift_fdr",  # BH step-up over the battery table (tests x series rows)
    # r12 additions: retrieval quality, URL family, quality drift
    "retrieval_quality",  # nDCG@10/MRR@10 of BM25 + RRF arms vs graded oracle
    "url_normalize",  # one scan-side canonicalization projection
    "url_dedup",  # canonical-URL hash groups (exact_dedup scale shape)
    "domain_report",  # registrable-domain shares, |domains| exchange
    "source_quality_drift",  # per-source card deltas + quality-score PSI
    "embedding_drift",  # per-label centroid cosine/shift between snapshots
    "encoding_audit",  # mojibake/control/script-mix scan-side projection
    "term_drift",  # top-k vocabulary movement between snapshots
    "holt_forecast",  # fixed-parameter double smoothing + h-step forecast
    "seasonal_anomalies",  # row-level residual z after trend+seasonal removal
    # r13 additions
    "t_closeness",  # ordered-domain EMD privacy audit
    "graph_assortativity",  # edge-endpoint degree correlation
    "k_core",  # fixed-round dense-backbone peel
    "calibration_audit",  # reliability bins + ECE + Brier
    "mmd_drift",  # RFF two-sample MMD per label
    "ar_yule_walker",  # AR(3) Cramer solve + PACF
    "table_profile",  # one-pass per-column profiler
    "path_stats",  # per-domain URL path shapes
    "asof_profile_nearest",  # nearest-direction as-of join
    "diurnal_profile",  # circular time-of-day stats + Rayleigh test
]
# similarity_topk (brute force) is deliberately NOT headline: it is the
# O(n²) exactness baseline for the oracle, not the scale path — ANN is.
# hard_negatives shares that shape (measured 36 s at sf0.1 — the
# label-inequality join is a quadratic BroadcastNestedLoop by
# definition) and is likewise excluded: the gate checks it exactly at
# sf0.01, and the 100 TB tier (hard_negatives_ann) reuses the
# already-benched ANN pipeline.
#
# Timing note (decided in round 4, VERDICT r3 #7): dedup_simhash's
# 60-conditional-sum aggregate compiles one large whole-stage-codegen
# method — ~6 s on its first run in a fresh JVM, ~2 s after. The plan
# itself is the right one (single projection + band equi-join), and a
# compile happens once per executor lifetime — zero amortized at
# scale — so the operator stays as-is and the spike is handled by the
# warmup pass below running at the BENCH scale factor: the sf-sized
# plan compiles untimed, and the timed number is the steady-state cost
# that actually extrapolates to 100 TB.


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Optional headline subset (comma-separated names, or "i:j" slice of
    # HEADLINE): lets long off-SF runs (e.g. the 10x BENCH_LOCAL sf1
    # section) be chunked across sessions without changing the per-query
    # warm protocol, which is per-query anyway.
    only_env = os.environ.get("SPARK_GRAFT_ONLY", "")
    headline = HEADLINE
    if only_env:
        parts = only_env.split(":")
        if len(parts) == 2 and all(p.isdigit() or p == "" for p in parts):
            i, j = parts
            headline = HEADLINE[int(i or 0):int(j) if j else len(HEADLINE)]
        else:
            wanted = {n.strip() for n in only_env.split(",") if n.strip()}
            headline = [n for n in HEADLINE if n in wanted]
            unknown = wanted - set(HEADLINE)
            if unknown:
                raise SystemExit(
                    f"SPARK_GRAFT_ONLY names not in HEADLINE: {sorted(unknown)}"
                )
        if not headline:
            raise SystemExit(f"SPARK_GRAFT_ONLY={only_env!r} selects no queries")
    # scale factor from the directory name (sf0.1 → 0.1)
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = -1.0

    from dataframeutils_spark.session import get_spark

    # The engine session: the same conf the tests run under, including
    # the 1 GB JIT code cache that keeps whole-stage-codegen compiled
    # across a 100+-query session (r7: dedup_clusters 20 s with the
    # 240 MB default vs 4.0 s with it). Driver memory: SPARK_DRIVER_MEMORY.
    spark = get_spark(
        app_name="dataframeutils-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Session pre-touch before the cold timer (VERDICT r7 #5: "profile
    # the first-query path — session conf, Arrow batch init — and shave
    # what's shaveable"). Two one-time costs belong to the SESSION, not
    # to whichever query happens to run first:
    #  1. JVM/DAGScheduler/task-serializer class loading (~2-3 s): one
    #     trivial JVM job pays it.
    #  2. Python-worker pool spawn + pandas/numpy import + Arrow
    #     serializer init (~2 s wall across 32 concurrent workers): one
    #     trivial 32-partition mapInPandas pays it; workers are reused
    #     (spark.python.worker.reuse default) by every later Arrow
    #     stage. On a real cluster long-lived executors hold exactly
    #     this warm pool.
    # The flagship's OWN cold costs — its codegen, its scan, its
    # shuffle — stay inside the timed run.
    spark.range(1000).selectExpr("sum(id)").collect()

    def _touch(it):
        import pandas as _pd  # noqa: F401

        yield from it

    spark.range(0, 32, 1, 32).mapInPandas(_touch, "id long").count()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # Per-query warm-then-time at the BENCH SF: pay JVM JIT +
    # whole-stage-codegen compilation (e.g. dedup_simhash's
    # 60-conditional-sum method, the composed pipeline_prepare
    # projection) in an untimed run IMMEDIATELY before the timed one —
    # per-process constants that amortize to zero at scale, and leaving
    # them in the timed number makes runs bimodal.  Two details learned
    # the hard way: (1) warm at sf_dir, not a smaller SF —
    # similarity_ivf sizes C to ceil(sqrt(N)), so an sf0.001-warmed
    # plan compiles a DIFFERENT method than the sf0.1 run (round 3's
    # official 31.95 s row vs 3.4 s warm was exactly that); (2) warm
    # per query, not as one upfront pass — measured when the codegen
    # class cache held Spark's default 100 entries, where with 45+
    # headline queries an upfront sweep evicted the early queries'
    # classes before they were timed (pipeline_prepare 11 s "warmed"
    # vs 3.4 s actually warm). `get_spark` now sizes that cache to the
    # whole registry, so a sweep no longer evicts them; the per-query
    # protocol stays so the BENCH_r series stays comparable.
    # Adaptive warm count: most plans stabilize after one warm run, but
    # ITERATIVE operators (dedup_clusters' pointer-doubling rounds) run
    # a different stage graph per round — one warm pass leaves later
    # rounds' codegen cold (measured: 22 s cold → 11 s after one warm →
    # 3.7 s after two). Warm until consecutive untimed runs stop
    # improving by >1.4×, capped at 3 — steady state is the number that
    # extrapolates, compile cost is per-executor-lifetime.
    # Cold-run honesty number (VERDICT r4 #7): the very first flagship
    # execution in this fresh JVM, before ANY warm pass — codegen
    # compile + JIT included — so the warm protocol's delta is visible
    # in the published JSON rather than only the steady-state number.
    weighted_bins_cold = -1.0
    if "weighted_bins" in headline:  # skip in subset chunks without it
        t0 = time.time()
        try:
            qs["weighted_bins"](spark, sf_dir).count()
            weighted_bins_cold = round(time.time() - t0, 3)
        except Exception as exc:
            print(f"# weighted_bins cold: FAILED {exc}", file=sys.stderr, flush=True)
        print(
            f"# weighted_bins cold (first run, fresh JVM): {weighted_bins_cold:.2f}s",
            file=sys.stderr,
            flush=True,
        )

    per_query: dict[str, float] = {}
    total = 0.0
    for name in headline:
        fn = qs.get(name)
        if fn is None:
            continue
        # Label jobs per query (guide §1.5) so the UI / event log can
        # attribute stages; a local-property set, nanoseconds.
        spark.sparkContext.setJobDescription(f"bench:{name}")
        prev = None
        for _ in range(3):
            try:
                w0 = time.time()
                fn(spark, sf_dir).count()  # untimed warm run
                wdt = time.time() - w0
            except Exception:
                break
            if prev is not None and wdt > prev / 1.4:
                break
            prev = wdt
        t0 = time.time()
        try:
            n = fn(spark, sf_dir).count()
            dt = time.time() - t0
            per_query[name] = round(dt, 3)
            total += dt
            print(f"# {name}: {n} rows in {dt:.2f}s", file=sys.stderr, flush=True)
        except Exception as exc:  # keep benching the rest
            per_query[name] = -1.0
            print(f"# {name}: FAILED {exc}", file=sys.stderr, flush=True)
        # Session hygiene between queries (r7): iterative operators
        # (connected components, textrank, BPE) localCheckpoint RDDs
        # whose storage blocks are only reclaimed when the Python
        # references die AND the JVM ContextCleaner runs. Over a
        # 100+-query session those blocks pile up in storage memory and
        # tax later queries (measured: dedup_keep_best 2.6 s solo vs
        # 15.4 s late in a 104-query session). Drop the references and
        # give the cleaner a GC edge to find them.
        import gc

        gc.collect()
        spark.catalog.clearCache()
        # Python gc only releases the py4j proxies; the checkpoint
        # blocks themselves are owned by JVM RDD objects that the
        # ContextCleaner reclaims via WEAK references — which a JVM
        # that never feels heap pressure may not process for hundreds
        # of queries. One explicit JVM System.gc() per query closes
        # the chain (r7: dedup_clusters measured 18.0 s late in a
        # 126-query session vs 3.6 s solo before this; the cost is
        # ~0.1 s per query, outside the timed section).
        spark.sparkContext._jvm.System.gc()

    # Emit the per-query dict sorted fastest-first / SLOWEST-LAST: the
    # external driver keeps only the last ~2000 chars of stdout, so tail
    # ordering decides which per-query numbers stay comparable across
    # rounds — the expensive queries are the ones worth comparing
    # (r13 verdict item 5; protocol and values unchanged, ordering is
    # not semantic in JSON).
    per_query_sorted = dict(sorted(per_query.items(), key=lambda kv: kv[1]))
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query_sorted,
                "weighted_bins_cold": weighted_bins_cold,
                "sf": sf,
            }
        ),
        flush=True,
    )
    # Full per-query map as a file artifact beside the summary line, in
    # HEADLINE order, so every round keeps a complete committed record
    # even when stdout is tail-truncated (r13 verdict item 5; additive).
    try:
        perq_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_PERQ.json"
        )
        with open(perq_path, "w") as fh:
            json.dump(
                {
                    "metric": "headline_total_wall",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": per_query,
                    "weighted_bins_cold": weighted_bins_cold,
                    "sf": sf,
                    "cpus": cpus,
                },
                fh,
                indent=1,
            )
    except OSError as exc:  # never fail the bench over the artifact
        print(f"# BENCH_PERQ.json not written: {exc}", file=sys.stderr, flush=True)
    # The driver records only the last ~2000 chars of stdout; the
    # per-query dict above can push the headline fields out of that
    # capture (BENCH_r12.json parsed as null). Emit a compact summary
    # as the FINAL line so the tail always parses (r12 verdict item 2).
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "n_queries": len(per_query),
                "n_failed": sum(1 for v in per_query.values() if v < 0),
                "weighted_bins_cold": weighted_bins_cold,
                "weighted_bins_warm": per_query.get("weighted_bins"),
                "sf": sf,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
