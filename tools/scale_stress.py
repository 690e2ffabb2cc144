#!/usr/bin/env python
"""Scale-stress probe: replicate sf0.1 N× into /tmp and run the
heavy queries against it (VERDICT r1 #8).

No sf>0.1 testdata ships with the harness, so this builds one:
each table row is replicated ``mult`` times with perturbations chosen
to make the stress REALISTIC, not embarrassingly parallel:

* events: same (user_id, event_type) groups, each mult× longer and
  time-shifted per replica — stresses the weighted-bin kernel's
  per-group O(G log G) and the adaptive bucketing.
* documents: replicas get one appended token, so every source doc
  becomes a cluster of ~mult near-duplicates — the LSH hot-bucket
  case that uniform random text never produces.
* embeddings: replicas perturbed by +0.01·m per dimension — dense
  cosine clusters for the ANN bucket join.

At mult=10 the events table is ~1M rows: the reference's published
weighted-bins budget at that size is 20–50 s single-threaded
(BASELINE.md), giving a direct comparison point.

Usage: python tools/scale_stress.py [mult] [out_dir] [only_query ...]
(only_query names restrict the run — at mult=100 skip the O(N^1.5)
fold-exact oracle paths and run the linear/production queries)
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
QUERIES = [
    "weighted_bins",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_xxhash",
    "dedup_simhash",
    "similarity_ann",
    # round 2 additions: the replicated corpus is the worst case for
    # cluster resolution (every source doc becomes a ~mult-clique) and
    # a realistic one for IVF (dense cosine clusters per source vector)
    "similarity_ivf",
    "dedup_clusters",
    "topk_terms",
    "tfidf_topterms",
    "dataset_split",
    # round 3 additions (VERDICT r2 #4): the replicated events table
    # gives every (user, event_type) group mult x more rows — the as-of
    # union-window and the interval-join bucket explode both scale in
    # group size, so this is their stress axis
    "asof_profile",
    "range_attribution",
    # round 3 operators: the replicated corpus is the worst case for
    # shared-span detection (every replica family shares most spans)
    # and pipeline dedup; kmeans + grouped re-rank is the production IVF config
    "pipeline_prepare",
    "dedup_shared_spans",
    "session_overlap",
    "similarity_ivf_kmeans",
    # round 4 additions (VERDICT r3 #8): bigram-LM scoring is the
    # heaviest text pass (train + score in one plan), and the
    # stream-stream join drain proves watermark-bounded state survives
    # a 10M-event replay
    "lm_quality",
    "stream_join",
    # two-level IVF: at 100x (C≈1600, C1=40) assignment does ~8x fewer
    # folds and shuffles ~8x fewer rows than the flat N×C scan —
    # compare directly against similarity_ivf above
    "similarity_ivf_hier",
    # round 4 operators: the cleaning gates and IR/sketch primitives
    # are all scan-side or map-side-combined — 100x should be ~linear
    "quality_rules",
    "pii_scrub",
    "decontaminate",
    "countmin_profile",
    "inverted_index",
    "textrank",
    "bm25_search",
    "pack_sequences",
    # round 4 dedup-policy / export / PQ operators: the replica
    # families make keep_best resolve a ~mult-clique per source doc
    # and give incremental_dedup a store-hit for every replica whose
    # twin landed in the snapshot half; shard_manifest and pq are
    # scan-dominated and should be ~linear
    "dedup_incremental",
    "dedup_keep_best",
    "shard_manifest",
    "mixture_temperature",
    "embedding_pq",
    # chunking explodes ~1.33x token volume scan-side; the real-codec
    # feature extractor decodes one PNG per even doc in Python — both
    # should be ~linear. (panel_ffill/resample are NOT here: they read
    # lineitem, which the stress generator does not replicate, and the
    # aggregated panel is ~7.5k rows at any SF — no stress axis.)
    "chunk_documents",
    "multimodal_features",
    # real-codec media tiers: pure-Python LZW/Huffman decode per doc,
    # embarrassingly parallel scan-side work — should be ~linear in
    # doc count with zero payload shuffle
    "multimodal_gif_frames",
    "multimodal_jpeg_pixels",
    "multimodal_wav_samples",
    "multimodal_avi_frames",
    # late round-4 operators: layout planning and skew salting stress
    # the two-phase global-position machinery and the ×salt dim
    # explode on a 10M-row fact; the feature-prep trio is window/scan
    # work that should stay linear. lsh_tuning is NOT here at high
    # mult: the replica families make the true-Jaccard pair universe
    # itself Θ(docs·mult) — run it at 10× (29M intersect rows) where
    # the audit is realistic, per its own sample-the-corpus contract.
    "zorder_layout",
    "salted_join",
    "quantile_bin",
    "feature_matrix",
    "psi_drift",
    "lsh_tuning",
    # export planning: both are scan + one bounded aggregate/TakeOrdered
    "compaction_plan",
    "dsir_select",
    # round 6 operators: the funnel is one user exchange + window
    # min-chain (groups mult× longer); retention shuffles only distinct
    # (cohort, offset, user) cells; the bloom build stays ≤ m/32 rows
    # no matter the corpus and the probe side is broadcast scan-side;
    # semdedup's replica families make every cluster a dense near-dup
    # clique — the worst case for its within-cluster quadratic, bounded
    # by the auto C = √N sizing
    "events_funnel",
    "events_retention",
    "bloom_membership",
    "semdedup",
    # scd2 is one key exchange + windows (linear); bpe_train's cost is
    # bounded by the top-V word table no matter the corpus size — the
    # 100x run proves corpus-size independence, not throughput
    "scd2_history",
    "bpe_train",
    "bpe_encode",
    # unigram-LM twin of the BPE pair: training cost is bounded by the
    # top-V word table at any corpus size; encoding is a scan-side
    # Arrow DP, linear with zero text shuffle
    "unigram_train",
    "unigram_encode",
    # trains BOTH tokenizers (bounded tables) then aggregates two
    # linear encode scans — the whole query should track corpus scan
    # cost, not corpus size
    "tokenizer_fertility",
    # release diff: both snapshots hash scan-side (text never shuffles),
    # one 8-byte-key full outer join — linear
    "snapshot_diff",
    # staged order: the per-stage rank is the same straddle-free
    # two-phase machinery as quota_sample, here ranking EVERY row —
    # max task = one (stage, 1/1024-hash-slice) cell
    "curriculum",
    "bloom_skipping",
    "fuzzy_terms",
    "events_attribution",
    "event_paths",
    "active_users",
    "semantic_decontaminate",
    "bpe_pack",
    # round-6 session-3: the HLL register build is a bucketwise max —
    # the exchange is ≤ langs × 2^p rows at ANY corpus size, so the
    # stress run proves the wall tracks the token scan, not the sketch;
    # tpch_q1 is the canonical map-side-combined full-scan aggregate
    # (lineitem is not replicated by the generator, but documents-based
    # hll_distinct is the axis that matters here)
    "hll_distinct",
    # windowed distinct-user HLL over the replicated event log: state
    # bounded at open-windows x 2^p registers; the audit's exact side
    # shuffles only (window, user) cells
    "stream_distinct_users",
    # histogram sketch over the replicated event values: bin counts are
    # map-side-combined, exchange <= groups x n_bins; the audit's exact
    # percentile is the expensive side (full sort per group in DuckDB,
    # Spark percentile agg) and exists only at test scale
    "hist_quantiles",
    # KMV overlap at 100x: replica families inflate every source's
    # shingle set ~multx but the sketch stays k values per source —
    # the estimate join is broadcast-tiny; the exact audit's 8-byte
    # hash self-join is the only part that grows
    "corpus_overlap",
    # TPC-H shapes (r7: the generator now replicates orders+lineitem
    # with referential integrity — orderkey*mult+m on BOTH sides, so
    # every replica order keeps exactly its original lineitems and the
    # per-order quantity distribution is unchanged). Q1 is the pure
    # map-side-combined scan (exchange ≤ tasks × flag combos at any
    # size); Q3/Q5 keep one big-big lineitem⋈orders shuffle with all
    # dims broadcast (dims are NOT replicated — fixed dims vs growing
    # facts is the real 100 TB shape); Q18's qualifying set grows
    # ×mult but stays broadcast-tiny; Q4's returned-keys semi side is
    # ~1/3 of lineitem, so at 100× it must flip from broadcast to a
    # shuffled semi — the size-adaptive strategy under test.
    # quota_sample's straddle-bucket rank is the skew mechanism under
    # test: at 100x each (lang) stratum is ~170k docs but no task ever
    # ranks more than a 1/1024 hash slice of one
    "quota_sample",
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q18",
    # Q6 = pure pushed-predicate scan (one-row exchange); Q10 repeats
    # Q3's one big-big shuffle shape with a customer-grained aggregate
    "tpch_q6",
    "tpch_q10",
    # r7 session-2: the TPC-H completion. Q7/Q8/Q9 repeat the one
    # big-big shuffle + broadcast-dims star (fixed dims, growing
    # facts); Q2/Q15's groupwise-min/argmax aggregates grow with
    # (part,supplier) resp. supplier cardinality — bounded by the
    # FIXED dims at any mult, so the equality-join-back stays
    # broadcast-sized; Q11's per-part aggregate is ≤ |part| rows;
    # Q12's cross-side date filter runs post-join on the one shuffle;
    # Q13's outer join shuffles orders on custkey ×mult; Q16/Q20's
    # distinct/HAVING aggregates shuffle two-key projections; Q21's
    # per-order aggregate is THE self-join-avoidance claim — its
    # exchange grows ×mult but carries 3 small columns; Q22's anti
    # build side (recent custkeys) is dim-bounded.
    "tpch_q2",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    # boilerplate scrub on the replicated corpus is ADVERSARIAL by
    # construction: every replica family shares all non-tail segments,
    # so the "boilerplate" hash set is ~every distinct segment of the
    # source corpus (~150k hashes at 100×, ~1.2 MB broadcast) — the
    # documented worst case for the bounded-broadcast contract; the
    # count exchange still carries only 16-byte pairs
    "boilerplate_scrub",
    # decay/winsorize over the replicated event log: both are bounded
    # aggregates (entities × 4 partials resp. groups × percentile
    # states) — the walls must track the event scan, never group count
    "decayed_value",
    "winsorize",
    # CUBE over the replicated fact join: one Expand + hash agg, the
    # exchange stays ≤ 4 × |priority × flag| partials at any mult
    "sales_cube",
    # skew profiler over the replicated events (run against the
    # HOT-KEY variant too): one combinable key count, stats on the
    # ≤|keys| table
    "skew_report",
    # embedding covariance/PCA over the replicated vectors: the only
    # data pass is the batch-partial moments scan — the exchange stays
    # n_batches × (D + D²) doubles at any corpus size
    "embedding_covariance",
    "embedding_pca_spectrum",
    # join-size estimation over the replicated facts: two bounded
    # sketch builds (exchange ≤ tasks × depth × width) + a cell-table
    # inner product; the exact audit's per-key count join is the only
    # part that grows with keys
    "join_size_estimate",
    "join_size_estimate_fast",
    # domain cap over the replicated corpus (every source ~mult×
    # bigger, cap fixed — the straddle bucket is the only ranked
    # slice); watermark audit over the replicated event log (running
    # max stays a bounded bucket-table window)
    "domain_cap",
    "late_data_audit",
    # r8 additions (VERDICT r7 #6): the recall audit at scale — the
    # sampled ground truth is the documented O(N²/mod) arm, everything
    # else is the bucket-bounded probe paths; multi-probe LSH is the
    # (1+r)x probe-side variant of the same band join
    "similarity_recall",
    "similarity_ann_multiprobe",
    # r9: the occupancy-capped variant — the 100× answer to hot
    # buckets. Candidates per query are bounded by bands×(1+r)×64 at
    # any corpus size, so the stress wall must flatten vs the uncapped
    # row above (which probes whole hot buckets)
    "similarity_ann_multiprobe_capped",
    # r8 session-2: the corpus/embedding audits. The replicated corpus
    # is adversarial for vocab_growth (every replica re-treads the
    # source vocabulary — the curve must flatten, and the term table
    # stays |vocab|, not |tokens|), for dup_matrix and
    # leakage_safe_split (every source doc becomes a ~mult replica
    # family: maximal pair count resp. maximal cluster count), and
    # realistic for the windowed heavy hitters (10M events, bounded
    # registers)
    "vocab_growth",
    "length_buckets",
    "dup_matrix",
    "leakage_safe_split",
    "stream_heavy_hitters",
    "label_agreement",
    "embedding_class_stats",
    # r9: canonical dedup is the same one-shuffle shape as dedup_exact
    # (the replicated corpus's appended-token replicas stay distinct,
    # so the canonical key table is ~|docs| — worst case for it);
    # k_anonymity's exchange is |classes| at any row count; the frame
    # index and capped multi-probe are the round's new scale paths
    "dedup_canonical",
    "k_anonymity",
    "multimodal_mp4_frame_index",
    # r10: EBML twin of the MP4 walk — same payload-stays-in-scan shape
    "multimodal_webm_frame_index",
    # r10: perceptual-hash dedup — real PNG decode scan-side, 8-byte
    # band keys through the exchange
    "multimodal_image_phash_dedup",
    # r10 session-2: the trend/structure family reads the lineitem
    # panel — the aggregated panel stays ~7.5k rows at ANY mult (no
    # output stress axis) but the panel-build scan grows ×mult, so the
    # walls must track the scan; theilsen additionally proves the
    # bounded-pair sample (P = ceil(n/cap)) keeps the pair join flat
    "changepoint_cusum",
    "seasonal_decompose",
    "panel_ols",
    "theilsen_slope",
    "mahalanobis_outliers",
    # l-diversity over the replicated event log: both groupBys stay
    # map-side-combinable, exchange ≤ distinct (class, user) pairs
    "l_diversity",
    # triangle counting over replicated lineitem: every replica order
    # repeats its source basket, so the raw pair stream grows ×mult
    # while DISTINCT collapses it back to the SOURCE edge set — the
    # adversarial case for the pre-join distinct; the wedge join then
    # runs on the same graph at any mult
    "graph_triangles",
    # record linkage reads the customer DIM (fixed at any mult by
    # design — fixed dims vs growing facts); included to pin the
    # deletion-neighborhood blocking wall at the 15k-name sf0.1 table
    # (10× the correctness-gate table)
    "fuzzy_join",
    "entity_resolution",
    # market-basket rules over replicated baskets: pair counts scale
    # ×mult but the surviving rule set is count-thresholded; Benford
    # digits are a 9-row exchange at any size; hybrid retrieval runs
    # both arms over the 10× corpus (the chargram arm is scan-side
    # per-doc gram sets, the fusion join is arm_k-bounded)
    "association_rules",
    "benford_audit",
    "hybrid_search",
    # censored churn curves over the replicated event log (user grain
    # grows ×mult; the KM table stays |cohorts × distinct durations|);
    # per-class AUC over the replicated embeddings (rank window per
    # class is the documented exact-AUC cost)
    "survival_km",
    "embedding_auc",
    # Gini over replicated orders (entity totals ×mult, same windows
    # over the entity table); jackknife over the replicated event log
    # (exchange = groups × 50 blocks at any size)
    "revenue_concentration",
    "jackknife_ci",
    # KS over the mult-times-longer panel-build scan; chi2 over the
    # replicated event log (contingency exchange fixed at r*c cells)
    "ks_drift",
    "chi2_independence",
    # experiment readout over the replicated log: one (slice x arm)
    # combinable aggregate, wall tracks the scan
    "ab_test",
    # r11 additions at the 10x tier: the FDR battery (3 drift tests x
    # the full panel feed the bucketed two-phase rank), winnowing
    # clusters (df-capped pair graph + pointer-doubling components),
    # containment dedup (rare-shingle blocking: the replicated corpus
    # makes every shingle common, so candidates DROP — the cap works)
    "drift_fdr",
    "winnow_clusters",
    "dedup_containment",
    # r12: perceptual Hamming pairs now run the occupancy-capped band
    # join — the replicated corpus (near-dup image families) is the
    # hot-bucket case the cap exists for: bounded candidates, no
    # refusal (pre-r12 this query would raise at 10x)
    "multimodal_image_neardup",
    # r12 additions: retrieval-quality audit (each arm is the
    # production retrieval plan; metric joins touch k rows per arm),
    # URL family (scan-side projection / 8-byte-hash groupBys), the
    # per-source and per-label drift reports (sources x bins and
    # labels x dims exchanges at any corpus size)
    "retrieval_quality",
    "url_normalize",
    "url_dedup",
    "domain_report",
    "source_quality_drift",
    "embedding_drift",
    "encoding_audit",
    "term_drift",
    "holt_forecast",
    "seasonal_anomalies",
    # r13 additions: the verdict-8 spot-stress set (the two ANN audit
    # arms that were the largest sf1 lines) + the in-round newcomers
    "similarity_ivfadc",
    "similarity_recall_production",
    "t_closeness",
    "graph_assortativity",
    "k_core",
    "calibration_audit",
    "mmd_drift",
    "ar_yule_walker",
    "table_profile",
    "path_stats",
    "asof_profile_nearest",
    "diurnal_profile",
]

# queries re-run against the HOT-KEY events variant (one user owns ~20%
# of all rows): the interval-join time-bucket path and the as-of window
# must survive a heavily skewed by-key distribution (AQE skew handling +
# bucketized explode), not just uniform keys
HOT_QUERIES = ["range_attribution", "asof_profile", "skew_report"]


def _jvm_peak_rss_gb() -> float:
    """Best-effort VmHWM of the in-process JVM (local mode: one java child)."""
    try:
        import glob

        peaks = []
        for status in glob.glob("/proc/[0-9]*/status"):
            try:
                txt = open(status).read()
            except OSError:
                continue
            if "\nName:\tjava\n" in txt or txt.startswith("Name:\tjava\n"):
                for line in txt.splitlines():
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]))  # kB
        return max(peaks) / 1e6 if peaks else -1.0
    except Exception:
        return -1.0


def generate(spark, mult: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from dataframeutils_spark.sources.testdata import load_table

    m = spark.range(mult).select(F.col("id").cast("int").alias("m"))
    # Write every table across defaultParallelism files. The sf0.1
    # source is ONE file; crossJoin(broadcast) preserves that, and the
    # tiny-vocab text columns snappy-compress ~30x, so without this the
    # 100x documents table lands in a single 12 MB file whose 13
    # row-group splits include one giant straggler — measured: a
    # 20+ min single-thread tail on a query that takes seconds with a
    # sane layout. Real 100 TB tables are thousands of files; the
    # stress data should model that, not a degenerate one-file layout.
    par = spark.sparkContext.defaultParallelism

    ev = load_table(spark, SRC, "events").crossJoin(F.broadcast(m))
    ts_type = dict((f.name, f.dataType.simpleString()) for f in ev.schema.fields)["ts"]
    shifted_ts = (
        # int64 nanos (nanosAsLong sessions): shift in raw nanos
        (F.col("ts") + F.col("m").cast("long") * F.lit(3_600_000_000_000))
        if ts_type == "bigint"
        # TIMESTAMP/_NTZ (Spark 4.1's read of the timestamp[us] files):
        # shift with a calendar interval
        else F.col("ts") + F.expr("make_interval(0, 0, 0, 0, m, 0, 0)")
    )
    ev.select(
        (F.col("event_id") * mult + F.col("m")).alias("event_id"),
        shifted_ts.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = load_table(spark, SRC, "documents").crossJoin(F.broadcast(m))
    docs.select(
        (F.col("doc_id") * mult + F.col("m")).alias("doc_id"),
        F.when(F.col("m") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" rep"), F.col("m")))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    # hot-key events: replicas m>0 funnel 20% of users onto user_id 0 —
    # one user ends up with thousands of sessions/events (the skew shape
    # a real clickstream has: bots + logged-out buckets)
    hot = spark.read.parquet(f"{out_dir}/events.parquet")
    hot.select(
        "event_id",
        "ts",
        F.when(F.col("user_id") % 5 == 0, F.lit(0)).otherwise(F.col("user_id")).alias(
            "user_id"
        ),
        "event_type",
        "value",
        "props",
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}_hot/events.parquet")

    emb = load_table(spark, SRC, "embeddings").crossJoin(F.broadcast(m))
    emb.select(
        (F.col("vec_id") * mult + F.col("m")).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x + F.col("m").cast("float") * F.lit(0.01)).cast("float")
        ).alias("embedding"),
        "label",
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def generate_tpch(spark, mult: int, out_dir: str) -> None:
    """Replicate the TPC-H fact tables (orders, lineitem) mult× and copy
    the dimension tables as-is.

    Referential integrity is preserved by applying the SAME key
    transform to both sides — replica m of order k gets key k·mult+m
    and its lineitems get l_orderkey k·mult+m — so join cardinalities
    and per-order group sizes are exactly those of the source data.
    Dimensions stay fixed (each customer simply owns mult× more
    orders): growing facts against stable dims is the shape a real
    warehouse has, and it keeps the broadcast sides broadcast-sized at
    any mult. Dates are NOT shifted, so every TPC-H filter keeps its
    source selectivity and expected row counts scale exactly ×mult.
    """
    from pyspark.sql import functions as F

    from dataframeutils_spark.sources.testdata import load_table

    par = spark.sparkContext.defaultParallelism
    m = spark.range(mult).select(F.col("id").alias("m"))

    orders = load_table(spark, SRC, "orders").crossJoin(F.broadcast(m))
    orders.select(
        (F.col("o_orderkey") * mult + F.col("m")).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    li = load_table(spark, SRC, "lineitem").crossJoin(F.broadcast(m))
    li.select(
        (F.col("l_orderkey") * mult + F.col("m")).alias("l_orderkey"),
        *[c for c in li.columns if c not in ("l_orderkey", "m")],
    ).repartition(par).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    for dim in ("customer", "supplier", "nation", "region", "part"):
        load_table(spark, SRC, dim).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/{dim}.parquet"
        )


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/stress_{mult}x"
    only = set(sys.argv[3:])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from dataframeutils_spark.session import get_spark

    spark = get_spark(
        app_name="scale-stress", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{out_dir}/events.parquet"):
        t0 = time.time()
        generate(spark, mult, out_dir)
        print(f"# generated {mult}x testdata in {out_dir} ({time.time() - t0:.1f}s)", flush=True)
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        t0 = time.time()
        generate_tpch(spark, mult, out_dir)
        print(f"# generated {mult}x tpch tables in {out_dir} ({time.time() - t0:.1f}s)", flush=True)

    from dataframeutils_spark import driver as d

    qs = d.all_queries()
    for name in QUERIES:
        if only and name not in only:
            continue
        t0 = time.time()
        n = qs[name](spark, out_dir).count()
        print(f"# {name} @ {mult}x: {n} rows in {time.time() - t0:.2f}s", flush=True)
    for name in HOT_QUERIES:
        if only and name not in only:
            continue
        t0 = time.time()
        n = qs[name](spark, f"{out_dir}_hot").count()
        print(f"# {name} @ {mult}x HOT-KEY: {n} rows in {time.time() - t0:.2f}s", flush=True)

    # adversarial CC: a 100k-node chain (diameter 100k) — pointer
    # doubling must close it inside the default max_iter budget; the
    # one-hop variant this replaced would need 100k rounds
    from pyspark.sql import functions as F

    from dataframeutils_spark.operators.dedup import connected_components

    t0 = time.time()
    chain = spark.range(100_000).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    cc = connected_components(chain)
    n_clusters = cc.select("cluster_id").distinct().count()
    print(
        f"# connected_components 100k-chain: {n_clusters} cluster(s) "
        f"in {time.time() - t0:.2f}s",
        flush=True,
    )
    assert n_clusters == 1, "chain must collapse to one component"

    print(f"# jvm peak rss: {_jvm_peak_rss_gb():.1f} GiB", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
