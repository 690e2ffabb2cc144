"""Plan-shape regression tests: the scale claims each operator's
docstring makes, asserted on the optimized physical plan so a future
refactor cannot silently reintroduce a full-width scan, a lost
broadcast, or an extra shuffle. (Wall-clock benchmarks move with the
machine; plan shapes don't.)"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dataframeutils_spark.sources.testdata import load_table
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_prepare_is_single_scan_no_joins(spark):
    """Quality + language evaluate inside ONE pruned scan projection —
    no self-joins of per-doc operator outputs."""
    from dataframeutils_spark.operators import pipeline

    df = pipeline.prepare_corpus_summary(load_table(spark, SF_DIR, "documents"))
    plan = _plan(df)
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert join not in plan, f"unexpected {join} in pipeline plan"
    # column pruning: the scan must read only the two needed columns
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_text_projections_have_no_exchange(spark):
    """text_stats / language_id / repetition_stats are scan-side
    projections — any Exchange means a shuffle crept in."""
    from dataframeutils_spark.operators import text

    docs = load_table(spark, SF_DIR, "documents")
    for fn in (text.text_stats, text.language_id, text.repetition_stats):
        assert "Exchange" not in _plan(fn(docs)), fn.__name__


def test_sales_by_nation_broadcasts_dimensions(spark):
    """Small dims (nation, region) must broadcast; the fact-fact joins
    must NOT broadcast the big sides."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_sales_by_nation(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2


def test_shared_spans_shuffles_hashes_not_text(spark):
    """The span groupBy must key on the 60-bit hash, never the span
    string (docstring claim: only 8-byte keys shuffle)."""
    from dataframeutils_spark.operators import dedup

    plan = _plan(dedup.shared_span_stats(load_table(spark, SF_DIR, "documents")))
    assert "hashpartitioning(span_h" in plan
    assert "hashpartitioning(shingle" not in plan


def test_hash_sample_single_aggregation_pass(spark):
    """hash_sample_summary = one map-side-combinable groupBy: exactly
    one shuffle exchange in the plan."""
    from dataframeutils_spark.operators import sampling

    plan = _plan(sampling.hash_sample_summary(load_table(spark, SF_DIR, "documents")))
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_overlap_join_is_equi_join(spark):
    """The overlap join must be a hash/sort-merge EQUI-join on
    (key, bucket) — never a BroadcastNestedLoop/Cartesian theta-join."""
    from dataframeutils_spark.operators import ranges

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 02:00:00")],
        "user_id long, l_start string, l_end string",
    ).select(
        "user_id",
        F.to_timestamp("l_start").alias("l_start"),
        F.to_timestamp("l_end").alias("l_end"),
    )
    right = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", "2024-01-01 03:00:00")],
        "user_id long, r_start string, r_end string",
    ).select(
        "user_id",
        F.to_timestamp("r_start").alias("r_start"),
        F.to_timestamp("r_end").alias("r_end"),
    )
    plan = _plan(ranges.interval_overlap_join(left, right))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cleaning_projections_have_no_exchange(spark):
    """pii_scrub / quality_rules are scan-side projections — zero
    shuffle, pruned to (doc_id, text)."""
    from dataframeutils_spark.operators import cleaning

    docs = load_table(spark, SF_DIR, "documents")
    for fn in (cleaning.pii_scrub, cleaning.quality_rules):
        plan = _plan(fn(docs))
        assert "Exchange" not in plan, fn.__name__
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, fn.__name__


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set must arrive by broadcast — the corpus
    side never shuffles its exploded grams to meet it."""
    from pyspark.sql import functions as F

    from dataframeutils_spark.operators import cleaning

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    corpus = docs.filter(~F.col("source").isin("src0", "src1"))
    plan = _plan(cleaning.decontaminate(corpus, bench, n=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0], (
        "gram join must not be a sort-merge join"
    )


def test_countmin_estimate_broadcasts_sketch(spark):
    """Sketch cells (≤ depth×width rows) must broadcast to the probe
    side — estimation is shuffle-free on the term set."""
    from dataframeutils_spark.operators import sketches

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(sketches.countmin_profile(docs, k=10, depth=4, width=16))
    assert "BroadcastHashJoin" in plan


def test_bm25_filters_query_terms_before_scoring(spark):
    """The query-term IN filter must sit in the aggregate pipeline
    (post-groupBy filter on the tf table), not after the scoring
    joins — only |q|·df rows may reach the df window."""
    from dataframeutils_spark.operators import text

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(text.bm25_search(docs, ("join", "scan"), k=10))
    # the IN-filter appears before (deeper than) the Window in plan
    # text order: Window prints above its child Filter
    w_pos = plan.index("Window")
    assert "term#" in plan[w_pos:], "df window keyed on term"
    f_pos = plan.find("scan")  # the literal in the IN list
    assert f_pos != -1


def test_pagerank_iteration_truncates_lineage(spark):
    """textrank's 5 rounds must not build an exponentially nested plan:
    localCheckpoint caps the executed-plan depth per round."""
    from dataframeutils_spark.operators import graph

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(graph.textrank_keywords(docs, k=10, iters=5))
    # the final plan hangs off checkpointed RDDs, not 5 nested joins
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 4


def test_decontaminate_source_filter_pushed_to_scan(spark):
    """The corpus/benchmark source predicates must reach the parquet
    scan (PushedFilters), not evaluate post-scan — at 100 TB that is
    the difference between reading a partition and reading the lake."""
    from pyspark.sql import functions as F

    from dataframeutils_spark.operators import cleaning

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    corpus = docs.filter(~F.col("source").isin("src0", "src1"))
    plan = _plan(cleaning.decontaminate(corpus, bench, n=3))
    assert "PushedFilters: [" in plan
    assert "In(source" in plan or "in(source" in plan.lower()


def test_incremental_dedup_single_batch_exchange(spark):
    """The batch side shuffles ONCE on the 8-byte content hash: the
    store join (broadcast at this scale) and the first-occurrence
    window share the h partitioning — and the text column never
    appears past the scan projection."""
    from dataframeutils_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    corpus, batch = dedup.snapshot_split(docs)
    store = corpus.select(dedup.portable_hash60(F.col("text")).alias("h"))
    plan = _plan(dedup.incremental_dedup(batch, store))
    assert plan.count("Exchange hashpartitioning(h#") <= 2  # store agg + batch window
    assert "hashpartitioning(text" not in plan


def test_shard_manifest_single_shuffle_on_shard(spark):
    """pos and offset come from the SAME window — exactly one exchange,
    keyed on shard (the export's write partitioning)."""
    from dataframeutils_spark.operators import sampling

    plan = _plan(sampling.shard_manifest(load_table(spark, SF_DIR, "documents"), n_shards=8))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    assert "hashpartitioning(shard" in plan


def test_mixture_temperature_aggregates_before_window(spark):
    """The corpus-scale work is ONE map-side-combinable groupBy; the
    single-partition window runs over the tiny stratum table only."""
    from dataframeutils_spark.operators import sampling

    plan = _plan(sampling.mixture_temperature_summary(load_table(spark, SF_DIR, "documents")))
    # exactly one corpus-scale hash aggregate exchange; the
    # SinglePartition exchange moves S rows, not the corpus
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" in plan


def test_chunk_documents_no_exchange(spark):
    """Chunking is a scan-side projection + explode — zero shuffle."""
    from dataframeutils_spark.operators import text

    plan = _plan(text.chunk_documents(load_table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan


def test_feature_matrix_single_exchange_on_entity_key(spark):
    """The feature matrix is one hash shuffle on the entity key and
    nothing else — every lag/rolling column shares the same window
    partitioning (docstring claim)."""
    from dataframeutils_spark.operators import features

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    plan = _plan(features.feature_matrix(ev))
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "hashpartitioning(user_id" in plan


def test_quantile_bin_boundaries_broadcast_not_joined(spark):
    """Bin assignment must consume the boundary row via broadcast —
    a hash join against the aggregate row would shuffle the scan."""
    from dataframeutils_spark.operators import features

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    plan = _plan(features.quantile_bin(ev))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_no_global_sort_exchange_on_data_path(spark):
    """File positions come from the two-phase prefix sum: the 10M-row
    data path must never pass through a rangepartitioning exchange (a
    global orderBy) — only the tiny block-totals window may be
    single-partition."""
    from dataframeutils_spark.operators import layout

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    plan = _plan(layout.zorder_layout_audit(ev))
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(_blk" in plan


def test_media_tiers_single_exchange_payload_stays_scan_side(spark):
    """The real-codec media tiers claim 'payload bytes never shuffle':
    the ONLY Exchange in each plan is the narrow (media_id, text)
    round-robin BEFORE synthesis — synthesize and decode run as
    chained ArrowEvalPython/MapInPandas stages with no Exchange
    between them, so at 100 TB the raster/PCM bytes stay inside their
    scan task. Every fixture that spreads its synthesis is listed;
    real_media_table does not spread, so its plan has no Exchange."""
    from dataframeutils_spark.operators import multimodal as M

    docs = load_table(spark, SF_DIR, "documents")
    assert "Exchange" not in _plan(M.image_features(M.real_media_table(docs)))
    for build, reduce_ in [
        (M.gif_media_table, lambda m: M.gif_frame_stats(m, every_k=2)),
        (M.jpeg_media_table, M.jpeg_block_stats),
        (M.wav_audio_table, M.audio_features),
        (M.wav_audio_table, lambda m: M.audio_window_features(m, window=512)),
        (M.mp4_media_table, M.mp4_meta),
        (M.mp4_indexed_media_table, M.mp4_frame_index),
        (M.webm_indexed_media_table, M.webm_frame_index),
        (M.avi_media_table, lambda m: M.avi_frame_stats(m, every_k=2)),
    ]:
        plan = _plan(reduce_(build(docs)))
        assert plan.count("Exchange") == 1, plan
        # the one Exchange must sit below BOTH python stages: nothing
        # python-produced (payload included) may feed a shuffle
        exch_pos = plan.index("Exchange")
        first_py = min(
            p
            for p in (plan.find("MapInPandas"), plan.find("ArrowEvalPython"))
            if p >= 0
        )
        # executedPlan prints top-down: upstream operators appear LATER
        # in the string, so the Exchange (input side) must print after
        # the python stages (output side)
        assert exch_pos > first_py, plan


def test_scd2_single_key_exchange(spark):
    """scd2_history's docstring claim: ONE exchange on the key; version
    numbering, validity lead, and currency share its partitioning."""
    from dataframeutils_spark.operators import pipeline

    changes = spark.createDataFrame(
        [(1, "a", "upsert", 1), (1, "b", "upsert", 2), (2, "c", "delete", 1)],
        "doc_id long, text string, op string, seq int",
    )
    plan = _plan(pipeline.scd2_history(changes))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in plan


def test_retention_two_bounded_exchanges(spark):
    """retention_cohorts: one exchange by user (first-activity window),
    one carrying only distinct (cohort, offset, user) cells."""
    import datetime as dt

    from dataframeutils_spark.operators import events as ev

    df = spark.createDataFrame(
        [(1, dt.datetime(1970, 1, 1)), (2, dt.datetime(1970, 1, 5))],
        "user_id long, ts timestamp",
    )
    plan = _plan(ev.retention_cohorts(df))
    assert plan.count("hashpartitioning(user_id") == 1
    # final cohort window over the tiny cells frame may add one more
    assert plan.count("Exchange") <= 3


def test_tpch_q3_broadcasts_customer_one_big_shuffle_join(spark):
    """Q3's docstring claims: filtered customer broadcasts; the only
    big-big join is lineitem⋈orders."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q3(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "PushedFilters" in plan or "Filter" in plan
    assert plan.count("CartesianProduct") == 0


def test_tpch_q5_star_join_broadcasts_all_dims(spark):
    """Q5: region/nation/supplier/customer all broadcast; exactly the
    lineitem⋈orders join may shuffle both sides."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q5(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("CartesianProduct") == 0


def test_tpch_q6_all_predicates_pushed_pruned_scan(spark):
    """Q6's docstring claims: every predicate reaches the parquet scan
    and only the four referenced columns are read."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q6(spark, SF_DIR))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    pushed = scan.split("PushedFilters: [")[1]
    for name in ("l_shipdate", "l_discount", "l_quantity"):
        assert name in pushed, name
    schema = scan.split("ReadSchema: ")[1]
    assert "l_extendedprice" in schema and "l_orderkey" not in schema
    # no join, no groupBy key exchange — a one-row aggregate
    assert plan.count("Join") == 0


def test_tpch_q10_broadcasts_customer_and_nation(spark):
    """Q10: customer and nation broadcast; lineitem⋈orders is the one
    potentially big-big join; no cartesian products."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q10(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("CartesianProduct") == 0


def test_tpch_q7_both_nation_roles_broadcast(spark):
    """Q7: the supplier-side and customer-side nation maps both
    broadcast; lineitem⋈orders is the only big-big join; the ship-date
    range pushes to the lineitem scan."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q7(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("CartesianProduct") == 0
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln][0]
    assert "l_shipdate" in scan.split("PushedFilters: [")[1]


def test_tpch_q13_outer_join_survives_priority_filter(spark):
    """Q13: the priority predicate must live INSIDE the left-outer join
    condition — if a refactor pushes it below the join as a filter on
    orders that's fine, but a filter ABOVE the join would drop
    zero-order customers. Pin: the join stays LeftOuter and the plan
    has exactly two aggregates (per-customer, then distribution)."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q13(spark, SF_DIR))
    assert "LeftOuter" in plan
    assert plan.count("CartesianProduct") == 0


def test_tpch_q15_argmax_is_broadcast_not_second_scan(spark):
    """Q15: the max-revenue scalar joins back as a broadcast over the
    per-supplier aggregate — lineitem is scanned ONCE (Spark reuses or
    re-derives the quarter scan; the pin is that no sort-merge join
    materializes and supplier broadcasts)."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q15(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("CartesianProduct") == 0


def test_tpch_q16_anti_join_is_broadcast(spark):
    """Q16: the negative-balance exclusion is a broadcast LEFT ANTI
    BEFORE the distinct aggregate — excluded rows never shuffle."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q16(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert plan.count("CartesianProduct") == 0


def test_tpch_q17_avg_computed_post_part_filter(spark):
    """Q17: the per-part average aggregates only the FILTERED parts'
    lines (part broadcast applies before the agg) — the lineitem scans
    feeding both the agg and the probe read just the 3 needed cols."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q17(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    for ln in plan.splitlines():
        if "FileScan" in ln and "lineitem" in ln:
            schema = ln.split("ReadSchema: ")[1]
            assert "l_shipdate" not in schema and "l_orderkey" not in schema


def test_tpch_q19_quantity_envelope_pushed(spark):
    """Q19: the disjunction's common quantity envelope (1..30) pushes
    to the lineitem scan; part broadcasts; no shuffle beyond the 1-row
    aggregate."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q19(spark, SF_DIR))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln][0]
    assert "l_quantity" in scan.split("PushedFilters: [")[1]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q21_single_orderkey_exchange_replaces_self_joins(spark):
    """Q21's docstring claim: the EXISTS + NOT EXISTS double self-join
    of the reference formulation is ONE per-order aggregate here — no
    lineitem self-join anywhere in the plan."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q21(spark, SF_DIR))
    # lineitem appears in exactly one scan
    li_scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(li_scans) == 1, len(li_scans)
    assert plan.count("CartesianProduct") == 0
    # and the distinct-pair pre-aggregate means NO Expand: a naive
    # double count_distinct triples every fact row before the exchange
    # (measured 48.4 s vs 42.4 s at the 100x stress — bounded win; the
    # irreducible join + pair exchange dominates)
    assert "Expand" not in plan


def test_tpch_q22_anti_join_and_scalar_broadcast(spark):
    """Q22: the avg-balance scalar is a 1-row broadcast (nested-loop on
    a single row, not a cartesian blowup) and the dormancy check is an
    anti join."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q22(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert plan.count("CartesianProduct") == 0


def test_tpch_q2_min_cost_join_back_no_cartesian(spark):
    """Q2: groupwise-min joins back on (partkey, rounded cost) as a
    proper equi-join; EUROPE suppliers and the filtered part list
    broadcast."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_tpch_q2(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("CartesianProduct") == 0


def test_boilerplate_scrub_text_never_shuffles(spark):
    """boilerplate_scrub's docstring claim: the only hash exchanges
    carry (seg_hash, doc_id); the rebuild consumes a broadcast, and no
    exchange partitions on text or segment columns."""
    from dataframeutils_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(dedup.boilerplate_scrub(docs))
    assert "hashpartitioning(seg_hash" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln and "seg#" not in ln and "segs" not in ln, ln


def test_sales_cube_single_expand_single_fact_shuffle(spark):
    """sales_cube's docstring claim: Catalyst expands all 4 grouping
    sets into ONE Expand + hash aggregate — the fact join is scanned
    once and no per-set union appears."""
    from dataframeutils_spark import driver

    plan = _plan(driver.q_sales_cube(spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert "Union" not in plan
    li_scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "lineitem" in ln]
    assert len(li_scans) == 1


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """The 100 TB co-located-join recipe: two tables bucketed AND
    sorted on the join key join as a SortMergeJoin with ZERO Exchange
    and zero per-join Sort — bucketing pre-pays the shuffle once at
    write time, every subsequent join on that key is exchange-free.
    (Registry queries read the driver's plain parquet so they cannot
    use this; the test pins that the technique works on this engine's
    session for pipeline-owned intermediate tables.)"""
    left = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS a")
    right = spark.range(0, 10_000).selectExpr("id AS k", "id % 13 AS b")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in (("bkt_l", left), ("bkt_r", right)):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (df.write.bucketBy(8, "k").sortBy("k")
               .option("path", str(tmp_path / name))
               .mode("overwrite").saveAsTable(name))
        j = spark.table("bkt_l").join(spark.table("bkt_r"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for name in ("bkt_l", "bkt_r"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_vocab_growth_partial_aggregates_and_pruned_scan(spark):
    """vocab_growth's min(bucket)-per-term must ride map-side partial
    aggregation (the shuffle carries ~|vocab| rows per task, not
    |tokens|), and the scan reads only (doc_id, text)."""
    from dataframeutils_spark.operators import text

    plan = _plan(text.vocab_growth(load_table(spark, SF_DIR, "documents")))
    assert "partial_min" in plan or "partial_count" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_length_buckets_single_exchange_no_joins(spark):
    """length_buckets is one scan + one bounded groupBy: exactly one
    Exchange, zero joins (the pow2 CASE is a constant projection)."""
    from dataframeutils_spark.operators import packing

    plan = _plan(packing.length_buckets(load_table(spark, SF_DIR, "documents")))
    assert plan.count("Exchange") == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_multiprobe_index_side_unchanged(spark):
    """Multi-probe fans out the PROBE side only: the plan must contain
    the probe-side explode (generate over the 1+r flipped hashes) and
    exactly as many signature pipelines as single-probe (ReuseExchange
    dedupes the shared upstream) — no extra index build."""
    from dataframeutils_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    multi = _plan(similarity.ann_topk_multiprobe(emb, k=3, bits=16, bands=4, dim=64))
    single = _plan(similarity.ann_topk(emb, k=3, bits=16, bands=4, dim=64))
    # the probe fan-out exists…
    assert "Generate explode" in multi
    # …and costs no additional shuffle over the single-probe plan
    assert multi.count("Exchange") <= single.count("Exchange") + 1


def test_ivf_quantizer_picks_the_assignment_path(spark):
    """The quantizer picks the IVF assignment: the default hash
    quantizer runs the fold+window (no Python stage), a passed
    ``centroids`` table the one Arrow assignment stage. Either way the
    coarse ranking is planned once — one ranking window or one
    ``MapInPandas`` — and the re-rank is one grouped Python stage."""
    import re

    from dataframeutils_spark.operators import similarity

    ranking = re.compile(r"row_number\(\) windowspecdefinition\(\w+#\d+L?, score#\d+ DESC")
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(spark, 8, 64)
    for fn in (similarity.ivf_topk, similarity.ivf_topk_hier):
        default = _plan(fn(emb, k=5, n_probe=2, dim=64))
        passed = _plan(fn(emb, k=5, n_probe=2, dim=64, centroids=cents))
        assert "MapInPandas" not in default, fn.__name__
        assert len(ranking.findall(default)) == 1, fn.__name__
        assert passed.count("MapInPandas") == 1, fn.__name__
        assert not ranking.search(passed), fn.__name__
        for plan in (default, passed):
            assert plan.count("FlatMapGroupsInPandas") == 1, fn.__name__
            assert "FlatMapCoGroupsInPandas" not in plan, fn.__name__


def test_ivfadc_ranks_the_coarse_lists_once(spark):
    """IVFADC's list members (r = 1) and its queries' probes come from
    one grouping of one ranked table, with or without the occupancy
    cap: one ranking window, so the N × C fold is scored once."""
    import re

    from dataframeutils_spark.operators import sketches

    ranking = re.compile(r"row_number\(\) windowspecdefinition\(vec_id#\d+L?, score#\d+ DESC")
    emb = load_table(spark, SF_DIR, "embeddings")
    for cap in (None, 8):
        plan = _plan(sketches.ivfadc_topk(emb, n_centroids=8, n_probe=2, dim=64, list_cap=cap))
        assert len(ranking.findall(plan)) == 1, cap


def test_heavy_hitter_registers_bounded_groupby(spark):
    """The write side is one windowed groupBy over (window, row,
    bucket) — partial aggregation present (bounded merge state), no
    joins anywhere in the register build."""
    from dataframeutils_spark import driver
    from dataframeutils_spark.streaming import windows as sw

    ev = driver._events_normalized(spark, SF_DIR)
    plan = _plan(sw.windowed_countmin_registers(ev, width=256))
    assert "partial_count" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan


def test_leakage_split_corpus_join_not_forced_broadcast(spark):
    """The corpus-vs-cluster-labels join must not carry a broadcast
    HINT (a few % of 100 TB is not broadcastable); at test scale AQE
    may still pick broadcast from measured size — we assert on the
    LOGICAL plan, where a hint would appear."""
    from dataframeutils_spark.operators import sampling

    df = sampling.leakage_safe_split(load_table(spark, SF_DIR, "documents"))
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical


def test_spread_is_one_exchange_over_default_parallelism(spark):
    """The scan-side spread rule: ``spread(df, k)`` plans one hash
    exchange on k and ``spread(df)`` one round-robin exchange, both over
    ``defaultParallelism`` partitions."""
    from dataframeutils_spark.operators.local_solve import spread

    par = spark.sparkContext.defaultParallelism
    df = spark.range(100).select(F.col("id").alias("k"))
    keyed = _plan(spread(df, "k"))
    assert keyed.count("Exchange ") == 1, keyed
    assert re.search(rf"Exchange hashpartitioning\(k#\d+L?, {par}\)", keyed), keyed
    plain = _plan(spread(df))
    assert plain.count("Exchange ") == 1, plain
    assert f"Exchange RoundRobinPartitioning({par})" in plain, plain
