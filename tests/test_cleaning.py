"""Corpus-cleaning operators: decontamination, PII scrub, quality rules.

Hand-built fixtures verify each rule/pattern flips where it should;
oracle parity at sf0.001 is covered by the driver-mirroring sweep in
``tools/oracle_sweep.py`` and the registered oracle SQL.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeutils_spark.operators import cleaning


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------------
# decontaminate
# --------------------------------------------------------------------------


def test_decontaminate_flags_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma zeta"),  # shares 'alpha beta gamma'
            (2, "one two three four five"),  # disjoint
            (3, "xy"),  # < n tokens: zero grams
        ],
    )
    out = {
        r["doc_id"]: r
        for r in cleaning.decontaminate(
            corpus, bench, n=3, threshold=0.4
        ).collect()
    }
    assert out[1]["n_grams"] == 2  # 'alpha beta gamma', 'beta gamma zeta'
    assert out[1]["n_hit_grams"] == 1
    assert out[1]["contaminated"] is True  # 0.5 >= 0.4
    assert out[2]["n_hit_grams"] == 0 and out[2]["contaminated"] is False
    assert out[3]["n_grams"] == 0 and out[3]["contaminated"] is False


def test_decontaminate_counts_distinct_grams_once(spark):
    # repeated n-gram in the corpus doc counts once (distinct semantics)
    bench = _docs(spark, [(100, "a b c")])
    corpus = _docs(spark, [(1, "a b c a b c")])
    row = cleaning.decontaminate(corpus, bench, n=3).collect()[0]
    # grams of doc 1: 'a b c', 'b c a', 'c a b' (distinct)
    assert row["n_grams"] == 3
    assert row["n_hit_grams"] == 1


# --------------------------------------------------------------------------
# pii_scrub
# --------------------------------------------------------------------------


def test_pii_scrub_patterns(spark):
    docs = _docs(
        spark,
        [
            (1, "mail me at jo.doe+x@sub.example.org today"),
            (2, "server at 192.168.0.1 and 10.0.0.255 up"),
            (3, "call +1 (555) 010-3456 now"),
            (4, "no pii here just words"),
            (5, "combo a@b.io via 8.8.8.8 or +44 20 7946 0958"),
        ],
    )
    out = {r["doc_id"]: r for r in cleaning.pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["clean_text"]
    assert "jo.doe" not in out[1]["clean_text"]
    assert out[2]["n_ipv4"] == 2 and out[2]["clean_text"].count("<IP>") == 2
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["clean_text"]
    assert out[4]["n_pii"] == 0 and out[4]["clean_text"] == "no pii here just words"
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (1, 1, 1)


def test_pii_scrub_no_false_positive_on_prose_numbers(spark):
    # bare digit runs and version strings are not phones/IPs
    docs = _docs(spark, [(1, "in 2024 we shipped v2.1 with 10000 rows")])
    row = cleaning.pii_scrub(docs).collect()[0]
    assert row["n_pii"] == 0


# --------------------------------------------------------------------------
# quality_rules
# --------------------------------------------------------------------------

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs on through "
    "the field with great speed for it is chased by that farmer"
)


def _rules(spark, text, **kw):
    return cleaning.quality_rules(
        _docs(spark, [(1, text)]), min_words=10, **kw
    ).collect()[0]


def test_quality_rules_pass(spark):
    row = _rules(spark, GOOD)
    assert row["passes"] is True


def test_quality_rules_wordcount(spark):
    assert _rules(spark, "too short")["r_wordcount"] is False


def test_quality_rules_symbol_ratio(spark):
    noisy = GOOD + " # # # # # # # # # # # # # # ..."
    row = _rules(spark, noisy)
    assert row["r_symbol"] is False and row["passes"] is False


def test_quality_rules_bullets_and_ellipsis(spark):
    bullets = "\n".join(["- item %d" % i for i in range(10)])
    row = _rules(spark, bullets)
    assert row["bullet_line_ratio"] == 1.0 and row["r_bullet"] is False
    dots = "\n".join([f"line {i} trails off..." for i in range(10)])
    row = _rules(spark, dots)
    assert row["ellipsis_line_ratio"] == 1.0 and row["r_ellipsis"] is False


def test_quality_rules_alpha_and_stopwords(spark):
    nums = " ".join(str(i) for i in range(40))
    row = _rules(spark, nums)
    assert row["r_alpha"] is False and row["r_stopwords"] is False
    assert row["n_distinct_stopwords"] == 0


def test_quality_rules_word_len_bounds(spark):
    longw = " ".join(["pneumonoultramicroscopic"] * 20)
    assert _rules(spark, longw)["r_word_len"] is False


# --------------------------------------------------------------------------
# oracle parity at sf0.001 (cheap — 50 docs)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "spark_fn, sql_fn",
    [
        (
            lambda docs: cleaning.quality_rules(docs),
            lambda: cleaning.quality_rules_sql(),
        ),
        (
            lambda docs: cleaning.pii_scrub(docs),
            lambda: cleaning.pii_scrub_sql(),
        ),
    ],
)
def test_cleaning_oracle_parity(spark, ddb, spark_fn, sql_fn):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = (
        spark_fn(docs)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = ddb.execute(
        f"SELECT * FROM ({sql_fn()}) ORDER BY doc_id"
    ).fetchdf()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f":
            assert (abs(g - w) < 1e-9).all(), c
        else:
            assert (g == w).all(), c


# --------------------------------------------------------------------------
# bm25 (lives in text.py, tested here with the other corpus-query ops)
# --------------------------------------------------------------------------


def test_bm25_ranks_matching_docs(spark):
    from dataframeutils_spark.operators import text as T

    docs = _docs(
        spark,
        [
            (1, "spark spark spark engine"),     # high tf for 'spark'
            (2, "spark engine"),                  # one hit
            (3, "pandas dataframe engine"),       # no query term
            (4, "spark " + "filler " * 50),       # hit but long doc (dl penalty)
        ],
    )
    out = T.bm25_search(docs, query_terms=("spark",), k=10).collect()
    got = [r["doc_id"] for r in out]
    assert got[0] == 1          # highest tf wins
    assert 3 not in got         # no-term docs don't appear
    # same tf but longer doc scores lower (length normalization)
    s = {r["doc_id"]: r["score"] for r in out}
    assert s[2] > s[4]


def test_bm25_matches_duckdb_oracle(spark, ddb):
    from dataframeutils_spark.operators import text as T

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = [
        (r["doc_id"], r["rank"], r["score"])
        for r in T.bm25_search(docs, ("join", "scan"), k=15).orderBy("rank").collect()
    ]
    want = [
        tuple(t)
        for t in ddb.execute(
            T.bm25_search_sql(("join", "scan"), k=15) + " ORDER BY rank"
        ).fetchall()
    ]
    assert got == want and len(got) > 0


def test_dataset_card_counts(spark):
    from dataframeutils_spark.operators import pipeline

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox is on the hill for now", "a"),
            (2, "the quick brown fox is on the hill for now", "a"),  # dup
            (3, "le chat est dans la maison pour une heure des", "a"),
            (4, "# # # #", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in pipeline.dataset_card(docs).collect()}
    assert out["a"]["n_docs"] == 3 and out["a"]["n_exact_dups"] == 1
    assert out["a"]["n_english"] == 2  # doc 3 scores French
    assert out["b"]["n_quality_pass"] == 0  # pure punctuation fails


def test_bm25_empty_docs_carry_no_mass(spark, ddb):
    from dataframeutils_spark.operators import text as T

    docs = _docs(
        spark,
        [(1, "spark rocks"), (2, ""), (3, "spark spark"), (4, "   ")],
    )
    out = {r["doc_id"]: r["score"] for r in T.bm25_search(docs, ("spark",), k=10).collect()}
    assert set(out) == {1, 3}
    # N=2 token-bearing docs, avgdl=2 — verify against hand formula
    import math
    idf = math.log(1 + (2 - 2 + 0.5) / (2 + 0.5))
    s1 = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 2 / 2))
    assert abs(out[1] - s1) < 1e-5


# ---------------------------------------------------------------------------
# CDC apply (pipeline.apply_changes)
# ---------------------------------------------------------------------------


def test_apply_changes_semantics(spark):
    from dataframeutils_spark.operators import pipeline

    snap = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [
            (2, "two-v2", "upsert", 1),       # update
            (3, "x", "delete", 1),            # delete
            (4, "four", "upsert", 1),         # insert
            (5, "five-a", "upsert", 1),       # superseded...
            (5, "five-b", "upsert", 2),       # ...by higher seq
            (6, "six", "upsert", 3),          # equal-seq tie:
            (6, "x", "delete", 3),            # delete wins
        ],
        "doc_id long, text string, op string, seq int",
    )
    got = {r["doc_id"]: r["text"] for r in pipeline.apply_changes(snap, changes).collect()}
    assert got == {1: "one", 2: "two-v2", 4: "four", 5: "five-b"}


def test_apply_changes_idempotent_replay(spark):
    """Replaying the same batch over the applied snapshot is a no-op —
    the replay-safety the delete-over-upsert tie rule buys."""
    from dataframeutils_spark.operators import pipeline

    snap = spark.createDataFrame([(1, "one"), (2, "two")], "doc_id long, text string")
    changes = spark.createDataFrame(
        [(2, "two-v2", "upsert", 1), (1, "x", "delete", 1)],
        "doc_id long, text string, op string, seq int",
    )
    once = pipeline.apply_changes(snap, changes)
    twice = pipeline.apply_changes(once, changes)
    assert sorted(r["text"] for r in once.collect()) == sorted(
        r["text"] for r in twice.collect()
    ) == ["two-v2"]


def test_scd2_history_versions_and_currency(spark):
    from dataframeutils_spark.operators import pipeline

    changes = spark.createDataFrame(
        [
            # k1: v1 -> v2 -> delete: two closed versions, none current
            (1, "a", "upsert", 1),
            (1, "b", "upsert", 2),
            (1, None, "delete", 3),
            # k2: v1 -> v2: second version open and current
            (2, "x", "upsert", 1),
            (2, "y", "upsert", 5),
            # k3: delete only: no version rows at all
            (3, None, "delete", 1),
        ],
        "doc_id long, text string, op string, seq int",
    )
    out = {
        (r["doc_id"], r["version"]): r
        for r in pipeline.scd2_history(changes).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1), (2, 2)}
    assert out[(1, 1)]["valid_from_seq"] == 1 and out[(1, 1)]["valid_to_seq"] == 2
    assert out[(1, 2)]["valid_from_seq"] == 2 and out[(1, 2)]["valid_to_seq"] == 3
    assert not out[(1, 1)]["is_current"] and not out[(1, 2)]["is_current"]
    assert out[(2, 2)]["valid_to_seq"] is None and out[(2, 2)]["is_current"]
    assert not out[(2, 1)]["is_current"]


def test_scd2_same_seq_delete_superseded_by_upsert(spark):
    from dataframeutils_spark.operators import pipeline

    # same-seq delete+upsert: delete sorts first, upsert wins currency
    changes = spark.createDataFrame(
        [(1, "a", "delete", 1), (1, "b", "upsert", 1)],
        "doc_id long, text string, op string, seq int",
    )
    rows = pipeline.scd2_history(changes).collect()
    assert len(rows) == 1 and rows[0]["is_current"] and rows[0]["version"] == 2


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    # corpus vec 1 is a scaled copy of eval vec 100 (cosine 1.0);
    # corpus vec 2 is orthogonal to everything in the eval set
    corpus = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    evals = spark.createDataFrame(
        [(100, [2.0, 4.0, 6.0, 8.0]), (101, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in cleaning.semantic_decontaminate(corpus, evals, threshold=0.9).collect()
    }
    assert out[1]["contaminated"] and out[1]["nearest_eval_id"] == 100
    assert out[1]["max_eval_sim"] == pytest.approx(1.0)
    assert not out[2]["contaminated"]


def test_semantic_decontaminate_broadcasts_eval_set(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    evals = corpus.limit(3)
    plan = (
        cleaning.semantic_decontaminate(corpus, evals)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # eval side broadcast
    assert "CartesianProduct" not in plan


def test_t_closeness_hand_computed(spark):
    """Planted two-class table with a hand-computed ordered EMD: class
    A matches the global distribution closely; class B concentrates in
    the top bin and violates t."""
    from dataframeutils_spark.operators import cleaning

    # class A: bins 0,1 evenly (4 rows); class B: all 4 rows in bin 2
    rows = [("A", 0), ("A", 0), ("A", 1), ("A", 1),
            ("B", 2), ("B", 2), ("B", 2), ("B", 2)]
    df = spark.createDataFrame(rows, "grp string, vbin int")
    out = cleaning.t_closeness(df, ["grp"], "vbin", n_bins=3, t=0.3).collect()
    assert len(out) == 1
    r = out[0]
    # global q = (0.25, 0.25, 0.5)
    # class A p = (0.5, 0.5, 0): cum = (0.25, 0.5) -> EMD = 0.75/2 = 0.375
    # class B p = (0, 0, 1):     cum = (-0.25, -0.5) -> EMD = 0.375
    assert r["n_classes"] == 2 and r["n_rows"] == 8
    assert abs(r["max_emd"] - 0.375) < 1e-9
    assert r["n_classes_above_t"] == 2 and r["n_rows_at_risk"] == 8
    # with a looser threshold nothing is flagged
    r2 = cleaning.t_closeness(df, ["grp"], "vbin", n_bins=3, t=0.4).collect()[0]
    assert r2["n_classes_above_t"] == 0 and r2["risk_pct"] == 0.0


def test_table_profile_mixed_types_and_nulls(spark):
    """Profile of a planted mixed-type table: exact null/distinct
    counts, numeric slots for numerics only, string ranges for the
    rest."""
    from dataframeutils_spark.operators import pipeline

    df = spark.createDataFrame(
        [(1, 2.0, "b"), (2, None, "a"), (2, 4.0, None), (3, 8.0, "c")],
        "k long, x double, s string",
    )
    out = {r["column"]: r for r in pipeline.table_profile(df).collect()}
    assert out["k"]["n"] == 4 and out["k"]["n_null"] == 0
    assert out["k"]["n_distinct"] == 3
    assert out["k"]["min_num"] == 1.0 and out["k"]["max_num"] == 3.0
    assert out["k"]["mean_num"] == 2.0
    assert out["k"]["min_str"] is None
    assert out["x"]["n"] == 3 and out["x"]["n_null"] == 1
    assert out["x"]["mean_num"] == round(14 / 3, 6)
    assert out["s"]["n_distinct"] == 3 and out["s"]["n_null"] == 1
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "c"
    assert out["s"]["min_num"] is None
