"""Format readers/writers: explicit-schema ingest, corrupt-record
visibility, partition pruning, and shuffle-free bucketed joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframeutils_spark.sources import formats
from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_jsonl_roundtrip_and_corrupt_record(spark, tmp_path):
    p = str(tmp_path / "docs.jsonl")
    docs = _docs(spark)
    docs.toPandas().to_json(p, orient="records", lines=True)
    # append one malformed line — must surface, not vanish
    with open(p, "a") as f:
        f.write('{"doc_id": "not-a-number", "text": 5}\n')
    # Spark refuses filters that touch ONLY _corrupt_record on a raw
    # JSON scan (the column exists only during parsing) — cache first,
    # the documented workaround
    got = formats.read_documents_jsonl(spark, p).cache()
    n_good = got.filter(F.col("_corrupt_record").isNull()).count()
    n_bad = got.filter(F.col("_corrupt_record").isNotNull()).count()
    assert n_good == docs.count()
    assert n_bad == 1
    a = docs.select("doc_id", "text").orderBy("doc_id").collect()
    b = got.filter(F.col("_corrupt_record").isNull()).select("doc_id", "text").orderBy("doc_id").collect()
    assert a == b


def test_csv_roundtrip_with_embedded_newlines(spark, tmp_path):
    p = str(tmp_path / "docs_csv")
    docs = _docs(spark).withColumn(
        "text", F.concat(F.col("text"), F.lit('\nline2 "quoted"'))
    )
    docs.coalesce(1).write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(p)
    got = formats.read_documents_csv(spark, p)
    assert got.count() == docs.count()
    assert got.orderBy("doc_id").select("text").first()[0].endswith('line2 "quoted"')


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC round-trip preserves content; a filter on the read reaches
    the ORC scan as a pushed filter (same contract as parquet)."""
    p = str(tmp_path / "docs_orc")
    docs = _docs(spark)
    docs.write.mode("overwrite").orc(p)
    got = formats.read_documents_orc(spark, p)
    assert got.count() == docs.count()
    a = docs.orderBy("doc_id").collect()
    b = got.orderBy("doc_id").collect()
    assert a == b
    filtered = got.filter(F.col("lang") == "en").select("doc_id")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_xml_roundtrip_and_corrupt_record(spark, tmp_path):
    """Spark 4 native XML: row-per-tag ingest with the same corrupt-
    record visibility contract as JSONL."""
    import html

    p = str(tmp_path / "docs.xml")
    docs = _docs(spark).limit(50).collect()
    with open(p, "w") as f:
        f.write("<docs>\n")
        for r in docs:
            f.write(
                f"<doc><doc_id>{r['doc_id']}</doc_id>"
                f"<text>{html.escape(r['text'])}</text>"
                f"<lang>{r['lang']}</lang><source>{html.escape(r['source'])}</source>"
                f"<n_chars>{r['n_chars']}</n_chars></doc>\n"
            )
        # malformed element: wrong type for a long field — must surface
        f.write("<doc><doc_id>not-a-number</doc_id><text>bad</text></doc>\n")
        f.write("</docs>\n")
    got = formats.read_documents_xml(spark, p).cache()
    good = got.filter(F.col("_corrupt_record").isNull())
    assert good.count() == len(docs)
    assert got.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    want = sorted((r["doc_id"], r["text"]) for r in docs)
    have = sorted((r["doc_id"], r["text"]) for r in good.select("doc_id", "text").collect())
    assert want == have


def test_export_shards_matches_manifest(spark, tmp_path):
    """The physical shard files must realize shard_manifest exactly:
    per shard, file row order == manifest pos order, and doc sets
    match."""
    from dataframeutils_spark.operators import sampling
    from dataframeutils_spark.sources import formats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "shards")
    formats.export_shards(docs, out, n_shards=4)
    manifest = sampling.shard_manifest(docs, n_shards=4).toPandas()
    for shard in range(4):
        # preserve parquet file order: read the shard directory alone
        got = spark.read.parquet(f"{out}/shard={shard}").toPandas()["doc_id"].tolist()
        want = (
            manifest[manifest["shard"] == shard]
            .sort_values("pos")["doc_id"]
            .tolist()
        )
        assert got == want, f"shard {shard} order diverges from manifest"
