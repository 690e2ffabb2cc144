"""Format readers/writers beyond the driver's parquet tables.

The reference's only I/O is a CSV sink (SURVEY O9,
``weighted_bin_calculator.py:325``); a pipeline engine needs the
ingest side too. All readers return lazy DataFrames with an EXPLICIT
schema — schema inference reads the data twice and silently drifts
types between runs, both unacceptable at 100 TB — and validate against
the expected column contract up front so a bad feed fails at plan time,
not 3 hours into a job.

The one writer, :func:`export_shards`, lays the corpus out as the
deterministic training shards that
:func:`~dataframeutils_spark.operators.sampling.shard_manifest`
describes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _check_columns(df: DataFrame, schema: T.StructType, where: str) -> DataFrame:
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{where}: missing required columns {missing}")
    return df


def read_documents_jsonl(
    spark: SparkSession, path: str, schema: T.StructType = DOCUMENTS_SCHEMA
) -> DataFrame:
    """JSON-lines ingest of a documents-shaped feed (the most common
    crawl/dump interchange format). Explicit schema → single pass, no
    inference job; malformed lines are kept visible in a
    ``_corrupt_record`` column rather than silently dropped (PERMISSIVE
    mode), so a feed-quality regression is measurable downstream."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = spark.read.schema(full).option("mode", "PERMISSIVE").json(path)
    return _check_columns(df, schema, f"read_documents_jsonl({path})")


def read_documents_csv(
    spark: SparkSession, path: str, schema: T.StructType = DOCUMENTS_SCHEMA
) -> DataFrame:
    """CSV ingest with explicit schema and header validation (the
    reference's own sink format, round-tripped)."""
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )
    return _check_columns(df, schema, f"read_documents_csv({path})")


def read_documents_orc(
    spark: SparkSession, path: str, schema: T.StructType = DOCUMENTS_SCHEMA
) -> DataFrame:
    """ORC ingest (the other columnar lake format Spark ships natively;
    common in Hive-heritage warehouses). Same contract as the parquet
    path: explicit schema, predicate pushdown and column pruning reach
    the stripe reader."""
    df = spark.read.schema(schema).orc(path)
    return _check_columns(df, schema, f"read_documents_orc({path})")


def read_documents_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "doc",
    schema: T.StructType = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """XML ingest (built into Spark 4 — no external package): one row
    per ``row_tag`` element, explicit schema, malformed elements kept
    visible in ``_corrupt_record`` (PERMISSIVE) exactly like the JSONL
    reader — a feed-quality regression must be measurable, never
    silent."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.format("xml")
        .schema(full)
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .load(path)
    )
    return _check_columns(df, schema, f"read_documents_xml({path})")


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    salt: str = "shard",
    mode: str = "overwrite",
) -> None:
    """Write the corpus as ``n_shards`` deterministic training shards —
    the physical realization of
    :func:`~dataframeutils_spark.operators.sampling.shard_manifest`:
    ``repartition(n_shards, shard)`` + ``sortWithinPartitions(h, id)``
    + parquet partitioned by ``shard``.

    The manifest IS this write's plan, so positions/offsets computed by
    ``shard_manifest`` describe the rows' physical order inside each
    shard directory (pinned by ``tests/test_formats.py``). One shuffle
    on the shard key — the minimum any global-shuffle export pays; at
    100 TB pick n_shards so a shard ≈ a few GB and the sort stays
    in-memory per task.
    """
    from dataframeutils_spark.operators.sampling import shard_hash

    (
        df.withColumn("h", shard_hash(F.col(id_col), salt))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)))
        .repartition(n_shards, F.col("shard"))
        # lead with the partition column: the dynamic-partition writer
        # requires rows ordered by partition keys and would otherwise
        # inject its own (non-stable) sort, scrambling the (h, id)
        # order the manifest promises
        .sortWithinPartitions(F.col("shard").asc(), F.col("h").asc(), F.col(id_col).asc())
        .drop("h")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
