"""Readers for the driver's parquet tables and the engine's two canonical
derived inputs (the TimeSeriesStudy panel and the weighted-bin event table).

Everything here is a *lazy* DataFrame: parquet scans get column pruning
and predicate pushdown from Catalyst, so an operator that only touches
three lineitem columns reads only those column chunks — at 100 TB that
is the difference between a 3-column scan and a full-table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The read contract (FIXTURES.md): the Spark schema of every table but
# ``events``, equal to what parquet inference gives on the shipped files.
# Reading with it starts no schema-inference job while a query is built;
# a column missing from a file would read as NULL, which
# tests/test_table_schemas.py guards against.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
    "c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
    "p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def read_nanos_as_long(spark: SparkSession) -> None:
    """Let this session read an events file whose ``ts`` is timestamp[ns].

    The shipped events.parquet stores ``ts`` as INT64 microseconds with
    ``isAdjustedToUTC=false``, which Spark reads as ``timestamp_ntz``
    with or without this conf. It is here for timestamp[ns] files, which
    Spark rejects (``PARQUET_TYPE_ILLEGAL``) unless nanos are read as a
    long. Every events reader — :func:`load_table` and the streaming
    source — calls this before touching the file, so the first events
    read of a fresh (even vanilla) session works for either unit.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a lazy DataFrame.

    Every table but ``events`` is read with its declared schema from
    :data:`SCHEMAS`. ``events`` keeps inference, because its ``ts`` may
    be timestamp[us] or timestamp[ns] (read as a long).
    """
    if name not in TABLES:
        raise ValueError(f"Unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        read_nanos_as_long(spark)
        return spark.read.parquet(path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def lineitem_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's standard panel: lineitem aggregated to (date × returnflag).

    Wide layout ``(date, grp, feature_1, feature_2, feature_3)`` with
    ``feature_1 = sum(l_extendedprice)``, ``feature_2 = avg(l_discount)``,
    ``feature_3 = sum(l_quantity)`` — the FIXTURES.md F2 mapping. Roughly
    2,500 dates × 3 return flags at any scale factor, so the per-series
    length comfortably exceeds every reference min-length gate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.to_date("l_shipdate").alias("date"),
        F.col("l_returnflag").alias("grp"),
    ).agg(
        F.sum("l_extendedprice").alias("feature_1"),
        F.avg("l_discount").alias("feature_2"),
        F.sum("l_quantity").alias("feature_3"),
    )


def events_bins_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events mapped onto the weighted-bin calculator's input contract.

    FIXTURES.md F1 mapping: ``user_id``→ID1, ``event_type``→ID2,
    ``ts``→timestamp, ``abs(value)``→quantity1 (non-negative by
    construction, as the binning quantity must be), ``value``→quantity2.
    ``event_id`` rides along as the stable-sort tiebreaker (reference
    semantics: ties on timestamp keep original row order —
    ``weighted_bin_calculator.py:62``).

    The shipped events.parquet stores ``ts`` as microseconds, read as
    ``timestamp_ntz`` and passed through. A timestamp[ns] file reads as
    a long under :func:`read_nanos_as_long`, and we floor-truncate it to
    microseconds — exactly what DuckDB does when it reads the same file,
    so both engines see identical timestamps (and identical tie sets).

    Quantities are fixed-point *milli-units* (``round(value·1000)`` —
    integer-valued doubles): every cumulative sum and bin-boundary
    overlap in the weighted-bin kernel is then exact (< 2^53), so the
    Spark kernel and the DuckDB oracle agree bit-for-bit instead of to
    ~1e-12 summation-order noise. Outputs are divided back to value
    units by the query layer.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = dict((f.name, f.dataType.simpleString()) for f in ev.schema.fields)["ts"]
    # integer DIV, not float division: ns epoch values exceed 2^53 so a
    # double round-trip would corrupt the low microsecond digits
    ts_col = (
        F.timestamp_micros(F.expr("ts DIV 1000"))
        if ts_type == "bigint"
        else F.col("ts")
    )
    q2_milli = F.round(F.col("value") * 1000)
    return ev.select(
        F.col("user_id").alias("id1"),
        F.col("event_type").alias("id2"),
        ts_col.alias("timestamp"),
        F.abs(q2_milli).alias("quantity1"),
        q2_milli.alias("quantity2"),
        F.col("event_id").alias("tiebreak"),
    )
