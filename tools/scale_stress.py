#!/usr/bin/env python
"""Scale-stress data generator: replicate sf0.1 N× into a directory
that ``bench.py`` can time (``SPARK_GRAFT_SF_DIR=<out_dir>``).

No sf>0.1 testdata ships with the repo, so this builds one:
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
* ``<out_dir>_hot``: the events table with 20% of users folded onto
  user_id 0, the hot-key variant for the interval joins.
* orders/lineitem: see :func:`generate_tpch`.

After generating, it checks that a 100k-node chain (diameter 100k)
collapses to one connected component through the distributed
pointer-doubling loop.

Usage: python tools/scale_stress.py [mult] [out_dir]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"


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


def check_chain_components(spark) -> None:
    """A 100k-node chain (diameter 100k) must collapse to one component
    inside the default ``max_iter`` budget: pointer doubling closes it
    in O(log D) rounds, where one-hop propagation would need 100k.
    ``local_edge_threshold=0`` pins the distributed loop (100k edges is
    under the driver-local default)."""
    from pyspark.sql import functions as F

    from dataframeutils_spark.operators.dedup import connected_components

    chain = spark.range(100_000).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    cc = connected_components(chain, local_edge_threshold=0)
    n_clusters = cc.select("cluster_id").distinct().count()
    if n_clusters != 1:
        raise RuntimeError(f"chain must collapse to one component, got {n_clusters}")


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/stress_{mult}x"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from dataframeutils_spark.session import get_spark

    spark = get_spark(
        app_name="scale-stress", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(f"{out_dir}/events.parquet"):
        generate(spark, mult, out_dir)
        print(f"# generated {mult}x testdata in {out_dir}", flush=True)
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        generate_tpch(spark, mult, out_dir)
        print(f"# generated {mult}x tpch tables in {out_dir}", flush=True)
    check_chain_components(spark)
    print("# connected_components 100k-chain: 1 cluster", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
