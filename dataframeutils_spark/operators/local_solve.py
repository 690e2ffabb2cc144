"""Physical plan-shape rules that keep work off a single task: a
driver-local solve or the distributed loop, how a scan-side stage
spreads its input over the cores, and how a global rank or running
sum avoids one task sorting the whole input.

Connected components, k_core, pagerank and BPE each solve small inputs
in numpy/Python on the driver and large ones as a distributed fixpoint
loop. Each operator's threshold parameter sets the ceiling (0 disables
the local path); the collect is bounded by it, the same discipline as
a broadcast-join decision.

:func:`spread` is the one scan-side spread rule: an operator whose work
multiplies before its first exchange (a token explode, a Python map
stage, a per-row array fold) spreads its input through it.

:func:`block_prefix` and :func:`block_positions` are the one two-phase
ledger. A running fold or rank over ``ORDER BY order`` in one
unpartitioned window funnels every row through one task. Instead rows
carry an ordered ``block`` key: phase 1 folds each block to one ledger
row and runs the window over that small ledger (one row per block, not
per input row), phase 2 broadcasts each block's offset back and ranks
or folds only inside ``(*by, block)``, a hash-partitioned window. The
precondition is that ``block`` is non-decreasing in ``order`` within
each ``by`` group, so every block is a contiguous run of the order and
the two phases compose into the global answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def route_local(df: DataFrame, threshold: int) -> tuple[DataFrame, bool]:
    """Checkpoint ``df`` and decide whether it is small enough to solve
    on the driver. Returns (checkpointed df, use the local solve).

    threshold > 0: an eager checkpoint pays for the upstream pipeline
    once, and the routing ``count()`` reads the materialized blocks;
    local iff count ≤ threshold. threshold ≤ 0: a lazy checkpoint and
    the distributed loop, with no counting job."""
    if threshold > 0:
        df = df.localCheckpoint()
        return df, df.count() <= threshold
    return df.localCheckpoint(eager=False), False


def spread(df: DataFrame, *cols) -> DataFrame:
    """``df`` hash-partitioned on ``cols`` (round-robin without them)
    over ``defaultParallelism`` partitions, so the scan-side work after
    it uses every core. One exchange, always: the rule does not yet
    look at how many splits the input already has."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


def block_prefix(
    df: DataFrame, by: list[str], block: str, value: Column, fold=F.sum
) -> DataFrame:
    """The block ledger: one row per ``(*by, block)`` with
    ``_n`` = ``fold(value)`` over the block's rows, ``_pre`` =
    ``fold(_n)`` over the strictly earlier blocks of the same ``by``
    group (NULL for the first block) and ``_tot`` = ``fold(_n)`` over
    the whole group. ``fold`` is ``F.sum`` (counts: ``value=F.lit(1)``)
    or ``F.max``. ``_pre`` and ``_tot`` share one window spec, so they
    plan as one Window node; a caller that does not read ``_tot`` has it
    pruned. The ledger has one row per block, small enough to
    broadcast back to the rows."""
    w = Window.partitionBy(*by).orderBy(block)
    return (
        df.groupBy(*by, block)
        .agg(fold(value).alias("_n"))
        .select(
            *by,
            block,
            "_n",
            fold("_n").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("_pre"),
            fold("_n")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .alias("_tot"),
        )
    )


def block_positions(df: DataFrame, by: list[str], block: str, order: list) -> DataFrame:
    """``df`` plus a 1-based ``_pos`` equal to ``row_number() OVER
    (PARTITION BY by ORDER BY order)``, computed as the broadcast
    ledger's ``coalesce(_pre, 0)`` plus a ``row_number`` inside
    ``(*by, block)``. Precondition: ``block`` is non-decreasing in
    ``order`` within each ``by`` group, and ``order`` is a total order."""
    ledger = block_prefix(df, by, block, F.lit(1)).select(
        *by, block, F.coalesce("_pre", F.lit(0)).alias("_pre")
    )
    w = Window.partitionBy(*by, block).orderBy(*order)
    return (
        df.withColumn("_r", F.row_number().over(w))
        .join(F.broadcast(ledger), [*by, block])
        .withColumn("_pos", F.col("_pre") + F.col("_r"))
        .drop("_r", "_pre")
    )
