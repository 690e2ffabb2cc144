"""Physical routing decisions: a driver-local solve or the distributed
loop, and how a scan-side stage spreads its input over the cores.

Connected components, k_core, pagerank and BPE each solve small inputs
in numpy/Python on the driver and large ones as a distributed fixpoint
loop. One env var per operator sets the ceiling (0 disables the local
path); the collect is bounded by it, the same discipline as a
broadcast-join decision.

:func:`spread` is the one scan-side spread rule: an operator whose work
multiplies before its first exchange (a token explode, a Python map
stage, a per-row array fold) spreads its input through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_threshold(env: str, default: int) -> int:
    """Ceiling read from ``env``. A malformed value warns and falls
    back to ``default`` rather than failing the query."""
    import os
    import warnings

    raw = os.environ.get(env)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(f"{env}={raw!r} is not an int; using default {default}")
        return default


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
