"""Streaming deduplication — the ingest-side twin of batch
``operators.dedup``: drop exact repeats of a key as the stream arrives,
with watermark-bounded state.

Batch dedup scans the full corpus; a 100 TB/day ingest cannot. The
streaming contract is instead "drop re-occurrences within the
duplicate horizon": state holds one entry per distinct key seen inside
the watermark window and is evicted as the watermark advances —
without the watermark, dedup state grows unboundedly and the job dies
by memory, which is why ``watermark`` is a required argument here, not
an option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first arrival per ``keys`` within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` (state for a key is dropped
    once the watermark passes its event time + horizon) so the state
    store is bounded by the horizon's key cardinality, not the
    stream's. Degrades to batch ``dropDuplicates`` semantics on a batch
    frame (same first-wins contract — batch frames have no watermark).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))

