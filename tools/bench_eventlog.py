#!/usr/bin/env python
"""bench.py with the Spark event log enabled — the instrumentation run
behind the in-suite spike diagnosis (r13 verdict item 1: graph_triangles
reads 16-37 s in-suite vs ~5 s solo medians on BOTH trees).

Monkey-patches SparkSession.Builder.getOrCreate via conf injection: sets
spark.eventLog.enabled before delegating to bench.main(), so the timing
protocol, warm passes, and hygiene are EXACTLY the shipped bench's. The
event log adds a listener-bus JSON writer (~1-2% overhead) — numbers
from this runner are for attribution, never for BENCH_r*.json.

Usage: [env as bench.py] python tools/bench_eventlog.py <event_dir>
Then:  python tools/eventlog_report.py <event_dir>/<app_id> [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    event_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark-events"
    os.makedirs(event_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    real_getOrCreate = SparkSession.Builder.getOrCreate

    def patched_getOrCreate(self):
        self.config("spark.eventLog.enabled", "true")
        self.config("spark.eventLog.dir", f"file://{event_dir}")
        # task-end events carry the per-task metrics the report needs
        self.config("spark.eventLog.logStageExecutorMetrics", "true")
        return real_getOrCreate(self)

    SparkSession.Builder.getOrCreate = patched_getOrCreate
    import bench

    bench.main()


if __name__ == "__main__":
    main()
