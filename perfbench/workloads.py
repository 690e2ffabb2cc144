"""The benchmark's workloads: which registered queries a pass runs and
over which generated inputs.

Each workload is a small subset of ``queries()``, sized so that one run
(fresh JVM, cold pass, warm-up pass and about 12 s of measured passes)
stays under a minute on 4 cores.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    tables: tuple[str, ...]
    sf: float
    queries: tuple[str, ...]
    replica: int = 1  # fact-table multiplier (orders, lineitem)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="reference_llm",
            why=(
                "the paper's weighted bins and a TimeSeriesStudy fit plus LLM-data "
                "operators: driver-side builders with hidden jobs and Python "
                "kernels dominate, shuffle volume is small"
            ),
            tables=("lineitem", "events", "documents", "embeddings"),
            sf=0.01,
            queries=(
                "weighted_bins",
                "stationarity_kpss",
                "dedup_clusters",
                "multimodal_jpeg_pixels",
            ),
        ),
        Workload(
            name="tpch_10x",
            why=(
                "TPC-H on a 10x fact replica of sf0.01 (600k lineitem rows): "
                "JVM-only scan, shuffle and joins with no Python workers"
            ),
            tables=("region", "nation", "customer", "supplier", "part", "orders",
                    "lineitem"),
            sf=0.01,
            replica=10,
            queries=("tpch_q1", "tpch_q5", "tpch_q18"),
        ),
    )
}
