#!/usr/bin/env python
"""One-time wall-clock log for the fit-based UDF ops (VERDICT r4 #5).

These 12 queries are excluded from bench.py's headline set by design
(their cost is iterative MLE/EM kernel work inside Arrow workers, not
engine throughput), but "excluded" must not mean "never measured":
this tool times each once at sf0.1 after one untimed warm pass (same
steady-state protocol as bench.py) and writes BENCH_fit_ops.json.

Usage: python tools/bench_fit_ops.py [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIT_OPS = [
    # iterative driver-loop ops (not fit-based, but the same "excluded
    # from headline yet measured" contract): BPE's 30 merge rounds
    "bpe_train",
    "bpe_encode",
    "bpe_pack",
    "stationarity",
    "stationarity_summary",
    "memory_dependence",
    "frequency_domain",
    "cointegration",
    "granger",
    "regime_detection",
    "volatility_garch",
    "volatility_egarch",
    "volatility_gjr",
    "outliers_iforest",
    "outliers_lof",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from dataframeutils_spark.session import get_spark

    spark = get_spark(app_name="bench-fit-ops", master="local[32]", shuffle_partitions=32)
    import __spark_entry__ as E

    qs = E.queries()
    out: dict[str, float] = {}
    for name in FIT_OPS:
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm: codegen + Arrow worker spin-up
        t0 = time.time()
        n = fn(spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        print(f"{name:24s} {out[name]:7.2f}s  n={n}", flush=True)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    result = {"sf_dir": sf_dir, "unit": "sec", "queries": out,
              "total": round(sum(out.values()), 3)}
    with open(os.path.join(path, "BENCH_fit_ops.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
