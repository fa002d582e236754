"""Fixed per-task cost of a Python stage under ``get_spark``.

Runs a trivial 4-task ``mapInPandas`` job a number of times and prints
the median delay from submitting the job to the start of the UDF in a
task (wall clock; driver and workers share the host), plus the median
time ``importlib.invalidate_caches()`` takes inside a task — the call
the PySpark worker makes before every task, which the package's worker
daemon (``rp_extract_spark.worker_daemon``) makes cheap.

Usage:
    python tools/worker_overhead.py                 # get_spark as shipped
    python tools/worker_overhead.py --stock-daemon  # Spark's pyspark.daemon
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

JOBS = 20  # measured jobs
WARMUP = 3  # untimed jobs first: worker start-up and imports
CORES = 4  # local[CORES]; one task per core


def _probe(batches):
    import importlib

    import pandas as pd

    started = time.time()
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    invalidate_s = time.perf_counter() - t0
    for _ in batches:
        pass
    yield pd.DataFrame({"started": [started], "invalidate_s": [invalidate_s]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stock-daemon", action="store_true",
                    help="run Spark's default pyspark.daemon for comparison")
    args = ap.parse_args()

    from rp_extract_spark.session import get_spark

    extra = {"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"}
    if args.stock_daemon:
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("worker-overhead", cores=CORES, shuffle_partitions=CORES,
                      extra=extra)
    try:
        df = spark.range(0, CORES, numPartitions=CORES)
        delays, invalidations = [], []
        for i in range(WARMUP + JOBS):
            t0 = time.time()
            rows = df.mapInPandas(
                _probe, "started double, invalidate_s double").collect()
            if i >= WARMUP:
                delays += [r.started - t0 for r in rows]
                invalidations += [r.invalidate_s for r in rows]
        print(json.dumps({
            "daemon": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
            "jobs": JOBS,
            "submit_to_udf_s_p50": round(statistics.median(delays), 4),
            "invalidate_caches_ms_p50": round(
                statistics.median(invalidations) * 1e3, 3),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
