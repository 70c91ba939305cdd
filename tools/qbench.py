"""Isolate and time individual bench queries through the noop sink.

Usage: python tools/qbench.py q01_pricing_summary q03_shipping_priority ...
       SPARK_GRAFT_QBENCH_RUNS=3 python tools/qbench.py q01_pricing_summary

Same session config as bench.py (local[$SPARK_GRAFT_CPUS], shuffle
partitions = cpus, AQE on, UTC) so isolated numbers are comparable to
the suite; each query is warmed once and then timed N times (default 3,
min reported).  The first timed run's job count comes from the status
tracker, so an extra eager job (a new localCheckpoint or sizing count)
is visible next to the timing.
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: qbench.py <query> [query ...]", file=sys.stderr)
        return 2
    runs = int(os.environ.get("SPARK_GRAFT_QBENCH_RUNS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("qbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def once(name: str) -> tuple[float, int]:
        jobs_before = len(tracker.getJobIdsForGroup() or [])
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        n_jobs = len(tracker.getJobIdsForGroup() or []) - jobs_before
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()
        return elapsed, n_jobs

    for name in names:
        once(name)  # warm: codegen/JIT
        results = [once(name) for _ in range(runs)]
        times = [t for t, _ in results]
        print(
            f"{name:36s} min={min(times):7.3f}s  jobs={results[0][1]}  "
            f"runs={' '.join(f'{t:.3f}' for t in times)}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
