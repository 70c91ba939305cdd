"""The benchmark's one SparkSession profile, and its teardown.

The profile is fixed: every workload and every run uses it unchanged, so
a number moves only when the program or the host does.  ``local[3]``
leaves one core of a 4-core host to the Spark driver's Python, the benchmark
client and the OS.
"""

from __future__ import annotations

import os
import subprocess
import time

STOP_TIMEOUT_S = 60
PROFILE = {
    "spark.master": "local[3]",
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # fits a 15 GB host with room for the OS page cache
    "spark.driver.memory": "4g",
    # the wide generated classes of the similarity operators overflow the
    # default JIT code cache; once it is full HotSpot stops compiling
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    ),
}


def start(work_dir):
    """Start the profile's session with every file it writes under
    ``work_dir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the JVMs' temporary files (and HotSpot's perf-data file, which
    # ignores java.io.tmpdir) out of the system temp directory
    jvm_files = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files
    builder = SparkSession.builder.appName("perfbench")
    for key, value in PROFILE.items():
        if key == "spark.driver.extraJavaOptions":
            value = f"{value} {jvm_files}"
        builder = builder.config(key, value)
    builder = (
        builder.config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.sql.streaming.checkpointLocation",
            os.path.join(work_dir, "checkpoints"),
        )
    )
    # read when a traced operation attaches an event log (see tracing);
    # one plain JSON-lines file per attach
    builder = builder.config("spark.eventLog.compress", "false").config(
        "spark.eventLog.rolling.enabled", "false"
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def collect_garbage(spark):
    """A Python collection (which releases py4j references, so the JVM
    objects behind them become garbage) and then a JVM full GC."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def heap_retained_mb(spark):
    """JVM used heap after forced full GCs.  Nothing is unpersisted
    first, so frames a run leaks in the block manager still count.

    A full GC frees objects whose cleanup then runs asynchronously (the
    context cleaner drops blocks and broadcasts of collected frames), so
    one GC leaves a varying remainder (a 48 MB drop arrives on the second
    to fourth GC of a query-suite run): collect until three readings in a
    row agree within 0.5 MB and report the lowest."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(12):
        collect_garbage(spark)
        time.sleep(0.2)
        used.append(bean.getHeapMemoryUsage().getUsed() / (1024 * 1024))
        if len(used) >= 3 and max(used[-3:]) - min(used[-3:]) < 0.5:
            break
    return min(used)


def stop(spark):
    """Stop the session and wait until the JVM process has exited.  A
    later ``start`` in the same process launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=STOP_TIMEOUT_S)
