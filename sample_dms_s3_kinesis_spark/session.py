"""The engine's SparkSession profiles and the one factory that builds them.

Two profiles, one per kind of caller:

- ``bench``: what ``bench.py`` and ``tools/measure.py`` time and plan on.
  ``local[$SPARK_GRAFT_CPUS]`` (default 32) with one shuffle partition per
  core and ``$SPARK_GRAFT_DRIVER_MEM`` (default 16g) of driver heap; both
  are deployment settings, read once when this module is imported.
- ``test``: the pytest fixture's session, also used by
  ``tools/drive_e2e.py`` and ``tools/oracle_check.py``.  Fixed at
  ``local[4]`` so the tier-1 suite runs the same session on every host.
"""

from __future__ import annotations

import os

_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

PROFILES = {
    "bench": {
        "spark.master": f"local[{_CPUS}]",
        "spark.app.name": "dms-spark-bench",
        "spark.sql.shuffle.partitions": _CPUS,
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        # The wide generated classes (k-slot minhash signatures, 64-bit
        # simhash packers) overflow the default 240 MB JIT code cache;
        # once full, HotSpot stops compiling and later queries' generated
        # code runs interpreted (observed 7-10x slowdowns).
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
        ),
    },
    "test": {
        "spark.master": "local[4]",
        "spark.app.name": "dms-spark-tests",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.driver.memory": "4g",
    },
}


def session(profile: str):
    """Get or create the process's SparkSession with ``PROFILES[profile]``.

    As with any ``getOrCreate``, a session already running in the process
    is returned as it is: its static settings (master, driver memory, JVM
    options) are not changed.
    """
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in PROFILES[profile].items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
