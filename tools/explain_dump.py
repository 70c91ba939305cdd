"""Dump ``explain("formatted")`` for bench queries to plans/<round>/.

Usage: python tools/explain_dump.py <suffix> [query ...]
       python tools/explain_dump.py before            # all bench queries
       python tools/explain_dump.py after q01_pricing_summary ...

Writes plans/$SPARK_GRAFT_PLAN_DIR/<query>_<suffix>.txt (default r16).
The sf dir comes from $SPARK_GRAFT_SF_DIR (default sf0.1 so the plans
match the bench).  Eager stages (localCheckpoint / driver loops) leave
only a ``Scan ExistingRDD`` in the final plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]

    from pyspark.sql import SparkSession

    import bench
    from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY

    names = only or (bench.HEADLINE + bench.TIER2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_DIR", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("explain-dump")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
