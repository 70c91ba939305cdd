"""One loop over registry queries on the ``bench`` session profile: pick
queries, build each, then time, count, audit or explain it.

Usage: python tools/measure.py <time|smoke|audit|explain> [--sf DIR] [--out DIR] [query ...]

  time     build and execute through the noop sink (``bench.run_query``)
           after ``bench.WARMUP``: the per-query timing body of bench.py,
           so its numbers compare with the bench's (single shot here,
           best of two there)
  smoke    ``df.count()``: every query must plan, execute and return
  audit    count shuffle exchanges, broadcast joins, sort-merge joins and
           scans with pushed filters in the executed plan
  explain  write ``explain("formatted")`` to ``<out>/<query>.txt`` with
           Catalyst expression ids normalised (``#123`` -> ``#``), and
           lambda-variable, RDD and exchange plan ids too, so
           ``diff -r before/ after/`` checks plan identity whatever ran
           first.  Known exception: the ``q_split_leakage_near`` and
           ``q_split_leakage_near_md5`` plans differ between runs of
           unchanged code (the distinct-aggregate Expand lists its two
           id columns in either order).

The default roster is the whole registry and the default DIR
``$SPARK_GRAFT_TESTDATA/sf0.01``.  Each query runs
under ``setJobGroup(query)``, so every line carries the query's wall
seconds and its Spark job count; eager stages (localCheckpoint, driver
loops) fire jobs while the query is built.  An error is reported on its
query's line and the run goes on; any error makes the exit code 1.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import WARMUP, run_query
from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY
from sample_dms_s3_kinesis_spark.session import session


def _time(spark, name, sf_dir, out):
    # replaces the loop's wall seconds: run_query's own clock stops
    # before its cache clear and GCs, as bench.py's does
    return {"s": run_query(spark, name, sf_dir)}


def _smoke(spark, name, sf_dir, out):
    return {"rows": REGISTRY[name].fn(spark, sf_dir).count()}


def _audit(spark, name, sf_dir, out):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exch": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
        "bcast": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }


def normalise_ids(plan):
    """Blank the per-JVM counters in a plan text, which move with whatever
    ran earlier in the session: expression ids (``#123``), lambda-variable
    suffixes (``lambda x_12``), RDD ids (``MapPartitionsRDD[32]``) and
    exchange plan ids (``plan_id=107``)."""
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"(lambda \w+_)\d+#", r"\1#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"RDD\[\d+\]", "RDD[]", plan)


def _explain(spark, name, sf_dir, out):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(out, f"{name}.txt")
    with open(path, "w") as f:
        f.write(normalise_ids(plan))
    return {"out": path}


ACTIONS = {"time": _time, "smoke": _smoke, "audit": _audit, "explain": _explain}


def measure(spark, action, names, sf_dir, out=None):
    """Yield one record per query: ``query``, ``s`` (wall seconds),
    ``jobs`` and the action's own fields, or ``error`` if it raised."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in names:
        before = set(tracker.getJobIdsForGroup(name))
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            fields = ACTIONS[action](spark, name, sf_dir, out)
        except Exception as exc:  # noqa: BLE001 — report and go on
            fields = {"error": f"{type(exc).__name__}: {str(exc)[:200]}"}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        wall = time.perf_counter() - t0
        jobs = len(set(tracker.getJobIdsForGroup(name)) - before)
        yield {"query": name, "s": wall, "jobs": jobs, **fields}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(
        description="time, smoke-run, audit or explain registry queries"
    )
    parser.add_argument("action", choices=ACTIONS)
    parser.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01",
        help="test-data directory (default: $SPARK_GRAFT_TESTDATA/sf0.01)",
    )
    parser.add_argument("--out", help="explain: directory for <query>.txt")
    parser.add_argument("queries", nargs="*", help="default: the whole registry")
    args = parser.parse_intermixed_args(argv)
    if args.action == "explain":
        if not args.out:
            parser.error("explain needs --out DIR")
        os.makedirs(args.out, exist_ok=True)

    spark = session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    if args.action == "time":
        for name in WARMUP:
            run_query(spark, name, args.sf)
    names = args.queries or list(REGISTRY)
    failures = []
    for rec in measure(spark, args.action, names, args.sf, args.out):
        name, s, jobs = rec.pop("query"), rec.pop("s"), rec.pop("jobs")
        status = "FAIL" if "error" in rec else "ok"
        if "error" in rec:
            failures.append(name)
        detail = " ".join(f"{k}={v}" for k, v in rec.items())
        print(f"{status:5s} {name:38s} {s:8.3f}s jobs={jobs:<3d} {detail}", flush=True)
    print(f"# {len(names)} queries, {len(failures)} failures: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
