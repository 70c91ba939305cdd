"""Run one benchmark workload in a fresh process (and so a fresh JVM).

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 5 --trace 0

One closed-loop client with one outstanding operation calls the
package's public API.  The run generates its inputs from ``--seed``,
starts the fixed session profile, runs a fixed number of warm-up
operations, then times a fixed number of operations, derived from
``--seconds`` (see ``timed_ops``).  Every operation is checked for
correctness outside the timed regions.  Every reported time is
steal-excluded: wall time less the share the virtual machine's host
withheld from its busy CPUs (``measure.steal_excluded``).  With
``--trace 1`` the run alternates untraced and traced operations (spans
plus Spark's event log) and reports the per-layer figures and the
tracing overhead instead.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones.  The line before it carries the run's detail (loadavg, steal,
samples, wall times, max latency, failed_frac, the profile).  Run from
the repository root.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from measure import Mark  # noqa: E402

PROCESS_START = Mark()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(os.getcwd(), ".perfbench_out")
HOT_LOAD = 1.0
# A run must end within three minutes however contended the host: past
# this many seconds into the process no further timed round starts, once
# two have run.  On a quiet 4-core host a cdc_stream run's timed phase
# ends by ~70 s; at a fifth of all CPU time stolen its set-up alone took
# ~100 s.
TIMED_UNTIL_S = 120

WORKLOADS = ("cdc_stream", "query_suite")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "rows/s",
    "heap_retained_mb": "MB",
}
# Every per-layer metric, in the order BENCHMARK.json lists them.  A
# layer a workload never calls reads 0 on that workload.
PER_LAYER = {
    "tasks.build_events_s": "s",
    "full_load.sinks.write_s": "s",
    "full_load.stats.add_events_s": "s",
    "sources.csv_source.scan_s": "s",
    "envelope.data_events_s": "s",
    "envelope.assign_global_seq_s": "s",
    "full_load.jobs": "count",
    "full_load.cpu_s": "s",
    "full_load.bytes_out": "bytes",
    "sources.cdc_source.pickup_s": "s",
    "apply.store_read_s": "s",
    "apply.store_write_s": "s",
    "apply.store_meta_s": "s",
    "apply.apply_changes_s": "s",
    "streaming.cdc_task.self_s": "s",
    "streaming.cdc_task.jobs": "count",
    "streaming.cdc_task.cpu_s": "s",
    "apply.state_rows": "rows",
    "sinks.write_s": "s",
    "stats.add_events_s": "s",
    "sinks.bytes_out": "bytes",
    **{
        f"plans.registry.{fam}.{name}": unit
        for fam in ("relational", "similarity", "text")
        for name, unit in (
            ("build_s", "s"),
            ("build_jobs", "count"),
            ("exec_s", "s"),
            ("jobs", "count"),
            ("executor_cpu_s", "s"),
            ("jvm_gc_s", "s"),
            ("shuffle_bytes", "bytes"),
        )
    },
    "trace.latency_p50_s": "s",
    "trace.overhead_s": "s",
}


def _workload_class(name):
    if name == "cdc_stream":
        from w_cdc_stream import CdcStream

        return CdcStream
    from w_query_suite import QuerySuite

    return QuerySuite


def timed_ops(cls, seconds):
    """The run's operation count: about ``seconds`` of operations at the
    workload's nominal operation time (``OP_S``, measured on a quiet
    4-core host).  A count rather than a deadline, so every run does the
    same work whatever the host's speed: retained heap grows with the
    batches a stream has run, and operation times still drift down
    through the timed phase as the JIT warms."""
    return max(cls.MIN_OPS, round(seconds / cls.OP_S))


def run_workload(name, seed, seconds, traced, work, started, **sizes):
    """Set up, warm up, time and check one workload in this process;
    ``started`` is the ``measure.Mark`` of the process start.

    Every time the run reports is steal-excluded (``measure.steal_excluded``):
    the benchmark runs on virtual machines whose host at times hands their
    CPUs to other guests, which stretched a CDC file from 4 s to 10 s on a
    4-core VM.  The detail line carries the wall times too.

    A traced run alternates untraced and traced operations after the
    warm-up; its end-to-end figures come from the untraced ones, and the
    difference between the two medians is the tracing overhead.  Returns
    the run record (see ``main`` for its shape)."""
    cls = _workload_class(name)
    import session
    import tracing
    from measure import Mark, cpu_ticks, median, rate, steal_excluded, steal_share

    load_start = os.getloadavg()
    spark = session.start(work)
    try:
        spans = tracing.Spans(False)
        wl = cls(spark, work, seed, spans, **sizes)
        wl.check_s = 0.0
        wl.prepare(traced)
        for index in range(wl.WARMUP):
            wl.op(index, "warm")
        set_up = Mark()
        setup_wall = set_up.t - started.t - wl.check_s
        setup_s = steal_excluded(setup_wall, started.ticks, set_up.ticks)
        phases = ("timed", "traced") if traced else ("timed",)
        rounds = []  # (steal share, {phase: (latency, cycle, rows)})
        index = wl.WARMUP
        # a traced run plays untraced and traced operations in pairs,
        # swapping the pair's order each round so warm-up drift does not
        # favour either side of the overhead figure
        for _ in range(-(-timed_ops(cls, seconds) // len(phases))):
            if len(rounds) >= 2 and time.perf_counter() - started.t > TIMED_UNTIL_S:
                break
            before = cpu_ticks()
            got = {}
            for phase in phases if len(rounds) % 2 == 0 else phases[::-1]:
                spans.enabled = phase == "traced"
                log = os.path.join(work, "eventlog", f"{index:04d}")
                with tracing.event_log(spark, log) if spans.enabled else contextlib.nullcontext():
                    got[phase] = wl.op(index, phase)
                spans.enabled = False
                index += 1
            rounds.append((steal_share(before, cpu_ticks()), got))
        heap_mb = session.heap_retained_mb(spark)
        samples = {phase: [got[phase] for _, got in rounds] for phase in phases}
        wl.finish(traced)
        attempted, failed, problems = wl.check()
    finally:
        session.stop(spark)
    timed = samples["timed"]
    latencies = [latency[1] for latency, _, _ in timed]
    wall_latencies = [latency[0] for latency, _, _ in timed]
    record = {
        "workload": name,
        "seed": seed,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": median(latencies),
            "rows_per_s": median([rate(rows, cycle[1]) for _, cycle, rows in timed]),
            "heap_retained_mb": heap_mb,
        },
        "detail": {
            "failed_frac": failed / attempted,
            "latency_max_s": max(latencies),
            "samples": len(latencies),
            "latencies_s": latencies,
            "wall_setup_s": setup_wall,
            "wall_latency_p50_s": median(wall_latencies),
            "wall_latencies_s": wall_latencies,
            "warmup_ops": wl.WARMUP,
            "timed_ops": timed_ops(cls, seconds),
            "load_avg_start": [round(x, 2) for x in load_start],
            "load_avg_end": [round(x, 2) for x in os.getloadavg()],
            "hot_host": load_start[0] > HOT_LOAD,
            "cpu_steal_frac": steal_share(started.ticks, cpu_ticks()),
            "setup_steal_frac": steal_share(started.ticks, set_up.ticks),
            "round_steal": [round(steal, 4) for steal, _ in rounds],
            "profile": session.PROFILE,
        },
    }
    if traced:
        jobs = tracing.read_event_log(os.path.join(work, "eventlog"))
        layers = wl.layers(jobs)
        traced_latencies = [latency[1] for latency, _, _ in samples["traced"]]
        layers["trace.latency_p50_s"] = median(traced_latencies)
        layers["trace.overhead_s"] = layers["trace.latency_p50_s"] - median(latencies)
        record["layers"] = {k: layers.get(k, 0) for k in PER_LAYER}
        record["detail"]["traced_latencies_s"] = traced_latencies
        if hasattr(wl, "trace_detail"):
            record["per_query"] = wl.trace_detail(jobs)
    return record


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    # before anything imports pyspark: its temporary files go here too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    try:
        try:
            import sample_dms_s3_kinesis_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        record = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work, PROCESS_START
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": record["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
        trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        record["detail"]["trace_file"] = trace_path
    else:
        metrics = {k: {"value": record["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"workload": args.workload, **record["detail"], "problems": record["problems"]}, default=str))
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0 and not record["problems"],
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
