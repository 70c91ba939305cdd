"""The full-load layers, measured on the ``cdc_stream`` workload's source
tables: the full-load half of a DMS full-load-and-cdc task.

``measure`` runs traced ``FullLoadTask`` loads into fresh 1-shard
JSON-lines sinks (spans, process-tree CPU and the event log per load),
checks each load's output, and times the load's pipeline prefixes
standalone to the noop sink.  It runs after the timed phase of a traced
run, so it moves no end-to-end figure."""

from __future__ import annotations

import os
import re
import time

from measure import median, process_tree_cpu_s
from tracing import event_log, group_jobs, read_event_log, set_op, total

LOADS = 2
_PK = re.compile(r'"partition_key":"([^"]*)"')
_OP = re.compile(r'\\"operation\\":\\"([a-z-]+)\\"')


def _sink_lines(path):
    names = sorted(n for n in os.listdir(path) if n.startswith("part-"))
    for name in names:
        with open(os.path.join(path, name)) as f:
            yield from f


def _dir_bytes(path):
    return sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path)
        if n.startswith("part-")
    )


def check_load(path, rows_per_table):
    """Problems with one load's sink output (empty list when correct):
    6 controls plus one ``load`` event per row, ``seq`` 1..N in emit
    order, per-(table, operation) counts, partition keys ``hr.<table>``."""
    problems = []
    counts = {}
    expect_seq = 1
    seq_ok = True
    for line in _sink_lines(path):
        # {"seq":N,"partition_key":"hr.t","data":"<event json>"}
        seq = int(line[7:line.index(",", 7)])
        if seq != expect_seq:
            seq_ok = False
        expect_seq += 1
        pk, op = (m.group(1) if m else None for m in (_PK.search(line), _OP.search(line)))
        counts[(pk, op)] = counts.get((pk, op), 0) + 1
    n = expect_seq - 1
    want_n = 6 + sum(rows_per_table.values())
    if n != want_n:
        problems.append(f"{n} events, expected {want_n}")
    if not seq_ok:
        problems.append("seq is not 1..N in emit order")
    want = {}
    for table, rows in rows_per_table.items():
        pk = f"hr.{table}"
        want[(pk, "drop-table")] = 1
        want[(pk, "create-table")] = 1
        if rows:
            want[(pk, "load")] = rows
    if counts != want:
        problems.append(f"per-(table, op) counts {counts} != {want}")
    return problems


def _load(spark, catalog, source, sink_path, spans, label):
    """One traced load; returns its process-tree CPU seconds."""
    from sample_dms_s3_kinesis_spark.sinks import JsonFileSink
    from sample_dms_s3_kinesis_spark.tasks import FullLoadTask

    sink = JsonFileSink(sink_path, num_shards=1)
    sink.write = spans.wrap(sink.write, f"sinks.write#{label}")
    task = FullLoadTask(spark, catalog, source, sink)
    task.build_events = spans.wrap(task.build_events, f"tasks.build_events#{label}")
    task.stats.add_events = spans.wrap(task.stats.add_events, f"stats.add_events#{label}")
    set_op(spark, label)
    cpu0 = process_tree_cpu_s()
    task.start()
    cpu = process_tree_cpu_s() - cpu0
    set_op(spark, None)
    if task.status != "stopped":
        raise RuntimeError(f"full load ended in status {task.status!r}")
    return cpu


def _prefixes(spark, catalog, source):
    """Mean seconds (of 2) to run the load's pipeline up to the scan, the
    envelope and the global seq, each written to the noop sink."""
    from pyspark.sql import functions as F

    from sample_dms_s3_kinesis_spark import envelope
    from sample_dms_s3_kinesis_spark.sinks import MemorySink
    from sample_dms_s3_kinesis_spark.sources.csv_source import read_table
    from sample_dms_s3_kinesis_spark.tasks import FullLoadTask

    def scan(table):
        return read_table(spark, table, source, with_order_columns=True)

    def data(table):
        return envelope.data_events(
            scan(table),
            table,
            "load",
            order_by=[F.col("_src_file"), F.col("_blk"), F.col("_line_id")],
        )

    def timed_noop(frames):
        t0 = time.perf_counter()
        for df in frames():
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    stages = {
        "scan": lambda: [scan(t) for t in catalog],
        "data": lambda: [data(t) for t in catalog],
        "seq": lambda: [FullLoadTask(spark, catalog, source, MemorySink()).build_events()],
    }
    set_op(spark, "prefix")
    out = {name: median([timed_noop(frames) for _ in range(2)]) for name, frames in stages.items()}
    set_op(spark, None)
    return out


def measure(spark, catalog, source, rows, work, spans):
    """(layers, attempted, failed, problems) of ``LOADS`` traced loads of
    the hr tables under ``source`` (``rows``: row count per table)."""
    spans.enabled = True
    loads = []
    try:
        for k in range(LOADS):
            label = f"full-load-{k}"
            path = os.path.join(work, "full_load_sink", label)
            with event_log(spark, os.path.join(work, "full_load_eventlog", label)):
                cpu = _load(spark, catalog, source, path, spans, label)
            loads.append((label, path, cpu))
    finally:
        spans.enabled = False
    prefix = _prefixes(spark, catalog, source)
    jobs = group_jobs(read_event_log(os.path.join(work, "full_load_eventlog")), lambda j: j.op)
    problems = []
    for label, path, _ in loads:
        p = check_load(path, rows)
        if p:
            problems.append(f"{label}: {'; '.join(p)}")

    def per_load(name):
        return median([total(spans.spans, f"{name}#{label}") for label, _, _ in loads])

    layers = {
        "tasks.build_events_s": per_load("tasks.build_events"),
        "full_load.sinks.write_s": per_load("sinks.write"),
        "full_load.stats.add_events_s": per_load("stats.add_events"),
        "sources.csv_source.scan_s": prefix["scan"],
        "envelope.data_events_s": prefix["data"] - prefix["scan"],
        "envelope.assign_global_seq_s": prefix["seq"] - prefix["data"],
        "full_load.jobs": median([len(jobs.get(label, [])) for label, _, _ in loads]),
        "full_load.cpu_s": median([cpu for _, _, cpu in loads]),
        "full_load.bytes_out": median([_dir_bytes(path) for _, path, _ in loads]),
    }
    return layers, len(loads), len(problems), problems
