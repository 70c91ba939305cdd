"""Spans recorded around calls into the program, and Spark event-log
attribution.

Spans live in memory and are summed per operation once the run ends.
Job, CPU, GC and shuffle figures come from Spark's own event log, which a
traced operation switches on in the benchmark's session for its duration
(``event_log``), so untraced operations of the same run pay nothing for
it.  Each job is attributed through the local property ``perfbench.op``
the client sets before an operation (or, for stream batches, through
Spark's ``streaming.sql.batchId``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

OP_PROPERTY = "perfbench.op"
BATCH_PROPERTY = "streaming.sql.batchId"


@dataclass
class Span:
    name: str
    start: float
    end: float

    @property
    def seconds(self):
        return self.end - self.start


class Spans:
    """In-memory span recorder.  Disabled, it records nothing and its
    wrappers add one attribute test per call."""

    def __init__(self, enabled):
        self.enabled = enabled
        self.spans = []

    @contextmanager
    def span(self, name):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            # list.append is atomic under the interpreter lock; stream
            # batches record from Spark's callback thread
            self.spans.append(Span(name, start, time.perf_counter()))

    def wrap(self, fn, name):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def within(self, start, end):
        return [s for s in self.spans if s.start >= start and s.end <= end]


def total(spans, name):
    return sum(s.seconds for s in spans if s.name == name)


def self_time(spans):
    """Length of the interval the spans cover minus the time they cover:
    the batch's own time outside every child call.  Children are
    sequential calls on one thread, so they never overlap."""
    if not spans:
        return 0.0
    outer = max(s.end for s in spans) - min(s.start for s in spans)
    return outer - sum(s.seconds for s in spans)


def set_op(spark, label):
    """Tag every job the calling thread submits until the next call."""
    spark.sparkContext.setLocalProperty(OP_PROPERTY, label)


@contextmanager
def event_log(spark, log_dir):
    """Spark's event log, on for the body only: an ``EventLoggingListener``
    attached to the live context, flushed and detached on exit."""
    sc = spark.sparkContext
    jvm = sc._jvm
    ctx = sc._jsc.sc()
    os.makedirs(log_dir)
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId, jvm.scala.Option.apply(None),
        jvm.java.net.URI(f"file://{log_dir}"), ctx.conf(),
    )
    listener.start()
    ctx.addSparkListener(listener)
    try:
        yield
    finally:
        ctx.listenerBus().waitUntilEmpty()  # deliver the body's last events
        ctx.removeSparkListener(listener)
        listener.stop()


# -- event log ---------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    op: str | None
    batch_id: str | None
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(log_dir):
    """Parse the (uncompressed) event logs under ``log_dir`` with the
    stdlib into ``{job_id: JobRecord}``.  A task's metrics go to the first
    job that listed its stage: a stage a later job reuses is skipped
    there and runs no tasks."""
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "local-*"), recursive=True))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs = {}
    stage_job = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobRecord(
                        ev["Job ID"], props.get(OP_PROPERTY), props.get(BATCH_PROPERTY)
                    )
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    metrics = ev.get("Task Metrics")
                    if job is None or not metrics:
                        continue
                    job.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += metrics.get("JVM GC Time", 0) / 1e3
                    sw = metrics.get("Shuffle Write Metrics") or {}
                    job.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    return jobs


def group_jobs(jobs, key):
    """``{key(job): [JobRecord, ...]}`` over jobs whose key is not None."""
    out = defaultdict(list)
    for job in jobs.values():
        k = key(job)
        if k is not None:
            out[k].append(job)
    return out
