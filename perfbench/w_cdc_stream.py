"""``cdc_stream``: a running ``CdcTask`` (the Structured Streaming path)
over preloaded target state.  One operation is one change file: the
client lands it with an atomic rename, waits until the batch's events are
visible in the sink (the latency) and until the query's progress shows
the batch committed, and only then lands the next file."""

from __future__ import annotations

import os
import time

import datagen
import full_load_layers
from measure import Mark, between, median, process_tree_cpu_s
from tracing import group_jobs, self_time, set_op, total

PRELOAD = {"employee": 20_000, "department": 2_000, "project": 4_000}
ROWS_PER_FILE = 2000
BATCH_TIMEOUT_S = 90
POLL_S = 0.01
STORE_READ = ("read", "read_by_name")
STORE_META = (
    "load_seq",
    "save_seq",
    "load_batch_mark",
    "save_batch_mark",
    "update_batch_mark",
    "clear_batch_mark",
    "load_stats",
    "save_stats",
    "load_drained",
    "save_drained",
)


class SinkWatch:
    """Counts the lines of the part files a JSON-lines sink has
    committed.  Files appear whole at job commit, so a counted file is
    never partial."""

    def __init__(self, path):
        self.path = path
        self.seen = {}

    def poll(self):
        """(total lines, names of files that appeared since the last
        poll)."""
        new = []
        if os.path.isdir(self.path):
            for name in os.listdir(self.path):
                if name.startswith("part-") and name not in self.seen:
                    with open(os.path.join(self.path, name), "rb") as f:
                        self.seen[name] = f.read().count(b"\n")
                    new.append(name)
        return sum(self.seen.values()), new


class CdcStream:
    # file times fall for the first five files (the first takes two to
    # three times a levelled one, and on a contended host the fall lasts
    # longer) and then creep up as the stream's history grows (see
    # README); OP_S is one levelled file's cycle
    WARMUP = 5
    MIN_OPS = 2
    OP_S = 3.6

    def __init__(self, spark, work, seed, spans, preload=None, rows_per_file=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.spans = spans
        self.preload = preload or PRELOAD
        self.rows_per_file = rows_per_file or ROWS_PER_FILE
        self.cdc_dir = os.path.join(work, "changedata")
        self.sink_dir = os.path.join(work, "sink")
        self.batches = []  # dicts, one per landed file
        self.problems = []
        self.fl_checks = (0, 0, [])  # full-load probe: attempted, failed, problems

    def prepare(self, traced):
        from sample_dms_s3_kinesis_spark.apply import ParquetTargetStore
        from sample_dms_s3_kinesis_spark.catalog import (
            REFERENCE_TABLE_DEFINITION,
            Catalog,
        )
        from sample_dms_s3_kinesis_spark.sinks import JsonFileSink
        from sample_dms_s3_kinesis_spark.sources.csv_source import read_table
        from sample_dms_s3_kinesis_spark.streaming.cdc_task import CdcTask

        self.catalog = Catalog.from_external_table_definition(REFERENCE_TABLE_DEFINITION)
        tables = datagen.hr_tables(self.preload, self.seed)
        self.source = os.path.join(self.work, "preload")
        self.source_rows = datagen.write_load_files(self.source, tables)
        state = {t: {int(r[0]): tuple(r) for r in rows} for t, rows in tables.items()}
        self.model = datagen.CdcModel(state={t: dict(rows) for t, rows in state.items()})
        self.stream = datagen.ChangeStream(state, self.seed, rows_per_file=self.rows_per_file)

        self.store = ParquetTargetStore(os.path.join(self.work, "target"))
        set_op(self.spark, "preload")
        for name in tables:
            table = self.catalog.get("hr", name)
            self.store.write(table.qualified_name, read_table(self.spark, table, self.source))
        set_op(self.spark, None)
        self.sink = JsonFileSink(self.sink_dir, num_shards=1)
        if traced:
            self.sink.write = self.spans.wrap(self.sink.write, "sinks.write")
            for name in STORE_READ:
                setattr(self.store, name, self.spans.wrap(getattr(self.store, name), "apply.store_read"))
            self.store.write = self.spans.wrap(self.store.write, "apply.store_write")
            for name in STORE_META:
                setattr(self.store, name, self.spans.wrap(getattr(self.store, name), "apply.store_meta"))

        os.makedirs(self.cdc_dir)
        self.task = CdcTask(
            self.spark,
            self.catalog,
            self.cdc_dir,
            self.sink,
            self.store,
            checkpoint_dir=os.path.join(self.work, "checkpoint"),
        )
        if traced:
            self.task.stats.add_events = self.spans.wrap(
                self.task.stats.add_events, "stats.add_events"
            )
        self.task.start()
        if self.task.status != "running":
            raise RuntimeError(f"CDC task status {self.task.status!r} after start")
        self.model.start([t.name for t in self.catalog])
        self.watch = SinkWatch(self.sink_dir)
        self.expected_events = self.model.events["create-table"]
        self.query = self.spark.streams.active[0]

    def _wait(self, done, what, deadline):
        while True:
            result = done()
            if result:
                return result
            if self.query.exception() is not None:
                raise RuntimeError(f"CDC query failed: {self.query.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"CDC batch: timed out waiting for {what}")
            time.sleep(POLL_S)

    def op(self, index, phase):
        """Land one change file; returns (latency, cycle, rows), the two
        times as (wall, steal-excluded) seconds."""
        number = self.stream.files_made + 1
        lines = self.stream.next_lines()
        before = self.expected_events
        self.expected_events += len(lines)
        traced = phase == "traced"
        cpu0 = process_tree_cpu_s() if traced else 0.0
        datagen.write_atomically(os.path.join(self.cdc_dir, datagen.cdc_file_name(number)), lines)
        land = Mark()
        deadline = land.t + BATCH_TIMEOUT_S
        new_files = []

        def visible():
            n, new = self.watch.poll()
            new_files.extend(new)
            return n if n >= self.expected_events else 0

        seen = self._wait(visible, "sink events", deadline)
        shown = Mark()

        def committed():
            p = self.query.lastProgress
            return p is not None and p["batchId"] >= number - 1

        self._wait(committed, "batch commit", deadline)
        commit = Mark()
        cpu = process_tree_cpu_s() - cpu0 if traced else 0.0
        self.model.apply_file(lines)
        if seen - before != len(lines):
            self.problems.append(
                f"file {number}: {seen - before} events for {len(lines)} lines"
            )
        self.batches.append(
            {
                "number": number,
                "phase": phase,
                "t_land": land.t,
                "t_commit": commit.t,
                "cpu_s": cpu,
                "bytes_out": sum(
                    os.path.getsize(os.path.join(self.sink_dir, n)) for n in new_files
                ),
            }
        )
        return between(land, shown), between(land, commit), len(lines)

    def finish(self, traced):
        """Stop the task.  Traced runs then time a standalone fold of the
        last batch against the state it was applied to, and measure the
        full-load layers on the workload's source tables."""
        self.task.stop()
        if not traced:
            return
        from sample_dms_s3_kinesis_spark.apply import apply_changes
        from sample_dms_s3_kinesis_spark.sources.cdc_source import (
            parse_cdc_lines,
            read_cdc_lines,
            route_changes,
        )

        last = self.batches[-1]
        path = os.path.join(self.cdc_dir, datagen.cdc_file_name(last["number"]))
        set_op(self.spark, "standalone-fold")

        def fold_once():
            routed, _ = route_changes(
                parse_cdc_lines(read_cdc_lines(self.spark, self.cdc_dir, paths=[path])),
                self.catalog,
            )
            t0 = time.perf_counter()
            for name, _ in datagen.ChangeStream.TABLE_SHARE:
                table = self.catalog.get("hr", name)
                # the newest version is the one the last batch wrote; the
                # fold read the version before it
                before = self.store.table_history(table.qualified_name)[-1] - 1
                current = self.store.read_version(self.spark, table, before)
                result = apply_changes(self.spark, table, current, routed[table])
                result.new_state.write.format("noop").mode("overwrite").save()
                result.unpersist()
            return time.perf_counter() - t0

        self.fold_s = median([fold_once() for _ in range(3)])
        set_op(self.spark, None)
        self.fl_layers, *self.fl_checks = full_load_layers.measure(
            self.spark, self.catalog, self.source, self.source_rows, self.work, self.spans
        )

    def _state(self, table):
        from pyspark.sql import functions as F

        cols = [
            F.date_format(c.name, "yyyy-MM-dd") if c.name == "HireDate" else F.col(c.name).cast("string")
            for c in table.columns
        ]
        return {
            int(r[0]): tuple(r)
            for r in self.task.table_state(table).select(*cols).collect()
        }

    def check(self):
        """(attempted, failed, problems): per-batch event counts, then the
        final target state, table statistics and exceptions table against
        the model."""
        fl_attempted, fl_failed, fl_problems = self.fl_checks
        failed = len(self.problems) + fl_failed
        problems = list(self.problems) + fl_problems
        for table in self.catalog:
            got = self._state(table)
            want = self.model.state.get(table.name, {})
            if got != want:
                diff = len(set(got.items()) ^ set(want.items()))
                problems.append(f"state of {table.name}: {diff} rows differ")
        stats = {
            (r["SchemaName"], r["TableName"]): {f: int(r[f]) for f in datagen.STATS_FIELDS}
            for r in self.task.table_statistics(self.spark).collect()
        }
        if stats != self.model.stats_rows():
            problems.append(f"table_statistics {stats} != model {self.model.stats_rows()}")
        exceptions = self.task.exceptions_table().count()
        if exceptions != self.model.exceptions():
            problems.append(f"{exceptions} exception rows, model has {self.model.exceptions()}")
        if len(problems) > failed:
            failed = max(failed, 1)  # a final-state defect: at least one batch wrong
        return len(self.batches) + fl_attempted, failed, problems

    def layers(self, jobs):
        jobs_by_batch = group_jobs(jobs, lambda j: j.batch_id)
        rows = []
        for b in self.batches:
            if b["phase"] != "traced":
                continue
            spans = self.spans.within(b["t_land"], b["t_commit"])
            store = [s for s in spans if s.name.startswith("apply.store")]
            rows.append(
                {
                    "sources.cdc_source.pickup_s": min(s.start for s in store) - b["t_land"],
                    "apply.store_read_s": total(spans, "apply.store_read"),
                    "apply.store_write_s": total(spans, "apply.store_write"),
                    "apply.store_meta_s": total(spans, "apply.store_meta"),
                    "sinks.write_s": total(spans, "sinks.write"),
                    "stats.add_events_s": total(spans, "stats.add_events"),
                    "streaming.cdc_task.self_s": self_time(spans),
                    "streaming.cdc_task.jobs": len(jobs_by_batch.get(str(b["number"] - 1), [])),
                    "streaming.cdc_task.cpu_s": b["cpu_s"],
                    "sinks.bytes_out": b["bytes_out"],
                }
            )
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        out["apply.apply_changes_s"] = self.fold_s
        out["apply.state_rows"] = sum(len(rows) for rows in self.model.state.values())
        out.update(self.fl_layers)
        return out
