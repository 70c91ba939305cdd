"""The benchmark's generators, reference model and aggregation helpers —
no JVM needed."""

import hashlib
import json
import os
import statistics
from collections import Counter

import pytest

import datagen
import measure
import tracing
from full_load_layers import check_load

# FIXTURES.md §2, the reference's two change files
CDC_FILE_1 = [
    "INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York",
    "UPDATE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles",
    "UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas",
    "DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas",
]
CDC_FILE_2 = [
    "INSERT,department,hr,204,Software",
    "INSERT,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles",
    "INSERT,project,hr,101,Project1,Description1",
    "DELETE,project,hr,101,Project1,Description1",
    "DELETE,department,hr,301,Software",
    "UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas",
    "DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas",
]


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _stream_lines(seed, files=3):
    state = {t: {int(r[0]): tuple(r) for r in rows}
             for t, rows in datagen.hr_tables({"employee": 500, "project": 100}, seed).items()}
    stream = datagen.ChangeStream(state, seed, rows_per_file=300)
    return state, [stream.next_lines() for _ in range(files)]


def test_load_files_deterministic_per_seed(tmp_path):
    sizes = {"employee": 400, "department": 30, "project": 60}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.write_load_files(str(tmp_path / name), datagen.hr_tables(sizes, seed))
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")
    lines = (tmp_path / "a" / "hr" / "employee" / "LOAD001.csv").read_text().splitlines()
    assert len(lines) == 100 and lines[0].startswith("1,")
    assert all(len(line.split(",")) == 5 for line in lines)


def test_change_stream_deterministic_per_seed():
    assert _stream_lines(3)[1] == _stream_lines(3)[1]
    assert _stream_lines(3)[1] != _stream_lines(4)[1]


def test_query_suite_data_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.query_suite_data(str(tmp_path / name), 0.001, seed)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")


def test_change_stream_mix_and_exceptions():
    state, files = _stream_lines(7, files=4)
    model = datagen.CdcModel(state={t: dict(r) for t, r in state.items()})
    ops, tables = Counter(), Counter()
    for lines in files:
        for line in lines:
            op, table = line.split(",")[:2]
            ops[op] += 1
            tables[table] += 1
        model.apply_file(lines)
    n = sum(ops.values())
    assert abs(ops["INSERT"] / n - 0.3) < 0.05
    assert abs(ops["UPDATE"] / n - 0.5) < 0.05
    assert abs(tables["employee"] / n - 0.8) < 0.05
    # only updates/deletes of absent keys except; inserts never hit a live key
    exc = model.exceptions()
    assert 0 < exc < 0.08 * n
    assert all(
        c["Inserts"] == c["AppliedInserts"] for c in model.stats.values()
    )
    # hot keys see several operations inside one file
    keys = Counter(tuple(line.split(",")[1:4:2]) for line in files[0])
    assert max(keys.values()) >= 3


def test_cdc_model_reproduces_the_15_event_golden():
    model = datagen.CdcModel()
    model.start(["employee", "department", "project"])
    model.apply_file(CDC_FILE_1)
    model.apply_file(CDC_FILE_2)
    assert model.events == Counter(
        {"create-table": 4, "insert": 4, "update": 3, "delete": 4}
    )
    assert sum(model.events.values()) == 15
    assert model.state["employee"] == {}
    assert model.state["project"] == {}
    assert model.state["department"] == {204: ("204", "Software")}
    assert model.exceptions() == 1
    stats = model.stats_rows()
    assert stats[("hr", "department")]["ApplyExceptions"] == 1
    assert stats[("hr", "department")]["AppliedDeletes"] == 0
    assert stats[("hr", "awsdms_apply_exceptions")]["Ddls"] == 1
    assert stats[("hr", "employee")] == {
        "Inserts": 2, "Updates": 3, "Deletes": 2, "Ddls": 1,
        "AppliedInserts": 2, "AppliedUpdates": 3, "AppliedDeletes": 2,
        "ApplyExceptions": 0,
    }


@pytest.mark.parametrize(
    "values",
    [[3.0, 1.0, 2.0], [1.0, 2.0, 3.0, 4.0], [5.5, 1.25, 9.0, 2.0, 7.75, 3.5], [2.0, 2.0]],
)
def test_quartiles_match_statistics_quantiles(values):
    q1, q2, q3 = measure.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == measure.median(values) == statistics.median(values)
    assert measure.spread(values) == pytest.approx((q3 - q1) / q2)


def test_aggregation_edge_cases():
    assert measure.quartiles([4.0]) == (4.0, 4.0, 4.0)
    assert measure.spread([4.0]) == 0.0
    s = measure.summarize([1.0, 2.0, 3.0, 10.0])
    assert s["median"] == 2.5 and s["max"] == 10.0 and s["n"] == 4
    assert measure.rate(300, 1.5) == 200
    with pytest.raises(ValueError):
        measure.rate(1, 0)
    with pytest.raises(ValueError):
        measure.median([])


def test_process_tree_cpu_counts_this_process():
    before = measure.process_tree_cpu_s()
    x = 0
    for i in range(3_000_000):
        x += i
    assert measure.process_tree_cpu_s() > before


def test_cpu_ticks_reads_busy_steal_and_total():
    busy, steal, total = measure.cpu_ticks()
    assert 0 <= busy <= total and 0 <= steal <= total and total > 0
    assert measure.steal_share((0, 10, 100), (0, 13, 160)) == 0.05
    assert measure.steal_share((0, 10, 100), (0, 10, 100)) == 0.0


def test_steal_excluded_removes_the_stolen_share():
    # 300 busy and 100 stolen ticks: a quarter of the wanted CPU withheld
    assert measure.steal_excluded(8.0, (0, 0, 0), (300, 100, 800)) == 6.0
    assert measure.steal_excluded(8.0, (50, 5, 100), (350, 5, 900)) == 8.0
    assert measure.steal_excluded(8.0, (0, 0, 0), (0, 0, 400)) == 8.0
    a = measure.Mark()
    b = measure.Mark()
    wall, excluded = measure.between(a, b)
    assert 0 <= excluded <= wall


def test_self_time_subtracts_children():
    spans = [tracing.Span("a", 0.0, 1.0), tracing.Span("b", 1.5, 2.0), tracing.Span("c", 3.0, 4.0)]
    assert tracing.self_time(spans) == pytest.approx(1.5)
    assert tracing.total(spans, "b") == pytest.approx(0.5)
    assert tracing.self_time([]) == 0.0


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.op": "timed-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"streaming.sql.batchId": "4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        # stage 1 was first listed by job 0, so its tasks count there
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "JVM GC Time": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 500_000_000, "JVM GC Time": 50}},
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = tracing.read_event_log(str(tmp_path))
    assert jobs[0].cpu_s == pytest.approx(3.0)
    assert jobs[0].gc_s == pytest.approx(0.1) and jobs[0].shuffle_bytes == 64
    assert jobs[1].cpu_s == pytest.approx(0.5) and jobs[1].batch_id == "4"
    by_op = tracing.group_jobs(jobs, lambda j: j.op)
    assert list(by_op) == ["timed-3"]


def _sink(tmp_path, records):
    d = tmp_path / "sink"
    d.mkdir()
    lines = []
    for seq, table, op in records:
        data = json.dumps({"data": {}, "metadata": {"operation": op}}, separators=(",", ":"))
        lines.append(json.dumps(
            {"seq": seq, "partition_key": f"hr.{table}", "data": data},
            separators=(",", ":")))
    (d / "part-00000.txt").write_text("\n".join(lines) + "\n")
    return str(d)


def test_check_load_accepts_a_correct_load_and_flags_gaps(tmp_path):
    good = [(1, "a", "drop-table"), (2, "a", "create-table"), (3, "a", "load"),
            (4, "a", "load"), (5, "b", "drop-table"), (6, "b", "create-table"),
            (7, "b", "load"), (8, "c", "drop-table"), (9, "c", "create-table")]
    rows = {"a": 2, "b": 1, "c": 0}
    assert check_load(_sink(tmp_path, good), rows) == []
    gap = tmp_path / "gap"
    gap.mkdir()
    bad = [(s + (s > 4), t, o) for s, t, o in good]
    problems = check_load(_sink(gap, bad), rows)
    assert any("seq" in p for p in problems)
