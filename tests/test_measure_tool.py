"""``tools/measure.py``: each action once on one cheap query at sf0.001,
on the shared session fixture (no new session), plus a pin that the
fixture session is the declared ``test`` profile."""

import importlib.util
import os
import re

import pytest

from sample_dms_s3_kinesis_spark.plans.registry import REGISTRY
from sample_dms_s3_kinesis_spark.session import PROFILES
from tdata import sf_dir

# loaded under its own name: perfbench/ has a ``measure`` module too
_spec = importlib.util.spec_from_file_location(
    "measure_tool",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "measure.py"),
)
measure_tool = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure_tool)

QUERY = "q06_forecast_revenue"


@pytest.fixture()
def run_action(spark):
    def run(action, out=None):
        (rec,) = measure_tool.measure(spark, action, [QUERY], sf_dir("0.001"), out)
        assert "error" not in rec, rec
        assert rec["query"] == QUERY
        # the query's job group is cleared again for whatever runs next
        assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
        return rec

    return run


def test_time_reports_wall_seconds_and_jobs(run_action):
    rec = run_action("time")
    assert rec["s"] > 0
    assert rec["jobs"] >= 1


def test_smoke_counts_the_query_rows(spark, run_action):
    rec = run_action("smoke")
    assert rec["rows"] == REGISTRY[QUERY].fn(spark, sf_dir("0.001")).count()


def test_audit_counts_exchanges_and_broadcasts(run_action):
    rec = run_action("audit")
    assert isinstance(rec["exch"], int)
    assert isinstance(rec["bcast"], int)


def test_explain_writes_plan_with_normalised_ids(run_action, tmp_path):
    rec = run_action("explain", str(tmp_path))
    text = (tmp_path / f"{QUERY}.txt").read_text()
    assert rec["out"] == str(tmp_path / f"{QUERY}.txt")
    assert "== Physical Plan ==" in text
    assert not re.search(r"#\d+", text)


def test_fixture_session_runs_the_test_profile(spark):
    for key, value in PROFILES["test"].items():
        assert spark.conf.get(key) == value, key


def test_normalise_ids_blanks_per_jvm_counters():
    plan = (
        "transform(sig#12, lambdafunction((lambda x_11#45 + 1), lambda x_11#45, "
        "false)), MapPartitionsRDD[32] at localCheckpoint, slot_0#7L, [plan_id=107]"
    )
    assert measure_tool.normalise_ids(plan) == (
        "transform(sig#, lambdafunction((lambda x_# + 1), lambda x_#, "
        "false)), MapPartitionsRDD[] at localCheckpoint, slot_0#L, [plan_id=]"
    )
