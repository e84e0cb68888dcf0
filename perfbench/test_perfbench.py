"""Self-test of the benchmark at sf0.001 (a few minutes on 4 cores).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Runs every workload once untraced and once traced in one Spark session
whose working directory is not the repository root, and checks the
result contract, failure counting, the maintenance rebuild checks and the
job counter past Spark's retained-job limit.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as R  # noqa: E402
import workloads as W  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = 0.001


@pytest.fixture(scope="module")
def spark():
    R.configure_env()
    cwd = os.getcwd()
    # Python workers start in the JVM's working directory; starting it
    # outside the repository root proves they find the engine anyway
    os.chdir(HERE)
    from bigdata_capstone_spark.session import build_session

    s = build_session(app_name="perfbench-selftest")
    yield s
    R.stop_spark(s)
    os.chdir(cwd)


def _run(spark, wl, trace, seed=3):
    data = os.path.join(R.WORK, f"selftest-{wl.name}-{trace}")
    try:
        return R.run_workload(spark, wl, seed, 1, trace, 0.0, 1.0, data)
    finally:
        shutil.rmtree(data, ignore_errors=True)


def _tiny(name, **kw):
    return dataclasses.replace(W.WORKLOADS[name], scale=TINY, factor=1, **kw)


def _check_metrics(result, spec_key):
    got = result["metrics"]
    for m in SPEC[spec_key]:
        assert m["name"] in got, m["name"]
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    assert set(got) == {m["name"] for m in SPEC[spec_key]}


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_workload_reports_every_metric(spark, name, trace):
    out = _run(spark, _tiny(name), trace)
    res = out["result"]
    assert res["correct"], out["meta"]["errors"]
    assert res["attempted"] >= len(W.op_order(W.WORKLOADS[name]))
    assert res["failed"] == 0
    _check_metrics(res, "per_layer" if trace else "end_to_end")
    if trace and name == "curation":
        m = res["metrics"]
        assert m["sinks.output_mb"]["value"] > 0
        assert m["operators.multimodal.calls"]["value"] > 0
        assert m["operators.simsearch.calls"]["value"] > 0
        assert m["streaming.calls"]["value"] > 0
        assert m["sinks.stored_mb"]["value"] > 0


def test_injected_failure_is_counted(spark):
    wl = _tiny("warehouse", queries=["pricing_summary", "no_such_query"], passes=1)
    res = _run(spark, wl, False)["result"]
    # the check pass and each timed pass attempt both queries, and the
    # unknown one fails
    assert res["failed"] >= 1 and res["attempted"] == 2 * res["failed"]
    assert not res["correct"]


def test_maintenance_rebuild_checks_catch_a_corrupt_state(spark):
    fixture = os.path.join(R.WORK, "selftest-maint")
    try:
        W.make_fixture(fixture, 5, TINY, 1)
        m = W.Maintenance(spark, fixture, os.path.join(fixture, "maintenance"), 5)
        m.build_initial()
        for step in W.STEPS:
            m.run_step(step, 0)
        m.finish_batch(0)
        assert m.verify() == {s: [] for s in W.STEPS}
        # drop one token from the maintained df table: the rebuild differs
        bad = m.read("dfreq").orderBy("token").limit(1)
        shutil.rmtree(m.write("dfreq", m.read("dfreq").exceptAll(bad)))
        problems = m.verify()
        assert problems["dfreq_delta"] and not problems["merge_snapshot"]
    finally:
        shutil.rmtree(fixture, ignore_errors=True)


def test_job_count_past_retained_limit(spark):
    from harness import SparkCounters

    c = SparkCounters(spark)
    one = spark.range(1)._jdf  # JVM-side collect: one single-stage job
    j0 = c.next_job_id()
    n = 1050
    for _ in range(n):
        one.collectAsList()
    assert c.next_job_id() - j0 == n
    retained = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert retained <= 1000 < n
