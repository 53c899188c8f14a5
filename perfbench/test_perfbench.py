"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import attribution  # noqa: E402
import gen  # noqa: E402


# --- interval union and self time -------------------------------------------


def test_union_length_merges_overlaps_and_ignores_empty():
    assert attribution.union_length([]) == 0.0
    assert attribution.union_length([(0, 1), (2, 3)]) == 2.0
    assert attribution.union_length([(0, 2), (1, 3), (2.5, 2.6)]) == 3.0
    assert attribution.union_length([(5, 5), (3, 2)]) == 0.0


def test_self_time_is_span_minus_covered_part():
    # children overlap each other and stick out of the span on both sides
    children = [(-1.0, 1.0), (0.5, 2.0), (4.0, 11.0)]
    assert attribution.self_time(0.0, 10.0, children) == pytest.approx(10.0 - 2.0 - 6.0)
    assert attribution.self_time(0.0, 10.0, []) == 10.0


# --- percentile sample-count rule -------------------------------------------


def test_p90_only_with_enough_samples():
    few = attribution.latency_summary([float(i) for i in range(99)])
    assert few["n"] == 99 and few["p50"] == 49.0 and few["p90"] is None
    many = attribution.latency_summary([float(i) for i in range(100)])
    assert many["n"] == 100 and many["p90"] == pytest.approx(89.9)
    assert attribution.latency_summary([]) == {"n": 0, "p50": None, "p90": None}


# --- best time per op, timed-pass count -------------------------------------


def test_best_time_is_each_ops_fastest_sample_warmup_included_but_for_queries():
    pytest.importorskip("pyspark")
    import harness
    import workloads

    ops = [workloads.Op("rollup", "etl", None), workloads.Op("query:q", "query", None, registry=True)]
    warm = {"rollup": 1.0, "check:rollup": 9.0, "query:q": 0.1, "check:query:q": 9.0}
    passes = [{"ops": [("rollup", "etl", 2.0), ("query:q", "query", 0.7)]},
              {"ops": [("rollup", "etl", 1.5), ("query:q", "query", 0.5)]}]
    # the rollup's warm-up sample counts; the query's (collected with toPandas) does not
    assert harness.best_times(ops, warm, passes) == [("rollup", "etl", 1.0), ("query:q", "query", 0.5)]


def test_pass_count_is_fixed_by_seconds_and_at_least_one():
    pytest.importorskip("pyspark")
    import harness

    assert harness.pass_count("spending-analytics", 24) == 4
    assert harness.pass_count("spending-analytics", 12) == 2
    assert harness.pass_count("index-lifecycle", 12) == 1
    assert harness.pass_count("index-lifecycle", 1) == 1


# --- event log parsing and attribution --------------------------------------


def _job(jid, t0, t1, stages, group=None, exec_id=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0 * 1000,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1 * 1000,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, run_ms, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u} for i, n, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000, "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10, "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Input Metrics": {"Bytes Read": 100, "Records Read": 7},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
        },
    }


SPANS = [
    {"id": "setup", "start": 0.0, "end": 10.0},
    {"id": "op0:a", "start": 10.0, "end": 20.0},
    {"id": "op1:b", "start": 20.0, "end": 30.0},
]


def _log(events):
    return attribution.parse_event_log(json.dumps(e) for e in events)


def test_every_job_is_charged_to_its_span_including_aqe_and_streaming_jobs():
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 10_500, "sparkPlanInfo": {
             "nodeName": "ArrowEvalPython", "metrics": [
                 {"name": "number of output rows", "accumulatorId": 99, "metricType": "sum"}],
             "children": []}},
        *_job(0, 1.0, 2.0, [0]),                          # set-up job, no group: by time
        *_job(1, 11.0, 12.0, [1], group="op0:a", exec_id=7),
        *_job(2, 12.5, 13.0, [2], exec_id=7),             # AQE stage job: no group, same execution
        *_job(3, 21.0, 22.0, [3], group="stream-run-id"),  # a streaming micro-batch's own group
        *_job(4, 23.0, 29.0, [4], group="op1:b"),
        _task(1, 500, [(50, "time to run Python workers", 2_000_000_000), (99, "number of output rows", 42)]),
        _task(2, 250),
        _task(4, 1000),
    ]
    log = _log(events)
    owner, unattributed = attribution.attribute(log["jobs"], SPANS, log["exec_start"])
    assert unattributed == []
    assert owner == {0: "setup", 1: "op0:a", 2: "op0:a", 3: "op1:b", 4: "op1:b"}
    layers = attribution.span_layers(SPANS[1], [1, 2], log, cores=4)
    assert layers["spark.jobs"] == 2 and layers["spark.tasks"] == 2
    assert layers["spark.job_s"] == pytest.approx(1.5)
    assert layers["driver.self_s"] + layers["spark.job_s"] == pytest.approx(layers["wall_s"])
    assert layers["spark.task_run_s"] == pytest.approx(0.75)
    assert layers["pyworker.run_s"] == pytest.approx(2.0)
    assert layers["pyworker.rows"] == 42
    assert layers["shuffle.write_bytes"] == 40 and layers["scan.rows"] == 14


def test_job_before_every_span_is_unattributed():
    log = _log(_job(0, -5.0, -4.0, [0]))
    owner, unattributed = attribution.attribute(log["jobs"], SPANS, log["exec_start"])
    assert owner == {} and unattributed == [0]


# --- seeded inputs ----------------------------------------------------------


def _digest(root: str) -> dict:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict:
    sf, lc = os.path.join(root, "sf"), os.path.join(root, "lc")
    os.makedirs(sf)
    os.makedirs(lc)
    gen.star_schema(np.random.default_rng([seed, 0]), sf)
    info = gen.lifecycle_splits(np.random.default_rng([seed, 2]), sf, lc)
    return info


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _generate(str(tmp_path / "a"), 5)
    b = _generate(str(tmp_path / "b"), 5)
    c = _generate(str(tmp_path / "c"), 6)
    da, db, dc = (_digest(str(tmp_path / x)) for x in "abc")
    assert da == db and a == b
    assert set(da) == set(dc)
    assert all(da[k] != dc[k] for k in da if not k.endswith(("region.parquet", "nation.parquet")))
    assert a != c


# --- the metric set the benchmark prints matches BENCHMARK.json -------------


def test_printed_metrics_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    pytest.importorskip("pyspark")
    import traced

    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == traced.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "wall_s"]
