"""Span arithmetic, event-log parsing, and one tiny traced run per workload.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root;
the traced runs take about half a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tracing import Span, parse_event_log, self_times, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        Span("op", 0.0, 10.0, None, "a"),
        Span("build", 1.0, 4.0, 0, "a"),
        Span("load", 2.0, 3.0, 1, "a"),
        Span("collect", 4.5, 9.0, 0, "a"),
    ]
    own = self_times(spans)
    assert own == pytest.approx([2.5, 2.0, 1.0, 4.5])
    assert sum(own) == pytest.approx(10.0)


def test_parse_event_log_attributes_jobs_and_stages(tmp_path):
    scope = json.dumps({"id": "3", "name": "ArrowEvalPython"})
    scan = json.dumps({"id": "4", "name": "BatchScan airflow_rest"})
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0.0",
                                             "spark.job.description": "queries.collect"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1,
            "RDD Info": [{"Name": "x", "Scope": scope}, {"Name": "y", "Scope": scan}],
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 40},
                {"Name": "internal.metrics.executorCpuTime", "Value": 20_000_000},
                {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 7},
                {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 3},
            ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    log = tmp_path / "app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = parse_event_log(str(tmp_path))
    assert jobs[0].group == "p0.0" and jobs[0].desc == "queries.collect"
    assert (jobs[0].start, jobs[0].end) == (1.0, 1.5)
    st = stages[1]
    assert (st.tasks, st.run_ms, st.cpu_ms, st.shuffle_read) == (1, 40, 20, 10)
    assert st.python and st.failed_tasks == 1
    assert st.scans == {"airflow_rest"}


@pytest.mark.parametrize("workload", ["elt_incremental", "reporting_sql", "llm_curation"])
def test_traced_run_attributes_and_reconciles(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    with open(os.path.join(ROOT, ".perfbench_work", f"trace-{workload}-1.json")) as f:
        trace = json.load(f)
    ops = trace["ops"]
    # every job is under exactly one operation: the one whose span holds
    # its submission, which is its job group unless a broadcast set its own
    for job in trace["jobs"]:
        holders = [k for k, o in ops.items() if o["start"] <= job["start"] <= o["end"]]
        assert holders == [job["op"]]
        assert job["group"] == job["op"] or job["group"] not in ops
    # span self times, and jobs plus driver gap, reconcile with the wall
    for o in ops.values():
        assert o["self_sum_s"] == pytest.approx(o["wall_s"], rel=0.10)
        assert o["job_s"] + o["driver_gap_s"] == pytest.approx(o["wall_s"], rel=0.10)
    if workload == "reporting_sql":
        assert m["spark.python_stages"] == 0
    if workload == "llm_curation":
        assert m["spark.python_stages"] > 0
    assert (m["sinks.bytes_written"] > 0) == (workload == "elt_incremental")
    # pages come from the tasks that scan the airflow_rest source
    assert (m["airflow_rest.pages"] > 0) == (workload == "elt_incremental")
    assert m["trace.op_p50_s"] > 0
