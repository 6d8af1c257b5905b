"""Per-layer metrics of a traced run, from its spans and Spark event log.

Times and counts are per pass: summed over the timed operations, then
divided by (timed operations / operations per pass). Jobs belong to the
operation whose id is their job group, or whose span holds their start
(broadcast jobs); a stage belongs to the first job that lists it, the
one that ran it. ``airflow_rest.pages`` is the task count of the stages
that scan the airflow_rest source: one task per page the reader plans.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from tracing import op_breakdown, parse_event_log, self_times

#: layer span name → metric name of its self time
SELF_TIME = {
    "readers.load_table": "readers.load_table.s",
    "readers.read_parquet_table": "readers.read_parquet_table.s",
    "readers.read_json_array": "readers.read_json_array.s",
    "airflow_rest": "airflow_rest.s",
    "project.project_cast": "project.project_cast.s",
    "incremental.watermark": "incremental.watermark.s",
    "sinks.write_json_landing": "sinks.write_json_landing.s",
    "sinks.write_table_append": "sinks.write_table_append.s",
}
#: layer span name → metric name of its inclusive time
INCLUSIVE = {
    "pipeline.load_report_table": "pipeline.load_report_table.s",
    "queries.build": "queries.build_s",
    "queries.collect": "queries.collect_s",
}
CALLS = {
    "readers.load_table": "readers.load_table.calls",
    "incremental.watermark": "incremental.watermark.calls",
}


def per_layer(bench, log_dir: str) -> tuple[dict, dict]:
    """Return (metrics as name → (value, unit), trace artifact)."""
    spans, wl = bench.tracer.spans, bench.wl
    timed = {op_id for op_id, _, _ in bench.records}
    passes = len(bench.records) / len(wl.ops)
    jobs, stages = parse_event_log(log_dir)

    self_s, incl_s, calls = defaultdict(float), defaultdict(float), Counter()
    for s, own in zip(spans, self_times(spans)):
        if s.op in timed:
            self_s[s.name] += own
            incl_s[s.name] += s.end - s.start
            calls[s.name] += 1
    get_spark = [s.end - s.start for s in spans if s.name == "session.get_spark"]

    ops = op_breakdown(spans, jobs)
    owner: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j.job_id):
        for sid in j.stages:
            owner.setdefault(sid, j.job_id)
    run = [st for sid, st in stages.items() if jobs[owner[sid]].op in timed]
    py = [st for st in run if st.python]
    timed_ops = [o for op_id, o in ops.items() if op_id in timed]

    def sm(field):
        return sum(getattr(st, field) for st in run)

    m = {}
    m["session.get_spark_s"] = (get_spark[0] if get_spark else 0.0, "s")
    for span, name in CALLS.items():
        m[name] = (calls[span] / passes, "count")
    for span, name in {**SELF_TIME, **INCLUSIVE}.items():
        src = self_s if span in SELF_TIME else incl_s
        m[name] = (src[span] / passes, "s")
    build, collect = incl_s["queries.build"], incl_s["queries.collect"]
    m["queries.build_share"] = (build / (build + collect) if build + collect else 0.0, "ratio")
    st = wl.stats
    m["airflow_rest.pages"] = (
        sum(s.tasks for s in run if "airflow_rest" in s.scans) / passes, "count"
    )
    m["incremental.rows_in"] = (st["rows_in"] / passes, "count")
    m["incremental.rows_kept"] = (st["rows_kept"] / passes, "count")
    m["incremental.keep_ratio"] = (st["rows_kept"] / st["rows_in"] if st["rows_in"] else 0.0, "ratio")
    m["sinks.files_written"] = (st["files_written"] / passes, "count")
    m["sinks.bytes_written"] = (st["bytes_written"] / passes, "B")
    m["sinks.files_total"] = (getattr(wl, "files_total", 0), "count")
    m["spark.jobs"] = (sum(1 for j in jobs.values() if j.op in timed) / passes, "count")
    m["spark.stages"] = (len(run) / passes, "count")
    m["spark.tasks"] = (sm("tasks") / passes, "count")
    m["spark.single_task_stages"] = (sum(1 for s in run if s.tasks == 1) / passes, "count")
    m["spark.executor_run_ms"] = (sm("run_ms") / passes, "ms")
    m["spark.executor_cpu_ms"] = (sm("cpu_ms") / passes, "ms")
    m["spark.cpu_ratio"] = (sm("cpu_ms") / sm("run_ms") if sm("run_ms") else 0.0, "ratio")
    m["spark.shuffle_read_bytes"] = (sm("shuffle_read") / passes, "B")
    m["spark.shuffle_write_bytes"] = (sm("shuffle_write") / passes, "B")
    m["spark.spill_bytes"] = (sm("spill") / passes, "B")
    m["spark.python_stages"] = (len(py) / passes, "count")
    m["spark.python_stage_run_ms"] = (sum(s.run_ms for s in py) / passes, "ms")
    m["spark.gc_ms"] = (sm("gc_ms") / passes, "ms")
    m["spark.driver_gap_s"] = (sum(o["driver_gap_s"] for o in timed_ops) / passes, "s")
    m["spark.failed_tasks"] = (sm("failed_tasks"), "count")
    artifact = {
        "spans": [s.__dict__ for s in spans],
        "ops": ops,
        "jobs": [j.__dict__ for j in jobs.values()],
        "metrics": {k: v for k, (v, _) in m.items()},
    }
    return m, artifact
