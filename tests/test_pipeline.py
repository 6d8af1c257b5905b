"""Golden end-to-end pipeline tests (SURVEY.md §5.3) — replay EP1-EP3 on
family-A fixtures twice (initial + increment) and pin the *intended*
semantics of the reference (the §0 bugs fixed: dedup fires, watermark
strict, pagination complete)."""

from __future__ import annotations

import os

import pytest

from cs_tutorial_reporting_spark.plans.pipeline import load_report_table
from cs_tutorial_reporting_spark.schemas import RPT_DAG_RUN

from . import fixtures_airflow as fx


def _load_twice(spark, table, batches):
    initial, increment = batches
    r1 = load_report_table(initial, None, table)
    state = r1.loaded.cache()
    r2 = load_report_table(increment, state, table)
    return state, r2


def test_ep1_dag_pk_dedup_only_new_dag_loads(spark):
    state, r2 = _load_twice(spark, "rpt_dag", fx.dag_batches(spark))
    delta = r2.loaded.collect()
    # etl_a and etl_b already exist (even though etl_b's payload changed —
    # the reference is append-with-PK-reject, not upsert); only etl_c new
    assert [r.dag_id for r in delta] == ["etl_c"]
    row = {r.dag_id: r for r in state.collect()}
    # bool-through-string coercion landed as real booleans
    assert row["etl_a"].is_paused is True and row["etl_b"].is_paused is False


def test_ep2_dag_run_watermark_plus_composite_dedup(spark):
    state, r2 = _load_twice(spark, "rpt_dag_run", fx.dag_run_batches(spark))
    assert r2.watermark_used == fx.ts(2)
    got = sorted((r.dag_id, r.dag_run_id) for r in r2.loaded.collect())
    # run2b: at watermark → out; run2: PK exists → out; runN: NULL sd → out
    assert got == [("etl_a", "run3"), ("etl_b", "run1")]


def test_ep3_task_instance_append_only(spark):
    state, r2 = _load_twice(
        spark, "rpt_task_instance", fx.task_instance_batches(spark)
    )
    assert r2.watermark_used == fx.ts(1.3)
    got = [r.task_id for r in r2.loaded.collect()]
    # duplicate task re-run appends (no PK); boundary row excluded
    assert got == ["extract"]


def test_ep2_empty_initial_batch_full_load(spark):
    initial, increment = fx.dag_run_batches(spark)
    empty = initial.filter("1=0")
    r = load_report_table(increment, empty, "rpt_dag_run")
    assert r.watermark_used is None
    # no watermark → everything incl. NULL start_date; intra-batch PK dedup
    # still applies (none here are dups within the batch)
    assert r.loaded.count() == 5


def test_schema_projection_order_and_types(spark):
    initial, _ = fx.dag_run_batches(spark)
    out = load_report_table(initial, None, "rpt_dag_run").loaded
    assert out.columns == [f.name for f in RPT_DAG_RUN.fields]
    assert dict(out.dtypes)["external_trigger"] == "boolean"
    assert dict(out.dtypes)["start_date"] == "timestamp"


def test_idempotence_rerun_adds_zero_rows(spark):
    """Property (SURVEY §5.4): re-running the same load adds 0 rows when
    dedup is on."""
    initial, increment = fx.dag_run_batches(spark)
    state = load_report_table(initial, None, "rpt_dag_run").loaded
    state = state.unionByName(
        load_report_table(increment, state, "rpt_dag_run").loaded
    ).cache()
    rerun = load_report_table(increment, state, "rpt_dag_run")
    assert rerun.loaded.count() == 0


def test_split_load_equals_whole_load(spark):
    """Property: load(A∪B) == load(A) then load(B) for batches split on
    the watermark axis."""
    initial, increment = fx.dag_run_batches(spark)
    whole = initial.unionByName(increment)

    one_shot = load_report_table(whole, None, "rpt_dag_run").loaded
    a = load_report_table(initial, None, "rpt_dag_run").loaded.cache()
    b = load_report_table(increment, a, "rpt_dag_run").loaded
    two_step = a.unionByName(b)

    key = lambda r: (r.dag_id, r.dag_run_id)  # noqa: E731
    one, two = sorted(map(key, one_shot.collect())), sorted(map(key, two_step.collect()))
    # two-step drops post-watermark re-extracts of existing PKs and
    # NULL-start_date rows that a single shot keeps — the intended
    # incremental contract is: two_step ⊆ one_shot, same PK set minus
    # watermark-invisible rows. Assert the shared invariant: no dup PKs.
    assert len(set(two)) == len(two)
    assert set(two) <= set(one)


def test_incremental_parquet_load_runs_only_data_jobs(spark, tmp_path, jobs_started):
    """One incremental load into a parquet target: reading the target and
    its watermark start no Spark job (footer schema and statistics), and
    the load plus its append start at most two (the one dedup shuffle's
    map stage, then the write). Each append writes one file (sized by
    its input bytes) with zstd pages, also where the load has no shuffle
    and reads a landing of several files."""
    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.operators.incremental import watermark
    from cs_tutorial_reporting_spark.sources.readers import read_parquet_table
    from cs_tutorial_reporting_spark.sources.sinks import write_json_landing, write_table_append

    target = str(tmp_path / "rpt_dag_run")
    initial, increment = fx.dag_run_batches(spark)
    write_table_append(load_report_table(initial, None, "rpt_dag_run").loaded, target)
    landing = write_json_landing(increment, str(tmp_path / "landing"), "c00001", n_files=3)
    before = set(os.listdir(target))

    existing, read_jobs = jobs_started(lambda: read_parquet_table(spark, target))
    wm, wm_jobs = jobs_started(lambda: watermark(existing, "start_date"))
    res, load_jobs = jobs_started(
        lambda: write_table_append(
            load_report_table(increment, existing, "rpt_dag_run").loaded, target
        )
    )
    assert (read_jobs, wm_jobs) == (0, 0)
    assert load_jobs <= 2
    assert wm == fx.ts(2)
    new = [f for f in set(os.listdir(target)) - before if f.startswith("part-")]
    assert len(new) == 1, new
    md = pq.ParquetFile(os.path.join(target, new[0])).metadata
    assert {md.row_group(0).column(i).compression for i in range(md.num_columns)} == {"ZSTD"}
    got = read_parquet_table(spark, target).collect()
    assert sorted((r.dag_id, r.dag_run_id) for r in got) == [
        ("etl_a", "run1"), ("etl_a", "run2"), ("etl_a", "run3"), ("etl_b", "run1"),
    ]

    # rpt_task_instance has no PK, so its load has no shuffle and the
    # append's tasks are the landing's files
    ti = str(tmp_path / "rpt_task_instance")
    batch, _ = fx.task_instance_batches(spark)
    ti_landing = write_json_landing(batch, str(tmp_path / "ti_landing"), "c00001")
    assert len([f for f in os.listdir(ti_landing) if f.startswith("part-")]) >= 2
    write_table_append(load_report_table(batch, None, "rpt_task_instance").loaded, ti)
    assert len([f for f in os.listdir(ti) if f.startswith("part-")]) == 1


#: Py4J commands that building one incremental ``load_report_table`` may
#: send (each is a driver round trip); like the job budgets, only lowered
LOAD_PY4J_BUDGET = 150


def test_load_report_table_py4j_budget(spark, tmp_path, py4j_commands):
    """Building each reporting table's incremental load against a parquet
    target sends at most LOAD_PY4J_BUDGET Py4J commands: the projection
    and the dedup are SQL strings, not one Column object per call."""
    from cs_tutorial_reporting_spark.sources.readers import read_parquet_table
    from cs_tutorial_reporting_spark.sources.sinks import write_table_append

    batches = {
        "rpt_dag": fx.dag_batches,
        "rpt_dag_run": fx.dag_run_batches,
        "rpt_task_instance": fx.task_instance_batches,
    }
    sent = {}
    for table, make in batches.items():
        initial, increment = make(spark)
        target = str(tmp_path / table)
        write_table_append(load_report_table(initial, None, table).loaded, target)
        existing = read_parquet_table(spark, target)
        _, sent[table] = py4j_commands(lambda: load_report_table(increment, existing, table))
    assert max(sent.values()) <= LOAD_PY4J_BUDGET, sent


def _runs_source(spark, tmp_path, n: int = 30, extra: str = ""):
    """An ``airflow_rest`` frame over a fixture of ``n`` dag runs in the
    API's string wire format, in pages of 7."""
    import json

    from cs_tutorial_reporting_spark.sources.airflow_rest import AirflowRestDataSource

    fixture = tmp_path / f"runs{n}.json"
    fixture.write_text(json.dumps([
        {
            "dag_id": f"d{i % 3}",
            "dag_run_id": f"r{i // 2}",  # every key twice: within-batch dedup
            "execution_date": f"2024-02-{i % 27 + 1:02d}T00:00:00+00:00",
            "external_trigger": ["True", "false", None][i % 3],
            "logical_date": f"2024-02-{i % 27 + 1:02d}T00:00:00+00:00",
            "start_date": f"2024-02-{i % 27 + 1:02d}T06:00:00.{i:06d}+00:00",
            "state": "" if i % 5 else "success",
            "_corrupt_record": f"c{i}",  # read only by schemas that declare it
        }
        for i in range(n)
    ]))
    spark.dataSource.register(AirflowRestDataSource)
    wire = ", ".join(f"{f.name} string" for f in RPT_DAG_RUN.fields) + extra
    return (
        spark.read.format("airflow_rest").schema(wire)
        .option("path", str(fixture)).option("batch_size", 7).load()
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def test_landed_frame_loads_from_its_landing(spark, tmp_path):
    """A frame ``write_json_landing`` landed is loaded from its landing
    files: the load's scan is a JSON file scan over the landing
    directory and the source does not run again. Its rows equal a load
    from the source, against an empty and a parquet target alike."""
    from urllib.parse import urlparse

    from cs_tutorial_reporting_spark.sources.readers import read_parquet_table
    from cs_tutorial_reporting_spark.sources.sinks import write_json_landing, write_table_append

    incoming = _runs_source(spark, tmp_path)
    landing = write_json_landing(incoming, str(tmp_path / "landing"), "c00000", n_files=2)
    target = str(tmp_path / "rpt_dag_run")
    write_table_append(
        load_report_table(_runs_source(spark, tmp_path, 10), None, "rpt_dag_run").loaded, target
    )
    for existing in (None, read_parquet_table(spark, target)):
        loaded = load_report_table(incoming, existing, "rpt_dag_run").loaded
        plan = _plan(loaded)
        assert "FileScan json" in plan and "airflow_rest" not in plan, plan
        files = [urlparse(f).path for f in loaded.inputFiles()]
        assert sorted(f for f in files if not f.startswith(target)) == sorted(
            os.path.join(landing, f) for f in os.listdir(landing) if f.startswith("part-")
        ), files
        direct = load_report_table(_runs_source(spark, tmp_path), existing, "rpt_dag_run").loaded
        assert "airflow_rest" in _plan(direct)
        assert _rows(loaded) == _rows(direct) and _rows(loaded)


def _first_part(path: str) -> str:
    return os.path.join(path, min(f for f in os.listdir(path) if f.startswith("part-")))


@pytest.mark.parametrize(
    "case",
    ["rewritten", "deleted", "derived", "never_landed", "map_column", "corrupt_record", "uri"],
)
def test_load_reads_the_frame_itself_unless_its_landing_is_intact(spark, tmp_path, case):
    """The load falls back to the frame's own plan when a landed file
    was rewritten or deleted, for a frame derived from a landed one, for
    a frame never landed, for a frame holding a type JSON does not
    round-trip (a map), and for a landing written through a URI. A
    declared ``_corrupt_record`` column (the JSON reader's default name
    for malformed lines) is data: that frame loads from its landing with
    the column's values kept."""
    from cs_tutorial_reporting_spark.sources.readers import read_json_array
    from cs_tutorial_reporting_spark.sources.sinks import landed_path, write_json_landing

    extra = {"map_column": ", labels map<string,string>", "corrupt_record": ", _corrupt_record string"}
    incoming = _runs_source(spark, tmp_path, extra=extra.get(case, ""))
    base = str(tmp_path / "landing")
    if case == "uri":
        base = f"file://{base}"
    if case != "never_landed":
        path = write_json_landing(incoming, base, "c00000", n_files=2)
    if case == "rewritten":
        with open(_first_part(path), "a") as f:
            f.write('{"dag_id": "planted", "dag_run_id": "x", "start_date": "2030-01-01T00:00:00Z"}\n')
    elif case == "deleted":
        os.remove(_first_part(path))
    elif case == "derived":
        incoming = incoming.filter("dag_id IS NOT NULL")
    if case == "corrupt_record":
        assert landed_path(incoming) == path
        assert _rows(read_json_array(spark, path, incoming.schema)) == _rows(incoming)
    else:
        assert landed_path(incoming) is None
    loaded = load_report_table(incoming, None, "rpt_dag_run").loaded
    assert ("FileScan json" in _plan(loaded)) == (case == "corrupt_record")
    direct = load_report_table(_runs_source(spark, tmp_path), None, "rpt_dag_run").loaded
    assert _rows(loaded) == _rows(direct)


def test_empty_landed_frame_loads_zero_rows(spark, tmp_path):
    from cs_tutorial_reporting_spark.sources.sinks import write_json_landing

    incoming = _runs_source(spark, tmp_path, n=0)
    write_json_landing(incoming, str(tmp_path / "landing"), "c00000")
    loaded = load_report_table(incoming, None, "rpt_dag_run").loaded
    assert "FileScan json" in _plan(loaded)
    assert loaded.count() == 0
