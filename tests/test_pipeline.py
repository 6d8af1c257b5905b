"""Golden end-to-end pipeline tests (SURVEY.md §5.3) — replay EP1-EP3 on
family-A fixtures twice (initial + increment) and pin the *intended*
semantics of the reference (the §0 bugs fixed: dedup fires, watermark
strict, pagination complete)."""

from __future__ import annotations

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
    map stage, then the write)."""
    from cs_tutorial_reporting_spark.operators.incremental import watermark
    from cs_tutorial_reporting_spark.sources.readers import read_parquet_table
    from cs_tutorial_reporting_spark.sources.sinks import write_table_append

    target = str(tmp_path / "rpt_dag_run")
    initial, increment = fx.dag_run_batches(spark)
    write_table_append(load_report_table(initial, None, "rpt_dag_run").loaded, target)

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
    got = read_parquet_table(spark, target).collect()
    assert sorted((r.dag_id, r.dag_run_id) for r in got) == [
        ("etl_a", "run1"), ("etl_a", "run2"), ("etl_a", "run3"), ("etl_b", "run1"),
    ]
