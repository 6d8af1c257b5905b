"""Operator unit tests mirroring SURVEY.md §5.2 — watermark boundary,
empty-table watermark, anti-join single/composite PK, ''→NULL coercion,
strict projection, boolean-through-string round-trip."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from cs_tutorial_reporting_spark.operators.incremental import (
    dedup_against,
    dedup_within,
    incremental_filter,
    watermark,
)
from cs_tutorial_reporting_spark.operators.project import null_if_empty, project_cast
from cs_tutorial_reporting_spark.schemas import RPT_DAG

TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731


@pytest.fixture()
def runs(spark):
    return spark.createDataFrame(
        [
            ("d1", "r1", TS("2024-01-01T00:00:00"), "success"),
            ("d1", "r2", TS("2024-01-02T00:00:00"), "success"),
            ("d1", "r3", TS("2024-01-02T00:00:00.000001"), "running"),
            ("d2", "r1", None, "queued"),
        ],
        "dag_id string, dag_run_id string, start_date timestamp, state string",
    )


def test_watermark_is_global_max(spark, runs):
    assert watermark(runs, "start_date") == TS("2024-01-02T00:00:00.000001")


def test_watermark_empty_table_is_none(spark, runs):
    empty = runs.filter("1=0")
    assert watermark(empty, "start_date") is None


def test_incremental_filter_strict_gt_boundary(spark, runs):
    # the row exactly AT the watermark must be excluded; +1µs row kept
    wm = TS("2024-01-02T00:00:00")
    kept = incremental_filter(runs, "start_date", wm).collect()
    assert [r.dag_run_id for r in kept] == ["r3"]


def test_incremental_filter_none_watermark_full_scan(spark, runs):
    assert incremental_filter(runs, "start_date", None).count() == 4


def test_dedup_against_single_pk(spark, runs):
    existing = runs.filter("dag_run_id = 'r1'")
    out = dedup_against(runs, existing, ["dag_run_id"]).collect()
    assert sorted(r.dag_run_id for r in out) == ["r2", "r3"]


def test_dedup_against_composite_pk(spark, runs):
    existing = spark.createDataFrame(
        [("d1", "r1")], "dag_id string, dag_run_id string"
    )
    out = dedup_against(runs, existing, ["dag_run_id", "dag_id"])
    # (d2, r1) shares dag_run_id but not the composite key → survives
    assert sorted((r.dag_id, r.dag_run_id) for r in out.collect()) == [
        ("d1", "r2"),
        ("d1", "r3"),
        ("d2", "r1"),
    ]


def test_dedup_within_keeps_one_row_per_key(spark):
    df = spark.createDataFrame(
        [("a", 2), ("a", 1), ("b", 5)], "k string, v int"
    )
    out = dedup_within(df, ["k"]).collect()
    assert sorted((r.k, r.v) for r in out) == [("a", 1), ("b", 5)]


def test_dedup_within_against_existing_keeps_ties_once_and_rejects(spark):
    """The one-shuffle form: within-batch ties still collapse to the
    lowest row, and a key already in ``existing`` loses all its rows."""
    df = spark.createDataFrame(
        [("a", 2), ("a", 1), ("a", 1), ("b", 5), ("b", 4), ("c", 7)],
        "k string, v int",
    )
    existing = spark.createDataFrame([(9, "b"), (8, "b")], "x int, k string")
    out = dedup_within(df, ["k"], existing).collect()
    assert sorted((r.k, r.v) for r in out) == [("a", 1), ("c", 7)]
    assert dedup_within(df, ["k"], existing).columns == ["k", "v"]


def test_dedup_within_null_key_component_lands_once(spark):
    """A NULL PK component never matches an existing key (left-anti
    semantics), so the row lands — once, since within-batch dedup groups
    NULLs — even when ``existing`` holds the very same NULL key."""
    pk = ["dag_id", "dag_run_id"]
    incoming = spark.createDataFrame(
        [(None, "r1", 2), (None, "r1", 1), ("d1", "r2", 3), ("d2", "r3", 4)],
        "dag_id string, dag_run_id string, v int",
    )
    existing = spark.createDataFrame(
        [(None, "r1"), ("d2", "r3")], "dag_id string, dag_run_id string"
    )
    key = lambda r: (r.dag_id or "", r.dag_run_id, r.v)  # noqa: E731
    one_shuffle = sorted(map(key, dedup_within(incoming, pk, existing).collect()))
    two_step = dedup_against(dedup_within(incoming, pk), existing, pk)
    assert one_shuffle == [("", "r1", 1), ("d1", "r2", 3)]
    assert one_shuffle == sorted(map(key, two_step.collect()))


def test_watermark_from_footers_equals_scan(spark, tmp_path, jobs_started):
    """Footer statistics and ``existing.agg(max)`` agree across appends,
    an all-NULL file and a file appended after a first watermark; derived
    frames, INT96 files and empty tables are answered like the scan."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.sources.readers import footer_max, read_parquet_table

    target = str(tmp_path / "rpt_dag_run")

    def append(session, rows):
        df = session.createDataFrame(rows, "dag_id string, start_date timestamp")
        df.coalesce(1).write.mode("append").parquet(target)

    def scan(df):
        return df.agg(F.max("start_date")).first()[0]

    append(spark, [("a", TS("2024-01-01T00:00:00.000001")), ("b", None)])
    append(spark, [("c", None), ("d", None)])  # start_date all NULL
    first = read_parquet_table(spark, target)
    wm, jobs = jobs_started(lambda: watermark(first, "start_date"))
    assert footer_max(first, "start_date") == (True, wm)
    assert jobs == 0 and wm == scan(first) == TS("2024-01-01T00:00:00.000001")

    append(spark, [("e", TS("2024-03-01T12:00:00.123456")), ("f", None)])
    later = read_parquet_table(spark, target)
    wm = watermark(later, "start_date")
    assert footer_max(later, "start_date") == (True, wm)
    assert wm == scan(later) == TS("2024-03-01T12:00:00.123456")

    derived = later.filter(F.col("dag_id") != "e")
    assert footer_max(derived, "start_date") == (False, None)
    assert watermark(derived, "start_date") == scan(derived) == TS("2024-01-01T00:00:00.000001")

    legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    append(legacy, [("g", TS("2024-05-05T05:05:05.050505"))])
    mixed = read_parquet_table(spark, target)
    assert footer_max(mixed, "start_date") == (False, None)
    assert watermark(mixed, "start_date") == scan(mixed) == TS("2024-05-05T05:05:05.050505")

    empty_target = str(tmp_path / "empty")
    spark.createDataFrame([], "dag_id string, start_date timestamp").write.parquet(
        empty_target
    )
    empty = read_parquet_table(spark, empty_target)
    assert watermark(empty, "start_date") is None and scan(empty) is None


def test_project_cast_strict_missing_column_raises(spark):
    df = spark.createDataFrame([("x",)], "dag_id string")
    with pytest.raises(ValueError, match="missing"):
        project_cast(df, RPT_DAG, strict=True)


def test_project_cast_lenient_fills_null_and_orders(spark):
    df = spark.createDataFrame([("desc", "x")], "description string, dag_id string")
    out = project_cast(df, RPT_DAG, strict=False)
    assert out.columns == [f.name for f in RPT_DAG.fields]
    row = out.first()
    assert row.dag_id == "x" and row.description == "desc"
    assert row.is_paused is None


def test_project_cast_boolean_through_string(spark):
    # airflow_to_gcs.py:143 quirk: str(True) = 'True' must cast to bool
    df = spark.createDataFrame(
        [("d", "True"), ("e", "false"), ("f", None)],
        "dag_id string, is_paused string",
    )
    schema = T.StructType(
        [
            T.StructField("dag_id", T.StringType(), False),
            T.StructField("is_paused", T.BooleanType(), True),
        ]
    )
    vals = {r.dag_id: r.is_paused for r in project_cast(df, schema).collect()}
    assert vals == {"d": True, "e": False, "f": None}


def test_null_if_empty(spark):
    df = spark.createDataFrame(
        [("", "keep"), ("x", "")], "a string, b string"
    )
    out = null_if_empty(df, "a").collect()
    assert (out[0].a, out[0].b) == (None, "keep")
    assert (out[1].a, out[1].b) == ("x", "")  # only column a mapped
    out_all = null_if_empty(df).collect()
    assert out_all[1].b is None  # no-args → all string cols


def test_null_if_empty_two_targets_one_quoted(spark):
    df = spark.createDataFrame(
        [("", "", ""), ("x", "y", "z")], "`a b` string, c string, d string"
    )
    out = null_if_empty(df, "a b", "c")
    assert out.columns == ["a b", "c", "d"]
    assert [tuple(r) for r in out.collect()] == [(None, None, ""), ("x", "y", "z")]
    with pytest.raises(ValueError, match="no such"):
        null_if_empty(df, "nope")


#: column names SQL must quote: a space, a dot, a backtick
ODD_NAMES = {"k": "k k", "d": "d.o", "v": "v`t", "flag": "is `paused`.x"}


def _odd(df):
    return df.select([df[c].alias(ODD_NAMES.get(c, c)) for c in df.columns])


def test_project_cast_and_dedup_within_quote_column_names(spark):
    """Renaming every column to one that needs quoting changes nothing
    but the names: project_cast and dedup_within (alone and against
    existing keys) give the same rows."""
    df = spark.createDataFrame(
        [("a", "1", "x", "True"), ("a", "1", "w", "false"), ("b", "2", None, None),
         ("c", "3", "z", "t"), ("c", None, "z", "False")],
        "k string, d string, v string, flag string",
    )
    existing = spark.createDataFrame([("c", 3, "old")], "k string, d int, v string")
    catalog = T.StructType.fromDDL("k string, d int, v string, flag boolean, extra date")
    odd = T.StructType([T.StructField(ODD_NAMES.get(f.name, f.name), f.dataType) for f in catalog])

    def rows(out):
        return sorted(map(tuple, out.collect()), key=repr)

    plain = project_cast(df, catalog, strict=False)
    quoted = project_cast(_odd(df), odd, strict=False)
    assert quoted.columns == odd.names and quoted.schema == odd
    assert rows(quoted) == rows(plain)
    for pk in (["k"], ["k", "d"]):
        odd_pk = [ODD_NAMES[c] for c in pk]
        assert rows(dedup_within(_odd(plain), odd_pk)) == rows(dedup_within(plain, pk))
        assert rows(dedup_within(_odd(plain), odd_pk, _odd(existing))) == rows(
            dedup_within(plain, pk, existing)
        )


def test_grouped_exact_percentiles_matches_percentile_buffer(spark):
    """The two-pass rank operator is EXACT: bit-identical to Spark's
    single-pass F.percentile on tie-heavy, odd/even-sized, and
    single-value groups (the shapes where interpolation corner cases
    live)."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.percentile import (
        grouped_exact_percentiles,
    )

    rows = (
        [("a", v) for v in [1, 1, 2, 2, 2, 9, 100, 100]]      # ties, even
        + [("b", v) for v in [5, 3, 8, 1, 7]]                  # odd
        + [("c", v) for v in [42]]                             # single
        + [("d", v) for v in range(1000)]                      # dense
    )
    df = spark.createDataFrame(rows, "g string, v long")
    ps = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p99": 0.99}
    got = {
        r["g"]: [r[n] for n in ps]
        for r in grouped_exact_percentiles(df, "g", F.col("v"), ps).collect()
    }
    want = {
        r["g"]: list(r["qs"])
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(p) for p in ps.values()])).alias("qs"))
        .collect()
    }
    assert got == want


def test_grouped_exact_percentiles_stddev_fold(spark):
    """The histogram-folded sample stddev (r14) matches stddev_samp to
    float precision on ties, singletons (NULL — n=1 guard), and dense
    groups, and the fold adds no second scan of the input."""
    import math

    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.percentile import (
        grouped_exact_percentiles,
    )

    rows = (
        [("a", v) for v in [1, 1, 2, 2, 2, 9, 100, 100]]
        + [("b", v) for v in [5, 3, 8, 1, 7]]
        + [("c", v) for v in [42]]  # n=1 → NULL (stddev_samp: NaN/NULL)
        + [("d", v) for v in range(1000)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    out = grouped_exact_percentiles(
        df, "g", F.col("v"), {"p50": 0.5}, stddev="sd"
    )
    got = {r["g"]: r["sd"] for r in out.collect()}
    want = {
        r["g"]: r["sd"]
        for r in df.groupBy("g").agg(F.stddev_samp("v").alias("sd")).collect()
    }
    assert got["c"] is None
    for g in ("a", "b", "d"):
        assert math.isclose(got[g], want[g], rel_tol=1e-12), (g, got, want)
    # single pipeline: exactly one scan of the source in the plan
    # (fresh frame — an executed AQE plan string repeats the initial plan)
    plan = (
        grouped_exact_percentiles(df, "g", F.col("v"), {"p50": 0.5}, stddev="sd")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") == 1


def test_sequence_packing_layout_and_plan(spark):
    """Hand-computed concat-and-chunk layout (max_tokens=10, 1 shard):
    cumulative prefix sums place doc 3 (tokens 4,5,3 -> cum 4,9,12)
    across the 10-token boundary; empty docs occupy no tokens and never
    straddle. The plan must stay JVM-only (window cumsum, no Python)."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.packing import (
        pack_sequences,
        packing_summary,
    )

    rows = [(1, "s", 4), (2, "s", 5), (3, "s", 3), (4, "s", 0), (6, "t", 25)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, nt int")
    packed = pack_sequences(
        df, F.col("nt"), max_tokens=10, n_shards=1
    )
    got = {r.doc_id: r for r in packed.collect()}
    assert (got[1].first_seq, got[1].last_seq, got[1].straddles) == (0, 0, False)
    assert (got[2].first_seq, got[2].last_seq, got[2].straddles) == (0, 0, False)
    # doc 3: start_offset 9, last token at offset 11 -> seqs 0..1
    assert (got[3].first_seq, got[3].last_seq, got[3].straddles) == (0, 1, True)
    # doc 4: empty, start==cum==12 -> pinned to first_seq, no straddle
    assert (got[4].first_seq, got[4].last_seq, got[4].straddles) == (1, 1, False)
    # doc 6 alone in source t: 25 tokens -> seqs 0..2
    assert (got[6].first_seq, got[6].last_seq, got[6].straddles) == (0, 2, True)

    summary = {
        r.source: r for r in packing_summary(packed, max_tokens=10).collect()
    }
    assert (summary["s"].n_docs, summary["s"].total_tokens,
            summary["s"].n_sequences, summary["s"].n_straddling) == (4, 12, 2, 1)
    assert summary["s"].fill_ratio == 0.6  # 12 / (2*10)
    assert (summary["t"].n_sequences, summary["t"].n_straddling) == (3, 1)

    plan = packing_summary(packed, max_tokens=10)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partition_skew_report_flags_hot_key(spark):
    """A planted 10x-hot key must surface as a partition whose load
    ratio is far above uniform, while a uniform id space stays near
    1.0 everywhere - the pre-shuffle skew audit in one aggregation."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.diagnostics import (
        partition_skew_report,
    )

    uniform = spark.range(3200).select(F.col("id").alias("k"))
    flat = partition_skew_report(uniform, "k", n_partitions=8).collect()
    assert len(flat) == 8
    assert all(0.5 <= r.ratio_to_avg <= 1.5 for r in flat)

    hot = uniform.unionByName(
        spark.range(9 * 3200).select(F.lit(7).cast("bigint").alias("k"))
    )
    skewed = partition_skew_report(hot, "k", n_partitions=8).collect()
    worst = max(skewed, key=lambda r: r.ratio_to_avg)
    assert worst.ratio_to_avg > 5.0  # hot partition carries ~9x uniform
    assert sum(r.n_rows for r in skewed) == 10 * 3200
