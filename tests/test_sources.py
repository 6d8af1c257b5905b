"""Source/sink tests (SURVEY.md §2.1) — JSON-*array* landing files (the
reference's GCS object format), CSV staging ''→NULL, partitioned append."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from cs_tutorial_reporting_spark.schemas import RPT_DAG
from cs_tutorial_reporting_spark.sources.readers import (
    read_csv_staging,
    read_json_array,
)
from cs_tutorial_reporting_spark.sources.sinks import (
    write_json_landing,
    write_table_append,
)

from .conftest import SF_SMOKE

#: the driver's star tables, all foreign (pyarrow-written) parquet files
STAR = [
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
]


def test_read_json_array_file(spark, tmp_path):
    # one JSON array per file — airflow_to_gcs.py:155 format, with an
    # extra field the projection must drop and a missing nullable field
    rows = [
        {"dag_id": "a", "is_paused": True, "owners": "x", "extra_field": 1},
        {"dag_id": "b", "is_paused": False, "owners": None},
    ]
    p = tmp_path / "dags0.json"
    p.write_text(json.dumps(rows))
    df = read_json_array(spark, str(p), RPT_DAG)
    got = {r.dag_id: r for r in df.collect()}
    assert got["a"].is_paused is True and got["a"].owners == "x"
    assert got["b"].description is None
    assert "extra_field" not in df.columns


def test_read_json_array_keeps_a_declared_corrupt_record_column(spark, tmp_path):
    """A declared field with the JSON reader's default corrupt-record
    name reads as data, and a malformed line reads as an all-NULL row."""
    p = tmp_path / "lines.json"
    p.write_text('{"a": "x", "_corrupt_record": "y"}\n{"a": \n')
    schema = T.StructType.fromDDL("a string, _corrupt_record string")
    got = sorted(map(tuple, read_json_array(spark, str(p), schema).collect()), key=repr)
    assert got == [("x", "y"), (None, None)]


def test_csv_staging_empty_string_is_null(spark, tmp_path):
    p = tmp_path / "stage.csv"
    p.write_text("dag_id,description\nd1,\nd2,hello\n")
    schema = T.StructType(
        [f for f in RPT_DAG.fields if f.name in ("dag_id", "description")]
    )
    df = read_csv_staging(spark, str(p), schema)
    got = {r.dag_id: r.description for r in df.collect()}
    assert got == {"d1": None, "d2": "hello"}  # NULL AS '' parity


def test_json_landing_run_partitioned_roundtrip(spark, tmp_path):
    """The engine reads its own landing zone: JSON lines written by
    ``write_json_landing`` come back whole through ``read_json_array``,
    and landing → ``load_report_table`` equals a direct load."""
    from cs_tutorial_reporting_spark.plans.pipeline import load_report_table
    from cs_tutorial_reporting_spark.schemas import RPT_DAG_RUN

    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    path = write_json_landing(df, str(tmp_path / "landing"), "20240101T000000", n_files=1)
    assert "20240101T000000" in path
    back = read_json_array(spark, path, T.StructType.fromDDL("k string, v int"))
    assert sorted((r.k, r.v) for r in back.collect()) == [("a", 1), ("b", 2)]

    wire = T.StructType([T.StructField(f.name, T.StringType()) for f in RPT_DAG_RUN.fields])
    runs = spark.createDataFrame(
        [
            (f"d{i % 3}", f"r{i}", None, f"2024-03-{i % 27 + 1:02d}T00:00:00+00:00",
             str(i % 2 == 0).lower(), f"2024-03-{i % 27 + 1:02d}T00:00:00+00:00",
             f"2024-03-{i % 27 + 1:02d}T0{i % 10}:00:00+00:00", "success")
            for i in range(50)
        ],
        wire,
    )
    landed = read_json_array(
        spark, write_json_landing(runs, str(tmp_path / "runs"), "c00000", n_files=2), wire
    )
    assert landed.count() == 50
    direct = load_report_table(runs, None, "rpt_dag_run").loaded.collect()
    via_landing = load_report_table(landed, None, "rpt_dag_run").loaded.collect()
    assert len(direct) == 50 and sorted(via_landing) == sorted(direct)


def test_json_landing_reads_back_every_exact_type(spark, tmp_path):
    """Every type the landing substitutes for its frame reads back equal
    through ``read_json_array``: timestamps at µs, NaN, ±inf, a
    subnormal double, '' and NULLs, binary, decimals, dates, escaped and
    non-BMP strings, arrays and structs with names that need quoting."""
    import datetime as dt
    import decimal

    from cs_tutorial_reporting_spark.sources.sinks import landed_path

    schema = T.StructType.fromDDL(
        "s string, b boolean, i tinyint, l bigint, f float, d double, m decimal(12,8), "
        "day date, ts timestamp, bin binary, arr array<double>, "
        "st struct<`x y`: string, `z.w`: timestamp>"
    )
    us = dt.datetime(2024, 1, 1, 10, 0, 0, 123456)
    rows = [
        ("", True, -128, 2**63 - 1, float("nan"), float("inf"), decimal.Decimal("0.00000001"),
         dt.date(2024, 2, 29), us, b"\x00\xff\n", [float("-inf"), None, 1e-310],
         ('a"b\\c\né\U0001F600', us)),
        ('{"x": 1}', None, None, None, float("-inf"), 1e-310, decimal.Decimal("-1234.5"),
         None, None, b"", [], None),
        (None, False, 127, -(2**63), 1.1754944e-38, -0.0, None, dt.date(1970, 1, 1),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999), None, None, (None, None)),
    ]
    df = spark.createDataFrame(rows, schema)
    path = write_json_landing(df, str(tmp_path / "landing"), "c00000", n_files=2)
    assert landed_path(df) == path
    back = read_json_array(spark, path, df.schema)
    assert sorted(map(repr, back.collect())) == sorted(map(repr, df.collect()))


def test_append_sink_accumulates(spark, tmp_path):
    """Appends accumulate. A frame whose size the plan does not know (an
    in-memory frame, a range, or either unioned with a file read) keeps
    its partitioning: one file per non-empty partition."""
    import glob

    df = spark.createDataFrame([(1,)], "x int")
    target = str(tmp_path / "warehouse")
    write_table_append(df, target)
    write_table_append(df, target)
    assert spark.read.parquet(target).count() == 2

    wide = spark.range(0, 8, 1, 4)  # four partitions of two rows each
    write_table_append(wide, f"{tmp_path}/wide")
    mixed = wide.unionByName(spark.read.parquet(f"{tmp_path}/wide"))
    write_table_append(mixed, f"{tmp_path}/mixed")
    counts = {
        name: (len(glob.glob(f"{tmp_path}/{name}/part-*.parquet")), frame.rdd.getNumPartitions())
        for name, frame in [("wide", wide), ("mixed", mixed)]
    }
    assert counts["wide"] == (4, 4) and counts["mixed"][0] == counts["mixed"][1] > 4, counts


def test_rewritten_parquet_file_gets_a_fresh_footer(spark, tmp_path):
    """The footer cache is keyed per file by (path, size, mtime): a file
    rewritten in place is re-read, for the schema ``read_parquet_table``
    reads through and for the ns columns it floors."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.sources.readers import (
        _footer,
        read_parquet_table,
    )

    f = str(tmp_path / "t.parquet")

    def rewrite(src: str) -> None:
        mtime = os.stat(f).st_mtime_ns if os.path.exists(f) else 0
        shutil.copyfile(src, f)
        os.utime(f, ns=(mtime + 10**9, mtime + 10**9))

    for name, ddl, cols in [("a", "k string", ["k"]), ("b", "k string, v bigint", ["k", "v"])]:
        spark.createDataFrame([], ddl).coalesce(1).write.parquet(str(tmp_path / name))
        (part,) = [p for p in os.listdir(tmp_path / name) if p.endswith(".parquet")]
        rewrite(str(tmp_path / name / part))
        assert read_parquet_table(spark, f).columns == cols

    for unit, want in [("us", []), ("ns", ["ts"])]:
        src = str(tmp_path / f"{unit}.parquet")
        pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp(unit))}), src)
        rewrite(src)
        assert list(_footer(f).ns_cols) == want


def _arrow_fixture(tmp_path, name, arr, **write_kw):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({"c": arr}), p, **write_kw)
    return p


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """The declared schema the footer cache serves equals Spark's own
    inference for the star tables and every foreign type the mapping
    covers, unsigned, null and duration columns included, alone or next
    to an ns column; ns columns are declared bigint before the floor;
    INT96, which the mapping would get wrong, falls back to inference."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.sources.readers import _declared, read_parquet_table

    star = [f"{SF_SMOKE}/{t}.parquet" for t in STAR]
    arrays = {
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f64": pa.array([1.5, None]),
        "str": pa.array(["a", None]),
        "bool": pa.array([True, None]),
        "date": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
        "lf": pa.array([[1.0, None], None], pa.list_(pa.float32())),
        # Arrow maps these to no Spark type, or to another one
        "u8": pa.array([255, None], pa.uint8()),
        "u16": pa.array([65535, None], pa.uint16()),
        "u32": pa.array([4294967295, None], pa.uint32()),
        "u64": pa.array([18446744073709551615, None], pa.uint64()),
        "null": pa.array([None, None], pa.null()),
        "dur": pa.array([1, None], pa.duration("us")),
    }
    for unit in ("ms", "us"):
        for tz in (None, "UTC"):
            arrays[f"ts_{unit}_{tz}"] = pa.array([1_700_000_000_123, None], pa.timestamp(unit, tz))
    foreign = [_arrow_fixture(tmp_path, n, a) for n, a in arrays.items()]
    for p in star + foreign:
        ft = _declared(p)
        assert ft is not None and not ft.ns_cols, p
        assert ft.schema == spark.read.parquet(p).schema, p
        assert read_parquet_table(spark, p).schema == ft.schema, p

    for tz in (None, "UTC"):
        ns_ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns", tz))
        ns = _arrow_fixture(tmp_path, f"ns_{tz}", ns_ts)
        ft = _declared(ns)
        assert ft.ns_cols == ("c",) and ft.schema["c"].dataType == T.LongType()
        (row,) = read_parquet_table(spark, ns).collect()
        assert row.c == datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)

    # next to an ns column, which plain inference cannot read, each of
    # those types is declared as inference reads it alone, and the ns
    # column is floored
    ns_ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    for name in ("u8", "u16", "u32", "u64", "null", "dur"):
        alone = read_parquet_table(spark, foreign[list(arrays).index(name)])
        p = str(tmp_path / f"ns_{name}.parquet")
        pq.write_table(pa.table({"ts": ns_ts, "c": arrays[name]}), p)
        ft = _declared(p)
        assert ft is not None and ft.ns_cols == ("ts",), name
        got = read_parquet_table(spark, p)
        assert got.schema["c"] == alone.schema["c"], name
        assert got.schema["ts"].dataType == T.TimestampType(), name
        rows = got.collect()
        assert [r.ts for r in rows] == [
            datetime.datetime(2023, 11, 14, 22, 13, 20, 123456), None
        ], name
        assert [r.c for r in rows] == [r.c for r in alone.collect()], name

    i96 = _arrow_fixture(
        tmp_path, "i96", pa.array([1], pa.timestamp("ns")), use_deprecated_int96_timestamps=True
    )
    assert _declared(i96) is None
    assert read_parquet_table(spark, i96).schema == spark.read.parquet(i96).schema


#: Py4J commands one ``load_table`` may send once its footers are cached;
#: like the job budgets, only lowered
LOAD_TABLE_PY4J_BUDGET = 40


def test_load_table_casts_only_differing_columns(spark, py4j_commands):
    """``load_table`` gives the catalog schema and sends at most
    LOAD_TABLE_PY4J_BUDGET Py4J commands per table: a table whose footer
    types match the catalog gets no projection, and the rest get one
    SQL-string projection casting only the columns that differ."""
    from cs_tutorial_reporting_spark.schemas import STAR_TABLES
    from cs_tutorial_reporting_spark.sources.readers import load_table, read_parquet_table

    sent = {}
    for name in STAR:
        load_table(spark, SF_SMOKE, name)  # the footer cache, filled
        df, sent[name] = py4j_commands(lambda: load_table(spark, SF_SMOKE, name))
        assert df.schema.simpleString() == STAR_TABLES[name].simpleString(), name
        if read_parquet_table(spark, f"{SF_SMOKE}/{name}.parquet").schema == STAR_TABLES[name]:
            assert df._jdf.queryExecution().analyzed().nodeName() == "LogicalRelation", name
    assert max(sent.values()) <= LOAD_TABLE_PY4J_BUDGET, sent


def test_declared_reads_start_no_jobs_and_leave_conf_alone(spark, tmp_path, jobs_started):
    """Star-table and foreign-file reads start no Spark job, and no reader
    changes the session conf: a plain read of an ns file still fails
    afterwards, so nothing leaked ``nanosAsLong``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from cs_tutorial_reporting_spark.sources.readers import load_table, read_parquet_table
    from cs_tutorial_reporting_spark.streaming.sessions import read_event_stream

    for name in STAR:
        assert jobs_started(lambda: load_table(spark, SF_SMOKE, name))[1] == 0, name
    foreign = _arrow_fixture(tmp_path, "foreign", pa.array([1, 2], pa.int64()))
    assert jobs_started(lambda: read_parquet_table(spark, foreign))[1] == 0

    d = tmp_path / "ns"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
                "user_id": pa.array([1], pa.int64()),
                "event_type": ["a"],
                "value": [1.0],
                "props": ["{}"],
            }
        ),
        str(d / "events.parquet"),
    )
    conf = spark.conf.getAll
    load_table(spark, str(d), "events").collect()
    read_parquet_table(spark, str(d / "events.parquet")).collect()
    read_event_stream(spark, str(d / "events.parquet"))
    assert spark.conf.getAll == conf
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(d / "events.parquet")).collect()


def test_airflow_rest_datasource_paginates(spark, tmp_path):
    """Custom Python Data Source (S1-S3): one input partition per page,
    full pagination (the reference's taskInstances first-page-only bug
    must NOT reproduce), P1 projection to the declared schema."""
    import json

    from cs_tutorial_reporting_spark.schemas import RPT_DAG_RUN
    from cs_tutorial_reporting_spark.sources.airflow_rest import (
        AirflowRestDataSource,
    )

    rows = [
        {
            "dag_id": f"dag_{i % 3}",
            "dag_run_id": f"run_{i}",
            "end_date": None,
            "execution_date": f"2024-01-{(i % 27) + 1:02d}T00:00:00+00:00",
            "external_trigger": bool(i % 2),
            "logical_date": f"2024-01-{(i % 27) + 1:02d}T00:00:00+00:00",
            "start_date": None,
            "state": "success",
            "extra_api_field": "dropped by projection",
        }
        for i in range(25)
    ]
    fixture = tmp_path / "dag_runs.json"
    fixture.write_text(json.dumps(rows))

    spark.dataSource.register(AirflowRestDataSource)
    # string-typed schema: the API wire format is stringly typed (§1.2);
    # project_cast applies catalog types downstream
    wire_schema = ", ".join(f"{f.name} string" for f in RPT_DAG_RUN.fields)
    df = (
        spark.read.format("airflow_rest")
        .schema(wire_schema)
        .option("path", str(fixture))
        .option("batch_size", 10)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # ceil(25/10) pages
    got = df.collect()
    assert len(got) == 25  # ALL pages, not just the first
    assert {r.dag_run_id for r in got} == {f"run_{i}" for i in range(25)}
    assert "extra_api_field" not in df.columns


def test_airflow_rest_source_through_ep2_pipeline(spark, tmp_path):
    """End-to-end: REST data source (partitioned pages) → project_cast →
    watermark filter → composite-PK dedup → append — the reference's
    dag_runs pipeline (EP2) on the Spark-native source."""
    import json

    from cs_tutorial_reporting_spark.plans.pipeline import load_report_table
    from cs_tutorial_reporting_spark.schemas import RPT_DAG_RUN
    from cs_tutorial_reporting_spark.sources.airflow_rest import (
        AirflowRestDataSource,
    )

    def run(i):
        return {
            "dag_id": f"d{i % 2}",
            "dag_run_id": f"r{i}",
            "end_date": None,
            "execution_date": f"2024-02-{(i % 27) + 1:02d}T00:00:00+00:00",
            "external_trigger": "false",
            "logical_date": f"2024-02-{(i % 27) + 1:02d}T00:00:00+00:00",
            "start_date": f"2024-02-{(i % 27) + 1:02d}T06:00:00+00:00",
            "state": "success",
        }

    fixture = tmp_path / "runs.json"
    fixture.write_text(json.dumps([run(i) for i in range(30)]))
    spark.dataSource.register(AirflowRestDataSource)
    wire_schema = ", ".join(f"{f.name} string" for f in RPT_DAG_RUN.fields)
    incoming = (
        spark.read.format("airflow_rest")
        .schema(wire_schema)
        .option("path", str(fixture))
        .option("batch_size", 7)
        .load()
    )
    # existing = the first 10 runs already loaded (typed)
    first = load_report_table(incoming.limit(10), None, "rpt_dag_run").loaded
    res = load_report_table(incoming, first, "rpt_dag_run")
    delta = res.loaded.collect()
    # watermark keeps only runs strictly after max(start_date of first 10);
    # PK dedup would reject re-extracted overlap rows
    assert res.watermark_used is not None
    assert all(r.start_date > res.watermark_used for r in delta)
    got_ids = {r.dag_run_id for r in delta}
    first_ids = {r.dag_run_id for r in first.collect()}
    assert got_ids.isdisjoint(first_ids) and got_ids


def test_timestamp_unit_drift_batch_and_stream(spark, tmp_path):
    """Unit-drift regression (round-3 lesson): the driver testdata has
    stored ``events.ts`` as TIMESTAMP(NANOS) in r1-r2 and TIMESTAMP(MICROS)
    since r3. Materialize the SAME events in both physical units and
    assert byte-identical results from BOTH ``load_table`` (batch) and
    ``read_event_stream`` (streaming) on each — nothing may assume a unit
    again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.sources.readers import load_table
    from cs_tutorial_reporting_spark.streaming.sessions import (
        read_event_stream,
        run_to_memory,
    )

    base_us = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_003_600_000_001]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 10, 20], pa.int64()),
        "event_type": pa.array(["a", "b", "a"]),
        "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    results = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        mult = 1000 if unit == "ns" else 1
        ts = pa.array([t * mult for t in base_us], pa.timestamp(unit))
        tbl = pa.table({**cols, "ts": ts}).select(
            ["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pq.write_table(tbl, str(d / "events.parquet"))

        batch = load_table(spark, str(d), "events")
        assert dict(batch.dtypes)["ts"] == "timestamp"
        batch_rows = sorted(batch.collect(), key=lambda r: r.event_id)

        stream = read_event_stream(spark, str(d / "events.parquet"))
        name = f"unit_drift_{unit}"
        run_to_memory(stream, name, output_mode="append")
        stream_rows = sorted(
            spark.table(name).collect(), key=lambda r: r.event_id
        )
        assert batch_rows == stream_rows  # batch/stream parity per unit
        results[unit] = batch_rows

    assert results["ns"] == results["us"]  # physical unit must not leak
    assert results["us"][1].ts.microsecond == 456789  # µs precision kept


def test_airflow_rest_http_helpers():
    """HTTP-branch unit pieces (no network): snake_case payload keys and
    page-URL construction match the Airflow REST v1 wire format."""
    from cs_tutorial_reporting_spark.sources.airflow_rest import _snake

    assert _snake("dagRuns") == "dag_runs"
    assert _snake("taskInstances") == "task_instances"
    assert _snake("dags") == "dags"


def test_crawl_feed_stream_cursor_and_partitions(spark):
    """Pins the streaming DataSource mechanics (sources/crawl_feed.py)
    below the query level: the offset cursor advances by
    batches_per_poll and caps at max_batches; partitions(start, end)
    fans one InputPartition per batch; read() generates the
    deterministic payload contract."""
    from cs_tutorial_reporting_spark.sources.crawl_feed import (
        CrawlFeedStreamReader,
        crawl_row,
    )

    r = CrawlFeedStreamReader(
        {"rows_per_batch": "3", "max_batches": "5", "batches_per_poll": "2"}
    )
    assert r.initialOffset() == {"batch": 0}
    assert r.latestOffset() == {"batch": 2}
    assert r.latestOffset() == {"batch": 4}
    assert r.latestOffset() == {"batch": 5}  # capped
    assert r.latestOffset() == {"batch": 5}  # stays capped
    parts = r.partitions({"batch": 2}, {"batch": 4})
    assert [p.batch for p in parts] == [2, 3]
    rows = list(r.read(parts[0]))
    assert rows == [
        (6, 2, crawl_row(6)[1]),
        (7, 2, crawl_row(7)[1]),
        (8, 2, crawl_row(8)[1]),
    ]
    # payload contract is the md5 the oracle regenerates
    import hashlib

    assert crawl_row(6)[1] == hashlib.md5(b"crawl|6").hexdigest()


def test_read_with_schema_map_evolution(spark, tmp_path):
    """Pins the schema-evolution mapping read (sources/evolution.py):
    v1 files with the OLD column name and missing new columns read
    through renames + defaults; v2 files pass through; an int id in
    v1 widens to the declared bigint; an unmappable target fails
    loudly."""
    import pytest as _pytest

    from cs_tutorial_reporting_spark.sources.evolution import (
        read_with_schema_map,
    )

    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, "a")], "cust_id int, name string"
    ).write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", "US")], "customer_id bigint, name string, country string"
    ).write.parquet(v2)

    out = read_with_schema_map(
        spark,
        [v1, v2],
        "customer_id bigint, name string, country string",
        renames={"cust_id": "customer_id"},
        defaults={"country": "'UNKNOWN'"},
    )
    assert out.schema.simpleString() == (
        "struct<customer_id:bigint,name:string,country:string>"
    )
    got = {(r.customer_id, r.name, r.country) for r in out.collect()}
    assert got == {(1, "a", "UNKNOWN"), (2, "b", "US")}

    with _pytest.raises(ValueError, match="cannot provide column"):
        read_with_schema_map(
            spark, [v1], "customer_id bigint, email string"
        )


def test_read_json_with_dlq_splits_one_pass(spark, tmp_path):
    """Pins the dead-letter queue (sources/evolution.py): malformed
    NDJSON lines quarantine with their RAW bytes, good rows parse,
    and the all-or-nothing contract holds (a line with a bad field
    type quarantines entirely)."""
    from cs_tutorial_reporting_spark.sources.evolution import (
        read_json_with_dlq,
    )

    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": "not-an-int", "v": "bad-type"}\n'
        '{"id": 3, "v": "fine"}\n'
    )
    good, bad = read_json_with_dlq(spark, str(p), "id bigint, v string")
    assert {(r.id, r.v) for r in good.collect()} == {(1, "ok"), (3, "fine")}
    raws = [r.raw_line for r in bad.collect()]
    assert "THIS IS NOT JSON" in raws
    assert any("not-an-int" in r for r in raws)
    assert len(raws) == 2
