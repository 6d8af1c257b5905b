"""Sources (SURVEY.md §2.1, S1-S7).

The reference's sources are (a) Airflow REST endpoints, (b) JSON-array
files in GCS, (c) Postgres scans. All three collapse to declarative Spark
reads:

- REST pagination (``airflow_to_gcs.py:260-293``) is subsumed by Spark's
  partitioned file reads — no client-side offset loops.
- GCS JSON-array objects (``gcs_to_postgres.py:159-161``) are
  ``multiLine`` JSON reads with an explicit schema.
- Postgres key/scalar scans (``reporting_dag.py:24-45``) become reads of
  the existing target table (parquet) feeding a max-aggregate or
  anti-join.

Every reader takes an explicit ``StructType`` — no inference (SURVEY
§1.2: the reference declares all schemas up front).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import STAR_TABLES


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with Catalyst filter/column pushdown (the default).

    ns-timestamp-aware like every engine read path: detected
    TIMESTAMP(NANOS) columns are read as int64 and floored to µs (the
    ``nanosAsLong`` session flag stays set once flipped — uniform policy;
    the footer peek decides per file which columns need conversion).
    """
    return _read_parquet_ns_aware(spark, path)


def _read_parquet_ns_aware(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    ns_cols = _ns_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # Spark reads its OWN ns files (4.x writes timestamp[ns] with
        # spark row metadata) natively as TIMESTAMP — only foreign ns
        # files arrive as raw int64 under nanosAsLong and need the
        # explicit floor-to-µs conversion.
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


import functools
import os as _os


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns physically stored as parquet TIMESTAMP(NANOS) — Spark 4
    refuses them unless read as raw int64 ns (legacy nanosAsLong).
    Cached per (path, mtime): the footer peek costs a pyarrow read per
    call and every registry query hits the same handful of tables; the
    mtime key keeps a rewritten file from being served stale schema."""
    try:
        mtime = _os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1
    return _ns_timestamp_cols_cached(path, mtime)


@functools.lru_cache(maxsize=256)
def _ns_timestamp_cols_cached(path: str, _mtime: int) -> list[str]:
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = path
    if os.path.isdir(path):
        inside = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not inside:
            return []
        f = inside[0]
    schema = pq.read_schema(f)
    return [
        fld.name
        for fld in schema
        if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver star-schema table from ``{sf_dir}/{name}.parquet``.

    ns-precision timestamps (events.ts) are read as int64 ns and floored
    to Spark µs via integer division — bit-identical to DuckDB's ns→µs
    truncation (SURVEY §7.4; double division would lose precision above
    2^53 ns). Everything else is cast through the catalog schema.
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    df = _read_parquet_ns_aware(spark, path)
    want = STAR_TABLES.get(name)
    if want is not None and [f.name for f in want.fields] == df.columns:
        # Cast only where physical type differs (int32 vs int64 etc.).
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in want.fields]
        )
    return df


def read_json_array(
    spark: SparkSession, path: str, schema: T.StructType, encoding: str = "UTF-8"
) -> DataFrame:
    """Landing-zone reader for JSON-*array* files (one array of row objects
    per file — the reference's GCS object format, ``airflow_to_gcs.py:155``,
    read back at ``gcs_to_postgres.py:159-161``).

    ``multiLine=True`` makes Spark parse whole-file arrays instead of
    NDJSON. Schema is explicit; extra JSON fields are dropped (projection
    P2), missing declared fields surface as NULLs at read and are caught
    by ``operators.project.project_cast(strict=True)``.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", True)
        .option("encoding", encoding)
        .json(path)
    )


def read_csv_staging(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Reader matching the reference's CSV staging hop semantics
    (``gcs_to_postgres.py:162-181``): header row, empty string → NULL
    (``NULL AS ''``). The idiomatic engine skips this hop entirely —
    provided for format parity and migration reads.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", "")
        .csv(path)
    )


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — predicate pushdown and column pruning work exactly as
    for parquet (Catalyst emits the same PushedFilters / ReadSchema);
    pinned in tests/test_scale_layout.py."""
    return spark.read.orc(path)
