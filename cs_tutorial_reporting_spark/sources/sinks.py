"""Sinks (SURVEY.md §2.1, K1-K4).

- K1 JSON landing zone: run-timestamp-partitioned prefixes with optional
  gzip (``airflow_to_gcs.py:153-159``; prefixes ``reporting_dag.py:57``).
  Batch-numbered files (``dagRuns{cnt}.json``) become ``repartition(n)``.
  The load reads a landed frame back from its landing (``landed_path``),
  as ``gcs_to_postgres.py:159-161`` reads what the extract wrote.
- K2 CSV staging: eliminated in the engine (Spark writes targets
  directly).
- K3 warehouse bulk append: ``COPY FROM STDIN`` → ``mode("append")``
  parquet/table writes.
- K4 DDL: Spark SQL ``CREATE DATABASE/TABLE IF NOT EXISTS``; PK/UNIQUE
  constraints are engine-enforced dedup invariants (Spark does not
  enforce constraints) — see ``operators.incremental.dedup_against``.

At 100 TB: landing and warehouse writes are partitioned by run/date so
downstream incremental reads prune partitions instead of scanning
history; file counts are controlled via ``repartition`` before write so
a 1000-executor job doesn't emit millions of tiny files.
"""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: the landing's timestamp format: µs and an offset, as Airflow's API
#: carries them; ``read_json_array``'s default parser reads it back exactly
LANDING_TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
#: leaf types whose JSON landing reads back equal to the frame
_JSON_EXACT = (T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
               T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
               T.TimestampType, T.BinaryType)

#: frame → (landing directory, its files' (name, size, mtime_ns)) for each
#: frame ``write_json_landing`` wrote to a local path
_LANDED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _landing_files(path: str) -> frozenset:
    """(name, size, mtime_ns) of each data file in the landing directory;
    Spark skips the ``_``- and ``.``-prefixed ones (markers, checksums)."""
    return frozenset(
        (e.name, st.st_size, st.st_mtime_ns)
        for e in os.scandir(path)
        if not e.name.startswith(("_", "."))
        for st in [e.stat()]
    )


def write_json_landing(
    df: DataFrame,
    base_path: str,
    run_ts: str,
    n_files: int | None = None,
    gzip: bool = False,
) -> str:
    """K1 — write a run-partitioned JSON landing directory
    (``{base}/{run_ts}/``), mirroring ``dst="airflow/dags/{{ ts_nodash }}/"``
    (reporting_dag.py:57,91,133) and the optional gzip flag
    (airflow_to_gcs.py:85,158). Timestamps land at µs
    (``LANDING_TIMESTAMP_FORMAT``). A local landing is remembered
    with its files, so ``landed_path`` can serve the load from it.
    """
    path = f"{base_path.rstrip('/')}/{run_ts}/"
    writer = df.repartition(n_files) if n_files else df
    out = writer.write.mode("overwrite").option("timestampFormat", LANDING_TIMESTAMP_FORMAT)
    if gzip:
        out = out.option("compression", "gzip")
    out.json(path)
    if not urlparse(path).scheme:
        _LANDED[df] = (path, _landing_files(path))
    return path


def _json_exact(t: T.DataType) -> bool:
    """A type whose JSON landing reads back equal: a ``_JSON_EXACT`` leaf,
    or arrays and structs of them, nullable throughout (a file read makes
    every field nullable)."""
    if isinstance(t, T.StructType):
        return all(f.nullable and _json_exact(f.dataType) for f in t)
    if isinstance(t, T.ArrayType):
        return t.containsNull and _json_exact(t.elementType)
    return isinstance(t, _JSON_EXACT)


def landed_path(df: DataFrame) -> str | None:
    """The landing directory ``write_json_landing`` wrote ``df`` to, when
    its files are unchanged since and ``df``'s schema round-trips through
    JSON exactly; None otherwise. Reading that directory with
    ``read_json_array(spark, path, df.schema)`` then gives ``df``'s rows
    without running ``df``'s source again — the reference's extract-once
    shape (the load reads what the extract landed)."""
    hit = _LANDED.get(df)
    if hit is None or not _json_exact(df.schema):
        return None
    path, files = hit
    try:
        return path if _landing_files(path) == files else None
    except OSError:  # the landing directory is gone
        return None


def write_table_append(df: DataFrame, path: str) -> str:
    """K3 — bulk append into the warehouse table (parquet in the harness;
    swap for ``df.write.jdbc(url, table, mode="append")`` on Postgres).
    """
    df.write.mode("append").parquet(path)
    return path


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> str:
    """Partitioned warehouse write — the 100 TB layout: downstream
    watermark scans prune to recent partitions instead of full history.
    """
    df.write.mode("append").partitionBy(*partition_cols).parquet(path)
    return path


def write_orc(df: DataFrame, path: str, *partition_cols: str) -> str:
    """K3 alternate format — ORC (native Spark datasource; same
    vectorized reader + min/max skipping story as parquet, the format
    Hive-lineage warehouses expect). Partitioning optional."""
    out = df.write.mode("overwrite")
    if partition_cols:
        out = out.partitionBy(*partition_cols)
    out.orc(path)
    return path
