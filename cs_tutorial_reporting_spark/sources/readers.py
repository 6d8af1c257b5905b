"""Sources (SURVEY.md §2.1, S1-S7).

The reference's sources are (a) Airflow REST endpoints, (b) JSON-array
files in GCS, (c) Postgres scans. All three collapse to declarative Spark
reads:

- REST pagination (``airflow_to_gcs.py:260-293``) is subsumed by Spark's
  partitioned file reads — no client-side offset loops.
- GCS JSON-array objects (``gcs_to_postgres.py:159-161``) are line-mode
  JSON reads with an explicit schema: one array, or one object, per line.
- Postgres key/scalar scans (``reporting_dag.py:24-45``) become reads of
  the existing target table (parquet) feeding a max-aggregate or
  anti-join. The target's schema and the max of its timestamp columns
  come from a per-file parquet footer cache (metadata only, as a
  metastore serves them), so neither costs a Spark job.

Every reader takes an explicit ``StructType`` — no inference (SURVEY
§1.2: the reference declares all schemas up front). Parquet reads take it
from the footer cache: the files' own Spark row metadata, or, for foreign
files, their Arrow schema mapped as Spark's parquet inference maps it.
"""

from __future__ import annotations

import functools
import json
import os
import weakref
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import STAR_TABLES

#: the Spark schema Spark stores in the key-value metadata of each file it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: marks a file written in Spark's LEGACY datetime rebase mode; it is read rebased
_LEGACY_DATETIME_KEY = b"org.apache.spark.legacyDateTime"
#: a footer pyarrow cannot read or parse (its errors subclass these); Spark decides
_UNREADABLE = (OSError, ValueError, KeyError, NotImplementedError)
#: parquet timestamp unit → multiplier to Spark's µs
_TO_MICROS = {"milliseconds": 1000, "microseconds": 1}
#: ``_column_max`` of a column some row group keeps no statistics for
_NO_STATS = object()
#: leaf types Spark's parquet schema inference yields for a foreign file
_INFERRED_LEAVES = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
                    T.DateType, T.TimestampType, T.TimestampNTZType)

#: frames ``read_parquet_table`` read from footer schemas; ``footer_max``
#: answers only these, never a frame derived from one
_FOOTER_FRAMES: weakref.WeakSet = weakref.WeakSet()


@dataclass(frozen=True)
class _Footer:
    """What one parquet file's footer says, without reading its rows."""

    # the schema to read the file with: Spark's row metadata, else the Arrow
    # schema mapped as Spark infers it; ns columns as LongType. None when
    # the mapping would differ from Spark's inference
    schema: T.StructType | None
    ns_cols: tuple[str, ...]  # top-level columns stored as INT64 TIMESTAMP(NANOS)
    # µs max per TimestampType column stored as TIMESTAMP_MICROS/MILLIS
    # whose every row group has statistics, in files with Spark row
    # metadata only; None when all NULL. Files agree regardless of it.
    ts_max: dict[str, int | None] = field(compare=False)


def _footer(path: str) -> _Footer:
    st = os.stat(path)
    return _read_footer(path, st.st_size, st.st_mtime_ns)


@functools.lru_cache(maxsize=4096)
def _read_footer(path: str, _size: int, _mtime_ns: int) -> _Footer:
    """Cached per (path, size, mtime): parquet files are immutable, and a
    rewritten file gets a new key."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    kv = md.metadata or {}
    ts_units = {}  # column index → (name, unit, adjusted to UTC)
    int96 = False
    for i in range(md.num_columns):
        c = md.schema.column(i)
        int96 |= c.physical_type == "INT96"
        if c.path == c.name and c.physical_type == "INT64":  # top-level INT64
            lt = json.loads(c.logical_type.to_json())
            if lt.get("Type") == "Timestamp":
                ts_units[i] = (c.name, lt["timeUnit"], lt["isAdjustedToUTC"])
    ns_cols = tuple(n for n, unit, _ in ts_units.values() if unit == "nanoseconds")
    raw = kv.get(_SPARK_SCHEMA_KEY)
    # Arrow maps INT96 to naive ns; Spark infers it as TimestampType
    fields = json.loads(raw)["fields"] if raw else None if int96 else _inferred_fields(md)
    if fields is None:
        return _Footer(None, ns_cols, {})
    for f in fields:
        if f["name"] in ns_cols:
            f["type"] = "long"
    schema = T.StructType.fromJson({"fields": fields})
    ts_max = {}
    if raw and _LEGACY_DATETIME_KEY not in kv:
        for i, (name, unit, utc) in ts_units.items():
            if (
                utc
                and unit in _TO_MICROS
                and name in schema.names
                and schema[name].dataType == T.TimestampType()
            ):
                best = _column_max(md, i)
                if best is not _NO_STATS:
                    ts_max[name] = None if best is None else best * _TO_MICROS[unit]
    return _Footer(schema, ns_cols, ts_max)


def _inferred_fields(md) -> list | None:
    """A foreign file's schema fields (JSON) as Spark's parquet inference
    gives them, from its Arrow schema; None where the mapping fails or
    would differ (time types, and unsigned, null or duration types below
    the top level)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        arrow = pa.schema([f.with_type(_as_inferred(f.type)) for f in md.schema.to_arrow_schema()])
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except (TypeError, NotImplementedError):
        return None
    return schema.jsonValue()["fields"] if _inferable(schema) else None


def _as_inferred(t):
    """The Arrow type Spark's parquet inference reads a column of Arrow
    type ``t`` as, where Arrow maps ``t`` to no Spark type or another
    one: unsigned to the next wider signed type (uint64 to
    decimal(20,0)), null to int32, duration to int64."""
    import pyarrow as pa

    if pa.types.is_unsigned_integer(t):
        wider = {8: pa.int16(), 16: pa.int32(), 32: pa.int64()}
        return wider.get(t.bit_width, pa.decimal128(20, 0))
    if pa.types.is_null(t):
        return pa.int32()
    return pa.int64() if pa.types.is_duration(t) else t


def _inferable(t: T.DataType) -> bool:
    if isinstance(t, T.StructType):
        return all(_inferable(f.dataType) for f in t)
    if isinstance(t, T.ArrayType):
        return _inferable(t.elementType)
    if isinstance(t, T.MapType):
        return _inferable(t.keyType) and _inferable(t.valueType)
    return isinstance(t, _INFERRED_LEAVES)


def _column_max(md, i: int):
    """Max of column ``i``'s row-group max statistics, skipping all-NULL
    row groups; ``_NO_STATS`` if some row group lacks statistics."""
    best = None
    for g in range(md.num_row_groups):
        chunk = md.row_group(g).column(i)
        st = chunk.statistics
        if st is not None and st.has_min_max:
            best = st.max_raw if best is None else max(best, st.max_raw)
        elif st is None or not st.has_null_count or st.null_count != chunk.num_values:
            return _NO_STATS
    return best


def _data_files(path: str) -> list[str] | None:
    """The files Spark reads for ``path``: the file itself, or the visible
    files of a flat directory. None for anything else (globs, remote
    URIs, partitioned or nested layouts, in-flight copies)."""
    if os.path.isfile(path):
        return [path]
    try:
        entries = list(os.scandir(path))
    except OSError:
        return None
    files = []
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if not e.is_file() or e.name.endswith("._COPYING_"):
            return None
        files.append(e.path)
    return files or None


def _declared(path: str) -> _Footer | None:
    """The footer every file of ``path`` agrees on (schema and ns columns),
    when it maps to a schema; None sends the read to Spark's inference."""
    files = _data_files(path)
    if files is None:
        return None
    agreed = None
    for f in files:
        try:
            ft = _footer(f)
        except _UNREADABLE:
            return None
        if ft.schema is None or (agreed is not None and ft != agreed):
            return None
        agreed = ft
    return agreed


def _floor_ns(df: DataFrame, ns_cols) -> DataFrame:
    """Floor int64 ns columns to Spark µs timestamps by integer division —
    bit-identical to DuckDB's ns→µs truncation (SURVEY §7.4; double
    division would lose precision above 2^53 ns)."""
    if not ns_cols:
        return df
    return df.withColumns({c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns_cols})


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan with Catalyst filter/column pushdown (the default).

    A file or flat directory whose files agree on their footer schema is
    read through ``spark.read.schema(<footer schema>)``, so no inference
    job runs, and ``watermark`` may answer the returned frame from the
    footers' statistics. INT64 TIMESTAMP(NANOS) columns are declared
    bigint and floored to µs by ``_floor_ns``; no session conf changes.
    Globs, remote URIs, partitioned or nested layouts, files that
    disagree and footers with no inferable mapping take a plain
    ``spark.read.parquet(path)``.
    """
    ft = _declared(path)
    if ft is None:
        return spark.read.parquet(path)
    df = _floor_ns(spark.read.schema(ft.schema).parquet(path), ft.ns_cols)
    _FOOTER_FRAMES.add(df)
    return df


def footer_max(df: DataFrame, col: str) -> tuple[bool, Any]:
    """``(True, max(col))`` from the parquet statistics of the files
    behind ``df``, converted as Spark's collect converts it, when ``df``
    is a frame ``read_parquet_table`` read from footers and every file has
    row-group statistics on ``col`` as a TIMESTAMP_MICROS/MILLIS column;
    otherwise ``(False, None)``. Metadata only: no Spark job runs."""
    if df not in _FOOTER_FRAMES:
        return False, None
    best = None
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file") or u.netloc:
            return False, None
        try:
            ts_max = _footer(unquote(u.path)).ts_max
        except _UNREADABLE:
            return False, None
        if col not in ts_max:
            return False, None
        v = ts_max[col]
        if v is not None and (best is None or v > best):
            best = v
    return True, None if best is None else T.TimestampType().fromInternal(best)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver star-schema table from ``{sf_dir}/{name}.parquet``
    through ``read_parquet_table`` (footer schema, no inference job; ns
    timestamps such as events.ts floored to µs), cast to the catalog
    schema in ``STAR_TABLES``.
    """
    df = read_parquet_table(spark, f"{sf_dir}/{name}.parquet")
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
    """Landing-zone reader for JSON files in Spark's line mode: each line
    is one array of row objects (the reference's GCS object format,
    ``json.dumps`` at ``airflow_to_gcs.py:155``, read back at
    ``gcs_to_postgres.py:159-161``) or one row object (the JSON lines
    ``sinks.write_json_landing`` writes). Line mode lets Spark split large
    files; pretty-printed arrays spanning several lines are out of
    contract. Schema is explicit; extra JSON fields are dropped
    (projection P2), missing declared fields surface as NULLs at read and
    are caught by ``operators.project.project_cast(strict=True)``.

    The reader's corrupt-record column gets a name no declared field
    has, so a declared ``_corrupt_record`` reads as data; a malformed
    line reads as an all-NULL row.
    """
    corrupt = "_corrupt_record"
    while corrupt in schema.fieldNames():
        corrupt = "_" + corrupt
    return (
        spark.read.schema(schema)
        .option("encoding", encoding)
        .option("columnNameOfCorruptRecord", corrupt)
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
