"""The reference's three pipelines (EP1-EP3, SURVEY.md §3) as one lazy
DataFrame chain each.

Reference shape (per TaskGroup, reporting_dag.py:50-180):

    extract (REST, watermark param) → JSON landing (GCS) → list objects
    → project schema_fields → CSV → PK filter → COPY append

Engine shape (every ``>>`` process boundary deleted):

    read(source) [→ write_json_landing → read_json_array]
    → project_cast → incremental_filter(> watermark)
    → dedup_within(batch + existing PKs) → write append

XCom disappears (the watermark is a plain Python scalar from
``watermark()``, read from parquet footers when the target came from
``read_parquet_table``). The landing zone is optional; a frame that was
landed is loaded from its landing files, as the reference loads what it
extracted, so the source runs once per cycle. The CSV hop is gone.
Catalyst does parse→analyze→optimize→physical; the only process
boundaries left are Spark's own task dispatch/shuffle.

Jobs per incremental load of a parquet target: reading it and its
watermark start none (footer-served schema and statistics); the within-
batch and against-target PK dedup share one shuffle, so the append runs
two (that shuffle's map stage, then the write), and one for a table with
no PK.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.incremental import dedup_within, incremental_filter, watermark
from ..operators.project import project_cast
from ..sources.readers import read_json_array
from ..sources.sinks import landed_path


@dataclass
class LoadResult:
    """What one pipeline run did — returned instead of Airflow task logs."""

    loaded: DataFrame
    watermark_used: object | None = None
    stats: dict = field(default_factory=dict)


def incremental_load(
    incoming: DataFrame,
    existing: DataFrame | None,
    schema: T.StructType,
    pk_cols: list[str] | None = None,
    watermark_col: str | None = None,
) -> LoadResult:
    """EP1-EP3 unified: project+cast, watermark-filter, PK-dedup.

    - EP1 (``dags`` group): ``pk_cols=['dag_id']``, no watermark —
      full-extract + dedup (reporting_dag.py:50-81 intended semantics).
    - EP2 (``dag_runs``): composite PK + ``watermark_col='start_date'``
      (reporting_dag.py:82-123).
    - EP3 (``task_instances``): no PK (append-only) +
      ``watermark_col='start_date'`` (reporting_dag.py:124-176).

    An ``incoming`` frame ``sinks.write_json_landing`` landed is read
    from its landing files (``sinks.landed_path``), so its source is
    extracted once per cycle.

    Returns the deduped delta ready for ``sinks.write_table_append`` —
    the caller owns the write so tests/driver can inspect the plan.
    """
    landing = landed_path(incoming)
    if landing is not None:
        incoming = read_json_array(incoming.sparkSession, landing, incoming.schema)
    df = project_cast(incoming, schema, strict=True)
    wm = None
    if watermark_col is not None and existing is not None:
        wm = watermark(existing, watermark_col)
        df = incremental_filter(df, watermark_col, wm)
    if pk_cols:
        df = dedup_within(df, pk_cols, existing)
    return LoadResult(loaded=df, watermark_used=wm)


def load_report_table(
    incoming: DataFrame,
    existing: DataFrame | None,
    table: str,
) -> LoadResult:
    """Catalog-driven wrapper: look up schema/PK/watermark config for one
    of the reference's three reporting tables (schemas.RPT_TABLES)."""
    from ..schemas import PRIMARY_KEYS, RPT_TABLES, WATERMARK_COLUMNS

    return incremental_load(
        incoming,
        existing,
        RPT_TABLES[table],
        pk_cols=PRIMARY_KEYS.get(table) or None,
        watermark_col=WATERMARK_COLUMNS.get(table),
    )
