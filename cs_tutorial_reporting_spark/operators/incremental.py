"""Incremental-load operators (SURVEY.md §2.2 F1/F2, §2.3 J1, §2.4 A1/A2).

The reference's core ELT semantics, intended behavior (its actual code has
the §0 bugs — dedup never fires, pagination truncated):

- **watermark** — ``SELECT Max(start_date) FROM rpt.dag_run``
  (reporting_dag.py:31-45): global max over the already-loaded table;
  NULL when empty ("None" string path, airflow_to_gcs.py:162,214). On a
  table ``read_parquet_table`` returned, it is the max of the files'
  row-group max statistics — no scan, no Spark job.
- **incremental_filter** — keep rows strictly after the watermark. The
  reference sends ``start_date_gte = wm + 1µs`` into the source
  (airflow_to_gcs.py:165-172); at Spark's µs timestamp precision
  ``col > wm`` is exactly equivalent and pushes down to parquet row-group
  pruning / JDBC predicates via Catalyst.
- **dedup_against** — reject incoming rows whose PK already exists in the
  target (gcs_to_postgres.py:153-175 intended; single-col ``dag_id`` PK
  rpt.sql:18, composite ``(dag_run_id, dag_id)`` rpt.sql:32). The Python
  ``not in`` list-probe becomes a left-anti join; the existing-keys side
  is projected to the PK columns only so Catalyst broadcasts it.
- **dedup_within** — one row per PK within the batch; given the target,
  it also rejects existing keys, in the same single shuffle.

Scale notes (100 TB): the watermark is the only driver-side value in the
whole pipeline — one scalar, read from parquet footers when it can be,
else collected from a max-aggregate. The key side is
``SELECT pk FROM target``, which stays small relative to the fact data.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import footer_max
from .project import quote, sql_type


def watermark(existing: DataFrame, col: str) -> Any | None:
    """A1 — global max of ``col`` over the already-loaded table.

    Returns a Python scalar (or None when the table is empty — the
    reference's ``"None"`` sentinel path). When ``existing`` is exactly a
    frame ``read_parquet_table`` returned and every file carries row-group
    statistics on ``col`` as a TIMESTAMP_MICROS/MILLIS column, the value
    comes from the footers (all-NULL row groups skipped). Anything else —
    a derived frame, INT96 or foreign files, other column types — takes
    the one permitted driver-side collect.
    """
    answered, wm = footer_max(existing, col)
    if answered:
        return wm
    return existing.agg(F.max(col).alias("wm")).first()["wm"]


def incremental_filter(
    incoming: DataFrame, col: str, wm: Any | None
) -> DataFrame:
    """F1 — rows strictly after the watermark; full scan when ``wm`` is
    None (first load). Strict ``>`` ≡ the reference's ``>= wm + 1µs`` at
    µs precision (airflow_to_gcs.py:165-167); Catalyst pushes the
    predicate into the parquet scan (min/max row-group pruning).
    """
    if wm is None:
        return incoming
    return incoming.filter(F.col(col) > F.lit(wm))


def dedup_against(
    incoming: DataFrame,
    existing: DataFrame,
    pk_cols: list[str],
    hint_broadcast: bool | None = None,
) -> DataFrame:
    """F2/J1/A2 — anti-join incoming rows against the target's existing
    primary keys (intended semantics of gcs_to_postgres.py:153-175 +
    reporting_dag.py:67; generalized to composite PKs per rpt.sql:32).

    The build side is projected to the PK columns and de-duplicated.
    Join strategy: by default (``hint_broadcast=None``) NO hint is
    attached — Spark honors an explicit broadcast hint regardless of
    actual size, so an unexpectedly huge key set would OOM the driver
    rather than fall back. Catalyst broadcasts statically when the
    pruned key scan is under ``autoBroadcastJoinThreshold``, and AQE
    promotes a shuffled join to broadcast at runtime from observed
    sizes — the safe default at 100 TB. Pass ``hint_broadcast=True``
    only when the caller KNOWS the key set is small (e.g. a bounded
    dimension), or ``False`` to forbid broadcasting outright.
    """
    if not pk_cols:
        return incoming
    keys = existing.select(*pk_cols).distinct()
    if hint_broadcast:
        keys = F.broadcast(keys)
    elif hint_broadcast is False:
        keys = keys.hint("shuffle_hash")
    return incoming.join(keys, on=pk_cols, how="left_anti")


def dedup_within(
    incoming: DataFrame, pk_cols: list[str], existing: DataFrame | None = None
) -> DataFrame:
    """Intra-batch PK dedup — keep one arbitrary-but-deterministic row per
    key (needed because a PK'd warehouse table rejects duplicates *within*
    a batch too; the reference relied on Postgres constraint errors).
    Deterministic choice: row_number over pk ordered by all non-key
    columns, keeping rank 1.

    Given ``existing``, its PK values join the same window as tagged rows
    that sort first, so a key already in the target ranks an existing row
    first and loses every incoming row: ``dedup_against`` semantics in the
    one shuffle. Existing keys with a NULL component are dropped first
    (a left-anti join never matches NULL), and are cast to the incoming
    key types. The tag, casts and window are SQL strings, so the plan is
    built in a few JVM calls whatever the column count.
    """
    order_cols = [c for c in incoming.columns if c not in pk_cols] or pk_cols
    rows = incoming.selectExpr("*", "false AS __old")
    if existing is not None:
        schema = incoming.schema
        keys = existing.selectExpr(
            *[f"CAST({quote(c)} AS {sql_type(schema[c].dataType)}) AS {quote(c)}" for c in pk_cols]
        ).dropna(subset=[quote(c) for c in pk_cols])
        rows = rows.unionByName(
            keys.selectExpr("*", "true AS __old"), allowMissingColumns=True
        )
    over = (
        f"PARTITION BY {', '.join(map(quote, pk_cols))} ORDER BY __old DESC, "
        + ", ".join(f"{quote(c)} ASC NULLS LAST" for c in order_cols)
    )
    return (
        rows.selectExpr("*", f"row_number() OVER ({over}) AS __rn")
        .where("__rn = 1 AND NOT __old")
        .drop("__rn", "__old")
    )
