"""Projection / type-coercion operators (SURVEY.md §2.2 P1-P3).

The reference projects twice: extract-side row-dict building
(airflow_to_gcs.py:141-152,183-203,242-251) and load-side
``row[field] for field in schema_fields`` (gcs_to_postgres.py:169-172,
KeyError on missing). Typing is late — everything rides as strings until
Postgres COPY coerces to DDL types, with ``NULL AS ''``
(gcs_to_postgres.py:179) and a ``str(bool)`` stringification quirk
(airflow_to_gcs.py:143).

The engine does it once, eagerly and explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def quote(name: str) -> str:
    """``name`` as a backquoted SQL identifier (a backtick doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_type(t: T.DataType) -> str:
    """``t`` as a SQL type string; struct field names are backquoted, and
    nested fields, array elements and map values read as nullable."""
    if isinstance(t, T.StructType):
        return "struct<" + ",".join(f"{quote(f.name)}:{sql_type(f.dataType)}" for f in t) + ">"
    if isinstance(t, T.ArrayType):
        return f"array<{sql_type(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"map<{sql_type(t.keyType)},{sql_type(t.valueType)}>"
    return t.simpleString()


def project_cast(
    df: DataFrame, schema: T.StructType, strict: bool = True
) -> DataFrame:
    """P1+P2+P3 — project to exactly the catalog columns, in catalog
    order, cast to catalog types. Extra input columns are dropped;
    missing ones raise (``strict=True``, the reference's KeyError
    semantics) or materialize as typed NULLs (``strict=False``).

    Boolean-through-string round-trips (the reference's ``str(is_paused)``
    → Postgres bool coercion) are honored by Spark's string→boolean cast
    ('true'/'false'/'t'/'f'/'1'/'0'); 'True'/'False' handled explicitly.
    The projection is one ``selectExpr``: a single JVM call however many
    columns the catalog has.
    """
    have = set(df.columns)
    missing = [f.name for f in schema.fields if f.name not in have]
    if missing and strict:
        raise ValueError(f"projection missing required columns: {missing}")
    exprs = []
    for f in schema.fields:
        src = quote(f.name)
        if f.name not in have:
            src = "NULL"
        elif isinstance(f.dataType, T.BooleanType):
            text = f"CAST({src} AS STRING)"
            src = f"CASE WHEN {text} IN ('True', 'False') THEN lower({text}) ELSE {text} END"
        exprs.append(f"CAST({src} AS {sql_type(f.dataType)}) AS {quote(f.name)}")
    return df.selectExpr(*exprs)


def null_if_empty(df: DataFrame, *columns: str) -> DataFrame:
    """P3 — ``NULL AS ''``: map empty strings to NULL on the given string
    columns (all string columns when none given), matching the COPY
    option at gcs_to_postgres.py:179. The reference consequently cannot
    round-trip a true empty string; the engine preserves '' everywhere
    except through this explicit operator (SURVEY §7.4). One projection
    over every column, the mapped ones in place.
    """
    targets = set(columns) or {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    unknown = targets - set(df.columns)
    if unknown:
        raise ValueError(f"null_if_empty: no such columns: {sorted(unknown)}")
    exprs = [
        f"CASE WHEN {quote(c)} = '' THEN NULL ELSE {quote(c)} END AS {quote(c)}"
        if c in targets
        else quote(c)
        for c in df.columns
    ]
    return df.selectExpr(*exprs)
