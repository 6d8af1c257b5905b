"""The three workloads: inputs, operations and result checks.

Each workload exposes the same surface to ``run.py``:

- ``prepare()`` makes the inputs from the seed and the expected results;
- ``register(spark)`` does the data-source registration;
- ``ops`` is the fixed operation list of one pass, ``setup_ops`` how
  many of the first pass's operations belong to set-up (the rest of
  that pass is untimed warm-up), and ``warmup_passes`` how many more
  untimed passes follow;
- ``begin_pass()`` runs before every pass but the first, untimed;
- ``run(spark, op)`` runs one operation and returns what
  ``check(op, value)`` needs to judge the result;
- ``finish()`` checks the end state.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import canon
import gen_star
from gen_airflow import AirflowFeed, row_digest

SF = 0.01  # scale factor of the query workloads' star-schema inputs


def _parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "*.parquet")))


class QueryWorkload:
    """Rebuild-then-collect over a fixed list of registered queries.

    Every operation builds a fresh DataFrame and collects it, so no
    operation reuses another's shuffle output.
    """

    setup_ops = 1  # the first query of the list is the set-up warm-up
    # the first pass runs every query once, cold; the JIT is still
    # compiling through the next one, which stays untimed too
    warmup_passes = 1

    def __init__(self, spec: dict, work: str, seed: int, tracer=None):
        self.ops = list(spec["ops"])
        self.seed, self.tracer = seed, tracer
        self.data = os.path.join(work, "star")
        self.expected: dict[str, str] = {}
        self.stats: Counter = Counter()  # run.py clears it after warm-up

    def prepare(self) -> None:
        import duckdb

        from cs_tutorial_reporting_spark.queries import QUERIES

        self.queries = QUERIES
        counts = gen_star.generate(self.data, self.seed, SF)
        con = duckdb.connect()
        try:
            for t in gen_star.TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')"
                )
            for name in self.ops:
                rel = con.sql(QUERIES[name].oracle)
                self.expected[name] = canon.result_hash(rel.columns, rel.fetchall())
        finally:
            con.close()
        size = sum(os.path.getsize(f) for f in glob.glob(f"{self.data}/*.parquet"))
        self.bytes_per_row = size / sum(counts.values())

    def register(self, spark) -> None:
        pass  # queries read parquet paths; nothing to register

    def begin_pass(self) -> None:
        pass

    def run(self, spark, name: str):
        fn, t = self.queries[name].fn, self.tracer
        if t is None:
            df = fn(spark, self.data)
            return df.columns, df.collect()
        with t.span("queries.build"):
            df = fn(spark, self.data)
        with t.span("queries.collect"):
            rows = df.collect()
        return df.columns, rows

    def check(self, name: str, value) -> bool:
        columns, rows = value
        self.stats["rows_out"] += len(rows)
        return canon.result_hash(columns, rows) == self.expected[name]

    def finish(self) -> bool:
        return True


def _landing_schema(schema):
    """The catalog schema with booleans and bytes as strings, the way the
    Airflow API serialises them."""
    from pyspark.sql import types as T

    text = (T.BooleanType, T.BinaryType)
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if isinstance(f.dataType, text) else f.dataType,
                True,
            )
            for f in schema.fields
        ]
    )


class EltWorkload:
    """The paper's pipeline as repeated load cycles into a growing target.

    One operation loads one table of one cycle; a pass is one cycle over
    the three reporting tables. The first cycle is the full load
    (watermark None) and belongs to set-up.
    """

    ops = ["rpt_dag", "rpt_dag_run", "rpt_task_instance"]
    setup_ops = 3
    # the first pass is the full load; two more run the incremental path
    # (watermark filter, anti-join) before timing, the second while the
    # JIT is still compiling it
    warmup_passes = 2

    def __init__(self, spec: dict, work: str, seed: int, tracer=None):
        self.work, self.tracer = work, tracer
        self.landing = os.path.join(work, "landing")
        self.warehouse = os.path.join(work, "warehouse")
        self.feed = AirflowFeed(seed)
        self.n_cycle = -1
        self.stats: Counter = Counter()  # run.py clears it after warm-up

    def prepare(self) -> None:
        self.begin_pass()

    def register(self, spark) -> None:
        from cs_tutorial_reporting_spark.schemas import RPT_TABLES
        from cs_tutorial_reporting_spark.sources.airflow_rest import (
            AirflowRestDataSource,
        )

        spark.dataSource.register(AirflowRestDataSource)
        self.schemas = {t: _landing_schema(s) for t, s in RPT_TABLES.items()}

    def begin_pass(self) -> None:
        """Write the next cycle's landing files."""
        self.n_cycle += 1
        self.cycle = self.feed.write_cycle(self.n_cycle, self.landing)

    def run(self, spark, table: str):
        from cs_tutorial_reporting_spark.plans import pipeline
        from cs_tutorial_reporting_spark.sources import readers, sinks

        target = os.path.join(self.warehouse, table)
        before = _parquet_files(target)
        schema = self.schemas[table]
        if table == "rpt_dag":
            incoming = self._airflow_rest(spark, schema)
            # The landing zone is a tap here: the Spark JSON writer emits
            # JSON lines, and read_json_array reads whole-file arrays, so
            # reading the landed files back would keep one row per file.
            sinks.write_json_landing(
                incoming,
                os.path.join(self.work, "landed", table),
                f"c{self.n_cycle:05d}",
            )
        else:
            incoming = readers.read_json_array(spark, self.cycle.paths[table], schema)
        existing = readers.read_parquet_table(spark, target) if before else None
        loaded = pipeline.load_report_table(incoming, existing, table).loaded
        sinks.write_table_append(loaded, target)
        return before, target

    def _airflow_rest(self, spark, schema):
        reader = (
            spark.read.format("airflow_rest")
            .schema(schema)
            .option("path", self.cycle.paths["rpt_dag"])
            .option("entity", "dags")
        )
        if self.tracer is None:
            return reader.load()
        with self.tracer.span("airflow_rest"):
            return reader.load()

    def check(self, table: str, value) -> bool:
        """Rows landed, read from the new files' footers, equal the truth."""
        before, target = value
        new = _parquet_files(target) - before
        landed = sum(pq.ParquetFile(f).metadata.num_rows for f in new)
        self.stats.update(
            files_written=len(new),
            bytes_written=sum(os.path.getsize(f) for f in new),
            rows_in=self.cycle.rows_in[table],
            rows_kept=self.cycle.expected[table],
            rows_out=landed,
        )
        return landed == self.cycle.expected[table]

    def finish(self) -> bool:
        """Warehouse key sets and checksums equal the generator's truth."""
        ok = True
        size = rows = files = 0
        for table, truth in self.feed.truth.items():
            paths = sorted(_parquet_files(os.path.join(self.warehouse, table)))
            files += len(paths)
            size += sum(os.path.getsize(f) for f in paths)
            tbl = pq.ParquetDataset(paths).read()
            rows += tbl.num_rows
            ok &= tbl.num_rows == truth.rows
            ok &= warehouse_checksum(tbl, truth.fields) == truth.checksum
            if truth.pk:
                keys = set(zip(*(tbl.column(k).to_pylist() for k in truth.pk)))
                ok &= keys == truth.keys
        self.bytes_per_row = size / rows
        self.files_total = files
        return ok


def warehouse_checksum(tbl, fields) -> int:
    """Order-insensitive sum of row digests, as ``TableTruth`` keeps it."""
    cols = []
    for name, _kind in fields:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us"))
        cols.append(col.to_pylist())
    return sum(row_digest(r) for r in zip(*cols)) % 2**64


def make(spec: dict, work: str, seed: int, tracer=None):
    cls = EltWorkload if spec["kind"] == "elt" else QueryWorkload
    return cls(spec, work, seed, tracer)
