"""Generator determinism, and the Airflow feed's truth against DuckDB.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import glob
import os

import duckdb

import gen_star
from gen_airflow import TABLES, AirflowFeed, Sizes, row_digest

SMALL = Sizes(dags=20, new_dags=3, runs=60, tasks=150, edge=3)
CYCLES = 4


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def _write(seed: int, out: str) -> list:
    feed = AirflowFeed(seed, SMALL)
    return feed, [feed.write_cycle(c, out) for c in range(CYCLES)]


def test_same_seed_gives_identical_landing_files(tmp_path):
    _write(7, str(tmp_path / "a"))
    _write(7, str(tmp_path / "b"))
    _write(8, str(tmp_path / "c"))
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_same_seed_gives_identical_star_tables(tmp_path):
    gen_star.generate(str(tmp_path / "a"), 3, 0.001)
    gen_star.generate(str(tmp_path / "b"), 3, 0.001)
    a, b = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen_star.TABLES)
    assert a == b


_SQL_TYPE = {"str": "VARCHAR", "bool": "VARCHAR", "ts": "VARCHAR",
             "bytes": "VARCHAR", "float": "DOUBLE", "int": "BIGINT"}
_CAST = {"bool": "CAST({} AS BOOLEAN)", "ts": "CAST({} AS TIMESTAMP)"}


def _duckdb_replay(paths_by_cycle) -> tuple[dict, dict]:
    """Reload every cycle in DuckDB: strict > watermark, within-batch PK
    dedup on the non-key columns ascending with NULLs last, composite-PK
    anti-join, no dedup for rpt_task_instance. Returns (rows landed per
    cycle per table, final target rows per table)."""
    con = duckdb.connect()
    landed = {t: [] for t in TABLES}
    for table, (fields, pk, wm) in TABLES.items():
        names = [n for n, _ in fields]
        cols = "{" + ", ".join(f"'{n}': '{_SQL_TYPE[k]}'" for n, k in fields) + "}"
        typed = ", ".join(_CAST.get(k, "{}").format(n) + f" AS {n}" for n, k in fields)
        for c, paths in enumerate(paths_by_cycle):
            src = paths[table]
            src = src if src.endswith(".json") else os.path.join(src, "*.json")
            con.sql(
                f"CREATE OR REPLACE VIEW inc AS SELECT {typed} FROM "
                f"read_json('{src}', format='array', columns={cols})"
            )
            q = "SELECT * FROM inc"
            if c and wm:
                q += f" WHERE {wm} > (SELECT max({wm}) FROM tgt)"
            if pk:
                rest = [n for n in names if n not in pk]
                order = ", ".join(f"{n} ASC NULLS LAST" for n in rest)
                q = (f"SELECT * FROM ({q}) QUALIFY row_number() OVER "
                     f"(PARTITION BY {', '.join(pk)} ORDER BY {order}) = 1")
                if c:
                    match = " AND ".join(f"t.{k} = n.{k}" for k in pk)
                    q = (f"SELECT * FROM ({q}) n WHERE NOT EXISTS "
                         f"(SELECT 1 FROM tgt t WHERE {match})")
            if c == 0:
                con.sql(f"CREATE OR REPLACE TABLE tgt AS {q}")
                landed[table].append(con.sql("SELECT count(*) FROM tgt").fetchone()[0])
            else:
                before = con.sql("SELECT count(*) FROM tgt").fetchone()[0]
                con.sql(f"INSERT INTO tgt {q}")
                after = con.sql("SELECT count(*) FROM tgt").fetchone()[0]
                landed[table].append(after - before)
        con.sql(f"CREATE TABLE final_{table} AS SELECT * FROM tgt")
    final = {}
    for table, (fields, _, _) in TABLES.items():
        rows = con.sql(f"SELECT * FROM final_{table}").fetchall()
        byte_cols = [i for i, (_, k) in enumerate(fields) if k == "bytes"]
        final[table] = [
            tuple(v.encode() if i in byte_cols and v is not None else v
                  for i, v in enumerate(r))
            for r in rows
        ]
    con.close()
    return landed, final


def test_truth_matches_duckdb_replay(tmp_path):
    feed, cycles = _write(11, str(tmp_path))
    landed, final = _duckdb_replay([c.paths for c in cycles])
    for table, truth in feed.truth.items():
        assert landed[table] == [c.expected[table] for c in cycles], table
        rows = final[table]
        assert len(rows) == truth.rows
        assert sum(map(row_digest, rows)) % 2**64 == truth.checksum
        if truth.pk:
            names = [n for n, _ in truth.fields]
            idx = [names.index(k) for k in truth.pk]
            assert {tuple(r[i] for i in idx) for r in rows} == truth.keys


def test_batches_carry_every_edge_case(tmp_path):
    feed, cycles = _write(5, str(tmp_path))
    later = cycles[1:]
    for c in later:
        # re-extracts, at-watermark and NULL rows are attempted, not landed
        assert c.expected["rpt_dag_run"] < c.rows_in["rpt_dag_run"]
        assert c.expected["rpt_task_instance"] < c.rows_in["rpt_task_instance"]
        # the full dags extract lands only the new DAGs, once each
        assert c.expected["rpt_dag"] == SMALL.new_dags
    # task instances are append-only: duplicated rows both land
    assert cycles[0].expected["rpt_task_instance"] == cycles[0].rows_in["rpt_task_instance"]
    assert cycles[0].expected["rpt_dag_run"] == SMALL.runs
