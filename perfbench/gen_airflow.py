"""Seeded Airflow-metadata feed for the ``elt_incremental`` workload.

Each load cycle gets a landing batch in the reference's format: a JSON
fixture array holding the full ``dags`` extract, and JSON arrays of
``DEFAULT_BATCH_SIZE`` rows per file for dag runs and task instances.
Every batch after the first carries the edge cases of
``tests/fixtures_airflow.py``: re-extracted rows (about 20%), rows
exactly at the target's watermark, NULL ``start_date``, duplicate
primary keys inside the batch and ``'True'``/``'False'`` string
booleans.

The feed also keeps the truth: it replays the reference semantics
(strict ``>`` watermark, within-batch PK dedup keeping the row that
sorts first on the non-key columns, composite-PK anti-join, no dedup for
``rpt_task_instance``) in plain Python, so it knows which rows each
cycle must land and what the warehouse must hold at the end.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np

from canon import cell

BATCH_FILE_ROWS = 1000  # airflow_rest.DEFAULT_BATCH_SIZE, the reference's page size

DAG_FIELDS = [
    ("dag_id", "str"), ("is_paused", "bool"), ("is_subdag", "bool"),
    ("is_active", "bool"), ("fileloc", "str"), ("file_token", "str"),
    ("owners", "str"), ("description", "str"), ("root_dag_id", "str"),
    ("schedule_interval", "str"),
]
DAG_RUN_FIELDS = [
    ("dag_id", "str"), ("dag_run_id", "str"), ("end_date", "ts"),
    ("execution_date", "ts"), ("external_trigger", "bool"),
    ("logical_date", "ts"), ("start_date", "ts"), ("state", "str"),
]
TASK_FIELDS = [
    ("dag_id", "str"), ("task_id", "str"), ("execution_date", "ts"),
    ("start_date", "ts"), ("end_date", "ts"), ("duration", "float"),
    ("state", "str"), ("try_number", "int"), ("max_tries", "int"),
    ("hostname", "str"), ("unixname", "str"), ("pool", "str"),
    ("pool_slots", "int"), ("queue", "str"), ("priority_weight", "int"),
    ("operator", "str"), ("queued_when", "ts"), ("pid", "int"),
    ("executor_config", "bytes"),
]

#: table → (fields, primary key, watermark column)
TABLES = {
    "rpt_dag": (DAG_FIELDS, ["dag_id"], None),
    "rpt_dag_run": (DAG_RUN_FIELDS, ["dag_run_id", "dag_id"], "start_date"),
    "rpt_task_instance": (TASK_FIELDS, [], "start_date"),
}

T0 = dt.datetime(2024, 1, 1)
CYCLE_SPAN = dt.timedelta(hours=6)
STATES = ["success", "failed", "running", "queued"]
OPERATORS = ["PythonOperator", "BashOperator", "SQLExecuteQueryOperator"]


@dataclass(frozen=True)
class Sizes:
    dags: int = 200  # DAGs in the first extract
    new_dags: int = 10  # DAGs added per later cycle
    runs: int = 1000  # new dag runs per cycle
    tasks: int = 5000  # new task instances per cycle
    edge: int = 10  # rows per edge case per cycle (at-watermark, NULL, dup)
    reextract: float = 0.2  # share of re-extracted rows per batch


def _ts(x: dt.datetime | None) -> str | None:
    return None if x is None else x.strftime("%Y-%m-%dT%H:%M:%S.%f")


def _typed(value, kind: str):
    """Landing string/JSON value → the typed value the warehouse holds."""
    if value is None:
        return None
    if kind == "bool":
        return value == "True"
    if kind == "ts":
        return dt.datetime.fromisoformat(value)  # as _ts writes it
    if kind == "bytes":
        return value.encode()
    return value


def _sort_key(row: tuple, idx: list[int]):
    # ascending, NULLs last, over the non-key columns in schema order
    return tuple((row[i] is None, row[i] if row[i] is not None else 0) for i in idx)


def row_digest(row) -> int:
    """64-bit digest of one typed row; warehouse checksums sum these."""
    text = "\x1f".join(cell(v) for v in row)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


@dataclass
class TableTruth:
    fields: list
    pk: list[str]
    wm_col: str | None
    loaded: bool = False
    watermark: dt.datetime | None = None
    keys: set = field(default_factory=set)
    rows: int = 0
    checksum: int = 0

    def land(self, landing_rows: list[dict]) -> int:
        """Apply one load to the truth; return the rows it lands."""
        names = [n for n, _ in self.fields]
        typed = [
            tuple(_typed(r.get(n), k) for n, k in self.fields) for r in landing_rows
        ]
        if self.wm_col is not None and self.loaded:
            w = names.index(self.wm_col)
            wm = self.watermark
            typed = [r for r in typed if r[w] is not None and (wm is None or r[w] > wm)]
        if self.pk:
            pk_idx = [names.index(p) for p in self.pk]
            rest = [i for i in range(len(names)) if i not in pk_idx]
            best: dict = {}
            for r in typed:
                k = tuple(r[i] for i in pk_idx)
                if k not in best or _sort_key(r, rest) < _sort_key(best[k], rest):
                    best[k] = r
            typed = [r for k, r in best.items() if k not in self.keys]
            self.keys.update(tuple(r[i] for i in pk_idx) for r in typed)
        if self.wm_col is not None:
            w = names.index(self.wm_col)
            starts = [r[w] for r in typed if r[w] is not None]
            if self.watermark is not None:
                starts.append(self.watermark)
            if starts:
                self.watermark = max(starts)
        self.loaded = True
        self.rows += len(typed)
        self.checksum = (self.checksum + sum(map(row_digest, typed))) % 2**64
        return len(typed)


@dataclass
class Cycle:
    paths: dict[str, str]  # table → landing file or directory
    rows_in: dict[str, int]  # table → landing rows
    expected: dict[str, int]  # table → rows the load must land


class AirflowFeed:
    """Generates landing batches cycle by cycle and tracks the truth."""

    def __init__(self, seed: int, sizes: Sizes = Sizes()):
        self.seed = seed
        self.sizes = sizes
        self.truth = {t: TableTruth(f, pk, wm) for t, (f, pk, wm) in TABLES.items()}
        self.dags: list[dict] = []
        self.prev = {"rpt_dag_run": [], "rpt_task_instance": []}
        self.n_runs = 0

    # -- row makers -------------------------------------------------------

    def _dag(self, i: int, rng) -> dict:
        return {
            "dag_id": f"dag_{i:05d}",
            "is_paused": "True" if rng.random() < 0.2 else "False",
            "is_subdag": "False",
            "is_active": "True",
            "fileloc": f"dags/dag_{i:05d}.py",
            "file_token": f"tok{int(rng.integers(1 << 30)):x}",
            "owners": ["alice", "bob", "carol", "airflow"][int(rng.integers(4))],
            "description": "" if rng.random() < 0.1 else f"pipeline {i}",
            "root_dag_id": None,
            "schedule_interval": ["@daily", "@hourly", None, "0 * * * *"][int(rng.integers(4))],
            "last_parsed_time": "2024-01-01T00:00:00+00:00",  # dropped by projection
        }

    def _run(self, start: dt.datetime | None, rng) -> dict:
        dag = self.dags[int(rng.integers(len(self.dags)))]["dag_id"]
        run_id = f"scheduled__{self.n_runs:08d}"
        self.n_runs += 1
        base = start or T0
        end = base + dt.timedelta(seconds=int(rng.integers(10, 3600)))
        return {
            "dag_id": dag,
            "dag_run_id": run_id,
            "end_date": _ts(end) if rng.random() < 0.8 else None,
            "execution_date": _ts(base - dt.timedelta(minutes=5)),
            "external_trigger": "True" if rng.random() < 0.1 else "False",
            "logical_date": _ts(base - dt.timedelta(minutes=5)),
            "start_date": _ts(start),
            "state": STATES[int(rng.integers(len(STATES)))],
            "conf": {},  # dropped by projection
        }

    def _task(self, start: dt.datetime | None, rng) -> dict:
        base = start or T0
        dur = float(np.round(rng.uniform(1.0, 900.0), 3))
        return {
            "dag_id": self.dags[int(rng.integers(len(self.dags)))]["dag_id"],
            "task_id": ["extract", "transform", "load", "notify"][int(rng.integers(4))],
            "execution_date": _ts(base - dt.timedelta(minutes=5)),
            "start_date": _ts(start),
            "end_date": _ts(base + dt.timedelta(seconds=dur)),
            "duration": dur,
            "state": STATES[int(rng.integers(len(STATES)))],
            "try_number": int(rng.integers(1, 4)),
            "max_tries": 3,
            "hostname": f"worker-{int(rng.integers(8))}",
            "unixname": "airflow",
            "pool": "default_pool",
            "pool_slots": 1,
            "queue": "default",
            "priority_weight": int(rng.integers(1, 10)),
            "operator": OPERATORS[int(rng.integers(len(OPERATORS)))],
            "queued_when": _ts(base - dt.timedelta(seconds=30)),
            "pid": int(rng.integers(100, 60000)),
            "executor_config": "{}" if rng.random() < 0.3 else None,
        }

    def _starts(self, c: int, n: int, rng) -> list[dt.datetime]:
        """Distinct µs start times inside cycle ``c``'s window."""
        span = int(CYCLE_SPAN.total_seconds() * 1e6)
        offs = np.sort(rng.choice(span, n, replace=False))
        lo = T0 + c * CYCLE_SPAN
        return [lo + dt.timedelta(microseconds=int(o)) for o in offs]

    # -- batches ----------------------------------------------------------

    def batch(self, c: int) -> dict[str, list[dict]]:
        """Landing rows of cycle ``c`` per table (cycle 0 is the first load)."""
        s = self.sizes
        rng = np.random.default_rng([self.seed, c])
        first = c == 0
        n_new = s.dags if first else s.new_dags
        base = len(self.dags)
        new_dags = [self._dag(base + i, rng) for i in range(n_new)]
        self.dags += new_dags
        # full extract: every DAG so far, some re-extracted with a changed
        # flag (PK exists → rejected), plus a second version of a new DAG
        dags = [dict(d) for d in self.dags]
        for d in dags[: base : max(1, base // s.edge)]:
            d["is_active"] = "False"
        twin = dict(new_dags[0])
        twin["is_paused"] = "True" if twin["is_paused"] == "False" else "False"
        dags.append(twin)

        wm = {t: self.truth[t].watermark for t in ("rpt_dag_run", "rpt_task_instance")}
        runs = [self._run(st, rng) for st in self._starts(c, s.runs, rng)]
        tasks = [self._task(st, rng) for st in self._starts(c, s.tasks, rng)]
        if not first:
            prev_runs, prev_tasks = self.prev["rpt_dag_run"], self.prev["rpt_task_instance"]
            k_runs, k_tasks = int(s.runs * s.reextract), int(s.tasks * s.reextract)
            # unchanged re-extracts (at or below the watermark → filtered)
            runs += [prev_runs[int(i)] for i in rng.integers(0, len(prev_runs), k_runs)]
            tasks += [prev_tasks[int(i)] for i in rng.integers(0, len(prev_tasks), k_tasks)]
            # a run that finished later: start moved past the watermark but
            # its PK exists → rejected by the anti-join
            for i in rng.integers(0, len(prev_runs), s.edge):
                r = dict(prev_runs[int(i)])
                r["start_date"] = _ts(self._starts(c, 1, rng)[0])
                r["state"] = "success"
                runs.append(r)
            for _ in range(s.edge):
                runs.append(self._run(wm["rpt_dag_run"], rng))  # exactly at wm
                runs.append(self._run(None, rng))  # NULL start_date
                tasks.append(self._task(wm["rpt_task_instance"], rng))
                tasks.append(self._task(None, rng))
        for i in range(s.edge):
            # duplicate PK inside the batch: one version lands; task
            # instances have no PK, so both copies land
            r = dict(runs[i])
            r["state"] = "queued" if r["state"] != "queued" else "running"
            runs.append(r)
            tasks.append(dict(tasks[i]))
        order = rng.permutation(len(runs))
        runs = [runs[int(i)] for i in order]
        order = rng.permutation(len(tasks))
        tasks = [tasks[int(i)] for i in order]
        self.prev = {"rpt_dag_run": runs, "rpt_task_instance": tasks}
        return {"rpt_dag": dags, "rpt_dag_run": runs, "rpt_task_instance": tasks}

    def write_cycle(self, c: int, out_dir: str) -> Cycle:
        """Write cycle ``c``'s landing files and apply it to the truth."""
        rows = self.batch(c)
        paths = {}
        for table, batch in rows.items():
            d = os.path.join(out_dir, f"c{c:05d}", table)
            os.makedirs(d, exist_ok=True)
            if table == "rpt_dag":
                paths[table] = os.path.join(d, "dags_fixture.json")
                with open(paths[table], "w", encoding="utf-8") as f:
                    f.write(json.dumps(batch))  # dumps encodes in C; dump does not
                continue
            for i in range(0, len(batch), BATCH_FILE_ROWS):
                name = os.path.join(d, f"batch{i // BATCH_FILE_ROWS:04d}.json")
                with open(name, "w", encoding="utf-8") as f:
                    f.write(json.dumps(batch[i : i + BATCH_FILE_ROWS]))
            paths[table] = d
        return Cycle(
            paths,
            {t: len(batch) for t, batch in rows.items()},
            {t: self.truth[t].land(batch) for t, batch in rows.items()},
        )
