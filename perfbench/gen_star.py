"""Seeded star-schema generator for the query workloads.

Writes the ten tables the query registry reads (``{name}.parquet`` under
one directory) with the column types and value ranges of the repository's
synthetic test data (TESTDATA.md): uniform TPC-H-ish keys and measures, a 30-day
``events`` stream, a small-vocabulary ``documents`` corpus with planted
exact and near duplicates, and unit-norm 64-d ``embeddings`` with weak
label clusters. The same ``(seed, sf)`` gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "small large hot blue cold red green dark".split()
PART_NOUN = "ring bolt nut gear pipe plate screw valve".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # planted duplicates: ~0.2% verbatim copies and ~1% one-word edits
    # of an earlier document, so the dedup queries have work to find
    for i in range(1, n):
        u = rng.random()
        if u < 0.002:
            texts[i] = texts[int(rng.integers(0, i))]
        elif u < 0.012:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    langs = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centres = rng.standard_normal((N_LABELS, EMB_DIM))
    x = rng.standard_normal((n, EMB_DIM)) + 0.5 * centres[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    rng = np.random.default_rng([seed, 0x57A2])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 50), int(50_000 * sf)
    n_emb = max(int(20_000 * sf), 200)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_li, rng)),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.choice(30 * _DAY_US, n_ev, replace=False))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
