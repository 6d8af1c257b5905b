"""Smoke tests of the driver contract (t1 shape)."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry_mod

from .conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"o_orderstatus", "n_loaded", "sum_price"}


def test_all_queries_run_at_smoke_sf(spark):
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF_SMOKE)
        assert df.count() >= 0, name


def test_oracle_keys_subset_of_queries():
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_every_query_carries_a_value_hash_oracle():
    """The registry's strongest property (round 6): ALL registered
    queries — not just the checked window — ship a DuckDB value-hash
    oracle. A new query landing without one silently downgrades the
    driver's check to rows-only; fail loudly here instead."""
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    missing = sorted(set(q) - set(o))
    assert not missing, f"queries without oracles: {missing}"


def test_registry_order_is_pinned():
    """The driver checks queries() in registration order and only the
    first 50 entries, so the order itself is part of the contract: a
    moved, renamed, added or dropped registration changes the digest."""
    from cs_tutorial_reporting_spark.queries import QUERIES

    assert len(QUERIES) == 232
    assert hashlib.sha256("\n".join(QUERIES).encode()).hexdigest() == (
        "260e8abba8dec5195585ce93c50aa903b8f8565c3ed71248ee5a4485e817aef3"
    )
