"""r13 deletion-vector block rehearsal (SURVEY §16): the three DV
queries in ``queries_dv.py`` must match their DuckDB oracles at sf0.01
with the driver's exact canonicalization — every round this passes,
the r13 registration stays copy-paste. Values pinned from the r11
rehearsal: n_deleted 681, live counts 15000/14319/9544."""

from __future__ import annotations

import pytest

from cs_tutorial_reporting_spark.queries_dv import DV_BLOCK, DV_ORACLES

from tools.sweep import compare, duck_views

from .conftest import SF_ORACLE as SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(DV_BLOCK))
def test_dv_query_matches_oracle(spark, duck, name):
    spdf = DV_BLOCK[name](spark, SF_DIR).toPandas()
    assert compare(spdf, duck.sql(DV_ORACLES[name]).fetchdf()) == []


def test_dv_rehearsal_pins_r11_values(spark):
    """The frozen-design scalars from the r11 rehearsal at sf0.01 —
    a silent testdata or predicate drift would unfreeze the r13
    design without anyone noticing."""
    got = {
        (r["version"], r["n_live"])
        for r in DV_BLOCK["dv_chain_time_travel"](spark, SF_DIR).collect()
    }
    assert got == {(1, 15000), (2, 14319), (3, 9544)}
    row = DV_BLOCK["dv_delete_read_consistency"](spark, SF_DIR).collect()[0]
    assert row["n_deleted"] == 681


def test_dv_registration_survives_import_order():
    """The DV block's registry POSITION must not depend on import
    order (review r13): a module that registers itself via a circular
    ``from .queries import register`` runs after ``_reorder_registry()``
    when imported first and silently appends its queries past the
    demoted tail. Registration therefore lives in queries.py; this pin
    imports queries_dv FIRST in a fresh interpreter and asserts the
    FULL registry key order equals the canonical (queries-first)
    order — window membership itself rotates by design (the r13 pin
    asserted in-window and went stale the round the rotation demoted
    the attested DV rows), but order-equality subsumes it: whatever
    slice the window covers, both import orders agree on it."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def registry_order(first_import: str) -> list[str]:
        out = subprocess.run(
            [
                sys.executable,
                "-c",
                (
                    f"import {first_import}  # noqa: F401\n"
                    "from cs_tutorial_reporting_spark.queries import QUERIES\n"
                    "import json\n"
                    "print(json.dumps(list(QUERIES)))\n"
                ),
            ],
            capture_output=True,
            text=True,
            cwd=repo,
        )
        # check=False + explicit assert: check=True would swallow the
        # child's stderr (the actual AssertionError) inside a bare
        # CalledProcessError (review r13 second batch)
        assert out.returncode == 0, out.stderr
        return json.loads(out.stdout.strip().splitlines()[-1])

    canonical = registry_order("cs_tutorial_reporting_spark.queries")
    adversarial = registry_order("cs_tutorial_reporting_spark.queries_dv")
    assert canonical == adversarial
    for name in DV_BLOCK:
        assert name in canonical
