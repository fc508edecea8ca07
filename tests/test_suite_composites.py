"""Suite composites (round 6 gate-slot curation): the driver's 50-row gate
window sees tagged-union composites in place of their member rows.
These tests pin (a) how composite oracles are built and the binding of every
oracle over the empty base tables, (b) the gate-order invariants, and
(c) per-arm value identity: each composite arm equals the standalone row."""

from __future__ import annotations

import datetime
import json
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ophidia_io_server_spark.workloads import (
    GATE_ORDER,
    WORKLOADS,
    ordered_workloads,
)
from ophidia_io_server_spark.workloads.suites import (
    _SUITES,
    _empty_base_tables,
    _oracle_columns,
    _suite_oracle,
)

SF_DIR = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parent.parent


def test_gate_order_is_exactly_the_window():
    ow = ordered_workloads()
    assert len(GATE_ORDER) == 50
    assert len(set(GATE_ORDER)) == 50
    assert list(ow)[:50] == GATE_ORDER
    # every gate row must be hash-checkable (oracle present)
    for n in GATE_ORDER:
        assert ow[n].oracle is not None, n


def test_suite_members_stay_registered_beyond_window():
    """A member of a GATED suite must not also hold its own seat (that
    would double-spend a hash-signal slot).  Members of mirror-only
    suites (analytics_suite, analytics_tsdecomp_suite — out of the
    window since r12/r13) MAY hold a seat: r13 gives the
    determinism_canary arm of the tsdecomp mirror its own gate row."""
    gated = set(GATE_ORDER)
    for suite, members in _SUITES.items():
        for m in members:
            assert m in WORKLOADS
            if suite in gated:
                assert m not in gated, (suite, m)


def test_suite_oracle_tags_arms_pads_and_casts_booleans():
    sql = _suite_oracle({
        "a": "SELECT * FROM (VALUES"
             " (1::BIGINT, true, DATE '2020-01-02', true),"
             " (3::BIGINT, false, DATE '2020-01-04', false)"
             ") t(k, flag, d, ok)",
        "b": "SELECT 2::BIGINT AS k, 'x' AS s, true AS ok",
    })
    # arm b pads the columns it lacks with NULLs of arm a's types
    assert "CAST(NULL AS DATE) AS d" in sql
    assert "CAST(NULL AS INTEGER) AS flag" in sql
    con = duckdb.connect()
    rel = con.sql(sql)
    assert rel.columns == ["op", "k", "flag", "d", "ok", "s"]
    assert [str(t) for t in rel.types] == [
        "VARCHAR", "BIGINT", "INTEGER", "DATE", "INTEGER", "VARCHAR"]
    assert sorted(rel.fetchall()) == [
        ("a", 1, 1, datetime.date(2020, 1, 2), 1, None),
        ("a", 3, 0, datetime.date(2020, 1, 4), 0, None),
        ("b", 2, None, None, 1, "x"),
    ]


def test_base_tables_match_the_test_data():
    con = _empty_base_tables()
    tables = [t for (t,) in con.execute("SHOW TABLES").fetchall()]
    assert len(tables) == 10
    for t in tables:
        want = con.execute(f"DESCRIBE {t}").fetchall()
        got = duckdb.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        ).fetchall()
        assert [r[:2] for r in want] == [r[:2] for r in got], t


def test_every_oracle_binds_over_the_empty_base_tables():
    """No data and no Spark: an oracle naming a missing table or column
    fails here instead of in the full correctness mirror."""
    failed = {}
    for name, w in WORKLOADS.items():
        assert w.oracle is not None, name
        try:
            assert _oracle_columns(w.oracle), name
        except duckdb.Error as e:
            failed[name] = str(e).splitlines()[0]
    assert not failed


def test_registry_import_loads_no_duckdb():
    code = ("import json, sys\n"
            "sys.modules['duckdb'] = None\n"
            "import __spark_entry__\n"
            "print(json.dumps(sorted(__spark_entry__.queries())))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert json.loads(out.stdout.splitlines()[-1]) == sorted(WORKLOADS)


@pytest.mark.parametrize("suite", ["dedup_suite", "multimodal_suite",
                                   "varlen_dedup_suite", "tpch_suite"])
def test_suite_arm_equals_standalone(spark, suite):
    comp = WORKLOADS[suite].fn(spark, SF_DIR)
    for m in _SUITES[suite]:
        solo = WORKLOADS[m].fn(spark, SF_DIR)
        # booleans ride the composite as INTEGER 0/1 (NULL-pad dtype rule);
        # cast the standalone row the same way before comparing
        sel = [F.col(f.name).cast("int").alias(f.name)
               if isinstance(f.dataType, BooleanType) else F.col(f.name)
               for f in solo.schema.fields]
        arm = comp.where(F.col("op") == m).select(*solo.columns)
        solo = solo.select(*sel)
        assert arm.exceptAll(solo).count() == 0
        assert solo.exceptAll(arm).count() == 0
