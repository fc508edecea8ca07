"""Differentials for the TPC-H rewrites whose oracle deliberately mirrors
the REWRITTEN form: prove the rewrite against the literal textbook
formulation in DuckDB on the real testdata (no Spark needed — this checks
SQL-to-SQL equivalence of the two formulations)."""

from __future__ import annotations

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("lineitem", "orders", "supplier", "nation"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def test_q21_aggregate_form_equals_correlated_exists(con):
    """The workload/oracle formulation (per-(order,supplier) aggregates →
    per-order counts) must equal TPC-H Q21's literal correlated
    EXISTS/NOT EXISTS double self-join, with 'late' adapted to
    l_shipdate > o_orderdate + 60 days on 'F' orders."""
    correlated = con.sql("""
        WITH lo AS (
          SELECT l.l_orderkey, l.l_suppkey, l.l_linenumber,
                 l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderstatus = 'F')
        SELECT s.s_suppkey, s.s_name, n.n_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lo l1 ON s.s_suppkey = l1.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE l1.late
          AND EXISTS (SELECT 1 FROM lo l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lo l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        GROUP BY 1, 2, 3
        ORDER BY numwait DESC, s.s_suppkey LIMIT 100
    """).fetchall()
    from ophidia_io_server_spark.workloads import WORKLOADS

    rewritten = con.sql(WORKLOADS["tpch_q21_waiting_suppliers"].oracle).fetchall()
    assert correlated == rewritten
    assert len(rewritten) > 0
