"""``local_frame`` gives the schema (nullability included) and the rows of
``createDataFrame(<list>)`` while keeping the rows in the JVM.

One case per shape the package builds on the driver: the row and schema
forms of each ``local_frame`` call site, plus NaN, ±inf, -0.0, None,
empty arrays, nested ``array<struct>`` and naive ``datetime`` values.
Rows are compared by ``repr`` so that NaN compares equal to itself and
-0.0 differs from 0.0.  A second test keeps every ``createDataFrame(``
call in the package inside ``local_frame``.
"""

from __future__ import annotations

import ast
from datetime import datetime, timedelta
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import ophidia_io_server_spark
from ophidia_io_server_spark.operators.engine import FRAG_SCHEMA
from ophidia_io_server_spark.sources.tables import local_frame

NAN, INF = float("nan"), float("inf")
_TOPK = "query_id long, neighbor_id long, rank long, approx_dist double"
_MAX_TS = datetime(2024, 3, 31, 23, 59, 58, 123456)

CASES = {
    # operators/engine.py: create_frag, the multi_insert fragment, export_nc
    "frag_empty": ([], FRAG_SCHEMA),
    "frag_insert": ([(1, [1.5, NAN, -0.0]), (2, []), (3, None)], FRAG_SCHEMA),
    "export_nc": ([("f1", 3)], None),
    # operators/select.py: @info_system pseudo-tables
    "info_system": ([("4.1.2", 8, 2)],
                    "spark_version string, parallelism int, n_databases int"),
    "info_system_table": (
        [("", "", "", False, False), ("db", "f", "memory", True, False)],
        "db string, frag string, device string, temp boolean, "
        "cached boolean"),
    # operators/bloom.py, operators/skyline.py
    "bloom": ([([0, -(2 ** 63), 2 ** 63 - 1], 7)],
              "bloom array<bigint>, n_keys bigint"),
    "skyline_double": ([(0, None), (1, 2.5), (2, -INF)],
                       "_pid int, _carry double"),
    "skyline_decimal": ([(0, None), (1, Decimal("12.34"))],
                        "_pid int, _carry decimal(12,2)"),
    # pipeline/: sampling offsets, quantile targets, centroids, empty top-k
    "sampling": ([(-INF, 0), (2.5, 10), (NAN, 3)], "_q double, _off long"),
    "quantile": ([(0.5, 500000), (0.99, 990000)], "q double, q_ppm bigint"),
    "centroids": ([(1, [0.1, NAN]), (2, [])], "cluster int, c array<double>"),
    "topk_empty": ([], _TOPK),
    "cosine_empty": (
        [], "query_id long, neighbor_id long, rank long, cosine double"),
    # streaming/ingest.py: typed empty frames
    "stream_empty": ([], StructType([
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), True),
        StructField("k", StringType(), False)])),
    "sketch_empty": ([], "k string, n bigint, "
                         "sample array<struct<pr: bigint, id: bigint, "
                         "v: double>>"),
    "sketch_rows": ([("a", 2, [(1, 2, 0.5), (3, 4, None)]), ("b", 0, []),
                     ("c", 1, None)],
                    "k string, n bigint, "
                    "sample array<struct<pr: bigint, id: bigint, v: double>>"),
    "minhash_empty": ([], "doc_a bigint, doc_b bigint, jaccard double"),
    # workloads/: sentinel events, one-row *_ok frames, env facts, pins
    "stream_sentinels": (
        [(10 ** 15 + 2, _MAX_TS + timedelta(days=30), -1, "view", 0.0, None),
         (10 ** 15 + 3, _MAX_TS + timedelta(days=30), -2, "purchase", 0.0,
          None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"),
    "ok_row": ([(1024, True, False, True)],
               "n_vectors long, codes_ok boolean, ranks_ok boolean, "
               "recall_ok boolean"),
    "env_facts": ([("spark:version", None, "4.1.2"),
                   ("engine:duckdb_version", None, None)],
                  "fact string, val_num bigint, val_str string"),
    "canary_pins": ([(0, 1.0000000000000002, NAN, -0.0, INF),
                     (1, 5e-324, -INF, 0.0, 1e308)],
                    "i bigint, p_a double, p_b double, p_c double, "
                    "p_d double"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    if schema is None:
        # the export_nc row was built from an inferred Row schema
        ref = spark.createDataFrame([Row(frag=f, written=n) for f, n in rows])
        got = local_frame(spark, rows, "frag string, written bigint")
    else:
        ref = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert repr(got.collect()) == repr(ref.collect())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_naive_datetime_is_process_local_time(spark, monkeypatch):
    """A naive ``datetime`` names the process's local wall time on both
    paths, whatever the session time zone."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(datetime(2024, 3, 10, 1, 30), ),
                (datetime(2024, 7, 1, 12, 0, 0, 7), )]
        ref = spark.createDataFrame(rows, "t timestamp")
        got = local_frame(spark, rows, "t timestamp")
        assert got.collect() == ref.collect() == [Row(t=r[0]) for r in rows]
        as_long = "cast(t as bigint) AS s"
        assert got.selectExpr(as_long).collect() \
            == ref.selectExpr(as_long).collect()
    finally:
        monkeypatch.delenv("TZ")
        time.tzset()


def _create_dataframe_calls(path: Path) -> list[str]:
    """``<x>.createDataFrame(`` calls outside ``def local_frame``."""
    tree = ast.parse(path.read_text())
    allowed = {id(n) for fn in ast.walk(tree)
               if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
               for n in ast.walk(fn)}
    return [f"{path.name}:{n.lineno}" for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame" and id(n) not in allowed]


def test_driver_rows_go_through_local_frame():
    package = Path(ophidia_io_server_spark.__file__).parent
    found = [c for p in sorted(package.rglob("*.py"))
             for c in _create_dataframe_calls(p)]
    assert found == []
