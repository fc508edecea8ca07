"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual implementations live in ``ophidia_io_server_spark.workloads``;
this file is a thin stable adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ophidia_io_server_spark.workloads import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ophidia_io_server_spark.workloads import ordered_workloads

    return {name: w.fn for name, w in ordered_workloads().items()}


def oracle_sql() -> dict[str, str]:
    from ophidia_io_server_spark.workloads import ordered_workloads

    return {
        name: w.oracle
        for name, w in ordered_workloads().items()
        if w.oracle is not None
    }
