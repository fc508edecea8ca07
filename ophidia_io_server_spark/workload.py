"""Exists only because ``bench.py`` must stay byte-identical; import from ``workloads``."""

from ophidia_io_server_spark.workloads import WORKLOADS  # noqa: F401
