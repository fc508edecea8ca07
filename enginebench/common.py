"""Shared pieces of the engine benchmark: the metric registry, the pinned
run environment and the Spark session every engine process uses."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

READ_CLASSES = ("select", "fetch", "join", "group", "udf")
WRITE_CLASSES = ("import", "insert", "subset", "ctas")
BATCH_ROWS = (
    "events_dbscan_clusters",
    "lineitem_mad_outliers",
    "lineitem_spearman_corr",
    "token_association_triples",
    "orders_fd_discovery",
)
STREAM_ROWS = ("events_ohlc_streaming",)

# (name, unit, better) — printed with --trace 0
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("query_p50_ms", "ms", "lower"),
    ("query_qps", "1/s", "higher"),
)


def _per_layer() -> tuple:
    m = [
        ("query_p95_ms", "ms", "lower"),
        ("error_rate", "ratio", "lower"),
        *[(f"{c}_p50_ms", "ms", "lower") for c in READ_CLASSES],
        ("import_Melem_s", "Melem/s", "higher"),
        ("insert_rows_s", "rows/s", "higher"),
        ("ctas_p50_ms", "ms", "lower"),
        ("cache_bytes_per_byte", "ratio", "lower"),
        ("server.ttfb_ms", "ms", "lower"),
        ("server.stream_ms", "ms", "lower"),
        ("server.bytes_rx", "bytes", "lower"),
        ("client.decode_ms", "ms", "lower"),
        ("dialect.parse_us", "us", "lower"),
        ("dialect.compile_ms", "ms", "lower"),
        *[(f"operators.plan_ms.{c}", "ms", "lower") for c in READ_CLASSES + WRITE_CLASSES],
        ("operators.eager_jobs", "count", "lower"),
    ]
    for c in READ_CLASSES + WRITE_CLASSES:
        m += [(f"spark.jobs.{c}", "count", "lower"), (f"spark.tasks.{c}", "count", "lower"),
              (f"spark.executor_run_ms.{c}", "ms", "lower")]
    m += [
        ("spark.stages", "count", "lower"),
        ("spark.shuffle_read_bytes", "bytes", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("spark.spill_bytes", "bytes", "lower"),
        *[(f"protocol.drain_ms.{c}", "ms", "lower") for c in READ_CLASSES],
        ("protocol.bytes", "bytes", "lower"),
        ("protocol.packets", "count", "lower"),
        ("protocol.rows", "count", "lower"),
        ("functions.python_eval_nodes", "count", "lower"),
        ("catalog.cached_bytes", "bytes", "lower"),
        ("catalog.materialize_ms", "ms", "lower"),
        ("catalog.storage_growth_bytes", "bytes", "lower"),
        ("sources.random_import_ms", "ms", "lower"),
        ("sources.file_import_ms", "ms", "lower"),
        ("sources.nc_MBps", "MB/s", "higher"),
    ]
    for r in STREAM_ROWS:
        m += [(f"streaming.{r}.batches", "count", "lower"),
              *[(f"streaming.{r}.{k}_ms", "ms", "lower")
                for k in ("trigger", "addBatch", "queryPlanning", "walCommit")],
              (f"streaming.{r}.state_rows", "count", "lower"),
              (f"streaming.{r}.state_mem_bytes", "bytes", "lower")]
    for r in BATCH_ROWS:
        m += [(f"rows.{r}.plan_s", "s", "lower"), (f"rows.{r}.exec_s", "s", "lower"),
              (f"rows.{r}.eager_jobs", "count", "lower"), (f"rows.{r}.jobs", "count", "lower"),
              (f"rows.{r}.tasks", "count", "lower"), (f"rows.{r}.shuffle_bytes", "bytes", "lower")]
    m.append(("trace_overhead_ratio", "ratio", "lower"))
    return tuple(m)


PER_LAYER = _per_layer()
SETUPS = 3  # set-ups per run; setup_s is their median


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_s(amount: float, seconds: float) -> float:
    """``amount`` per second (0 when nothing was timed)."""
    return amount / seconds if seconds else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (0 for an empty list)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(1, math.ceil(q * len(s))) - 1]


def engine_session(run_dir: Path):
    """The Spark session of an engine process, on ``local[nproc]`` with all
    scratch space under ``run_dir`` (the environment comes from RunEnv)."""
    from ophidia_io_server_spark import get_spark

    spark = get_spark(app_name="enginebench", cpus=os.environ["SPARK_GRAFT_CPUS"], extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop Spark and wait for its JVM, which ends when the gateway's
    standard input closes (``SparkSession.stop`` leaves it running)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class RunEnv:
    """Per-run scratch directories inside the checkout and the pinned
    environment every engine process of the run inherits."""

    def __init__(self, workload: str, seed: int):
        self.dir = ROOT / ".bench_run" / f"{workload}-{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        self.tmp = self.dir / "tmp"
        self.local = self.dir / "spark-local"
        for d in (self.tmp, self.local):
            d.mkdir(parents=True, exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))  # nproc
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        heap_gb = max(1, min(4, total // 4 // 2**30))
        self.env = dict(os.environ)
        self.env.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": str(self.local),
            "TMPDIR": str(self.tmp),
            # every JVM of the run (launcher, driver): temp files in the run
            # directory, and no hsperfdata file under the system /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
        })
        self.env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)

    def apply(self) -> None:
        """Pin this process's environment (before any JVM starts)."""
        os.environ.clear()
        os.environ.update(self.env)
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def spark(self):
        return engine_session(self.dir)

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
