"""Repeat-until-drift harness for the correctness gate (r10 verdict #1).

Runs a workload N times inside ONE SparkSession while sweeping the
runtime confs that perturb physical execution — shuffle partition count,
input split size, AQE — and cell-diffs every run against the first
(Spark-vs-Spark, after the driver's own normalization), tagging each
drifting cell with the suite arm (`op` column) and column name so the
flaky computation is NAMED, not guessed.

The sweep matters twice over: (a) a partition-layout-sensitive value
(e.g. a GK percentile_approx merge) drifts ACROSS configs even when each
config alone is stable, and (b) repeated runs under ONE config catch
reduce-side merge-order nondeterminism (shuffle block fetch order is
arrival-order, different every run).

Usage:
  python scripts/flake_hunt.py [sf_dir] workload [workload ...]
         [--runs N] [--no-sweep]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.check_correctness import _cells_equal, _normalize  # noqa: E402

# (label, {conf: value}) — first entry is the driver-like default.
SWEEP = [
    ("default", {"spark.sql.shuffle.partitions": "32",
                 "spark.sql.files.maxPartitionBytes": "134217728",
                 "spark.sql.adaptive.enabled": "true"}),
    ("p1", {"spark.sql.shuffle.partitions": "1",
            "spark.sql.files.maxPartitionBytes": "134217728",
            "spark.sql.adaptive.enabled": "true"}),
    ("p7-noaqe", {"spark.sql.shuffle.partitions": "7",
                  "spark.sql.files.maxPartitionBytes": "134217728",
                  "spark.sql.adaptive.enabled": "false"}),
    ("p200-smallsplit", {"spark.sql.shuffle.partitions": "200",
                         "spark.sql.files.maxPartitionBytes": "1048576",
                         "spark.sql.adaptive.enabled": "true"}),
]


def diff_frames(base, other, tag_a: str, tag_b: str, max_report: int = 20):
    """Cell-diff two NORMALIZED pandas frames; return list of findings."""
    out = []
    if list(base.columns) != list(other.columns):
        return [f"SCHEMA {tag_a} vs {tag_b}: {list(base.columns)} != "
                f"{list(other.columns)}"]
    if len(base) != len(other):
        return [f"ROWS {tag_a} vs {tag_b}: {len(base)} != {len(other)}"]
    arm = base["op"] if "op" in base.columns else None
    for col in base.columns:
        a, b = base[col], other[col]
        for i in range(len(base)):
            if not _cells_equal(a.iat[i], b.iat[i]):
                who = f" arm={arm.iat[i]}" if arm is not None else ""
                out.append(
                    f"DRIFT{who} col={col} row={i}: "
                    f"{tag_a}={a.iat[i]!r} {tag_b}={b.iat[i]!r}")
                if len(out) >= max_report:
                    return out
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--runs", type=int, default=3,
                    help="runs per sweep config")
    ap.add_argument("--no-sweep", action="store_true",
                    help="only the driver-like default config")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ophidia_io_server_spark.session import _default_driver_memory
    from ophidia_io_server_spark.workloads import WORKLOADS

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("flake_hunt")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sweep = SWEEP[:1] if args.no_sweep else SWEEP
    rc = 0
    for name in args.workloads:
        wl = WORKLOADS[name]
        baseline = None  # (config_label, run_idx, normalized frame)
        print(f"=== {name} ===", flush=True)
        for label, confs in sweep:
            for k, v in confs.items():
                spark.conf.set(k, v)
            for r in range(args.runs):
                t0 = time.time()
                pdf = _normalize(wl.fn(spark, args.sf_dir).toPandas())
                dt = time.time() - t0
                tag = f"{label}#r{r}"
                if baseline is None:
                    baseline = (tag, pdf)
                    print(f"  {tag}: {len(pdf)} rows ({dt:.1f}s) [baseline]",
                          flush=True)
                    continue
                findings = diff_frames(baseline[1], pdf, baseline[0], tag)
                status = "STABLE" if not findings else "DRIFTED"
                print(f"  {tag}: {len(pdf)} rows ({dt:.1f}s) {status}",
                      flush=True)
                for f in findings:
                    rc = 1
                    print(f"    {f}", flush=True)
        # restore defaults for the next workload
        for k, v in SWEEP[0][1].items():
            spark.conf.set(k, v)
    print("RESULT:", "DRIFT FOUND" if rc else "ALL STABLE", flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
