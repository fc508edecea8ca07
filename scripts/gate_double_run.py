"""Driver-shaped full-gate double run (r10 verdict #4).

Runs the entire 50-row gate window (GATE_ORDER, the driver's exact row
set and order) TWICE back-to-back inside ONE SparkSession at sf0.01 —
the configuration in which the r10 driver flake appeared — and
cell-diffs every row's normalized output between the two passes.  This
covers the session-HISTORY axis the per-workload sweeps cannot: 48 rows
of staged corpora, cached fragments, streaming drains and DDL run
before `analytics_suite` in pass 1, and the whole gate's state again
before pass 2.

r12 (verdict #3): the run now ALSO executes every gate row's DuckDB
oracle twice — once under `PRAGMA threads=1` and once with the default
thread pool, in separate connections — and cell-diffs the normalized
frames.  Every r11 harness compared Spark against Spark; a DuckDB
parallel-aggregation drift (float sums reassociated across morsels)
would have been invisible to all of them.  Static audit says the oracle
SUMs are HUGEINT/integer-CASE, but this sweep turns that into evidence.

Usage: python scripts/gate_double_run.py [sf_dir] [--oracle-only]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.check_correctness import _cells_equal, _normalize  # noqa: E402


def _diff_frames(name: str, a, b, tag: str) -> int:
    """Cell-diff two normalized frames; print drift details, return count."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        print(f"DRIFT {name} [{tag}]: shape {a.shape} vs {b.shape}",
              flush=True)
        return 1
    bad = 0
    arm = a["op"] if "op" in a.columns else None
    for col in a.columns:
        x, y = a[col], b[col]
        for i in range(len(a)):
            if not _cells_equal(x.iat[i], y.iat[i]):
                bad += 1
                who = f" arm={arm.iat[i]}" if arm is not None else ""
                if bad <= 10:
                    print(f"DRIFT {name} [{tag}]{who} col={col} row={i}: "
                          f"{x.iat[i]!r} vs {y.iat[i]!r}", flush=True)
    return bad


def oracle_double_run(sf_dir: str) -> int:
    """Every gate oracle under threads=1 vs default threads, cell-diffed."""
    import duckdb

    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.workloads.suites import GATE_ORDER

    cons = []
    for single in (True, False):
        con = duckdb.connect()
        if single:
            con.execute("PRAGMA threads=1")
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        cons.append(con)

    rc = 0
    t0 = time.time()
    for name in GATE_ORDER:
        oracle = WORKLOADS[name].oracle
        if oracle is None:
            print(f"{name}: no oracle (rows-only row) — skipped", flush=True)
            continue
        a = _normalize(cons[0].execute(oracle).df())
        b = _normalize(cons[1].execute(oracle).df())
        bad = _diff_frames(name, a, b, "oracle threads=1 vs default")
        rc |= 1 if bad else 0
        state = "STABLE" if not bad else f"{bad} drifting cells"
        print(f"{name}: oracle {state} ({len(a)} rows)", flush=True)
    print(f"oracle double-pass: {time.time() - t0:.0f}s", flush=True)
    return rc


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--oracle-only"]
    oracle_only = "--oracle-only" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")

    orc = oracle_double_run(sf_dir)
    if oracle_only:
        print("RESULT:", "ORACLE-SIDE DRIFT" if orc else
              "ALL GATE ORACLES STABLE threads=1 vs default", flush=True)
        return orc

    from ophidia_io_server_spark import get_spark
    from ophidia_io_server_spark.workloads import ordered_workloads
    from ophidia_io_server_spark.workloads.suites import GATE_ORDER

    WORKLOADS = ordered_workloads()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    passes: list[dict[str, object]] = []
    for p in range(2):
        frames: dict[str, object] = {}
        t0 = time.time()
        for name in GATE_ORDER:
            frames[name] = _normalize(
                WORKLOADS[name].fn(spark, sf_dir).toPandas())
        print(f"pass {p}: {len(frames)} rows collected "
              f"({time.time() - t0:.0f}s)", flush=True)
        passes.append(frames)

    rc = 0
    for name in GATE_ORDER:
        a, b = passes[0][name], passes[1][name]
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            print(f"DRIFT {name}: shape {a.shape} vs {b.shape}", flush=True)
            rc = 1
            continue
        bad = 0
        arm = a["op"] if "op" in a.columns else None
        for col in a.columns:
            x, y = a[col], b[col]
            for i in range(len(a)):
                if not _cells_equal(x.iat[i], y.iat[i]):
                    bad += 1
                    rc = 1
                    who = f" arm={arm.iat[i]}" if arm is not None else ""
                    if bad <= 10:
                        print(f"DRIFT {name}{who} col={col} row={i}: "
                              f"{x.iat[i]!r} vs {y.iat[i]!r}", flush=True)
        print(f"{name}: {'STABLE' if not bad else f'{bad} drifting cells'}"
              f" ({len(a)} rows)", flush=True)
    rc |= orc
    print("RESULT:", "DRIFT DETECTED" if rc else
          "ALL 50 ROWS STABLE ACROSS BOTH SPARK PASSES AND BOTH ORACLE "
          "THREAD MODES", flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
