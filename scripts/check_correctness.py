"""Local mirror of the driver's correctness gate: run every workload's Spark
query AND its DuckDB oracle at a given scale factor, compare row count, schema
(column names) and values (column-name-sorted, row-sorted).

Usage: python scripts/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parent.parent))


def _norm_cell(v):
    """Normalize to plain Python values but PRESERVE the numeric type
    category — the driver's value-hash is typed (int64 `1` hashes
    differently from DOUBLE `1.0`), so the mirror must not coerce."""
    if isinstance(v, np.ndarray) and v.ndim == 0:
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "timestamp"):  # datetime-like
        return str(v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            # DECIMAL vs DOUBLE is itself type drift; surface it as a
            # distinct wrapper rather than silently floating it.
            return ("__decimal__", str(v))
    except Exception:
        pass
    return v


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_norm_cell)
    return df.sort_values(by=list(df.columns), key=lambda s: s.map(str)).reset_index(drop=True)


def _type_tag(v) -> str:
    if isinstance(v, tuple):
        return "array"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return type(v).__name__


def _cells_equal(a, b) -> bool:
    """Driver-faithful: exact typed equality.  int 1 != float 1.0; no
    tolerance; NaN == NaN (both engines canonicalize NaN the same way)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if _type_tag(a) != _type_tag(b):
        return False
    if isinstance(a, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b
    return a == b


def _first_type(col) -> str:
    for v in col:
        if v is None:
            continue
        if isinstance(v, tuple):
            inner = next((_type_tag(x) for x in v if x is not None), "?")
            return f"array<{inner}>"
        return _type_tag(v)
    return "all-null"


def compare(name: str, spark_df, oracle_df) -> list[str]:
    problems = []
    s, o = _normalize(spark_df), _normalize(oracle_df)
    if list(s.columns) != list(o.columns):
        problems.append(f"schema mismatch: spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    if len(s) != len(o):
        problems.append(f"row count mismatch: spark={len(s)} oracle={len(o)}")
        return problems
    # dtype drift check first: the class of bug an exact value compare can
    # miss when values coerce-equal (int64 1 vs DOUBLE 1.0)
    for c in s.columns:
        ts, to = _first_type(s[c]), _first_type(o[c])
        if "all-null" not in (ts, to) and ts != to:
            problems.append(f"dtype mismatch col={c}: spark={ts} oracle={to}")
    if problems:
        return problems
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c], o[c])):
            if not _cells_equal(a, b):
                problems.append(f"value mismatch col={c} row={i}: {a!r} vs {b!r}")
                if len(problems) > 5:
                    return problems
    return problems


def _changed_gate_rows(since: str) -> set[str]:
    """Map `git diff --name-only <since>` onto the gate rows that exercise
    the touched code: a touched workloads/ module selects every gate row
    whose member arms live in it; any other package file (operators/,
    pipeline/, functions/, dialect/, sources/, streaming/) selects the
    FULL gate — those layers are shared by arbitrarily many workloads and
    a narrower static map would silently under-test (r10 verdict #5: with
    242 workloads a full mirror is ~25 min; module-scoped reruns keep
    regression checks at minutes)."""
    import inspect
    import subprocess

    from ophidia_io_server_spark.workloads.suites import GATE_ORDER, _SUITES
    from ophidia_io_server_spark.workloads import WORKLOADS

    repo = __import__("pathlib").Path(__file__).resolve().parent.parent
    touched = subprocess.run(
        ["git", "diff", "--name-only", since, "--", "ophidia_io_server_spark"],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.split()
    if not touched:
        return set()

    def arm_module(arm: str) -> str:
        fn = WORKLOADS[arm].fn
        while hasattr(fn, "__wrapped__"):
            fn = fn.__wrapped__
        mod = inspect.getmodule(fn)
        return __import__("pathlib").Path(mod.__file__).resolve() \
            .relative_to(repo).as_posix()

    # Per-arm workload modules are the ONLY files that scope the rerun;
    # everything else in the package — operators/, pipeline/, dialect/,
    # AND the workloads/ shared layer (suites.py defines the composite
    # oracles and GATE_ORDER, base.py the @workload decorator and session
    # defaults, __init__.py the import wiring) — is shared by arbitrarily
    # many gate rows, so any touch there means a full gate (r11 advice:
    # the old prefix test silently skipped suites.py/base.py edits).
    arm_modules = {arm_module(a)
                   for row in GATE_ORDER
                   for a in _SUITES.get(row, {row: None})}

    # An arm module that is IMPORTED BY another workloads/ module is
    # itself shared (r12 advice: analytics.py imports a helper from
    # docs.py, relational.py from streaming.py — an edit to the imported
    # helper must rerun the importing modules' rows too; the cheap sound
    # answer is the full gate).  Detected by a static import scan, so a
    # future cross-import is picked up automatically.
    import re as _re

    wl_dir = repo / "ophidia_io_server_spark" / "workloads"
    imported_by_peer: set[str] = set()
    for src in wl_dir.glob("*.py"):
        text = src.read_text()
        for m in _re.finditer(
                r"(?:from|import)\s+(?:ophidia_io_server_spark\."
                r"workloads\.|\.)(\w+)", text):
            target = (wl_dir / f"{m.group(1)}.py")
            if target.exists() and target != src:
                imported_by_peer.add(
                    target.resolve().relative_to(repo).as_posix())
    shared_arm_modules = arm_modules & imported_by_peer

    shared = [p for p in touched
              if p not in arm_modules or p in shared_arm_modules]
    if shared:
        print(f"--changed-since: shared-layer files touched {shared} "
              "-> full gate")
        return set(GATE_ORDER)

    touched_set = set(touched)
    rows: set[str] = set()
    for row in GATE_ORDER:
        arms = list(_SUITES.get(row, {row: None}))
        if any(arm_module(a) in touched_set for a in arms):
            rows.add(row)
    return rows


def main():
    argv = list(sys.argv[1:])
    since = None
    if "--changed-since" in argv:
        i = argv.index("--changed-since")
        since = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if since is not None:
        changed = _changed_gate_rows(since)
        if not changed:
            print(f"--changed-since {since}: no package files touched; "
                  "nothing to re-verify")
            sys.exit(0)
        if only:
            only = only & changed
            if not only:
                print(f"--changed-since {since}: none of the requested rows "
                      "are affected by the diff; nothing to re-verify")
                sys.exit(0)
        else:
            only = changed
        print(f"--changed-since {since}: re-verifying {len(only)} gate "
              f"row(s): {sorted(only)}")

    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from ophidia_io_server_spark import get_spark
    from ophidia_io_server_spark.workloads import ordered_workloads

    WORKLOADS = ordered_workloads()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_skip = 0
    for name, w in WORKLOADS.items():
        if only and name not in only:
            continue
        try:
            sdf = w.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if w.oracle is None:
            print(f"SKIP {name}: no oracle (rows-only check), rows={len(sdf)}")
            n_skip += 1
            continue
        try:
            odf = con.execute(w.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}:")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
