"""Round-13 optimization profiler (guide §1: measure first).

For every bench HEADLINE row, measure separately:
  - t_plan:  wall time of ``w.fn(spark, sf_dir)`` — Python-side plan
    construction (py4j round-trips, memoized staging, any .collect()
    used to derive budgets/certificates),
  - t_exec:  wall time of the noop-sink write of the ALREADY-built plan
    (warm: one discarded warm-up write first, matching bench.py), and
  - the ``explain("formatted")`` text, dumped to --plans-dir so plan
    shapes (Exchange count, join strategy, BatchEvalPython) can be
    diffed before/after each optimization.

Usage:
  python scripts/r13_profile.py [--plans-dir DIR] [--reps N] [name ...]

Prints one JSON line per row plus a sorted summary; full record saved to
/tmp/r13_profile.json (or $R13_PROFILE_OUT).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    reps = 1
    if "--plans-dir" in args:
        i = args.index("--plans-dir")
        plans_dir = Path(args[i + 1])
        plans_dir.mkdir(parents=True, exist_ok=True)
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import HEADLINE, STREAM_ONCE
    from ophidia_io_server_spark import get_spark
    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.sources.tables import (
        lineitem_fragment_cached,
        load_table,
    )

    spark = get_spark(app_name="r13-profile")
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, sf_dir, "lineitem").count()
    for col in ("l_quantity", "l_extendedprice", "l_discount"):
        lineitem_fragment_cached(spark, sf_dir, col).count()

    rows = names or HEADLINE
    out: dict[str, dict] = {}
    for name in rows:
        w = WORKLOADS[name]
        spark.sparkContext.setJobDescription(f"r13-profile:{name}")
        # -- warm-up pass (discarded), also the plan snapshot
        t0 = time.perf_counter()
        df = w.fn(spark, sf_dir)
        t_plan_cold = time.perf_counter() - t0
        if plans_dir is not None:
            try:
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            except Exception:
                from contextlib import redirect_stdout
                import io
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                txt = buf.getvalue()
            (plans_dir / f"{name}.txt").write_text(txt)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec_cold = time.perf_counter() - t0

        # -- timed passes (warm), min over reps like bench.py
        t_plan = t_exec = float("inf")
        n_reps = 1 if name in STREAM_ONCE else reps
        for _ in range(n_reps):
            t0 = time.perf_counter()
            df = w.fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            t_plan = min(t_plan, t1 - t0)
            t_exec = min(t_exec, t2 - t1)
        rec = {
            "plan_cold": round(t_plan_cold, 3),
            "exec_cold": round(t_exec_cold, 3),
            "plan": round(t_plan, 3),
            "exec": round(t_exec, 3),
            "total": round(t_plan + t_exec, 3),
        }
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)

    dest = Path(os.environ.get("R13_PROFILE_OUT", "/tmp/r13_profile.json"))
    dest.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    tot = sum(r["total"] for r in out.values())
    tp = sum(r["plan"] for r in out.values())
    te = sum(r["exec"] for r in out.values())
    print(f"== total {tot:.1f}s  (plan {tp:.1f}s + exec {te:.1f}s) "
          f"over {len(out)} rows ==")
    for name, r in sorted(out.items(), key=lambda kv: -kv[1]["total"])[:30]:
        print(f"{r['total']:7.2f}  (plan {r['plan']:6.2f} exec {r['exec']:6.2f})  {name}")


if __name__ == "__main__":
    main()
