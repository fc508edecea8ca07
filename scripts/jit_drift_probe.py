"""JIT-intrinsic drift probe (r10 verdict #1, hypothesis 3).

HotSpot compiles java.lang.Math.log/exp/pow to C2 intrinsics whose
results may differ from the interpreted/C1 implementation by 1 ulp
(the JLS permits it: Math docs guarantee 1-ulp accuracy, not a specific
rounding).  A Spark expression that calls these can therefore change
value MID-SESSION, the moment its generated code crosses the JIT
compile threshold — a non-reproducing, run-to-run, long-session-only
flake if the value sits on a ROUND(x, 6) boundary.

This probe runs one workload in THREE separate JVMs — default,
math intrinsics disabled (forces the non-intrinsic path everywhere),
and C1-only (TieredStopAtLevel=1, forbids the C2 intrinsic bodies) —
and cell-diffs the normalized outputs.  Any difference identifies both
the mechanism and the drifting (arm, column, value).

Usage: python scripts/jit_drift_probe.py [sf_dir] workload [workload...]
"""

from __future__ import annotations

import pickle
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CHILD = """
import pickle, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from scripts.check_correctness import _normalize
from ophidia_io_server_spark.session import _default_driver_memory
from ophidia_io_server_spark.workloads import WORKLOADS

spark = (SparkSession.builder.master("local[16]")
         .appName("jit_probe")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", _default_driver_memory())
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.extraJavaOptions", {jvm_opts!r})
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
out = {{}}
for name in {names!r}:
    pdf = _normalize(WORKLOADS[name].fn(spark, {sf_dir!r}).toPandas())
    out[name] = pdf
with open({out_path!r}, "wb") as f:
    pickle.dump(out, f)
"""

CONFIGS = [
    ("default", ""),
    ("no-intrinsics",
     "-XX:+UnlockDiagnosticVMOptions"
     " -XX:DisableIntrinsic=_dlog,_dlog10,_dexp,_dpow,_dsin,_dcos,_dtan"),
    ("c1-only", "-XX:TieredStopAtLevel=1"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or ["analytics_suite"]
    results = {}
    for label, jvm in CONFIGS:
        out_path = tempfile.mktemp(suffix=f"_{label}.pkl")
        code = CHILD.format(repo=str(REPO), jvm_opts=jvm, names=names,
                            sf_dir=sf_dir, out_path=out_path)
        print(f"--- {label}: {jvm or '(none)'}", flush=True)
        r = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                           capture_output=True, text=True, timeout=3000)
        if r.returncode != 0:
            print(r.stdout[-1500:])
            print(r.stderr[-1500:])
            return 2
        with open(out_path, "rb") as f:
            results[label] = pickle.load(f)
        print(f"    ok: {sum(len(v) for v in results[label].values())} rows",
              flush=True)

    sys.path.insert(0, str(REPO))
    from scripts.check_correctness import _cells_equal

    rc = 0
    base_label = CONFIGS[0][0]
    for name in names:
        base = results[base_label][name]
        for label, _ in CONFIGS[1:]:
            other = results[label][name]
            assert len(base) == len(other) and list(base.columns) == list(
                other.columns), (name, label)
            arm = base["op"] if "op" in base.columns else None
            n_bad = 0
            for col in base.columns:
                a, b = base[col], other[col]
                for i in range(len(base)):
                    if not _cells_equal(a.iat[i], b.iat[i]):
                        rc = 1
                        n_bad += 1
                        who = f" arm={arm.iat[i]}" if arm is not None else ""
                        if n_bad <= 20:
                            print(f"DRIFT {name}{who} col={col} row={i}: "
                                  f"{base_label}={a.iat[i]!r} "
                                  f"{label}={b.iat[i]!r}", flush=True)
            print(f"{name} {base_label} vs {label}: "
                  f"{'STABLE' if n_bad == 0 else f'{n_bad} drifting cells'}",
                  flush=True)
    print("RESULT:", "JIT-SENSITIVE VALUES FOUND" if rc else "ALL STABLE",
          flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
