"""Engine benchmark entry point.

    python3 enginebench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Workloads: ``wire_mixed`` (reads and writes over TCP against one engine
server process) and ``analytics_rows`` (registered batch and stream rows
in-process).  ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
the traced variant and prints the per-layer metrics, writing its spans to
``.bench_out/``.  ``--smoke`` shrinks every input to a few rows.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See README.md for what each metric means and which layer moves it.
"""

from __future__ import annotations

import argparse
import json
import sys

from common import END_TO_END, PER_LAYER, ROOT, RunEnv

WORKLOADS = ("wire_mixed", "analytics_rows")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy-size inputs")
    args = ap.parse_args()
    if not (ROOT / "ophidia_io_server_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_env = RunEnv(args.workload, args.seed)
    run_env.apply()
    try:
        if args.workload == "analytics_rows":
            import rows
            sizes = rows.SMOKE_SIZES if args.smoke else rows.Sizes()
            fn = rows.traced if args.trace else rows.analytics_rows
        else:
            import wire
            sizes = wire.SMOKE_SIZES if args.smoke else wire.Sizes()
            if args.trace:
                import traced
                fn = traced.trace_wire
            else:
                fn = wire.wire_mixed
        res = fn(args, run_env, sizes)
    finally:
        run_env.cleanup()

    registry = PER_LAYER if args.trace else END_TO_END
    metrics = res["metrics"]
    names = {name for name, _, _ in registry}
    if set(metrics) - names:
        raise RuntimeError(f"metrics outside the registry: {sorted(set(metrics) - names)}")
    if not args.trace and names - set(metrics):
        raise RuntimeError(f"end-to-end metrics not measured: {sorted(names - set(metrics))}")
    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit, _ in registry},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
