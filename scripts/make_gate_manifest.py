"""Regenerate GATE_MANIFEST.json from the live registry (r13: the r12
manifest was built inline; this script makes it reproducible).

The manifest maps every driver gate row to its member arms plus a
mechanism-group annotation for the rows that exist to localize the
r10-r12 driver-only divergence, so a red row in CORRECTNESS_r{N}.json
can be decoded without reading suites.py.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# mechanism annotations for the diagnostic rows (everything else is a
# plain operator/suite row)
_MECHANISM = {
    "analytics_core_suite": "integer rollups / sessionization / windows",
    "analytics_sketch_suite": "sketches + estimators (partition-invariant"
                              " by construction)",
    "analytics_rank_suite": "rank / U-statistic hypothesis tests",
    "analytics_survival_suite": "survival + changepoint",
    "analytics_smoother_suite": "dyadic smoothers — IEEE-exact halvings,"
                                " environment-proof by construction",
    "analytics_entropy_suite": "entropy/PSI/burstiness/circadian — exact"
                               " integer projections since r13 (ln"
                               " readouts live in pytest)",
    "analytics_acf_suite": "composed statistics on the decomposition/ACF"
                           " rows — exact rationals + single IEEE"
                           " divisions; pettitt exp() exponent rides as"
                           " integers since r13",
    "determinism_canary": "ENVIRONMENT PROBE (libm axis): 9 transcendental"
                          " chains x 128 cells vs per-engine build-time"
                          " pins; red => the gate environment's JVM or"
                          " DuckDB libm differs from the build container"
                          " (n_drift names the chain, n_round_flips says"
                          " whether it crosses the 1e-6 grid)",
    "env_fingerprint": "ENVIRONMENT PROBE (session/data axis): live"
                       " session facts vs build-time pins + live parquet"
                       " row counts/key ranges on both engines; red with"
                       " canary green => session config or data differ",
}

_NOTES = (
    "r13 endgame of the r10-r12 bisection. Decode a red mechanically: "
    "(1) determinism_canary red => driver libm/JVM drift — an "
    "environment fingerprint, not a code bug; record it and compare "
    "n_drift per chain. (2) env_fingerprint red with canary green => "
    "session config or parquet data axis — the fact column names which. "
    "(3) an analytics_* row red with both probes green => that arm "
    "cluster genuinely diverges; since r13 every hashed column in the "
    "smoother/entropy/acf rows is IEEE-exact (+,-,*,/,sqrt) or integer, "
    "so libm cannot be the mechanism. (4) all green => the r10-r12 reds "
    "died with the retired composite. Triage recipe in NOTES.md."
)


def main() -> None:
    from ophidia_io_server_spark.workloads.suites import GATE_ORDER, _SUITES

    rows = []
    for name in GATE_ORDER:
        row: dict = {"row": name}
        if name in _SUITES:
            row["arms"] = list(_SUITES[name])
        if name in _MECHANISM:
            row["mechanism_group"] = _MECHANISM[name]
        rows.append(row)
    manifest = {"gate_rows": rows, "notes": _NOTES}
    with open(ROOT / "GATE_MANIFEST.json", "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
    print(f"wrote GATE_MANIFEST.json: {len(rows)} rows, "
          f"{sum(1 for r in rows if 'mechanism_group' in r)} annotated")


if __name__ == "__main__":
    main()
