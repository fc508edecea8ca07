"""Rounding-grid margin probe (r11 verdict #2).

The analytics arms hash dozens of ROUND(transcendental-chain, 6) doubles.
Measured r12 (scripts/make_canary_pins.py): Spark's JVM math and DuckDB's
libm ALREADY disagree by 1 ulp on ~8-10% of ln/exp/pow cells in this
container — the gate stays green only because ROUND(·, 6) absorbs last-ulp
noise for cells AWAY from a 0.5e-6 decision boundary.  A cell whose
pre-rounding value sits within a few ulps of a boundary flips its hashed
output under any cross-environment libm/JIT drift: the prime mechanism
candidate for the 2-rounds-driver-red analytics composite.

This probe makes the margin measurable: for every gate row it
1. runs the ORIGINAL DuckDB oracle (the hashed surface) and infers, per
   double column, the rounding grid d actually applied (smallest d in
   2..9 whose grid contains every cell);
2. strips `ROUND(expr, d)` wrappers with d >= 2 from the oracle text
   (single-arg ROUND and `, 0` quantizers are semantic, kept) and re-runs
   to obtain the PRE-rounding values;
3. computes each cell's exact distance to the nearest half-grid boundary
   (Fraction arithmetic — float would drown an ulp-scale margin in its
   own rounding error) in ulps of the cell value, and reports the minimum
   per (row, arm, column).

Columns whose minimum margin is below THRESHOLD ulps must be hardened
(coarsen the rounding on BOTH engines, or emit the exact integer inputs);
columns that are exact by construction (IEEE division/sums of integers)
cannot drift and are safe at any margin — the report annotates, a human
decides.

Usage: python scripts/grid_margin_probe.py [sf_dir] [gate_row ...]
"""

from __future__ import annotations

import json
import math
import sys
from fractions import Fraction
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

THRESHOLD_ULPS = 1e4  # flag margins below this (drift seen is 1-2 ulps;
#                       1e4 leaves room for chain error amplification)

# Columns verified EXACT-BY-CONSTRUCTION (r12 audit): their chains use only
# IEEE +,-,*,/ and sqrt over identical inputs — every one of those ops is
# exactly specified by IEEE-754, so the pre-rounding bits are identical in
# any environment and a small grid margin carries NO drift risk.  Only
# library transcendentals (ln/exp/pow/log10/atan2/trig) may differ by ulps
# across libm/JVM builds.  Audit trail per column:
#   dedup_substring_spans.dup_frac        integer ratio (one division)
#   curation_quality_rules.mean_word_len  integer ratio
#   token_budget_select.quality           integer ratio
#   source_overlap_matrix.jaccard         integer ratio
#   text_quality_lang.{ttr,mean_token_len,quality_score} integer ratios
#   token_association_rules.confidence    integer ratio
#   doc_text_metrics.stopword_ratio       integer ratio
#   corpus_report.mean_quality            sum of exact ratios / bigint (one
#                                         ordered fold of exact terms)
#   curation_split_clusters.{top2_frac,dup2_frac} integer ratios
#   events_holt_linear.{level,trend,forecast_next} dyadic smoother (exact)
#   events_ewma_halflife.ewma             dyadic EWMA (exact rationals)
#   events_gapfill_interpolate.v_filled   linear interp of integers (one
#                                         IEEE expression)
#   math_complex_ops.{polar,modulus,eabs} the sub-margin cells are the
#                                         sqrt(re^2+im^2) moduli — sqrt is
#                                         correctly rounded; the atan2
#                                         cells have >=3.27e6 ulps margin
#   lineitem_ols_regression.beta0         closed-form +-*/ moment solve
#   orders_rollup_cube.total_cents        BIGINT riding a double column
#   lineitem_winsorized_stats.win_mean    exact-integer ratio
#   orders_cohort_ltv.{revenue_cents,cum_revenue_cents} BIGINT-on-double
#   orders_profile.mean_num               exact DECIMAL sum / count
#   lineitem_anova_f.{mean_a,mean_n}      exact DECIMAL sum / count
#   lineitem_brown_forsythe.mad_r         exact |y - median| mean (DECIMAL)
#   events_tdigest_quantiles.mean_cents   exact BIGINT sum/weight ratio
#                                         (one IEEE division)
SAFE_EXACT: set[str] = {
    "events_tdigest_quantiles.mean_cents",
    # same exact BIGINT sum_val/weight ratio (one IEEE division) — the
    # estimator-API gate arm promoted in r13 reuses the cluster mean the
    # line above already whitelists (pipeline/quantile.py::tdigest_estimate)
    "events_tdigest_estimates.est",
    "dedup_substring_spans.dup_frac",
    "curation_quality_rules.mean_word_len",
    "token_budget_select.quality",
    "source_overlap_matrix.jaccard",
    "text_quality_lang.ttr", "text_quality_lang.mean_token_len",
    "text_quality_lang.quality_score",
    "token_association_rules.confidence",
    "doc_text_metrics.stopword_ratio",
    "corpus_report.mean_quality",
    "curation_split_clusters.top2_frac",
    "curation_split_clusters.dup2_frac",
    "events_holt_linear.level", "events_holt_linear.trend",
    "events_holt_linear.forecast_next",
    "events_ewma_halflife.ewma",
    "events_gapfill_interpolate.v_filled",
    "math_complex_ops.polar", "math_complex_ops.modulus",
    "math_complex_ops.eabs",
    "lineitem_ols_regression.beta0",
    "orders_rollup_cube.total_cents",
    "lineitem_winsorized_stats.win_mean",
    "orders_cohort_ltv.revenue_cents", "orders_cohort_ltv.cum_revenue_cents",
    "orders_profile.mean_num",
    "lineitem_anova_f.mean_a", "lineitem_anova_f.mean_n",
    "lineitem_brown_forsythe.mad_r",
}


def strip_rounds(sql: str, min_digits: int = 2) -> str:
    """Remove ROUND(expr, d) wrappers with d >= min_digits, innermost-out.
    Single-argument ROUND (data quantization) is preserved."""
    lower = sql.lower()
    i = 0
    while True:
        j = lower.find("round(", i)
        if j < 0:
            return sql
        # token boundary: don't match e.g. "xround("
        if j > 0 and (lower[j - 1].isalnum() or lower[j - 1] == "_"):
            i = j + 6
            continue
        # match the closing paren and find the last top-level comma
        depth, k, last_comma = 1, j + 6, -1
        while k < len(sql) and depth:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                last_comma = k
            k += 1
        if depth:  # unbalanced — bail out conservatively
            return sql
        close = k - 1
        if last_comma < 0:
            i = j + 6
            continue
        digits = sql[last_comma + 1:close].strip()
        if not digits.isdigit() or int(digits) < min_digits:
            i = j + 6
            continue
        inner = sql[j + 6:last_comma]
        sql = sql[:j] + "(" + inner + ")" + sql[close + 1:]
        lower = sql.lower()
        # restart at j: the replacement may expose an outer/nested ROUND
        i = j
    return sql


def infer_grid(cells: list[float]) -> int | None:
    """Smallest d in 2..9 whose decimal grid contains every finite cell
    (i.e. the column was plausibly produced through ROUND(·, d))."""
    for d in range(2, 10):
        scale = 10 ** d
        ok = True
        for x in cells:
            # exact: x is on the d-grid iff x*10^d is an integer after
            # accounting for binary representation of the decimal value
            f = Fraction(x) * scale
            nearest = round(f)
            # the stored double is the binary nearest of k*10^-d: check
            # round-tripping the integer back through float equals x
            if float(Fraction(nearest, scale)) != x:
                ok = False
                break
        if ok:
            return d
    return None


def margin_ulps(x: float, d: int) -> float:
    """Exact distance of x to the nearest (k+0.5)*10^-d rounding decision
    boundary, in units of ulp(x)."""
    fx = Fraction(x) * 10 ** d          # grid units, exact
    fr = fx - math.floor(fx)            # in [0, 1)
    dist_grid = abs(fr - Fraction(1, 2))
    dist_abs = dist_grid / 10 ** d
    u = math.ulp(abs(x)) if x != 0 else math.ulp(0.0)
    r = dist_abs / Fraction(u)
    return 1e18 if r > 10 ** 18 else float(r)  # cap: Fraction->float overflows
#                                               for subnormal-ulp cells


# r13 (verdict #2): the three tsdecomp data rows are certified
# environment-proof — their hashed surfaces may use ONLY IEEE-exact ops
# (+,-,*,/, sqrt, round) and integers.  The probe FAILS if any libm
# transcendental call appears in these rows' oracle text (the oracle
# defines the hashed surface; the value-hash gate forces the Spark side
# to match it, so a one-sided scan is sufficient).
TRANS_FREE_ROWS = {
    "analytics_smoother_suite",
    "analytics_entropy_suite",
    "analytics_acf_suite",
}
_TRANS_CALL = __import__("re").compile(
    r"\b(ln|log|log2|log10|log1p|exp|exp2|expm1|pow|power|atan2|atan|"
    r"asin|acos|sin|cos|tan|sinh|cosh|tanh|cbrt|gamma|lgamma)\s*\(",
    __import__("re").IGNORECASE)


def transcendental_calls(sql: str) -> list[str]:
    """libm function calls in an oracle's hashed surface (SQL comments
    stripped first so prose mentions don't count)."""
    body = __import__("re").sub(r"--[^\n]*", "", sql)
    return sorted({m.group(1).lower()
                   for m in _TRANS_CALL.finditer(body)})


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.workloads.suites import GATE_ORDER

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    report: dict[str, dict] = {}
    flagged: list[tuple[str, str, str, float]] = []
    trans_violations: list[tuple[str, list[str]]] = []
    for name in GATE_ORDER:
        if only and name not in only:
            continue
        oracle = WORKLOADS[name].oracle
        if oracle is None:
            continue
        if name in TRANS_FREE_ROWS:
            calls = transcendental_calls(oracle)
            if calls:
                trans_violations.append((name, calls))
                print(f"{name}: TRANSCENDENTAL IN HASHED SURFACE: {calls}",
                      flush=True)
            else:
                print(f"{name}: transcendental-free hashed surface OK",
                      flush=True)
        stripped = strip_rounds(oracle)
        if stripped == oracle:
            continue  # no display-rounding — nothing to probe
        orig = con.execute(oracle).df()
        raw = con.execute(stripped).df()
        dbl = [c for c in orig.columns if str(orig[c].dtype) == "float64"]
        arms = orig["op"] if "op" in orig.columns else None
        row_rep: dict[str, dict] = {}
        for c in dbl:
            ov = orig[c]
            rv = raw[c]
            # group by arm when this is a suite composite
            groups = (sorted(set(arms.dropna())) if arms is not None
                      else [None])
            for g in groups:
                if g is None:
                    o_cells = [v for v in ov if v is not None
                               and not (isinstance(v, float) and math.isnan(v))]
                    r_cells = [v for v in rv if v is not None
                               and not (isinstance(v, float) and math.isnan(v))]
                else:
                    mask_o = arms == g
                    mask_r = raw["op"] == g
                    o_cells = [v for v in ov[mask_o]
                               if v == v and v is not None]
                    r_cells = [v for v in rv[mask_r]
                               if v == v and v is not None]
                if not o_cells or not r_cells:
                    continue
                d = infer_grid(o_cells)
                if d is None:
                    # raw column: hashed at FULL precision — safe only if
                    # exact-by-construction (IEEE +,-,*,/,sqrt over
                    # identical inputs).  Record it so the audit surface
                    # is complete; any ln/exp/pow-derived raw column is a
                    # standing bug regardless of margin.
                    key = f"{g or name}.{c}"
                    row_rep[key] = {"grid_digits": None,
                                    "n_cells": len(o_cells), "raw": True}
                    continue
                # skip if the raw values equal the rounded ones (the
                # column's ROUND is a no-op, e.g. exact-grid quantities)
                if o_cells == r_cells:
                    continue
                margins = [margin_ulps(x, d) for x in r_cells if x == x]
                if not margins:
                    continue
                mn = min(margins)
                n_low = sum(1 for m in margins if m < THRESHOLD_ULPS)
                key = f"{g or name}.{c}"
                row_rep[key] = {
                    "grid_digits": d, "n_cells": len(margins),
                    "min_ulps": mn, "n_below_threshold": n_low,
                }
                if n_low and key not in SAFE_EXACT:
                    flagged.append((name, g or name, c, mn))
                elif n_low:
                    row_rep[key]["safe_exact"] = True
        if row_rep:
            report[name] = row_rep
            margins = [v["min_ulps"] for v in row_rep.values()
                       if "min_ulps" in v]
            raws = [k for k, v in row_rep.items() if v.get("raw")]
            worst = f"worst margin {min(margins):.3g} ulps" if margins else ""
            raw_note = f", {len(raws)} RAW double col(s)" if raws else ""
            print(f"{name}: {len(row_rep)} double col(s), {worst}{raw_note}",
                  flush=True)
            for k in raws:
                print(f"  RAW (full-precision hash): {k}", flush=True)

    out = Path(__file__).resolve().parent.parent / "grid_margin_report.json"
    out.write_text(json.dumps(
        {"threshold_ulps": THRESHOLD_ULPS, "sf_dir": sf_dir,
         "trans_free_rows": sorted(TRANS_FREE_ROWS),
         "trans_violations": [
             {"row": r, "calls": c} for r, c in trans_violations],
         "rows": report}, indent=1))
    print(f"\nwrote {out}")
    if trans_violations:
        print("\nVIOLATIONS: transcendental calls in environment-proof "
              "rows' hashed surfaces:")
        for r, c in trans_violations:
            print(f"  {r}: {c}")
    if flagged:
        print(f"\nFLAGGED (margin < {THRESHOLD_ULPS:g} ulps):")
        for row, arm, col, mn in sorted(flagged, key=lambda t: t[3]):
            print(f"  {row} / {arm}.{col}: min {mn:.3g} ulps")
    else:
        print("no sub-threshold margins — every rounded transcendental "
              "cell clears the grid boundary")
    return 1 if (flagged or trans_violations) else 0


if __name__ == "__main__":
    raise SystemExit(main())
