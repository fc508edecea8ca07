"""Round-12 scale certificates: the canonical t-digest and the
sessionized streaming funnel at sf0.01 vs the key-consistent 10x replica
(scripts/make_10x.py), each checked DUAL-ENGINE at 10x (Spark vs its
DuckDB oracle over the same replica) plus exact k-scaling derivations:

* events_tdigest_quantiles — events replicate with shifted ids at the
  same values, so every (type, v) count and each type's n scale exactly
  k.  Cluster boundaries are floor-divided ranks, so individual cluster
  weights are NOT exactly k-scaled (floor(10A/b) != 10*floor(A/b)); the
  exact invariants are: per-type TOTAL weight scales exactly k, the
  digest still tiles the rank space (weight_ok), and value ranges stay
  ordered (monotone_ok) — all hash-checked against the 10x oracle.
* stream_funnel_sessions — replicas are disjoint shifted users at the
  SAME timestamps, so sessions replicate exactly: row count scales
  exactly k and the base-user subset is bitwise identical to the 1x run.

The canary is data-free (128 generated cells) — no scale axis.

Usage: python scripts/r12_scale_probe.py [base_sf_dir] [x10_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.check_correctness import compare  # noqa: E402

OFF = 10_000_000


def timed(fn, spark, sf):
    df = fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    out = fn(spark, sf).toPandas()
    return time.perf_counter() - t0, out


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    x10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ophidia_sf10x"
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from ophidia_io_server_spark import get_spark
    from ophidia_io_server_spark.workloads import WORKLOADS

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    rc = 0

    def oracle_at(name, sf_dir):
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(WORKLOADS[name].oracle).df()

    # ---- t-digest --------------------------------------------------------
    t1, d1 = timed(WORKLOADS["events_tdigest_quantiles"].fn, spark, base)
    t10, d10 = timed(WORKLOADS["events_tdigest_quantiles"].fn, spark, x10)
    probs = compare("tdigest@10x", d10, oracle_at("events_tdigest_quantiles", x10))
    for p in probs:
        print("  ", p)
    w1 = d1.groupby("event_type")["weight"].sum()
    w10 = d10.groupby("event_type")["weight"].sum()
    exact_k = all(w10[et] == 10 * w1[et] for et in w1.index)
    ok = not probs and exact_k and (d10["weight_ok"] == 1).all() \
        and (d10["monotone_ok"] == 1).all()
    rc |= 0 if ok else 1
    print(f"events_tdigest_quantiles: 1x {t1:.2f}s -> 10x {t10:.2f}s "
          f"(ratio {t10 / t1:.1f}x), dual-engine@10x "
          f"{'MATCH' if not probs else 'MISMATCH'}, total-weight k-scaling "
          f"{'EXACT' if exact_k else 'BROKEN'} -> "
          f"{'OK' if ok else 'FAIL'}", flush=True)

    # ---- streaming funnel ------------------------------------------------
    t1, f1 = timed(WORKLOADS["stream_funnel_sessions"].fn, spark, base)
    t10, f10 = timed(WORKLOADS["stream_funnel_sessions"].fn, spark, x10)
    probs = compare("funnel@10x", f10, oracle_at("stream_funnel_sessions", x10))
    for p in probs:
        print("  ", p)
    count_k = len(f10) == 10 * len(f1)
    cols = [c for c in f1.columns if c != "stream_equals_batch"]
    basecut = (f10[f10["user_id"] < OFF][cols]
               .sort_values(cols, key=lambda s: s.map(str))
               .reset_index(drop=True))
    base1 = (f1[cols].sort_values(cols, key=lambda s: s.map(str))
             .reset_index(drop=True))
    base_bitwise = basecut.equals(base1)
    ok = not probs and count_k and base_bitwise \
        and bool(f10["stream_equals_batch"].all())
    rc |= 0 if ok else 1
    print(f"stream_funnel_sessions: 1x {t1:.2f}s -> 10x {t10:.2f}s "
          f"(ratio {t10 / t1:.1f}x), dual-engine@10x "
          f"{'MATCH' if not probs else 'MISMATCH'}, session-count x10 "
          f"{'EXACT' if count_k else 'BROKEN'} "
          f"({len(f1)} -> {len(f10)}), base-user subset "
          f"{'BITWISE' if base_bitwise else 'DRIFTED'} -> "
          f"{'OK' if ok else 'FAIL'}", flush=True)

    print("RESULT:", "ALL r12 SCALE CERTIFICATES OK" if rc == 0 else
          "CERTIFICATE FAILURE", flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
