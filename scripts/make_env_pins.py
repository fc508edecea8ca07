"""Generate ophidia_io_server_spark/workloads/env_pins.py: the BUILD
container's session/engine facts, pinned as literals for the
``env_fingerprint`` gate row (r13 verdict #3).

The pins are the cross-engine trick that turns a one-bit gate hash into
an axis detector: the Spark side of the row emits its ACTUAL session
facts while the oracle emits these pinned literals (and vice versa for
the DuckDB version fact, which only the oracle can see live).  The row
hashes green iff the gate environment's session config, engine versions
and parquet data all match the build container — a red with the
determinism canary green names the session/data axis without touching
any workload arm.

Run in the BUILD container only (same rule as make_canary_pins.py):
regenerating in a gate environment would blind the fingerprint.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    import duckdb

    from ophidia_io_server_spark import get_spark

    spark = get_spark(cpus=8)
    duck_version = duckdb.sql("SELECT version()").fetchone()[0]

    def conf(key: str) -> str:
        try:
            return str(spark.conf.get(key))
        except Exception:
            return "unset"

    # Deliberately NOT pinned: spark.sql.shuffle.partitions / cpu count.
    # The r11 12-run sweep proved every gate row partition-invariant, so
    # partition count cannot explain a hash divergence — pinning it would
    # only add a benign-variation false-red axis (the gate harness may
    # legitimately size its session differently).  Everything pinned
    # below can change RESULTS: engine versions (libm/codegen), session
    # timezone (timestamp rendering), ANSI mode (error/NULL semantics),
    # nanosAsLong (the testdata read path).
    pins = {
        "session:spark_version": spark.version,
        "session:timezone": conf("spark.sql.session.timeZone"),
        "session:ansi_enabled": conf("spark.sql.ansi.enabled"),
        "session:parquet_nanos_as_long": conf(
            "spark.sql.legacy.parquet.nanosAsLong"),
        "engine:duckdb_version": duck_version,
    }
    out = [
        '"""Build-time pinned session/engine facts for the',
        "``env_fingerprint`` gate row.  Generated by",
        "scripts/make_env_pins.py in the build container — do NOT",
        "regenerate in a gate environment (that would blind the",
        'fingerprint).  See workloads/envfp.py for the row design."""',
        "",
        "SESSION_PINS: dict[str, str] = {",
    ]
    for k, v in pins.items():
        out.append(f"    {k!r}: {v!r},")
    out.append("}")
    out.append("")
    path = ROOT / "ophidia_io_server_spark" / "workloads" / "env_pins.py"
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}:")
    for k, v in pins.items():
        print(f"  {k} = {v}")


if __name__ == "__main__":
    main()
