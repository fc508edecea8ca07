"""Round-13 additions: the final bisection bits (canary + env
fingerprint on their own gate seats, the tsdecomp three-way split),
environment-proof hashed projections, and the t-digest exact-rank /
bounded-threshold fixes."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_SMALL


# ---------------------------------------------------------------------------
# gate re-curation
# ---------------------------------------------------------------------------


def test_r13_gate_recuration():
    from ophidia_io_server_spark.workloads.suites import (
        _SUITES, _TSDECOMP_SPLIT, GATE_ORDER, registry_composition,
    )

    assert len(GATE_ORDER) == 50 == len(set(GATE_ORDER))
    # the two environment probes hold their own seats
    assert "determinism_canary" in GATE_ORDER
    assert "env_fingerprint" in GATE_ORDER
    # tsdecomp left the window, replaced by its three mechanism rows
    assert "analytics_tsdecomp_suite" not in GATE_ORDER
    for s in _TSDECOMP_SPLIT:
        assert s in GATE_ORDER, s
    # the split + canary partitions the old tsdecomp membership exactly
    arms = [a for v in _TSDECOMP_SPLIT.values() for a in v]
    assert len(arms) == len(set(arms))
    assert set(arms) | {"determinism_canary"} == \
        set(_SUITES["analytics_tsdecomp_suite"])
    # folded singletons still carry hash signal via their new suites
    assert set(_SUITES["token_suite"]) == {
        "bm25_doc_retrieval", "token_heavy_hitters",
        "bpe_train_invariants"}
    assert set(_SUITES["embedding_suite"]) == {
        "embedding_pca_invariants", "embedding_cosine_pairs"}
    assert "curation_split_clusters" in _SUITES["curation_suite"]
    # nothing fell out of the hard-signal window
    assert registry_composition()["uncovered"] == []


def test_tsdecomp_rows_are_transcendental_free():
    """r13 verdict #2 'done' condition: no libm call in the hashed
    surface of the three environment-proof analytics rows."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "grid_margin_probe",
        Path(__file__).resolve().parent.parent / "scripts"
        / "grid_margin_probe.py")
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    from ophidia_io_server_spark.workloads import WORKLOADS

    for row in sorted(probe.TRANS_FREE_ROWS):
        calls = probe.transcendental_calls(WORKLOADS[row].oracle)
        assert not calls, (row, calls)


# ---------------------------------------------------------------------------
# env_fingerprint
# ---------------------------------------------------------------------------


def test_env_fingerprint_facts(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.workloads.env_pins import SESSION_PINS

    rows = {r["fact"]: r for r in
            WORKLOADS["env_fingerprint"].fn(spark, SF_SMALL).collect()}
    # 10 tables x 3 + events span x 2 + 4 live session facts + duckdb pin
    assert len(rows) == 37
    # in the build container the live session facts equal the pins
    for fact in ("session:spark_version", "session:timezone",
                 "session:ansi_enabled", "session:parquet_nanos_as_long"):
        assert rows[fact]["val_str"] == SESSION_PINS[fact], fact
        assert rows[fact]["val_num"] is None
    assert rows["engine:duckdb_version"]["val_str"] == \
        SESSION_PINS["engine:duckdb_version"]
    # data facts are exact integers and internally consistent
    import duckdb

    for t, k in [("events", "event_id"), ("orders", "o_orderkey"),
                 ("documents", "doc_id")]:
        n, mn, mx = duckdb.sql(
            f"SELECT COUNT(*), MIN({k}), MAX({k}) FROM "
            f"read_parquet('{SF_SMALL}/{t}.parquet')").fetchone()
        assert rows[f"tbl:{t}:rows"]["val_num"] == n, t
        assert rows[f"tbl:{t}:min_{k}"]["val_num"] == mn, t
        assert rows[f"tbl:{t}:max_{k}"]["val_num"] == mx, t
    assert rows["tbl:events:min_ts_us"]["val_num"] <= \
        rows["tbl:events:max_ts_us"]["val_num"]


def test_env_fingerprint_shuffle_partitions_not_hashed(spark):
    """Partition sizing is proven result-invariant (r11 sweep) — hashing
    it would add a benign-variation false-red axis."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    facts = [r["fact"] for r in
             WORKLOADS["env_fingerprint"].fn(spark, SF_SMALL).collect()]
    assert not any("shuffle" in f or "parallelism" in f or "cpus" in f
                   for f in facts)


# ---------------------------------------------------------------------------
# environment-proof projections: readouts match the migrated rows
# ---------------------------------------------------------------------------


def test_pettitt_exponent_consistent(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    for r in WORKLOADS["events_pettitt_changepoint"].fn(
            spark, SF_SMALL).collect():
        assert r["stat_num"] == 6 * r["u_abs"] ** 2
        assert r["stat_den"] == r["n"] ** 3 + r["n"] ** 2
        p = 2 * math.exp(-r["stat_num"] / r["stat_den"])
        assert 0.0 <= p <= 2.0


def test_markov_cells_are_sufficient(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.workloads.analytics import (
        markov_entropy_readout,
    )

    rows = WORKLOADS["events_markov_entropy"].fn(spark, SF_SMALL).collect()
    n = rows[0]["n"]
    assert all(r["n"] == n for r in rows)
    assert sum(r["nab"] for r in rows) == n
    # per-a marginals tile the total
    na = {}
    for r in rows:
        na.setdefault(r["a"], set()).add(r["na"])
    assert all(len(v) == 1 for v in na.values())
    assert sum(v.pop() for v in na.values()) == n
    hc, hm = markov_entropy_readout(
        [(r["a"], r["b"], r["nab"], r["na"], r["n"]) for r in rows])
    assert 0.0 <= hc <= hm <= math.log(len(na)) + 1e-12


# ---------------------------------------------------------------------------
# t-digest advice fixes
# ---------------------------------------------------------------------------


def test_tdigest_estimate_boundary_ranks(spark):
    """q=0.05 over n=160 rows: double-precision ceil(q*n) gives 9, the
    exact rational ceil is 8 — the estimate must land in the cluster
    containing rank 8 (the r12 advice off-by-one)."""
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.pipeline.quantile import (
        canonical_tdigest, tdigest_estimate,
    )

    df = spark.range(1, 161).select(
        F.lit("g").alias("g"), F.col("id").cast("bigint").alias("v"))
    dig = canonical_tdigest(df, ["g"], "v", delta=32)
    est = {r["q"]: r for r in
           tdigest_estimate(dig, ["g"], [0.05, 0.25, 1.0]).collect()}
    # exact nearest-rank targets: v == rank since v = 1..160
    for q in (0.05, 0.25, 1.0):
        target = -(-int(q * 1_000_000) * 160 // 1_000_000)  # exact ceil
        r = est[q]
        assert r["lo"] <= target <= r["hi"], (q, target, r["lo"], r["hi"])


def test_stream_tdigest_matches_batch(spark):
    """The streaming twin's value-count state must converge to the batch
    canonical digest bitwise (the digest is a pure function of the
    value-level CDF; integer counts are micro-batch-decomposition
    invariant)."""
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.pipeline.quantile import canonical_tdigest
    from ophidia_io_server_spark.sources.tables import load_table
    from ophidia_io_server_spark.workloads import WORKLOADS

    srows = {(r["event_type"], r["cluster"]): r for r in
             WORKLOADS["stream_tdigest_rollup"].fn(spark, SF_SMALL)
             .collect()}
    assert srows, "empty streaming digest"
    assert all(r["stream_equals_batch"] for r in srows.values())
    e = (load_table(spark, SF_SMALL, "events")
         .where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("bigint").alias("v")))
    brows = {(r["event_type"], r["cluster"]): r for r in
             canonical_tdigest(e, ["event_type"], "v", delta=32).collect()}
    assert set(srows) == set(brows)
    for k, s in srows.items():
        b = brows[k]
        assert (s["weight"], s["sum_cents"], s["lo_cents"], s["hi_cents"]) \
            == (b["weight"], b["sum_val"], b["lo"], b["hi"]), k


def test_stream_moments_matches_python(spark):
    """The 6-counter co-moment state must equal an exact Python
    recompute, and the Pearson readout must match numpy on the same
    integers."""
    import duckdb

    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = {r["event_type"]: r for r in
            WORKLOADS["stream_moments_monitor"].fn(spark, SF_SMALL)
            .collect()}
    assert rows and all(r["stream_equals_batch"] for r in rows.values())
    raw = duckdb.sql(f"""
        SELECT event_type, CAST(ROUND(value*100) AS BIGINT),
               CAST(hour(ts) AS BIGINT)
        FROM read_parquet('{SF_SMALL}/events.parquet')
        WHERE value IS NOT NULL AND NOT isnan(value)""").fetchall()
    agg: dict = {}
    for et, x, y in raw:
        n, sx, sy, sxx, syy, sxy = agg.get(et, (0, 0, 0, 0, 0, 0))
        agg[et] = (n + 1, sx + x, sy + y, sxx + x * x, syy + y * y,
                   sxy + x * y)
    for et, (n, sx, sy, sxx, syy, sxy) in agg.items():
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            assert et not in rows
            continue
        r = rows[et]
        assert (r["n"], r["sx"], r["sy"], r["sxx"], r["syy"], r["sxy"]) \
            == (n, sx, sy, sxx, syy, sxy), et
        corr = (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
        assert r["corr"] == pytest.approx(corr, abs=1e-6), et
        assert -1.0 - 1e-9 <= r["corr"] <= 1.0 + 1e-9


def test_stream_tdigest_delta_pinned_to_batch():
    from ophidia_io_server_spark.workloads.analytics import _TDIGEST_DELTA
    from ophidia_io_server_spark.workloads.streaming import _TD_D

    assert _TD_D == _TDIGEST_DELTA


def test_tdigest_thresholds_bounded_at_huge_n(spark):
    """The bounded rewrite must agree with exact integer math at an n
    where the naive n*m form would wrap BIGINT."""
    from pyspark.sql import functions as F

    n = 3 * 10 ** 14  # naive 3e14 * 32768 = 9.8e18 > 2^63-1
    d = 32
    j = 7
    m = 3 * j * j * d - 2 * j * j * j
    exact = n * m // d ** 3
    got = spark.range(1).select(F.expr(
        f"(CAST({n} AS BIGINT) div {d**3}) * {m}"
        f" + ((CAST({n} AS BIGINT) % {d**3}) * {m}) div {d**3}")
    ).collect()[0][0]
    assert got == exact


def test_tdigest_estimates_gate_arm(spark):
    """The estimator gate arm's bracket certificate must hold for every
    (type, q), and its rows must agree with the pipeline API."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = WORKLOADS["events_tdigest_estimates"].fn(spark, SF_SMALL) \
        .collect()
    assert rows
    assert all(r["bracket_ok"] == 1 for r in rows)
    # one estimate per (type, q); est inside its own bracket
    seen = set()
    for r in rows:
        k = (r["event_type"], r["q_ppm"])
        assert k not in seen
        seen.add(k)
        assert r["lo_cents"] <= r["est"] <= r["hi_cents"]
        assert 1 <= r["target_rank"]
