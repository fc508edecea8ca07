"""Round-12 additions: the analytics gate bisection, the determinism
canary, the grid-margin probe helpers, the canonical t-digest, and the
sessionized streaming funnel."""

from __future__ import annotations

import math
import struct

import pytest

from tests.conftest import SF_SMALL


# ---------------------------------------------------------------------------
# gate re-curation
# ---------------------------------------------------------------------------


def test_analytics_split_partitions_the_old_suite():
    from ophidia_io_server_spark.workloads.suites import (
        _ANALYTICS_SPLIT, _R12_ARMS, _SUITES, GATE_ORDER,
        registry_composition,
    )

    arms = [a for v in _ANALYTICS_SPLIT.values() for a in v]
    assert len(arms) == len(set(arms))
    assert set(arms) - set(_R12_ARMS) == set(_SUITES["analytics_suite"])
    assert len(GATE_ORDER) == 50
    for s in _ANALYTICS_SPLIT:
        if s == "analytics_tsdecomp_suite":
            # r13: replaced in the window by its three mechanism rows +
            # the standalone canary seat (stays registered for mirrors)
            assert s not in GATE_ORDER
        else:
            assert s in GATE_ORDER
    assert "analytics_suite" not in GATE_ORDER  # bisected out
    comp = registry_composition()
    assert comp["uncovered"] == []
    assert comp["gate_rows"] == 50


def test_merged_composites_cover_the_folded_standalone_rows():
    from ophidia_io_server_spark.workloads.suites import _SUITES, GATE_ORDER

    folded = {
        "events_join_suite": {"events_asof_attribution",
                              "events_interval_join"},
        "curation_suite": {"curation_quality_rules",
                           "quality_classifier_score",
                           "doc_quality_deciles",
                           # r13 seat-freeing fold
                           "curation_split_clusters"},
        "corpus_mix_suite": {"dsir_importance", "source_overlap_matrix"},
        # r13 seat-freeing composites
        "token_suite": {"bm25_doc_retrieval", "token_heavy_hitters",
                        "bpe_train_invariants"},
        "embedding_suite": {"embedding_pca_invariants",
                            "embedding_cosine_pairs"},
    }
    for suite, members in folded.items():
        assert suite in GATE_ORDER
        assert set(_SUITES[suite]) == members
        for m in members:
            assert m not in GATE_ORDER  # standalone seat was freed


# ---------------------------------------------------------------------------
# determinism canary
# ---------------------------------------------------------------------------


def test_canary_pins_shape_and_parse():
    from ophidia_io_server_spark.workloads.canary_chains import CHAINS, N_CELLS
    from ophidia_io_server_spark.workloads.canary_pins import (
        DUCK_PINS, SPARK_PINS,
    )

    for pins in (SPARK_PINS, DUCK_PINS):
        assert set(pins) == set(CHAINS)
        for hx in pins.values():
            assert len(hx) == N_CELLS
            for h in hx:
                v = struct.unpack("<d", bytes.fromhex(h))[0]
                assert math.isfinite(v)
    # the IEEE-exact control chain must agree across engines bitwise
    assert SPARK_PINS["c_div"] == DUCK_PINS["c_div"]


def test_canary_green_in_this_container(spark):
    """n_drift == 0 for every chain when run where the pins were made."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = {r["chain"]: r for r in
            WORKLOADS["determinism_canary"].fn(spark, SF_SMALL).collect()}
    from ophidia_io_server_spark.workloads.canary_chains import CHAINS, N_CELLS

    assert set(rows) == set(CHAINS)
    for chain, r in rows.items():
        assert r["n_cells"] == N_CELLS
        assert r["n_drift"] == 0, f"{chain} drifted vs build-time pins"
        assert r["n_round_flips"] == 0


# ---------------------------------------------------------------------------
# grid-margin probe helpers
# ---------------------------------------------------------------------------


def test_strip_rounds():
    from scripts.grid_margin_probe import strip_rounds

    # two-arg display rounding is stripped, parens preserved
    assert strip_rounds("SELECT ROUND(a / b, 6) AS x") == \
        "SELECT (a / b) AS x"
    # nested: both layers go
    assert strip_rounds("ROUND(ln(ROUND(x, 4)) + 1, 6)") == \
        "(ln((x)) + 1)"
    # single-arg ROUND is semantic quantization — preserved
    assert strip_rounds("CAST(ROUND(value * 100) AS BIGINT)") == \
        "CAST(ROUND(value * 100) AS BIGINT)"
    # `, 0` quantizers preserved
    assert strip_rounds("ROUND(x, 0)") == "ROUND(x, 0)"
    # nested commas inside function args don't confuse the matcher
    assert strip_rounds("ROUND(atan2(im, re), 6)") == "(atan2(im, re))"
    # identifier suffix is not a match
    assert strip_rounds("xround(a, 6)") == "xround(a, 6)"


def test_infer_grid_and_margin():
    from scripts.grid_margin_probe import infer_grid, margin_ulps

    assert infer_grid([0.123456, 0.5, 1.000001]) == 6
    assert infer_grid([0.12, 3.25]) == 2
    assert infer_grid([0.1234567891]) is None
    # x at a half-grid boundary: the nearest DOUBLE to 5e-7 is a fraction
    # of an ulp off the exact decimal boundary — margin must be sub-ulp,
    # and not collapse to an exact 0 (that would mean float arithmetic
    # swallowed the sub-ulp distance)
    assert 0 < margin_ulps(5e-07, 6) < 1
    # x on a grid POINT is half a grid step away from the boundary
    m = margin_ulps(1.0, 6)
    assert m > 1e8
    # sub-ulp asymmetry is resolved exactly (Fraction, not float)
    x = 0.1234565
    assert margin_ulps(x, 6) < 10  # double repr of .1234565 is ~ulps off


# ---------------------------------------------------------------------------
# canonical t-digest
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tdigest(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    return WORKLOADS["events_tdigest_quantiles"].fn(spark, SF_SMALL) \
        .toPandas().sort_values(["event_type", "cluster"]) \
        .reset_index(drop=True)


def test_tdigest_certificates(tdigest):
    assert len(tdigest) > 0
    assert (tdigest["weight_ok"] == 1).all()
    assert (tdigest["monotone_ok"] == 1).all()
    # weights tile the whole distribution: sum per type == n
    import duckdb

    n = duckdb.sql(
        f"SELECT event_type, COUNT(*) AS n FROM "
        f"read_parquet('{SF_SMALL}/events.parquet') "
        "WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1"
    ).df().set_index("event_type")["n"]
    got = tdigest.groupby("event_type")["weight"].sum()
    for et, tot in got.items():
        assert tot == n[et]


def test_tdigest_tail_resolution(tdigest):
    """The smoothstep scale concentrates cluster budget at the tails:
    the first/last clusters must be strictly narrower (in rank space)
    than the uniform n/delta split."""
    for et, g in tdigest.groupby("event_type"):
        n = g["weight"].sum()
        delta = 32
        uniform = n / delta
        first, last = g.iloc[0]["weight"], g.iloc[-1]["weight"]
        assert first < uniform * 0.55
        assert last < uniform * 0.55


def test_tdigest_partition_invariance(spark, tdigest):
    """Merge-invariance by construction: shuffling/partitioning the
    input must not move a single bit of the digest."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = WORKLOADS["events_tdigest_quantiles"].fn(spark, SF_SMALL) \
            .toPandas().sort_values(["event_type", "cluster"]) \
            .reset_index(drop=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert tdigest.equals(again)


def test_tdigest_quantile_error_bound(tdigest):
    """Interpolated digest quantiles must land within one cluster's rank
    span of the exact nearest-rank quantile — the t-digest accuracy
    contract, checkable exactly because boundaries are exact ranks."""
    import duckdb

    vals = duckdb.sql(
        f"SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v FROM "
        f"read_parquet('{SF_SMALL}/events.parquet') "
        "WHERE value IS NOT NULL AND NOT isnan(value)"
    ).df()
    for et, g in tdigest.groupby("event_type"):
        sv = vals[vals.event_type == et]["v"].sort_values().to_numpy()
        n = len(sv)
        cum = g["weight"].cumsum()
        for q in (0.5, 0.9, 0.99):
            target = max(1, math.ceil(q * n))
            # cluster containing the target rank
            idx = int((cum >= target).idxmax())
            row = g.loc[idx]
            exact = sv[target - 1]
            # the exact quantile must lie within the cluster's value range
            assert row["lo_cents"] <= exact <= row["hi_cents"], \
                (et, q, exact, row["lo_cents"], row["hi_cents"])


# ---------------------------------------------------------------------------
# sessionized streaming funnel
# ---------------------------------------------------------------------------


def test_stream_funnel_sessions_certificate(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    df = WORKLOADS["stream_funnel_sessions"].fn(spark, SF_SMALL).toPandas()
    assert len(df) > 0
    assert df["stream_equals_batch"].all()
    # funnel ordering invariants hold on every emitted session
    conv = df[df["converted"]]
    assert (conv["purchase_ts"] > conv["first_click_ts"]).all()
    assert (conv["first_click_ts"] > conv["first_view_ts"]).all()
    nonconv = df[~df["converted"]]
    assert (nonconv["credit_cents"] == 0).all()
    assert nonconv["purchase_ts"].isna().all()
    # no sentinel users leak through
    assert (df["user_id"] >= 0).all()


def test_tdigest_estimate_brackets_exact_quantiles(spark):
    """pipeline API: tdigest_estimate's [lo, hi] bracket must contain the
    exact nearest-rank quantile for every (cell, q)."""
    import duckdb

    from ophidia_io_server_spark.pipeline.quantile import (
        canonical_tdigest, tdigest_estimate,
    )
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = (load_table(spark, SF_SMALL, "events")
         .where(F.col("value").isNotNull() & ~F.isnan("value"))
         .select("event_type",
                 F.round(F.col("value") * 100).cast("bigint").alias("v")))
    dig = canonical_tdigest(e, ["event_type"], "v", delta=32)
    est = tdigest_estimate(dig, ["event_type"], [0.05, 0.5, 0.99]) \
        .toPandas()
    assert len(est) > 0
    exact = duckdb.sql(
        f"""SELECT event_type, q, v FROM (
              SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
                       CAST(ROUND(value*100) AS BIGINT)) AS r,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM read_parquet('{SF_SMALL}/events.parquet')
              WHERE value IS NOT NULL AND NOT isnan(value)),
             (SELECT unnest([0.05, 0.5, 0.99]) AS q)
            WHERE r = CEIL(q * n)"""
    ).df().set_index(["event_type", "q"])["v"]
    for _, row in est.iterrows():
        ex = exact[(row["event_type"], row["q"])]
        assert row["lo"] <= ex <= row["hi"], \
            (row["event_type"], row["q"], ex, row["lo"], row["hi"])
        # the bracket is the certified error bound; est lies inside it
        assert row["lo"] <= row["est"] <= row["hi"]
    # one estimate per (cell, q)
    assert not est.duplicated(["event_type", "q"]).any()
