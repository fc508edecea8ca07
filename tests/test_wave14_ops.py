"""Wave-14 operator differentials: ABC classification (vs brute-force
Pareto walk), discount elasticity (vs numpy lstsq), YoY growth (vs
direct recompute), circadian chi2 (vs direct formula), seasonal
anomalies (vs recompute from the decomposition row)."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def test_abc_matches_bruteforce(spark):
    rows = {r["l_partkey"]: r for r in
            WORKLOADS["part_abc_classification"].fn(spark, SF).collect()}
    con = duckdb.connect()
    pr = con.execute(f"""
        SELECT l_partkey, SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
        FROM '{SF}/lineitem.parquet' GROUP BY 1""").fetchall()
    total = sum(v for _, v in pr)
    cum = 0
    want = {}
    for pk, v in sorted(pr, key=lambda t: (-t[1], t[0])):
        cum += v
        cls = "A" if 5 * cum <= 4 * total else \
              ("B" if 20 * cum <= 19 * total else "C")
        want[pk] = (v, cum, cls)
    assert set(rows) == set(want)
    for pk, (v, cum, cls) in want.items():
        r = rows[pk]
        assert (r["revenue_cents"], r["cum_cents"], r["abc_class"]) == \
            (v, cum, cls), pk
    # the three classes are all present and ordered by construction
    assert {r["abc_class"] for r in rows.values()} == {"A", "B", "C"}


def test_discount_elasticity_matches_numpy(spark):
    import numpy as np

    r = WORKLOADS["lineitem_discount_elasticity"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    data = con.execute(f"""
        SELECT CAST(ROUND(l_discount*100) AS BIGINT),
               CAST(l_quantity AS BIGINT)
        FROM '{SF}/lineitem.parquet'
        WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
    """).fetchall()
    x = np.array([d for d, _ in data], dtype=float)
    y = np.array([q for _, q in data], dtype=float)
    A = np.vstack([x, np.ones_like(x)]).T
    (slope, intercept), *_ = np.linalg.lstsq(A, y, rcond=None)
    assert r["n_rows"] == len(data)
    assert r["slope"] == pytest.approx(slope, abs=1e-5)
    assert r["intercept"] == pytest.approx(intercept, abs=1e-5)
    cc = np.corrcoef(x, y)[0, 1]
    assert r["r2"] == pytest.approx(cc * cc, abs=1e-6)


def test_yoy_growth_matches_python(spark):
    rows = {r["month_idx"]: r for r in
            WORKLOADS["orders_yoy_growth"].fn(spark, SF).collect()}
    con = duckdb.connect()
    m = dict()
    cnt = dict()
    for mo, cents in con.execute(f"""
            SELECT year(o_orderdate)*12 + month(o_orderdate) - 1,
                   CAST(ROUND(o_totalprice*100) AS BIGINT)
            FROM '{SF}/orders.parquet'""").fetchall():
        m[mo] = m.get(mo, 0) + cents
        cnt[mo] = cnt.get(mo, 0) + 1
    assert set(rows) == set(m)
    for mo, rev in m.items():
        r = rows[mo]
        assert (r["revenue_cents"], r["n_orders"]) == (rev, cnt[mo])
        if mo - 12 in m:
            assert r["prev_year_cents"] == m[mo - 12]
            assert r["yoy_growth"] == pytest.approx(
                (rev - m[mo - 12]) / m[mo - 12], abs=1e-6)
        else:
            assert r["prev_year_cents"] is None
            assert r["yoy_growth"] is None


def test_circadian_matches_python(spark):
    rows = {r["event_type"]: r for r in
            WORKLOADS["events_circadian_uniformity"].fn(spark, SF)
            .collect()}
    con = duckdb.connect()
    h: dict = {}
    for et, hod, o in con.execute(f"""
            SELECT event_type, EXTRACT(hour FROM ts), COUNT(*)
            FROM '{SF}/events.parquet' GROUP BY 1, 2""").fetchall():
        h.setdefault(et, {})[hod] = o
    assert set(rows) == set(h)
    for et, per in h.items():
        n = sum(per.values())
        e = n / 24
        chi2 = sum((per.get(hod, 0) - e) ** 2 / e for hod in range(24))
        peak = min(per.items(), key=lambda t: (-t[1], t[0]))
        r = rows[et]
        assert r["n"] == n
        assert (r["peak_hour"], r["peak_n"]) == peak
        assert r["chi2_uniform"] == pytest.approx(chi2, abs=1e-4)


def test_seasonal_anomalies_match_base(spark):
    base = WORKLOADS["events_seasonal_decompose"].fn(spark, SF).collect()
    rows = {(r["event_type"], r["hr"]): r for r in
            WORKLOADS["events_seasonal_anomalies"].fn(spark, SF)
            .collect()}
    per: dict = {}
    for b in base:
        per.setdefault(b["event_type"], []).append(b)
    want = {}
    for et, bs in per.items():
        n = len(bs)
        if n < 3:
            continue
        mu = sum(b["resid"] for b in bs) / n
        sd = math.sqrt(sum((b["resid"] - mu) ** 2 for b in bs) / (n - 1))
        for b in bs:
            z = (b["resid"] - mu) / sd
            if abs(z) > 3.0:
                want[(et, b["hr"])] = (b["y"], b["resid"], z)
    assert set(rows) == set(want)
    for k, (y, resid, z) in want.items():
        r = rows[k]
        assert (r["y"], r["resid"]) == (y, resid)
        assert r["z"] == pytest.approx(z, abs=1e-4)
        assert abs(r["z"]) > 3.0
