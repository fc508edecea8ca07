"""Wave-15 operator differentials: Dunning keyness (vs direct G2),
windowed funnel (vs brute-force per-user walk), exponential reorder
fit (vs direct MLE + KS recompute)."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def test_keyness_matches_python(spark):
    rows = WORKLOADS["token_keyness_loglr"].fn(spark, SF).collect()
    con = duckdb.connect()
    counts: dict = {}
    for src, tk in con.execute(f"""
            SELECT source, list_filter(string_split(text,' '),
                                       x -> x <> '')
            FROM '{SF}/documents.parquet'
            WHERE text IS NOT NULL""").fetchall():
        for t in tk:
            a, b = counts.get(t, (0, 0))
            counts[t] = (a + 1, b) if src == "src0" else (a, b + 1)
    na = sum(a for a, _ in counts.values())
    nb = sum(b for _, b in counts.values())

    def g2(a, b):
        v = 0.0
        if a:
            v += a * math.log(a * (na + nb) / (na * (a + b)))
        if b:
            v += b * math.log(b * (na + nb) / (nb * (a + b)))
        return 2 * v

    cand = sorted(
        ((g2(a, b), t, a, b) for t, (a, b) in counts.items()
         if a + b >= 20),
        key=lambda x: (-x[0], x[1]))[:20]
    assert [(r["token"], r["count_target"], r["count_reference"])
            for r in rows] == [(t, a, b) for _, t, a, b in cand]
    for r, (g, t, a, b) in zip(rows, cand):
        assert r["g2"] == pytest.approx(g, abs=1e-5), t
        assert r["keyness_sign"] == (1 if a * nb > b * na else -1)


def test_funnel_windowed_matches_bruteforce(spark):
    r = WORKLOADS["events_funnel_windowed"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT user_id, event_type, ts FROM '{SF}/events.parquet'
        ORDER BY user_id, ts""").fetchall()
    per: dict = {}
    for u, et, ts in rows:
        per.setdefault(u, []).append((ts, et))
    DAY = 86400
    nv = nc = np_ = 0
    for u, evs in per.items():
        vt = min((ts for ts, et in evs if et == "view"), default=None)
        if vt is None:
            continue
        nv += 1
        ct = min((ts for ts, et in evs if et == "click" and ts > vt
                  and (ts - vt).total_seconds() <= DAY), default=None)
        if ct is None:
            continue
        nc += 1
        pt = min((ts for ts, et in evs if et == "purchase" and ts > ct
                  and (ts - ct).total_seconds() <= DAY), default=None)
        if pt is not None:
            np_ += 1
    assert (r["n_users"], r["n_view"], r["n_click_24h"],
            r["n_purchase_24h"]) == (len(per), nv, nc, np_)
    assert r["view_to_click"] == pytest.approx(nc / nv, abs=1e-6)
    assert r["click_to_purchase"] == pytest.approx(np_ / nc, abs=1e-6)
    # ordered-deadline funnel can never beat the unordered one
    base = WORKLOADS["events_funnel"].fn(spark, SF).collect()[0]
    assert r["n_click_24h"] <= base["n_click"]
    assert r["n_purchase_24h"] <= base["n_purchase"]


def test_reorder_exponential_matches_python(spark):
    r = WORKLOADS["orders_reorder_exponential"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT o_custkey, epoch_us(o_orderdate)//86400000000, o_orderkey
        FROM '{SF}/orders.parquet'
        ORDER BY o_custkey, 2, o_orderkey""").fetchall()
    per: dict = {}
    for ck, d, _ in rows:
        per.setdefault(ck, []).append(d)
    gaps = [b - a for ds in per.values() for a, b in zip(ds, ds[1:])
            if b > a]
    n, s = len(gaps), sum(gaps)
    lam = n / s
    from collections import Counter

    vc = Counter(gaps)
    cum = 0
    ks = 0.0
    for gap in sorted(vc):
        lo = cum / n
        cum += vc[gap]
        hi = cum / n
        fe = 1 - math.exp(-lam * gap)
        ks = max(ks, abs(hi - fe), abs(lo - fe))
    assert r["n_gaps"] == n
    assert r["lambda_per_day"] == pytest.approx(lam, abs=1e-6)
    assert r["ks_stat"] == pytest.approx(ks, abs=1e-6)
    assert 0 <= r["ks_stat"] <= 1
