"""Wave-12 operator differentials: Cochran-Armitage trend (vs direct
formula), decision stump (vs brute-force split search), co-purchase
pairs (vs brute force), language-ID confusion/kappa (vs sklearn-free
recompute), Markov entropy (vs direct recompute), Cliff's delta (vs
O(n^2) pair enumeration at sf0.001)."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def test_trend_test_matches_python(spark):
    r = WORKLOADS["orders_trend_test"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT),
               CASE WHEN EXISTS (SELECT 1 FROM '{SF}/lineitem.parquet' l
                                 WHERE l.l_orderkey = o.o_orderkey
                                   AND l.l_returnflag = 'R')
                    THEN 1 ELSE 0 END
        FROM '{SF}/orders.parquet' o""").fetchall()
    n = len(rows)
    rr = sum(y for _, y in rows)
    sr = sum(s * y for s, y in rows)
    sn = sum(s for s, _ in rows)
    snn = sum(s * s for s, _ in rows)
    z = (n * sr - rr * sn) / math.sqrt(
        rr * (n - rr) * (n * snn - sn * sn) / n)
    assert (r["n_orders"], r["n_returned"]) == (n, rr)
    assert r["z_trend"] == pytest.approx(z, abs=1e-6)


def test_decision_stump_matches_bruteforce(spark):
    r = WORKLOADS["lineitem_decision_stump"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT CAST(l_quantity AS BIGINT),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        FROM '{SF}/lineitem.parquet'
        WHERE l_quantity IS NOT NULL""").fetchall()
    nt = len(rows)
    rt = sum(y for _, y in rows)
    best = None
    for t in sorted({q for q, _ in rows})[:-1]:
        nl = sum(1 for q, _ in rows if q <= t)
        rl = sum(y for q, y in rows if q <= t)
        nr, rr_ = nt - nl, rt - rl
        imp = (2.0 * rl * (nl - rl) / nl / nt
               + 2.0 * rr_ * (nr - rr_) / nr / nt)
        if best is None or (imp, t) < best[:2]:
            best = (imp, t, nl, rl, nr, rr_)
    imp, t, nl, rl, nr, rr_ = best
    assert r["threshold"] == t
    assert (r["n_left"], r["r_left"], r["n_right"], r["r_right"]) == \
        (nl, rl, nr, rr_)
    assert r["gini_split"] == pytest.approx(imp, abs=1e-6)
    root = 2.0 * rt * (nt - rt) / nt / nt
    assert r["gini_root"] == pytest.approx(root, abs=1e-6)
    assert r["gain"] == pytest.approx(root - imp, abs=1e-6)
    assert r["gain"] >= 0  # argmin split can never beat the root upward


def test_copurchase_matches_bruteforce(spark):
    rows = WORKLOADS["part_copurchase_pairs"].fn(spark, SF).collect()
    con = duckdb.connect()
    op = con.execute(f"""
        SELECT DISTINCT l_orderkey, l_partkey
        FROM '{SF}/lineitem.parquet'""").fetchall()
    orders: dict = {}
    for o, p in op:
        orders.setdefault(o, set()).add(p)
    n_orders = len(orders)
    pf: dict = {}
    pairs: dict = {}
    for parts in orders.values():
        for p in parts:
            pf[p] = pf.get(p, 0) + 1
        sp = sorted(parts)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                pairs[(sp[i], sp[j])] = pairs.get((sp[i], sp[j]), 0) + 1
    want = {k: v for k, v in pairs.items() if v >= 3}
    got = {(r["part_a"], r["part_b"]): r for r in rows}
    assert set(got) == set(want)
    for (a, b), r in got.items():
        assert r["nab"] == want[(a, b)]
        assert r["support"] == pytest.approx(want[(a, b)] / n_orders,
                                             abs=1e-6)
        assert r["lift"] == pytest.approx(
            want[(a, b)] * n_orders / (pf[a] * pf[b]), abs=1e-6)


def _confusion(spark):
    from ophidia_io_server_spark.pipeline.text import lang_id_col
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    return [(r["truth"], r["pred"]) for r in
            docs.where(F.col("text").isNotNull())
            .select(F.col("lang").alias("truth"),
                    lang_id_col(F.col("text")).alias("pred")).collect()]


def test_lang_confusion_matches_python(spark):
    rows = {r["class"]: r for r in
            WORKLOADS["doc_lang_confusion"].fn(spark, SF).collect()}
    pl = _confusion(spark)
    classes = {t for t, _ in pl} | {p for _, p in pl}
    assert set(rows) == classes
    for c in classes:
        nt = sum(1 for t, _ in pl if t == c)
        np_ = sum(1 for _, p in pl if p == c)
        tp = sum(1 for t, p in pl if t == p == c)
        r = rows[c]
        assert (r["n_true"], r["n_pred"], r["tp"]) == (nt, np_, tp)
        if np_:
            assert r["precision"] == pytest.approx(tp / np_, abs=1e-6)
        if nt:
            assert r["recall"] == pytest.approx(tp / nt, abs=1e-6)
        assert r["f1"] == pytest.approx(2 * tp / (nt + np_), abs=1e-6)


def test_lang_kappa_matches_python(spark):
    r = WORKLOADS["doc_lang_kappa"].fn(spark, SF).collect()[0]
    pl = _confusion(spark)
    n = len(pl)
    agree = sum(1 for t, p in pl if t == p)
    classes = {t for t, _ in pl} | {p for _, p in pl}
    chance = sum(
        sum(1 for t, _ in pl if t == c) * sum(1 for _, p in pl if p == c)
        for c in classes)
    assert (r["n_docs"], r["n_agree"]) == (n, agree)
    assert r["accuracy"] == pytest.approx(agree / n, abs=1e-6)
    assert r["kappa"] == pytest.approx(
        (n * agree - chance) / (n * n - chance), abs=1e-6)


def test_markov_entropy_matches_python(spark):
    rows = WORKLOADS["events_markov_entropy"].fn(spark, SF).collect()
    con = duckdb.connect()
    seq = con.execute(f"""
        SELECT user_id, event_type FROM '{SF}/events.parquet'
        ORDER BY user_id, ts, event_id""").fetchall()
    cells: dict = {}
    prev_u = prev_e = None
    for u, e in seq:
        if u == prev_u:
            cells[(prev_e, e)] = cells.get((prev_e, e), 0) + 1
        prev_u, prev_e = u, e
    n = sum(cells.values())
    na: dict = {}
    for (a, _), c in cells.items():
        na[a] = na.get(a, 0) + c
    h_cond = -sum(c / n * math.log(c / na[a])
                  for (a, _), c in cells.items())
    h_marg = -sum(v / n * math.log(v / n) for v in na.values())
    # r13: the hashed projection IS the exact cell table
    got = {(r["a"], r["b"]): r for r in rows}
    assert set(got) == set(cells)
    for (a, b), c in cells.items():
        r = got[(a, b)]
        assert (r["nab"], r["na"], r["n"]) == (c, na[a], n), (a, b)
    # the ln() readout is a library function of the hashed integers
    from ophidia_io_server_spark.workloads.analytics import (
        markov_entropy_readout,
    )
    hc, hm = markov_entropy_readout(
        [(r["a"], r["b"], r["nab"], r["na"], r["n"]) for r in rows])
    assert hc == pytest.approx(h_cond, abs=1e-12)
    assert hm == pytest.approx(h_marg, abs=1e-12)
    # conditioning can only reduce entropy
    assert hc <= hm + 1e-9


def test_cliffs_delta_matches_bruteforce(spark):
    r = WORKLOADS["events_cliffs_delta"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT event_type, CAST(ROUND(value*100) AS BIGINT)
        FROM '{SF}/events.parquet'
        WHERE event_type IN ('purchase','click')
          AND value IS NOT NULL AND NOT isnan(value)""").fetchall()
    xs = [v for t, v in rows if t == "purchase"]
    ys = [v for t, v in rows if t == "click"]
    ys_sorted = sorted(ys)
    import bisect

    gt = sum(bisect.bisect_left(ys_sorted, x) for x in xs)
    lt = sum(len(ys) - bisect.bisect_right(ys_sorted, x) for x in xs)
    assert (r["na"], r["nb"]) == (len(xs), len(ys))
    assert r["cliffs_delta"] == pytest.approx(
        (gt - lt) / (len(xs) * len(ys)), abs=1e-6)
    assert -1 <= r["cliffs_delta"] <= 1
