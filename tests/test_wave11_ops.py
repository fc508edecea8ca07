"""Wave-11 operator differentials: Kruskal-Wallis H (vs scipy-free exact
midrank computation), mutual information / NMI (vs direct Python
contingency recompute), and the later wave-11 arms as they land."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def test_kruskal_wallis_matches_python(spark):
    r = WORKLOADS["lineitem_kruskal_wallis"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT l_returnflag, CAST(l_quantity AS BIGINT)
        FROM '{SF}/lineitem.parquet'
        WHERE l_quantity IS NOT NULL
          AND l_returnflag IN ('A','N','R')""").fetchall()
    grp: dict = {}
    for g, q in rows:
        grp.setdefault(g, []).append(q)
    # exact midranks over the pooled sample
    pooled = sorted(q for v in grp.values() for q in v)
    n = len(pooled)
    midrank: dict = {}
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j] == pooled[i]:
            j += 1
        # ranks i+1 .. j, midrank = (i+1 + j) / 2
        midrank[pooled[i]] = (i + 1 + j) / 2
        i = j
    ranksum = {g: sum(midrank[q] for q in v) for g, v in grp.items()}
    h = (12 / (n * (n + 1))
         * sum(ranksum[g] ** 2 / len(grp[g]) for g in grp)
         - 3 * (n + 1))
    # tie correction
    from collections import Counter

    ties = Counter(pooled)
    c = 1 - sum(t ** 3 - t for t in ties.values()) / (n ** 3 - n)
    h /= c
    assert (r["na"], r["nn"], r["nr"]) == (
        len(grp["A"]), len(grp["N"]), len(grp["R"]))
    assert r["h_stat"] == pytest.approx(h, rel=1e-6)


def test_mutual_info_matches_python(spark):
    r = WORKLOADS["orders_lineitem_mutual_info"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    cells = con.execute(f"""
        SELECT o.o_orderpriority, l.l_returnflag, COUNT(*)
        FROM '{SF}/orders.parquet' o
        JOIN '{SF}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2""").fetchall()
    n = sum(c for _, _, c in cells)
    ni: dict = {}
    nj: dict = {}
    for p, rf, c in cells:
        ni[p] = ni.get(p, 0) + c
        nj[rf] = nj.get(rf, 0) + c
    mi = sum(c / n * math.log(c * n / (ni[p] * nj[rf]))
             for p, rf, c in cells)
    hp = -sum(v / n * math.log(v / n) for v in ni.values())
    hr = -sum(v / n * math.log(v / n) for v in nj.values())
    assert r["n_pairs"] == n
    assert r["mi_nats"] == pytest.approx(mi, abs=1e-6)
    assert r["nmi"] == pytest.approx(mi / math.sqrt(hp * hr), abs=1e-6)
    # MI of a real dependence structure is non-negative
    assert r["mi_nats"] >= 0


def test_logrank_matches_python(spark):
    r = WORKLOADS["events_logrank_test"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH w AS (SELECT min(ts) + INTERVAL 96 HOUR AS wend
                   FROM '{SF}/events.parquet'),
        e AS (SELECT * FROM '{SF}/events.parquet'
              WHERE ts < (SELECT wend FROM w))
        SELECT user_id % 2,
               (epoch_us(coalesce(
                    min(CASE WHEN event_type='purchase' THEN ts END),
                    max(ts)))
                - epoch_us(min(ts))) // 3600000000,
               CASE WHEN min(CASE WHEN event_type='purchase' THEN ts END)
                    IS NULL THEN 1 ELSE 0 END
        FROM e GROUP BY user_id""").fetchall()
    # per duration: (d0, c0, d1, c1)
    tab: dict = {}
    for g, dur, cens in rows:
        t = tab.setdefault(dur, [0, 0, 0, 0])
        t[2 * g + cens] += 1
    n0 = sum(d + c for d, c, _, _ in tab.values())
    n1 = sum(d + c for _, _, d, c in tab.values())
    at0, at1 = n0, n1
    o1 = e1 = v = 0.0
    for dur in sorted(tab):
        d0, c0, d1, c1 = tab[dur]
        d, nt = d0 + d1, at0 + at1
        if d > 0:
            o1 += d1
            e1 += d * at1 / nt
            if nt > 1:
                v += d * (at1 / nt) * (1 - at1 / nt) * (nt - d) / (nt - 1)
        at0 -= d0 + c0
        at1 -= d1 + c1
    assert (r["n_g0"], r["n_g1"]) == (n0, n1)
    assert r["o1"] == int(o1)
    assert r["e1"] == pytest.approx(e1, abs=1e-6)
    assert r["z_lr"] == pytest.approx((o1 - e1) / math.sqrt(v), abs=1e-6)


def test_crosscorr_matches_python(spark):
    out = {r["lag"]: r.asDict() for r in
           WORKLOADS["events_crosscorr_leadlag"].fn(spark, SF).collect()}
    con = duckdb.connect()

    def series(et):
        return dict(con.execute(f"""
            SELECT epoch_us(ts) // 3600000000, COUNT(*)
            FROM '{SF}/events.parquet'
            WHERE event_type = '{et}' GROUP BY 1""").fetchall())

    c, p = series("click"), series("purchase")
    assert set(out) == set(range(-3, 4))
    for k in range(-3, 4):
        pairs = [(x, p[h + k]) for h, x in c.items() if h + k in p]
        n = len(pairs)
        assert out[k]["n_pairs"] == n
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        vx = n * sum(x * x for x, _ in pairs) - sx * sx
        vy = n * sum(y * y for _, y in pairs) - sy * sy
        num = n * sum(x * y for x, y in pairs) - sx * sy
        if n >= 2 and vx > 0 and vy > 0:
            assert out[k]["xcorr"] == pytest.approx(
                num / math.sqrt(vx * vy), abs=1e-6), k
        else:
            assert out[k]["xcorr"] is None
    # lag 0 on overlapping hourly loads should correlate positively
    if out[0]["xcorr"] is not None:
        assert out[0]["xcorr"] > 0


def test_mcnemar_matches_python(spark):
    r = WORKLOADS["events_mcnemar_test"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    lo, hi = con.execute(f"""
        SELECT epoch_us(min(ts)), epoch_us(max(ts))
        FROM '{SF}/events.parquet'""").fetchone()
    mid = (lo + hi) // 2
    rows = con.execute(f"""
        SELECT user_id,
               max(CASE WHEN event_type='purchase'
                   AND CAST(ROUND(value*100) AS BIGINT) >= 20000
                   AND epoch_us(ts) < {mid} THEN 1 ELSE 0 END),
               max(CASE WHEN event_type='purchase'
                   AND CAST(ROUND(value*100) AS BIGINT) >= 20000
                   AND epoch_us(ts) >= {mid} THEN 1 ELSE 0 END)
        FROM '{SF}/events.parquet' GROUP BY 1""").fetchall()
    b = sum(1 for _, h1, h2 in rows if h1 == 1 and h2 == 0)
    c = sum(1 for _, h1, h2 in rows if h1 == 0 and h2 == 1)
    assert r["n_users"] == len(rows)
    assert (r["b_yes_no"], r["c_no_yes"]) == (b, c)
    if b + c:
        assert r["chi2"] == pytest.approx((b - c) ** 2 / (b + c), abs=1e-6)
        assert r["chi2_cc"] == pytest.approx(
            (abs(b - c) - 1) ** 2 / (b + c), abs=1e-6)


def test_hits_matches_python(spark):
    rows = WORKLOADS["token_hits_scores"].fn(spark, SF).collect()
    con = duckdb.connect()
    edges = con.execute(f"""
        WITH toks AS (SELECT list_filter(string_split(text,' '),
                                         x -> x <> '') AS tk
                      FROM '{SF}/documents.parquet'
                      WHERE text IS NOT NULL),
        tt AS (SELECT tk, len(tk) AS n FROM toks WHERE len(tk) >= 2),
        pr AS (SELECT tk[i] AS u, tk[i+1] AS v
               FROM (SELECT tk, n, unnest(range(1, n)) AS i FROM tt))
        SELECT u, v FROM pr WHERE u <> v
        GROUP BY u, v HAVING COUNT(*) >= 5""").fetchall()
    a1: dict = {}
    out_nb: dict = {}
    for u, v in edges:
        a1[v] = a1.get(v, 0) + 1
        out_nb.setdefault(u, []).append(v)
    h1 = {u: sum(a1[v] for v in vs if v in a1)
          for u, vs in out_nb.items()}
    a2: dict = {}
    for u, v in edges:
        if u in h1:
            a2[v] = a2.get(v, 0) + h1[u]
    want = sorted(a2.items(), key=lambda t: (-t[1], t[0]))[:20]
    got = sorted(rows, key=lambda r: r["rnk"])
    assert [(r["token"], r["auth"]) for r in got] == want
    for r in got:
        assert r["hub"] == h1.get(r["token"], 0)


def test_zipf_matches_python(spark):
    r = WORKLOADS["doc_zipf_fit"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    freq = con.execute(f"""
        WITH toks AS (SELECT list_filter(string_split(text,' '),
                                         x -> x <> '') AS tk
                      FROM '{SF}/documents.parquet'
                      WHERE text IS NOT NULL)
        SELECT t, COUNT(*) FROM (SELECT unnest(tk) AS t FROM toks)
        GROUP BY 1""").fetchall()
    top = sorted(freq, key=lambda t: (-t[1], t[0]))[:1000]
    n = len(top)
    pts = [(math.log(i + 1), math.log(c)) for i, (_, c) in enumerate(top)]
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["n_tokens"] == n
    assert r["slope"] == pytest.approx(slope, abs=1e-5)
    assert r["intercept"] == pytest.approx((sy - slope * sx) / n, abs=1e-5)
    assert r["r2"] == pytest.approx(
        (n * sxy - sx * sy) ** 2
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), abs=1e-5)
    # a natural-ish corpus: slope negative, fit reasonably tight
    assert r["slope"] < 0
    assert 0 <= r["r2"] <= 1
