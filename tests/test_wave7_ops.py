"""Wave-7 operator guards: plan shapes (distributed rank for RFM, single
fused scan for OLS, no cartesian in the token-keyed joins) + independent
Python/numpy differentials for the statistics (Kendall tau-b, Kaplan-Meier,
the OLS solve)."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = WORKLOADS[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"))


def test_rfm_uses_distributed_rank_not_global_window(spark):
    """Quintile scores must come from the two-phase range-partition rank:
    a bare Window.orderBy/ntile would be a single-task sort over every
    customer at 100 TB."""
    import re

    p = _plan(spark, "orders_rfm_segments")
    assert "ntile" not in p
    # the two-phase rank pins (localCheckpoint) after its per-partition
    # window, so the consumer plan reads the pinned RDD; any window that
    # DOES appear must be keyed on the range-partition id
    assert "Scan ExistingRDD" in p
    for m in re.finditer(r"windowspecdefinition\((\w+)#", p):
        assert m.group(1) == "_pid", m.group(0)


def test_ols_single_fused_scan(spark):
    """The ten moment sums must ride ONE aggregate over ONE lineitem scan
    (partial+final) — a per-sum scan would be 10x the IO."""
    p = _plan(spark, "lineitem_ols_regression")
    assert p.count("FileScan parquet") == 1
    assert "SinglePartition" in p  # the single-row final aggregate only


def test_divergence_and_linkpred_no_cartesian(spark):
    for name in ("source_divergence_matrix", "token_link_prediction"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name


def test_kendall_tau_matches_bruteforce(spark):
    out = WORKLOADS["events_kendall_tau"].fn(spark, SF).collect()
    assert len(out) == 1
    r = out[0].asDict()
    con = duckdb.connect()
    s = con.execute(f"""
        SELECT date_trunc('hour', ts) AS hr,
               SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS y
        FROM '{SF}/events.parquet'
        WHERE event_type IN ('click','view') GROUP BY 1
        HAVING x > 0 AND y > 0 ORDER BY hr""").fetchall()
    n = len(s)
    nc = nd = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = s[i][1] - s[j][1]
            dy = s[i][2] - s[j][2]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                nc += 1
            elif dx * dy < 0:
                nd += 1
    assert (r["n"], r["nc"], r["nd"], r["ties_x"], r["ties_y"]) == \
        (n, nc, nd, tx, ty)
    n0 = n * (n - 1) // 2
    tau = (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty))
    assert r["tau_b"] == pytest.approx(tau, abs=1e-6)


def test_kaplan_meier_matches_python(spark):
    out = {r["dur_h"]: r.asDict()
           for r in WORKLOADS["events_kaplan_meier"].fn(spark, SF).collect()}
    con = duckdb.connect()
    subj = con.execute(f"""
        WITH w AS (SELECT min(ts) + INTERVAL 96 HOUR AS wend
                   FROM '{SF}/events.parquet'),
        e AS (SELECT * FROM '{SF}/events.parquet'
              WHERE ts < (SELECT wend FROM w)),
        pu AS (SELECT user_id, min(ts) AS t0, max(ts) AS tl,
                      min(CASE WHEN event_type='purchase' THEN ts END) AS tp
               FROM e GROUP BY 1)
        SELECT (epoch_us(coalesce(tp, tl)) - epoch_us(t0)) // 3600000000,
               CASE WHEN tp IS NULL THEN 1 ELSE 0 END
        FROM pu""").fetchall()
    durs = sorted({d for d, _ in subj})
    surv = 1.0
    seen = set()
    for t in durs:
        n_risk = sum(1 for d, _ in subj if d >= t)
        d_t = sum(1 for d, c in subj if d == t and c == 0)
        c_t = sum(1 for d, c in subj if d == t and c == 1)
        if d_t == 0:
            continue
        surv *= 1.0 - d_t / n_risk
        seen.add(t)
        row = out[t]
        assert (row["n_risk"], row["d"], row["c"]) == (n_risk, d_t, c_t), t
        assert row["survival"] == pytest.approx(surv, abs=1e-6), t
    assert set(out) == seen  # exactly the event times, nothing else


def test_ols_matches_numpy_lstsq(spark):
    r = WORKLOADS["lineitem_ols_regression"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT CAST(l_quantity AS BIGINT),
               CAST(ROUND(l_discount * 100) AS BIGINT),
               CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        FROM '{SF}/lineitem.parquet'
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
          AND l_extendedprice IS NOT NULL""").fetchall()
    a = np.array(rows, dtype=np.float64)
    X = np.column_stack([np.ones(len(a)), a[:, 0], a[:, 1]])
    y = a[:, 2]
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    r2 = 1.0 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert r["n_rows"] == len(a)
    # closed-form Cramer vs numpy QR agree to float noise, not bitwise
    assert r["beta0"] == pytest.approx(beta[0], rel=1e-6, abs=1e-4)
    assert r["beta1"] == pytest.approx(beta[1], rel=1e-6, abs=1e-4)
    assert r["beta2"] == pytest.approx(beta[2], rel=1e-6, abs=1e-4)
    assert r["r2"] == pytest.approx(r2, abs=1e-6)


def test_link_prediction_scores_consistent(spark):
    """Every output pair must be NON-adjacent, have cn >= 1, and satisfy
    the exact RA identity sum(1e12 // deg_z) over its common neighbors."""
    rows = WORKLOADS["token_link_prediction"].fn(spark, SF).collect()
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    e = (cooccurrence_counts(docs, window=2)
         .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb"))))
    edges = {(r["wa"], r["wb"]) for r in e.collect()}
    nbr: dict[str, set] = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    for r in rows:
        a, b = r["node_a"], r["node_b"]
        assert (a, b) not in edges and (b, a) not in edges
        common = nbr[a] & nbr[b]
        assert r["cn"] == len(common) >= 1
        assert r["deg_a"] == len(nbr[a]) and r["deg_b"] == len(nbr[b])
        assert r["ra_scaled"] == sum(10 ** 12 // len(nbr[z]) for z in common)


# -- wave 8 ------------------------------------------------------------------


def test_pettitt_matches_bruteforce(spark):
    out = {r["event_type"]: r.asDict() for r in
           WORKLOADS["events_pettitt_changepoint"].fn(spark, SF).collect()}
    con = duckdb.connect()
    series = con.execute(f"""
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS y
        FROM '{SF}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    by_type: dict = {}
    for et, hr, y in series:
        by_type.setdefault(et, []).append((hr, y))
    for et, s in by_type.items():
        n = len(s)
        best = None
        for t in range(n - 1):  # interior splits only
            u = sum((s[i][1] > s[j][1]) - (s[i][1] < s[j][1])
                    for i in range(t + 1) for j in range(t + 1, n))
            k = (abs(u), s[t][0])
            if best is None or abs(u) > best[0]:
                best = k
        r = out[et]
        assert (r["u_abs"], str(r["cp_hr"])) == (best[0], str(best[1])), et
        assert r["n"] == n
        # r13: the hashed row carries the exact rational exponent; the
        # exp() significance readout is asserted from those integers
        assert r["stat_num"] == 6 * best[0] ** 2, et
        assert r["stat_den"] == n ** 3 + n ** 2, et
        p = 2 * math.exp(-6.0 * best[0] ** 2 / (n ** 3 + n ** 2))
        assert 2 * math.exp(-r["stat_num"] / r["stat_den"]) == \
            pytest.approx(p, abs=1e-12), et


def test_market_concentration_matches_numpy(spark):
    r = WORKLOADS["orders_market_concentration"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    m = np.array([x[0] for x in con.execute(f"""
        SELECT SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
        FROM '{SF}/orders.parquet' GROUP BY o_custkey""").fetchall()],
        dtype=np.int64)
    t = int(m.sum())
    hhi = float((m.astype(object) ** 2).sum()) / t / t
    n = len(m)
    assert r["n_customers"] == n and r["total_cents"] == t
    assert r["top4_cents"] == int(np.sort(m)[-4:].sum())
    assert r["hhi"] == pytest.approx(hhi, abs=1e-6)
    assert r["hhi_norm"] == pytest.approx((hhi - 1 / n) / (1 - 1 / n),
                                          abs=1e-6)
    assert r["cr4"] == pytest.approx(int(np.sort(m)[-4:].sum()) / t,
                                     abs=1e-6)


def test_heaps_law_monotone_and_endpoint(spark):
    rows = {r["decile"]: r.asDict()
            for r in WORKLOADS["doc_heaps_law"].fn(spark, SF).collect()}
    assert set(rows) == set(range(1, 11))
    for k in range(2, 11):
        assert rows[k]["vocab"] >= rows[k - 1]["vocab"]
        assert rows[k]["n_tokens"] >= rows[k - 1]["n_tokens"]
        assert rows[k]["n_docs"] >= rows[k - 1]["n_docs"]
    con = duckdb.connect()
    nd, vocab, ntok = con.execute(f"""
        SELECT COUNT(*),
               (SELECT COUNT(DISTINCT t) FROM (
                  SELECT unnest(list_filter(string_split(text,' '),
                                            w -> w <> '')) AS t
                  FROM '{SF}/documents.parquet' WHERE text IS NOT NULL)),
               (SELECT COUNT(*) FROM (
                  SELECT unnest(list_filter(string_split(text,' '),
                                            w -> w <> '')) AS t
                  FROM '{SF}/documents.parquet' WHERE text IS NOT NULL))
        FROM '{SF}/documents.parquet'""").fetchone()
    assert rows[10]["n_docs"] == nd
    assert rows[10]["vocab"] == vocab
    assert rows[10]["n_tokens"] == ntok


def test_source_diversity_matches_python(spark):
    rows = {r["source"]: r.asDict()
            for r in WORKLOADS["source_diversity"].fn(spark, SF).collect()}
    con = duckdb.connect()
    cnts = con.execute(f"""
        SELECT source, t, COUNT(*) FROM (
          SELECT source, unnest(list_filter(string_split(text,' '),
                                            w -> w <> '')) AS t
          FROM '{SF}/documents.parquet' WHERE text IS NOT NULL)
        GROUP BY 1, 2""").fetchall()
    per: dict = {}
    for s, _, c in cnts:
        per.setdefault(s, []).append(c)
    assert set(rows) == set(per)
    for s, cs in per.items():
        n = sum(cs)
        r = rows[s]
        assert r["n_tokens"] == n and r["vocab"] == len(cs)
        assert r["hapax"] == sum(1 for c in cs if c == 1)
        gs = 1.0 - sum(c * (c - 1) for c in cs) / (n * (n - 1))
        assert r["gini_simpson"] == pytest.approx(gs, abs=1e-6), s


# -- wave 9 ------------------------------------------------------------------


def test_burstiness_matches_python(spark):
    out = {r["user_id"]: r.asDict() for r in
           WORKLOADS["events_burstiness_memory"].fn(spark, SF).collect()}
    con = duckdb.connect()
    evs = con.execute(f"""
        SELECT user_id, epoch_us(ts) FROM '{SF}/events.parquet'
        ORDER BY user_id, ts, event_id""").fetchall()
    per: dict = {}
    for u, t in evs:
        per.setdefault(u, []).append(t)
    expect = {}
    for u, ts in per.items():
        d = [b - a for a, b in zip(ts, ts[1:])]
        n = len(d)
        if n < 3:
            continue
        a1, a2 = d[:-1], d[1:]
        v1 = (n - 1) * sum(x * x for x in a1) - sum(a1) ** 2
        v2 = (n - 1) * sum(x * x for x in a2) - sum(a2) ** 2
        if v1 <= 0 or v2 <= 0:
            continue
        mu = sum(d) / n
        sig = math.sqrt(sum(x * x for x in d) / n - mu * mu)
        m1, m2 = sum(a1) / (n - 1), sum(a2) / (n - 1)
        s1 = math.sqrt(sum(x * x for x in a1) / (n - 1) - m1 * m1)
        s2 = math.sqrt(sum(x * x for x in a2) / (n - 1) - m2 * m2)
        mc = (sum(x * y for x, y in zip(a1, a2)) / (n - 1) - m1 * m2) \
            / (s1 * s2)
        expect[u] = (n, (sig - mu) / (sig + mu), mc)
    assert set(out) == set(expect)
    for u, (n, b, m) in expect.items():
        assert out[u]["n"] == n
        assert out[u]["burstiness"] == pytest.approx(b, abs=1e-6), u
        assert out[u]["memory_coef"] == pytest.approx(m, abs=1e-6), u


def test_runs_test_matches_python(spark):
    out = {r["event_type"]: r.asDict() for r in
           WORKLOADS["events_runs_test"].fn(spark, SF).collect()}
    con = duckdb.connect()
    series = con.execute(f"""
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS y
        FROM '{SF}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    per: dict = {}
    for et, hr, y in series:
        per.setdefault(et, []).append(y)
    seen = set()
    for et, ys in per.items():
        med = sorted(ys)[(len(ys) + 1) // 2 - 1]  # lower median
        s = [1 if y > med else -1 for y in ys if y != med]
        n1 = s.count(1)
        n2 = s.count(-1)
        if n1 < 1 or n2 < 1 or 2 * n1 * n2 <= n1 + n2:
            assert et not in out  # degenerate dichotomy excluded
            continue
        seen.add(et)
        runs = 1 + sum(1 for a, b in zip(s, s[1:]) if a != b)
        r = out[et]
        assert (r["n1"], r["n2"], r["r_runs"]) == (n1, n2, runs), et
        mu = 2 * n1 * n2 / (n1 + n2) + 1
        var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
               / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
        assert r["z"] == pytest.approx((runs - mu) / math.sqrt(var),
                                       abs=1e-6), et
    assert set(out) == seen


def test_holt_linear_matches_python(spark):
    rows = WORKLOADS["events_holt_linear"].fn(spark, SF).collect()
    per: dict = {}
    for r in sorted(rows, key=lambda r: (r["event_type"], r["hr"])):
        per.setdefault(r["event_type"], []).append(r)
    for et, rs in per.items():
        lvl, tr = float(rs[0]["y"]), 0.0
        for i, r in enumerate(rs):
            if i > 0:
                new = (r["y"] + lvl + tr) / 2
                tr = (new - lvl) / 2 + tr / 2
                lvl = new
            assert r["level"] == pytest.approx(lvl, abs=1e-6), (et, i)
            assert r["trend"] == pytest.approx(tr, abs=1e-6), (et, i)
            assert r["forecast_next"] == pytest.approx(lvl + tr,
                                                       abs=1e-6), (et, i)


def test_anova_matches_python(spark):
    r = WORKLOADS["lineitem_anova_f"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    grp = dict()
    for g, in con.execute(
            f"SELECT DISTINCT l_returnflag FROM '{SF}/lineitem.parquet'"
    ).fetchall():
        grp[g] = [x[0] for x in con.execute(f"""
            SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT)
            FROM '{SF}/lineitem.parquet'
            WHERE l_returnflag = '{g}'
              AND l_extendedprice IS NOT NULL""").fetchall()]
    k = 3
    ns = {g: len(v) for g, v in grp.items()}
    sums = {g: sum(v) for g, v in grp.items()}
    ntot = sum(ns.values())
    q = sum(x * x for v in grp.values() for x in v)
    gterm = sum(sums[g] ** 2 / ns[g] for g in grp)
    ssb = gterm - sum(sums.values()) ** 2 / ntot
    ssw = q - gterm
    f = (ssb / (k - 1)) / (ssw / (ntot - k))
    assert (r["na"], r["nn"], r["nr"]) == (ns["A"], ns["N"], ns["R"])
    assert r["f_stat"] == pytest.approx(f, rel=1e-6)


def test_bfs_matches_python(spark):
    rows = {r["node"]: r["dist"] for r in
            WORKLOADS["token_bfs_distances"].fn(spark, SF).collect()}
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    e = (cooccurrence_counts(docs, window=2)
         .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb"))))
    nbr: dict = {}
    for r in e.collect():
        nbr.setdefault(r["wa"], set()).add(r["wb"])
        nbr.setdefault(r["wb"], set()).add(r["wa"])
    if "data" not in nbr:
        assert rows == {}
        return
    dist = {"data": 0}
    frontier = {"data"}
    for k in range(1, 4):
        frontier = {v for u in frontier for v in nbr[u]} - set(dist)
        for v in frontier:
            dist[v] = k
    assert rows == dist


def test_theil_sen_matches_python(spark):
    out = {r["event_type"]: r.asDict() for r in
           WORKLOADS["events_theil_sen"].fn(spark, SF).collect()}
    con = duckdb.connect()
    series = con.execute(f"""
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS y
        FROM '{SF}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    per: dict = {}
    for et, hr, y in series:
        per.setdefault(et, []).append(y)
    for et, ys in per.items():
        n = len(ys)
        slopes = sorted(
            ((ys[j] - ys[i]) / (j - i), i + 1, j + 1)
            for i in range(n) for j in range(i + 1, n))
        m = len(slopes)
        slope = slopes[(m + 1) // 2 - 1][0]
        b0s = sorted((ys[i] - slope * (i + 1), i + 1) for i in range(n))
        b0 = b0s[(n + 1) // 2 - 1][0]
        r = out[et]
        assert r["n_pairs"] == m, et
        assert r["slope"] == pytest.approx(slope, abs=1e-6), et
        assert r["intercept"] == pytest.approx(b0, abs=1e-6), et


def test_brown_forsythe_matches_python(spark):
    r = WORKLOADS["lineitem_brown_forsythe"].fn(spark, SF).collect()[0]
    con = duckdb.connect()
    grp: dict = {}
    for g, y in con.execute(f"""
            SELECT l_returnflag, CAST(ROUND(l_extendedprice*100) AS BIGINT)
            FROM '{SF}/lineitem.parquet'
            WHERE l_extendedprice IS NOT NULL""").fetchall():
        grp.setdefault(g, []).append(y)
    devs = {}
    for g, ys in grp.items():
        med = sorted(ys)[(len(ys) + 1) // 2 - 1]  # lower median
        devs[g] = [abs(y - med) for y in ys]
    ns = {g: len(v) for g, v in devs.items()}
    sums = {g: sum(v) for g, v in devs.items()}
    ntot = sum(ns.values())
    q = sum(z * z for v in devs.values() for z in v)
    gterm = sum(sums[g] ** 2 / ns[g] for g in devs)
    ssb = gterm - sum(sums.values()) ** 2 / ntot
    ssw = q - gterm
    w = (ssb / 2) / (ssw / (ntot - 3))
    assert (r["na"], r["nn"], r["nr"]) == (ns["A"], ns["N"], ns["R"])
    assert r["w_stat"] == pytest.approx(w, rel=1e-6)
    assert r["mad_a"] == pytest.approx(sums["A"] / ns["A"] / 100, abs=1e-6)


def test_assortativity_matches_python(spark):
    r = WORKLOADS["token_graph_assortativity"].fn(spark, SF).collect()[0]
    from ophidia_io_server_spark.pipeline.text import cooccurrence_counts
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    e = (cooccurrence_counts(docs, window=2)
         .where((F.col("c12") >= 5) & (F.col("wa") != F.col("wb"))))
    edges = [(x["wa"], x["wb"]) for x in e.collect()]
    deg: dict = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    m = len(xs)
    sx, qx = sum(xs), sum(x * x for x in xs)
    pxy = sum(x * y for x, y in zip(xs, ys))
    rr = (m * pxy - sx * sx) / (m * qx - sx * sx)
    assert r["m"] == m
    assert r["assortativity"] == pytest.approx(rr, abs=1e-6)


def test_duplicate_payments_blocking_plan_and_bruteforce(spark):
    p = _plan(spark, "orders_duplicate_payments")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p  # equi-key blocking held
    rows = {(r["order_a"], r["order_b"]): r.asDict() for r in
            WORKLOADS["orders_duplicate_payments"].fn(spark, SF).collect()}
    con = duckdb.connect()
    orders = con.execute(f"""
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice*100) AS BIGINT),
               epoch_us(o_orderdate)//86400000000
        FROM '{SF}/orders.parquet'""").fetchall()
    expect = {}
    for i, (ka, ca, xa, da) in enumerate(orders):
        for kb, cb, xb, db in orders[i + 1:]:
            if ca != cb:
                continue
            lo, hi = (ka, kb) if ka < kb else (kb, ka)
            if abs(da - db) <= 7 and 100 * abs(xa - xb) <= 5 * min(xa, xb):
                expect[(lo, hi)] = True
    assert set(rows) == set(expect)
