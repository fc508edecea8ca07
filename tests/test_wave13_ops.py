"""Wave-13 operator differentials: Nelson-Aalen (vs direct recompute +
KM cross-check), dispersion index (vs brute-force doc-term matrix),
8-gram contamination (vs brute force), embedding outliers (vs numpy),
cohort LTV (vs direct recompute)."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def test_nelson_aalen_matches_python_and_km(spark):
    rows = {r["dur_h"]: r for r in
            WORKLOADS["events_nelson_aalen"].fn(spark, SF).collect()}
    km = {r["dur_h"]: r for r in
          WORKLOADS["events_kaplan_meier"].fn(spark, SF).collect()}
    # same event-time grid and risk sets as the KM row
    assert set(rows) == set(km)
    h = v = 0.0
    for dur in sorted(rows):
        r = rows[dur]
        assert (r["n_risk"], r["d"], r["c"]) == \
            (km[dur]["n_risk"], km[dur]["d"], km[dur]["c"])
        h += r["d"] / r["n_risk"]
        v += r["d"] / (r["n_risk"] * r["n_risk"])
        assert r["cum_hazard"] == pytest.approx(h, abs=1e-6)
        assert r["hazard_var"] == pytest.approx(v, abs=1e-6)
        # exp(-H) >= KM survival (Jensen; equality only for tiny d/n)
        assert math.exp(-r["cum_hazard"]) >= km[dur]["survival"] - 1e-9


def test_dispersion_matches_bruteforce(spark):
    rows = WORKLOADS["token_dispersion_index"].fn(spark, SF).collect()
    con = duckdb.connect()
    docs = con.execute(f"""
        SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '')
        FROM '{SF}/documents.parquet' WHERE text IS NOT NULL""").fetchall()
    d = len(docs)
    per: dict = {}
    for doc_id, tk in docs:
        cnt: dict = {}
        for t in tk:
            cnt[t] = cnt.get(t, 0) + 1
        for t, c in cnt.items():
            sc, scc, m = per.get(t, (0, 0, 0))
            per[t] = (sc + c, scc + c * c, m + 1)
    want = sorted(
        ((d * scc - sc * sc) / (d * sc), t, sc, m)
        for t, (sc, scc, m) in per.items() if sc >= 100)
    want = [(t, sc, m, vmr) for vmr, t, sc, m in
            sorted(want, key=lambda x: (-x[0], x[1]))][:20]
    got = [(r["token"], r["total_count"], r["n_docs_with"], r["vmr"])
           for r in rows]
    assert [(t, sc, m) for t, sc, m, _ in want] == \
        [(t, sc, m) for t, sc, m, _ in got]
    for (_, _, _, wv), (_, _, _, gv) in zip(want, got):
        assert gv == pytest.approx(wv, abs=1e-6)
        assert gv >= 0


def test_contamination_matches_bruteforce(spark):
    rows = {r["doc_id"]: r for r in
            WORKLOADS["doc_ngram_contamination"].fn(spark, SF).collect()}
    con = duckdb.connect()
    docs = con.execute(f"""
        SELECT doc_id, source,
               list_filter(string_split(text,' '), x -> x <> '')
        FROM '{SF}/documents.parquet' WHERE text IS NOT NULL""").fetchall()

    def grams(tk):
        return {" ".join(tk[i:i + 8]) for i in range(len(tk) - 7)}

    train = set()
    for _, src, tk in docs:
        if src != "src0" and len(tk) >= 8:
            train |= grams(tk)
    want = {}
    for doc_id, src, tk in docs:
        if src == "src0" and len(tk) >= 8:
            g = grams(tk)
            want[doc_id] = (len(g), sum(1 for x in g if x in train))
    assert set(rows) == set(want)
    for doc_id, (ng, nc) in want.items():
        r = rows[doc_id]
        assert (r["n_grams"], r["n_contaminated"]) == (ng, nc)
        assert r["contamination"] == pytest.approx(nc / ng, abs=1e-6)


def test_embedding_outliers_match_numpy(spark):
    import numpy as np

    rows = WORKLOADS["embedding_outlier_topk"].fn(spark, SF).collect()
    con = duckdb.connect()
    data = con.execute(f"""
        SELECT vec_id, embedding
        FROM '{SF}/embeddings.parquet'""").fetchall()
    q = {vid: np.floor(np.asarray(v, dtype=np.float64) * 1e6 + 0.5)
         .astype(object) for vid, v in data}
    n = len(q)
    s = sum(q.values())
    num = {vid: int(sum((n * qi - si) ** 2 for qi, si in zip(qv, s)))
           for vid, qv in q.items()}
    want = sorted(num.items(), key=lambda t: (-t[1], t[0]))[:20]
    assert [r["vec_id"] for r in rows] == [vid for vid, _ in want]
    for r, (_, nm) in zip(rows, want):
        assert r["dist2"] == pytest.approx(nm / (n * n) / 1e12, rel=1e-6)


def test_cohort_ltv_matches_python(spark):
    rows = {(r["cohort"], r["age_months"]): r for r in
            WORKLOADS["orders_cohort_ltv"].fn(spark, SF).collect()}
    con = duckdb.connect()
    data = con.execute(f"""
        SELECT o_custkey,
               year(o_orderdate)*12 + month(o_orderdate) - 1,
               CAST(ROUND(o_totalprice*100) AS BIGINT)
        FROM '{SF}/orders.parquet'""").fetchall()
    first: dict = {}
    for ck, m, _ in data:
        first[ck] = min(first.get(ck, m), m)
    cohort_sz: dict = {}
    for ck, c in first.items():
        cohort_sz[c] = cohort_sz.get(c, 0) + 1
    cells: dict = {}
    active: dict = {}
    for ck, m, cents in data:
        key = (first[ck], m - first[ck])
        cells[key] = cells.get(key, 0) + cents
        active.setdefault(key, set()).add(ck)
    assert set(rows) == set(cells)
    for (c, age), cents in cells.items():
        r = rows[(c, age)]
        assert r["revenue_cents"] == cents
        assert r["n_active"] == len(active[(c, age)])
        assert r["n_customers"] == cohort_sz[c]
        cum = sum(v for (cc, aa), v in cells.items()
                  if cc == c and aa <= age)
        assert r["cum_revenue_cents"] == cum
