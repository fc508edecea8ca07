"""Wave-16 operator differentials: exact ROC AUC (vs tie-aware rank
recompute), calibration/ECE (vs direct binning), 8-gram novelty (vs
brute-force first-occurrence walk), DAU/WAU stickiness (vs per-day set
union), PSI (vs direct decile + Laplace recompute)."""

from __future__ import annotations

import math

import duckdb
import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(f"""
        SELECT doc_id, n_chars, lang, text FROM '{SF}/documents.parquet'
        WHERE text IS NOT NULL AND n_chars IS NOT NULL""").fetchall()


def test_auc_matches_python(spark):
    r = WORKLOADS["doc_score_auc"].fn(spark, SF).collect()[0]
    rows = [(n, 1 if lang == "en" else 0) for _, n, lang, _ in _docs()]
    # tie-averaged ranks over ascending score
    rows.sort()
    ranks: dict = {}
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and rows[j][0] == rows[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # mean of ranks i+1..j
        ranks.setdefault(rows[i][0], avg)
        i = j
    n_pos = sum(p for _, p in rows)
    n_neg = len(rows) - n_pos
    r_pos = sum(ranks[v] for v, p in rows if p)
    auc = (r_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert (r["n_pos"], r["n_neg"]) == (n_pos, n_neg)
    assert r["auc"] == pytest.approx(auc, abs=1e-6)
    # AUC of a useful score must beat coin flip on this corpus or the
    # label/score choice is degenerate — regression guard, not a tautology
    assert 0.0 < r["auc"] < 1.0


def test_calibration_matches_python(spark):
    out = {r["bin"]: r for r in
           WORKLOADS["doc_length_calibration"].fn(spark, SF).collect()}
    bins: dict = {}
    for _, n_chars, lang, _ in _docs():
        b = min(n_chars // 50, 9)
        n, np_, sp = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, np_ + (1 if lang == "en" else 0),
                   sp + min(n_chars, 500))
    nt = sum(n for n, _, _ in bins.values())
    enum = sum(abs(sp - 500 * np_) for _, np_, sp in bins.values())
    assert set(out) == set(bins)
    for b, (n, np_, sp) in bins.items():
        r = out[b]
        assert (r["n"], r["n_pos"]) == (n, np_), b
        assert r["mean_pred"] == pytest.approx(sp / 500 / n, abs=1e-6)
        assert r["frac_pos"] == pytest.approx(np_ / n, abs=1e-6)
        assert r["ece"] == pytest.approx(enum / 500 / nt, abs=1e-6)


def test_novelty_matches_bruteforce(spark):
    out = {r["doc_id"]: (r["n_grams"], r["n_novel"])
           for r in WORKLOADS["doc_novelty_curve"].fn(spark, SF).collect()}
    per_doc: dict = {}
    for doc_id, _, _, text in sorted(_docs()):
        tk = [w for w in text.split(" ") if w]
        if len(tk) < 8:
            continue
        per_doc[doc_id] = {" ".join(tk[i:i + 8])
                           for i in range(len(tk) - 7)}
    first: dict = {}
    for doc_id in sorted(per_doc):
        for g in per_doc[doc_id]:
            first.setdefault(g, doc_id)
    want = {d: (len(gs), sum(1 for g in gs if first[g] == d))
            for d, gs in per_doc.items()}
    assert out == want
    # the lowest doc_id with grams is 100% novel by construction
    d0 = min(per_doc)
    assert out[d0][0] == out[d0][1]


def test_dau_wau_matches_python(spark):
    out = {r["day"].date(): (r["dau"], r["wau"]) for r in
           WORKLOADS["events_dau_wau_stickiness"].fn(spark, SF).collect()}
    con = duckdb.connect()
    ud = con.execute(f"""
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        FROM '{SF}/events.parquet'""").fetchall()
    days = sorted({d for d, _ in ud})
    per_day: dict = {}
    for d, u in ud:
        per_day.setdefault(d, set()).add(u)
    want = {}
    for d in days:
        w = set()
        for k in range(7):
            w |= per_day.get(d - __import__("datetime").timedelta(days=k),
                             set())
        want[d] = (len(per_day[d]), len(w))
    assert out == want
    # WAU >= DAU always
    assert all(wau >= dau for dau, wau in out.values())


def test_psi_matches_python(spark):
    rows = WORKLOADS["events_value_psi"].fn(spark, SF).collect()
    con = duckdb.connect()
    ev = con.execute(f"""
        SELECT epoch_us(ts), CAST(ROUND(value*100) AS BIGINT)
        FROM '{SF}/events.parquet'
        WHERE value IS NOT NULL AND NOT isnan(value)""").fetchall()
    lo = con.execute(f"""
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2
        FROM '{SF}/events.parquet'""").fetchone()[0]
    a = sorted(v for t, v in ev if t < lo)
    b = [v for t, v in ev if t >= lo]
    na, nb = len(a), len(b)
    # nearest-rank deciles of the first half: min v with 10*cum >= k*na
    dist = sorted(set(a))
    cum, edges, seen = 0, [], {v: 0 for v in dist}
    for v in a:
        seen[v] += 1
    acc = 0
    cums = {}
    for v in dist:
        acc += seen[v]
        cums[v] = acc
    for k in range(1, 10):
        edges.append(min(v for v in dist if 10 * cums[v] >= k * na))

    def bin_of(v):
        return sum(1 for e in edges if v >= e)

    ca = [0] * 10
    cb = [0] * 10
    for v in a:
        ca[bin_of(v)] += 1
    for v in b:
        cb[bin_of(v)] += 1
    psi = 0.0
    for k in range(10):
        p1 = (ca[k] + 1) / (na + 10)
        p2 = (cb[k] + 1) / (nb + 10)
        psi += (p1 - p2) * math.log(p1 / p2)
    got = {r["bin"]: r for r in rows}
    assert len(rows) == 10
    for k in range(10):
        assert (got[k]["n_first"], got[k]["n_second"]) == (ca[k], cb[k]), k
        assert (got[k]["na"], got[k]["nb"]) == (na, nb), k
    # the ln() readout is a library function of the hashed integers
    # since r13 (environment-proofing): assert it against brute force
    from ophidia_io_server_spark.workloads.analytics import psi_readout
    terms, total = psi_readout(
        [(r["bin"], r["n_first"], r["n_second"]) for r in rows], na, nb)
    assert total == pytest.approx(psi, abs=1e-12)
    assert sum(terms.values()) == pytest.approx(total, abs=1e-12)
    # stationary synthetic data must not alarm
    assert total < 0.25


def test_rbo_matches_python(spark):
    rows = sorted(
        WORKLOADS["doc_rbo_retrieval"].fn(spark, SF).collect(),
        key=lambda r: r["depth"])
    # recompute both rankings from the (already-tested) fused row's arms:
    # reuse the workload's own building blocks via the RRF row at k=20
    # independence: rebuild overlap from the two rank maps
    from ophidia_io_server_spark.pipeline.retrieval import bm25_topk
    from ophidia_io_server_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    bm = {r["doc_id"]: r["rank"]
          for r in bm25_topk(docs, ["hash", "merge", "scan"], k=20).collect()}
    tfr = (docs.where(F.col("text").isNotNull())
           .select("doc_id", F.explode(F.filter(
               F.split(F.lower("text"), " "), lambda w: w != ""))
               .alias("t"))
           .where(F.col("t").isin(["hash", "merge", "scan"]))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("tft"))
           .orderBy(F.desc("tft"), F.asc("doc_id")).limit(20).collect())
    tr = {r["doc_id"]: i + 1 for i, r in enumerate(tfr)}
    xs = []
    for d in range(1, 21):
        xs.append(len({k for k, v in bm.items() if v <= d}
                      & {k for k, v in tr.items() if v <= d}))
    p = 0.9
    acc = sum((x / d) * p ** d for d, x in zip(range(1, 21), xs))
    rbo = (1 - p) / p * acc + (xs[19] / 20) * p ** 20
    assert [r["overlap"] for r in rows] == xs
    for r in rows:
        assert r["agreement"] == pytest.approx(
            r["overlap"] / r["depth"], abs=1e-6)
        assert r["rbo_ext"] == pytest.approx(rbo, abs=1e-5)
    # overlap is monotone nondecreasing in depth
    assert all(a <= b for a, b in zip(xs, xs[1:]))


def test_silhouette_matches_numpy(spark):
    import numpy as np

    rows = WORKLOADS["embedding_silhouette_topk"].fn(spark, SF).collect()
    con = duckdb.connect()
    data = con.execute(f"""
        SELECT vec_id, label, embedding
        FROM '{SF}/embeddings.parquet'""").fetchall()
    q = {v: (lab, np.array([math.floor(float(x) * 1e6 + 0.5)
                            for x in emb], dtype=object))
         for v, lab, emb in data}
    labs = sorted({lab for lab, _ in q.values()})
    n = {lab: sum(1 for x, _ in q.values() if x == lab) for lab in labs}
    s = {lab: sum((vec for x, vec in q.values() if x == lab),
                  np.zeros(64, dtype=object)) for lab in labs}
    want = []
    for v, (lab, vec) in q.items():
        dists = {}
        for m in labs:
            num = int(sum((n[m] * vec - s[m]) ** 2))
            dists[m] = math.sqrt(num / (n[m] * n[m]) / 1e12)
        a = dists[lab]
        nb, b = min(((m, d) for m, d in dists.items() if m != lab),
                    key=lambda t: (t[1], t[0]))
        want.append(((b - a) / max(a, b), v, lab, nb))
    want.sort()
    got = [(r["vec_id"], r["label"], r["neighbor_label"]) for r in rows]
    assert got == [(v, lab, nb) for _, v, lab, nb in want[:20]]
    for r, (sv, *_rest) in zip(rows, want[:20]):
        assert r["silhouette"] == pytest.approx(sv, abs=1e-6)


def test_perplexity_matches_python(spark):
    out = {r["doc_id"]: r for r in
           WORKLOADS["doc_perplexity_unigram"].fn(spark, SF).collect()}
    con = duckdb.connect()
    docs = con.execute(f"""
        SELECT doc_id, text FROM '{SF}/documents.parquet'
        WHERE text IS NOT NULL""").fetchall()
    toks = {d: [w for w in t.split(" ") if w] for d, t in docs}
    counts: dict = {}
    for tk in toks.values():
        for t in tk:
            counts[t] = counts.get(t, 0) + 1
    n = sum(counts.values())
    for d, tk in toks.items():
        if not tk:
            assert d not in out
            continue
        s = 0.0
        for t in tk:  # position order — the workload's fold order
            s += math.log(counts[t] / n)
        h = -s / len(tk)
        r = out[d]
        assert r["n_tokens"] == len(tk)
        assert r["cross_entropy"] == pytest.approx(h, abs=1e-6), d
        assert r["perplexity"] == pytest.approx(math.exp(h), abs=1e-4), d
    # perplexity can never exceed the corpus token count (p(t) >= 1/N)
    assert all(r["perplexity"] <= n + 1e-6 for r in out.values())


def test_stream_psi_matches_batch(spark):
    """The streaming drift monitor must land on the batch PSI row
    exactly (integer bin counts are micro-batch-decomposition
    invariant) and every stream_equals_batch certificate must be true."""
    srows = {r["bin"]: r for r in
             WORKLOADS["stream_psi_drift"].fn(spark, SF).collect()}
    brows = {r["bin"]: r for r in
             WORKLOADS["events_value_psi"].fn(spark, SF).collect()}
    assert set(srows) == set(brows)
    for b in brows:
        assert srows[b]["stream_equals_batch"] is True, b
        for c in ("n_first", "n_second", "na", "nb"):
            assert srows[b][c] == brows[b][c], (b, c)


def test_max_drawdown_matches_python(spark):
    out = {r["event_type"]: r for r in
           WORKLOADS["events_max_drawdown"].fn(spark, SF).collect()}
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
        FROM '{SF}/events.parquet'
        WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    per: dict = {}
    for et, hr, c in rows:
        per.setdefault(et, []).append((hr, c))
    for et, series in per.items():
        s = runmax = 0
        best = None  # (dd, hr, runmax, s)
        peak_at: dict = {}
        for hr, c in series:
            s += c
            if s > runmax:
                runmax = s
            peak_at.setdefault(runmax, hr)
            dd = runmax - s
            if best is None or dd > best[0]:
                best = (dd, hr, runmax, s)
        r = out[et]
        assert r["max_drawdown_cents"] == best[0], et
        assert r["trough_hr"] == best[1], et
        assert (r["peak_cum_cents"], r["trough_cum_cents"]) == (
            best[2], best[3]), et
        assert r["peak_hr"] == peak_at[best[2]], et
        # a drawdown is never negative and never exceeds the peak
        assert 0 <= r["max_drawdown_cents"] <= r["peak_cum_cents"]


def test_ljungbox_matches_python(spark):
    acf = {(r["event_type"], r["lag"]): (r["acf"], r["n_pairs"]) for r in
           WORKLOADS["events_acf"].fn(spark, SF).collect()}
    out = {r["event_type"]: r for r in
           WORKLOADS["events_ljungbox_q"].fn(spark, SF).collect()}
    types = {et for et, _ in acf}
    for et in types:
        n = max(acf[(et, k)][1] + k for k in range(1, 7))
        s = 0.0
        for k in range(1, 7):  # lag order — the workload's fold order
            r, np_ = acf[(et, k)]
            s += r * r / np_
        q = n * (n + 2) * s
        assert out[et]["n"] == n and out[et]["h"] == 6
        assert out[et]["q_lb"] == pytest.approx(q, abs=1e-4), et
        # Q is a sum of scaled squares — nonnegative by construction
        assert out[et]["q_lb"] >= 0.0


def test_seasonal_strength_matches_python(spark):
    base = WORKLOADS["events_seasonal_decompose"].fn(spark, SF).collect()
    out = {r["event_type"]: r for r in
           WORKLOADS["events_seasonal_strength"].fn(spark, SF).collect()}
    per: dict = {}
    for r in base:
        per.setdefault(r["event_type"], []).append(
            (r["hr"], r["resid"], r["seasonal"], r["trend"]))
    for et, rows in per.items():
        rows.sort()
        n = len(rows)
        sr = srr = sd = sdd = st = stt = 0.0
        for _, resid, seas, tr in rows:  # hr order — the fold order
            sr += resid
            srr += resid * resid
            d = seas + resid
            sd += d
            sdd += d * d
            t = tr + resid
            st += t
            stt += t * t
        var_r = srr - sr * sr / n
        f_s = max(0.0, 1 - var_r / (sdd - sd * sd / n))
        f_t = max(0.0, 1 - var_r / (stt - st * st / n))
        r = out[et]
        assert r["n"] == n
        assert r["f_seasonal"] == pytest.approx(f_s, abs=1e-6), et
        assert r["f_trend"] == pytest.approx(f_t, abs=1e-6), et
        # strengths are clamped fractions
        assert 0.0 <= r["f_seasonal"] <= 1.0 and 0.0 <= r["f_trend"] <= 1.0
