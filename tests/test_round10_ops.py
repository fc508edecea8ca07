"""Round-10 operator units: global prefix sum (vs python), containment
join (recall 1.0 vs brute force), Mann-Whitney U (vs scipy-free exact
computation), Gini (vs closed form), winsorize (vs numpy-style
percentile_disc), ACF (vs direct formula), seasonal decomposition
identities, KMV sketch properties, weighted sample determinism."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# -- global_prefix_sum --------------------------------------------------------


def test_global_prefix_sum_matches_python(spark):
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    random.seed(10)
    rows = [(v, random.randint(1, 9)) for v in random.sample(range(1000), 200)]
    df = spark.createDataFrame(rows, "v long, cnt long")
    got = {r["v"]: r["cum"]
           for r in global_prefix_sum(df, ["v"], "cnt", partitions=7).collect()}
    acc, want = 0, {}
    for v, c in sorted(rows):
        acc += c
        want[v] = acc
    assert got == want


def test_global_prefix_sum_stable_under_layout(spark):
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    rows = [(v, v % 5 + 1) for v in range(50)]
    a = global_prefix_sum(
        spark.createDataFrame(rows, "v long, cnt long"), ["v"], "cnt",
        partitions=3).collect()
    b = global_prefix_sum(
        spark.createDataFrame(list(reversed(rows)), "v long, cnt long")
        .repartition(11), ["v"], "cnt", partitions=9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- containment join ---------------------------------------------------------


def test_containment_matches_bruteforce(spark):
    from ophidia_io_server_spark.pipeline.setjoin import containment_pairs

    rows = [
        (1, "a b"), (2, "a b c d e f"), (3, "x y"), (4, "p q r"),
        (5, "a b"), (6, None), (7, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in containment_pairs(docs, 0.6).collect()}
    sets = {i: set(t.split()) for i, t in rows if t}
    want = {}
    for i, si in sets.items():
        for j, sj in sets.items():
            if i != j and si:
                c = len(si & sj) / len(si)
                if c >= 0.6:
                    want[(i, j)] = round(c, 6)
    assert got == want
    # the asymmetry: 1 ⊂ 2 scores 1.0 directed, but 2→1 only 2/6
    assert got[(1, 2)] == 1.0 and (2, 1) not in got


def test_containment_bad_threshold(spark):
    from ophidia_io_server_spark.pipeline.setjoin import containment_pairs

    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(spark.range(1).selectExpr("id doc_id", "'x' text"), 0.0)


# -- Mann-Whitney U -----------------------------------------------------------


def test_mannwhitney_exact_small_case(spark, tmp_path):
    """Known example with ties, checked against the hand formula."""
    import duckdb

    a_vals = [1.00, 2.00, 2.00, 5.00]
    b_vals = [2.00, 3.00, 4.00]
    rows = ([(i, "2024-01-01 00:00:00", 1, "purchase", v, "")
             for i, v in enumerate(a_vals)]
            + [(100 + i, "2024-01-01 00:00:00", 1, "click", v, "")
               for i, v in enumerate(b_vals)])
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    for t in ("region", "nation"):  # load_table only reads events here
        pass
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_mannwhitney_utest"].fn(
        spark, str(tmp_path)).collect()[0]
    # combined sorted cents: 100,200,200,200,300,400,500
    # avg ranks: 100->1; 200->(2+3+4)/3=3; 300->5; 400->6; 500->7
    # R_a = 1 + 3 + 3 + 7 = 14 ; U_a = 14 - 4*5/2 = 4
    assert out["na"] == 4 and out["nb"] == 3
    assert out["u_stat"] == 4.0
    # z from the tie-corrected variance: ties term = (3^3-3) = 24
    n, na, nb = 7, 4, 3
    var = na * nb / 12 * ((n + 1) - 24 / (n * (n - 1)))
    z = (4 - na * nb / 2) / math.sqrt(var)
    assert out["z"] == round(z, 6)


# -- Gini ---------------------------------------------------------------------


def test_gini_known_values(spark, tmp_path):
    import pandas as pd

    # all-equal -> gini 0; one-owner extreme -> (n-1)/n
    for prices, want in (
        ([10.0] * 5, 0.0),
        ([0.01] * 0 + [0.0, 0.0, 0.0, 100.0], round((2 * 4 * 10000
                                                     - 5 * 10000)
                                                    / (4 * 10000), 6)),
    ):
        pdf = pd.DataFrame({
            "o_orderkey": range(1, len(prices) + 1),
            "o_custkey": 1, "o_orderstatus": "F",
            "o_totalprice": prices,
            "o_orderdate": pd.to_datetime("2024-01-01"),
            "o_orderpriority": "1-URGENT"})
        pdf.to_parquet(str(tmp_path / "orders.parquet"))
        from ophidia_io_server_spark.workloads import WORKLOADS

        out = WORKLOADS["orders_gini_revenue"].fn(
            spark, str(tmp_path)).collect()[0]
        assert out["gini"] == want, prices


# -- winsorized stats ---------------------------------------------------------


def test_winsorize_boundaries_exact(spark, tmp_path):
    import pandas as pd

    vals = [float(i) for i in range(1, 201)]  # 1..200 -> cents 100..20000
    pdf = pd.DataFrame({
        "l_orderkey": range(len(vals)), "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": vals,
        "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "N",
        "l_linestatus": "O",
        "l_shipdate": pd.to_datetime("2024-01-01")})
    pdf.to_parquet(str(tmp_path / "lineitem.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["lineitem_winsorized_stats"].fn(
        spark, str(tmp_path)).collect()[0]
    # n=200: k_lo = ceil(2)=2 -> lo = 2nd value = 200 cents;
    # k_hi = ceil(198) -> hi = 198th = 19800 cents
    assert out["n_rows"] == 200
    assert out["lo_cents"] == 200 and out["hi_cents"] == 19800
    clamped = [min(max(int(v * 100), 200), 19800) for v in vals]
    assert out["win_sum_cents"] == sum(clamped)
    assert out["win_mean"] == round(sum(clamped) / 200, 6)


# -- ACF ----------------------------------------------------------------------


def test_acf_matches_direct_formula(spark, tmp_path):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    hours = pd.date_range("2024-01-01", periods=48, freq="h")
    rows = []
    eid = 0
    counts = {}
    for h in hours:
        k = int(rng.integers(1, 6))
        counts[h] = k
        for _ in range(k):
            rows.append((eid, h, 1, "click", 1.0, ""))
            eid += 1
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    got = {r["lag"]: r["acf"] for r in
           WORKLOADS["events_acf"].fn(spark, str(tmp_path)).collect()}
    y = np.array([counts[h] for h in hours], dtype=float)
    ybar = y.mean()
    den = ((y - ybar) ** 2).sum()
    for lag in range(1, 7):
        want = (((y[:-lag] - ybar) * (y[lag:] - ybar)).sum()) / den
        assert abs(got[lag] - want) < 1e-6, lag  # engine output rounds to 6


# -- seasonal decomposition ---------------------------------------------------


def test_seasonal_decompose_identities(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_seasonal_decompose"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert out, "edge-trimmed decomposition must keep interior hours"
    for r in out:
        # additive identity holds to rounding
        assert abs(r["y"] - (r["trend"] + r["seasonal"] + r["resid"])) < 2e-6
        assert r["trend"] is not None


# -- KMV sketch ---------------------------------------------------------------


def test_kmv_exact_when_k_covers_universe(spark, tmp_path):
    """With fewer distinct tokens than K the sketch IS the set, so the
    estimate must equal the exact Jaccard for every pair."""
    import pandas as pd

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c", "b c d", "a b c", "x y"],
        "lang": "en",
        "source": ["s1", "s1", "s2", "s3"],
        "n_chars": [5, 5, 5, 3]})
    pdf.to_parquet(str(tmp_path / "documents.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = WORKLOADS["source_kmv_overlap"].fn(spark, str(tmp_path)).collect()
    got = {(r["source_a"], r["source_b"]):
           (r["jaccard_est"], r["jaccard_exact"], r["within_bound"])
           for r in rows}
    assert got[("s1", "s2")] == (round(3 / 4, 6), round(3 / 4, 6), True)
    assert got[("s1", "s3")] == (0.0, 0.0, True)
    assert got[("s2", "s3")] == (0.0, 0.0, True)


# -- weighted sample ----------------------------------------------------------


def test_weighted_sample_layout_invariant(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    a = WORKLOADS["doc_weighted_sample"].fn(
        spark, "/root/testdata/sf0.001").collect()
    b = (WORKLOADS["doc_weighted_sample"].fn(spark, "/root/testdata/sf0.001")
         .repartition(13).collect())
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 100


def test_weighted_sample_heavier_docs_overrepresented(spark):
    """Sanity of proportionality: the selected docs' mean weight must
    exceed the corpus mean weight (heavier docs win more races)."""
    from ophidia_io_server_spark.sources.tables import load_table
    from ophidia_io_server_spark.workloads import WORKLOADS

    sel = WORKLOADS["doc_weighted_sample"].fn(
        spark, "/root/testdata/sf0.001").agg(F.avg("w")).collect()[0][0]
    all_w = (load_table(spark, "/root/testdata/sf0.001", "documents")
             .selectExpr("avg(1 + n_chars div 50)").collect()[0][0])
    assert sel > all_w


# -- KS test ------------------------------------------------------------------


def test_ks_exact_small_case(spark, tmp_path):
    import pandas as pd

    a_vals = [1.0, 2.0, 3.0]
    b_vals = [2.0, 4.0]
    rows = ([(i, "2024-01-01", 1, "purchase", v, "") for i, v in
             enumerate(a_vals)]
            + [(50 + i, "2024-01-01", 1, "click", v, "") for i, v in
               enumerate(b_vals)])
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_ks_test"].fn(spark, str(tmp_path)).collect()[0]
    # CDFs at v=100: Fa=1/3, Fb=0 -> |.333|; v=200: 2/3 vs 1/2 -> 1/6;
    # v=300: 1 vs 1/2 -> 1/2 (max); v=400: 1 vs 1 -> 0
    assert out["na"] == 3 and out["nb"] == 2
    assert out["d_stat"] == 0.5
    assert out["ks_stat"] == round(math.sqrt(6 / 5) * 0.5, 6)


# -- chi-squared --------------------------------------------------------------


def test_chi2_matches_direct_formula(spark, tmp_path):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    rows = []
    eid = 0
    for et in ("click", "view"):
        for hod in range(4):
            for _ in range(int(rng.integers(5, 30))):
                rows.append((eid, pd.Timestamp(2024, 1, 1, hod), 1, et,
                             1.0, ""))
                eid += 1
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_chi2_independence"].fn(
        spark, str(tmp_path)).collect()[0]
    # direct chi2 from the contingency table
    tab = pdf.groupby(["event_type", pdf["ts"].dt.hour]).size()
    n = tab.sum()
    r = tab.groupby(level=0).sum()
    c = tab.groupby(level=1).sum()
    chi2 = sum(
        (tab[i, j] - r[i] * c[j] / n) ** 2 / (r[i] * c[j] / n)
        for i, j in tab.index)
    assert out["n"] == n and out["n_cells"] == len(tab)
    assert abs(out["chi2"] - chi2) < 1e-5
    v = math.sqrt(chi2 / (n * (min(len(r), len(c)) - 1)))
    assert abs(out["cramers_v"] - v) < 1e-6


# -- MAD outliers -------------------------------------------------------------


def test_mad_known_values(spark, tmp_path):
    import pandas as pd

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]  # med(lower)=3.00, outlier 100
    pdf = pd.DataFrame({
        "l_orderkey": range(len(vals)), "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": vals,
        "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "N",
        "l_linestatus": "O", "l_shipdate": pd.to_datetime("2024-01-01")})
    pdf.to_parquet(str(tmp_path / "lineitem.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["lineitem_mad_outliers"].fn(
        spark, str(tmp_path)).collect()[0]
    # cents: 100..500, 10000; n=6 -> k=3 -> median = 300
    # |v-300|: 200,100,0,100,200,9700 -> sorted 0,100,100,200,200,9700
    # k=3 -> MAD = 100 cents
    assert out["n_rows"] == 6
    assert out["median_cents"] == 300
    assert out["mad_cents"] == 100
    # fence: 10^4*|v-med| > 44478*100 -> |v-med| > 444.78 -> only 10000
    assert out["n_outliers"] == 1


# -- Benford ------------------------------------------------------------------


def test_benford_digit_extraction_and_expectation(spark, tmp_path):
    import pandas as pd

    prices = [1.23, 12.3, 95.0, 950.0, 9.5, 0.02]  # leading digits 1,1,9,9,9,2
    pdf = pd.DataFrame({
        "o_orderkey": range(1, len(prices) + 1), "o_custkey": 1,
        "o_orderstatus": "F", "o_totalprice": prices,
        "o_orderdate": pd.to_datetime("2024-01-01"),
        "o_orderpriority": "1"})
    pdf.to_parquet(str(tmp_path / "orders.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    got = {r["digit"]: (r["n_obs"], r["expected"]) for r in
           WORKLOADS["orders_benford_digits"].fn(
               spark, str(tmp_path)).collect()}
    assert got[1][0] == 2 and got[9][0] == 3 and got[2][0] == 1
    for d, (nobs, exp) in got.items():
        assert exp == round(6 * math.log10(1 + 1 / d), 6)


# -- k-core -------------------------------------------------------------------


def test_kcore_known_graph(spark):
    from ophidia_io_server_spark.operators.graph import kcore

    # K4 on {a,b,c,d} plus a pendant chain e-f: 3-core = the K4
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("d", "e"), ("e", "f")]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = kcore(df, k=3, rounds=6).collect()
    got = {r["node"]: r["core_degree"] for r in rows}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert all(r["converged"] for r in rows)


def test_kcore_empty_core(spark):
    from ophidia_io_server_spark.operators.graph import kcore

    df = spark.createDataFrame([("a", "b"), ("b", "c")],
                               "src string, dst string")
    assert kcore(df, k=5, rounds=4).count() == 0


def test_kcore_validates_params(spark):
    from ophidia_io_server_spark.operators.graph import kcore

    with pytest.raises(ValueError, match="k and rounds"):
        kcore(spark.createDataFrame([("a", "b")], "src string, dst string"),
              k=0)


# -- conversion z-test --------------------------------------------------------


def test_conversion_ztest_hand_case(spark, tmp_path):
    import pandas as pd

    # conversion = >= 14 purchases.  group 0 (even uid): users 0,2,4,6 ->
    # 2 convert (14 purchases each); group 1: 1,3 -> 1 converts
    rows = []
    eid = 0
    for uid, types in [(0, ["purchase"] * 14), (2, ["click"] + ["purchase"] * 14),
                       (4, ["view"] * 3), (6, ["click", "purchase"]),
                       (1, ["purchase"] * 20), (3, ["view", "purchase"])]:
        for t in types:
            rows.append((eid, pd.Timestamp("2024-01-01"), uid, t, 1.0, ""))
            eid += 1
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf.to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_conversion_ztest"].fn(
        spark, str(tmp_path)).collect()[0]
    assert (out["na"], out["nb"], out["conv_a"], out["conv_b"]) == (4, 2, 2, 1)
    p = 3 / 6
    z = (2 / 4 - 1 / 2) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 2))
    assert out["z"] == round(z, 6) == 0.0


# -- RRF ----------------------------------------------------------------------


def test_rrf_fuses_both_rankings(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = WORKLOADS["doc_rrf_retrieval"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        want = ((1 / (60 + r["rank_bm"]) if r["rank_bm"] else 0)
                + (1 / (60 + r["rank_tf"]) if r["rank_tf"] else 0))
        assert r["rrf"] == round(want, 6)
    # descending fused order
    vals = [r["rrf"] for r in rows]
    assert vals == sorted(vals, reverse=True)


# -- EWMA ---------------------------------------------------------------------


def test_ewma_exact_dyadic_recursion(spark, tmp_path):
    import pandas as pd

    # 8+ hours so the dyadic fold reaches 7 fraction bits: s₈ carries a
    # k·2⁻⁷ term, an EXACT 6-decimal tie (x·10⁶ is a half-integer) — the
    # class of value whose ROUND(·, 6) is engine/version-dependent and
    # must therefore never re-enter this projection
    counts = [3, 4, 4, 4, 4, 4, 4, 4, 6, 2]
    rows = []
    eid = 0
    for h, k in enumerate(counts):
        for _ in range(k):
            rows.append((eid, pd.Timestamp(2024, 1, 1, h), 1, "click",
                         1.0, ""))
            eid += 1
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = sorted(WORKLOADS["events_ewma_halflife"].fn(
        spark, str(tmp_path)).collect(), key=lambda r: r["hr"])
    s = None
    saw_tie = False
    for r, y in zip(out, counts):
        s = float(y) if s is None else s / 2 + y / 2
        # bitwise: the un-rounded dyadic fold must match Python's exactly
        # (r14 — the ROUND(·,6) readout left the projection because dyadic
        # values hit exact 6-dp ties and tie-breaking is engine-dependent)
        assert r["y"] == y and r["ewma"] == s
        saw_tie = saw_tie or (s != round(s, 6))
    assert saw_tie, "test data must exercise a value ROUND(·,6) would alter"


# -- quantile normalization ---------------------------------------------------


def test_quantile_normalize_identity_on_single_group(spark, tmp_path):
    """With ONE event type the pooled distribution IS the group's, so
    every value must map to itself (p = r exactly)."""
    import pandas as pd

    vals = [1.0, 5.0, 5.0, 2.0, 9.0, 3.0]
    rows = [(i, pd.Timestamp("2024-01-01"), 1, "click", v, "")
            for i, v in enumerate(vals)]
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["events_quantile_normalize"].fn(
        spark, str(tmp_path)).collect()
    assert len(out) == 5  # distinct values
    for r in out:
        assert r["v_norm"] == r["v"], r


def test_quantile_normalize_monotone_and_pooled_support(spark):
    """Normalized values must be drawn from the pooled support and be
    monotone in v within each type."""
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = WORKLOADS["events_quantile_normalize"].fn(
        spark, "/root/testdata/sf0.001").collect()
    pooled = {r["v"] for r in rows}
    by_type = {}
    for r in rows:
        assert r["v_norm"] in pooled
        by_type.setdefault(r["event_type"], []).append((r["v"], r["v_norm"]))
    for t, pairs in by_type.items():
        pairs.sort()
        norms = [n for _, n in pairs]
        assert norms == sorted(norms), t


# -- association triples ------------------------------------------------------


def test_association_triples_hand_corpus(spark, tmp_path):
    """20 docs all containing {x y z}, plus fillers: the triple (x,y,z)
    must surface with support 20/n and confidence 1."""
    import pandas as pd

    texts = ["x y z filler%d" % i for i in range(20)] + ["w"] * 5
    pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts, "lang": "en",
        "source": "s", "n_chars": [len(t) for t in texts],
    }).to_parquet(str(tmp_path / "documents.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    rows = WORKLOADS["token_association_triples"].fn(
        spark, str(tmp_path)).collect()
    got = {(r["ant_a"], r["ant_b"], r["consequent"]): r for r in rows}
    assert ("x", "y", "z") in got
    r = got[("x", "y", "z")]
    assert r["nabc"] == 20 and r["confidence"] == 1.0
    assert r["support"] == round(20 / 25, 6)
    assert r["lift"] == round(20 * 25 / (20 * 20), 6)


# -- Spearman -----------------------------------------------------------------


def test_spearman_matches_scipy_free_formula(spark, tmp_path):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    q = rng.integers(1, 8, size=60)
    price = (q * 100 + rng.integers(-50, 50, size=60)).astype(float)
    pdf = pd.DataFrame({
        "l_orderkey": range(60), "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": q.astype(float),
        "l_extendedprice": price, "l_discount": 0.0, "l_tax": 0.0,
        "l_returnflag": "N", "l_linestatus": "O",
        "l_shipdate": pd.to_datetime("2024-01-01")})
    pdf.to_parquet(str(tmp_path / "lineitem.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["lineitem_spearman_corr"].fn(
        spark, str(tmp_path)).collect()[0]
    # scipy-free: Pearson on tie-averaged ranks
    def avg_ranks(a):
        order = np.argsort(a, kind="stable")
        ranks = np.empty(len(a), dtype=float)
        sa = a[order]
        i = 0
        while i < len(a):
            j = i
            while j < len(a) and sa[j] == sa[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2  # average of 1-based ranks
            i = j
        return ranks
    rx, ry = avg_ranks(q.astype(float)), avg_ranks(price)
    want = np.corrcoef(rx, ry)[0, 1]
    assert out["n"] == 60
    assert abs(out["rho"] - want) < 1e-6


def test_spearman_perfect_monotone(spark, tmp_path):
    import pandas as pd

    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    pdf = pd.DataFrame({
        "l_orderkey": range(5), "l_partkey": 1, "l_suppkey": 1,
        "l_linenumber": 1, "l_quantity": vals,
        "l_extendedprice": [v ** 3 for v in vals],  # monotone, nonlinear
        "l_discount": 0.0, "l_tax": 0.0, "l_returnflag": "N",
        "l_linestatus": "O", "l_shipdate": pd.to_datetime("2024-01-01")})
    pdf.to_parquet(str(tmp_path / "lineitem.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = WORKLOADS["lineitem_spearman_corr"].fn(
        spark, str(tmp_path)).collect()[0]
    assert out["rho"] == 1.0  # rank correlation sees through the cube


# -- FD discovery -------------------------------------------------------------


def test_fd_discovery_known_dependencies(spark):
    from ophidia_io_server_spark.operators.profile import fd_discovery

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "z")],
        "id long, u string, w string")
    got = {(r["lhs"], r["rhs"]): (r["holds"], r["violations"])
           for r in fd_discovery(df, ["id", "u", "w"]).collect()}
    assert got[("id", "u")] == (True, 0)       # id is a key
    assert got[("id", "w")] == (True, 0)
    assert got[("u", "w")] == (False, 1)       # b -> {y, z}
    assert got[("w", "u")] == (True, 0)        # each w has one u
    assert got[("u", "id")] == (False, 2)


def test_fd_discovery_counts_null_as_value(spark):
    from ophidia_io_server_spark.operators.profile import fd_discovery

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "a long, b string")
    got = {(r["lhs"], r["rhs"]): r for r in
           fd_discovery(df, ["a", "b"]).collect()}
    # b -> a must FAIL: NULL maps to ids 1 AND 2 (profiling semantics)
    assert got[("b", "a")]["holds"] is False
    assert got[("b", "a")]["n_lhs"] == 2  # NULL and 'x'


# -- CUSUM --------------------------------------------------------------------


def test_cusum_clamped_recursion(spark, tmp_path):
    import pandas as pd

    counts = [4, 4, 4, 10, 10, 1]  # mean = 5.5 -> drift then reset
    rows = []
    eid = 0
    for h, k in enumerate(counts):
        for _ in range(k):
            rows.append((eid, pd.Timestamp(2024, 1, 1, h), 1, "click",
                         1.0, ""))
            eid += 1
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    out = sorted(WORKLOADS["events_cusum_drift"].fn(
        spark, str(tmp_path)).collect(), key=lambda r: r["hr"])
    n, t = len(counts), sum(counts)
    c = 0
    for r, y in zip(out, counts):
        c = max(0, c + n * y - t)
        assert (r["y"], r["cusum"]) == (y, c)
        assert r["alarm"] == (c > 3 * t)


# -- DBSCAN -------------------------------------------------------------------


def test_dbscan_matches_python_union_find(spark):
    """Full differential at sf0.01: brute-force neighbors + union-find
    clustering in Python must agree row-for-row (roles, clusters)."""
    import hashlib

    import duckdb

    from ophidia_io_server_spark.workloads import WORKLOADS

    ids = [r[0] for r in duckdb.sql(
        "SELECT event_id FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet') "
        "WHERE event_type = 'purchase'").fetchall()]
    def coords(eid):
        h = hashlib.md5(str(eid).encode()).hexdigest()
        return (int(h[:15], 16) % 1000000 / 1e6,
                int(h[16:31], 16) % 1000000 / 1e6)
    pts = {i: coords(i) for i in ids}
    eps2 = 0.02 * 0.02
    nbrs = {i: set() for i in ids}
    items = sorted(pts.items())
    for idx, (i, (xi, yi)) in enumerate(items):
        for j, (xj, yj) in items[idx + 1:]:
            if (xi - xj) ** 2 + (yi - yj) ** 2 <= eps2:
                nbrs[i].add(j)
                nbrs[j].add(i)
    core = {i for i in ids if len(nbrs[i]) >= 3}
    parent = {i: i for i in core}
    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    for i in core:
        for j in nbrs[i]:
            if j in core:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {}
    clusters = {}
    for i in core:
        clusters.setdefault(find(i), []).append(i)
    for root, members in clusters.items():
        label = min(members)
        for m in members:
            want[m] = ("core", label)
    for i in ids:
        if i not in core:
            cn = [find(j) for j in nbrs[i] if j in core]
            if cn:
                want[i] = ("border", min(min(clusters[r]) for r in cn))

    rows = WORKLOADS["events_dbscan_clusters"].fn(
        spark, "/root/testdata/sf0.01").collect()
    got = {r["event_id"]: (r["role"], r["cluster"]) for r in rows}
    assert all(r["converged"] for r in rows), "15 rounds must converge here"
    assert got == want


# -- OHLC streaming twin ------------------------------------------------------


def test_ohlc_stream_equals_batch(spark):
    from ophidia_io_server_spark.workloads import WORKLOADS

    sf = "/root/testdata/sf0.001"
    batch = {(r["hour_start"], r["event_type"]): tuple(r)[2:]
             for r in WORKLOADS["events_ohlc_hourly"].fn(spark, sf).collect()}
    stream = {(r["hour_start"], r["event_type"]): tuple(r)[2:]
              for r in WORKLOADS["events_ohlc_streaming"].fn(
                  spark, sf).collect()}
    assert stream == batch


# -- hourly peaks -------------------------------------------------------------


def test_hourly_peaks_hand_series(spark, tmp_path):
    import pandas as pd

    counts = [3, 7, 2, 5, 5, 9, 1]  # peaks at h1 (7 > 3,2) and h5 (9 > 5,1)
    rows = []
    eid = 0
    for h, k in enumerate(counts):
        for _ in range(k):
            rows.append((eid, pd.Timestamp(2024, 1, 1, h), 1, "click",
                         1.0, ""))
            eid += 1
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(str(tmp_path / "events.parquet"))
    from ophidia_io_server_spark.workloads import WORKLOADS

    got = {(r["hr"].hour, r["y"], r["prominence"]) for r in
           WORKLOADS["events_hourly_peaks"].fn(spark, str(tmp_path)).collect()}
    assert got == {(1, 7, 4), (5, 9, 4)}
