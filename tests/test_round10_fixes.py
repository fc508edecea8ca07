"""Round-10 fix guards (r9 verdict items 1, 2, 4, 7): stratified split's
distributed rank, no forced vocabulary broadcasts, spatial hot-cell
guard, bloom single-job build."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"

REPO = Path(__file__).resolve().parent.parent


def _plan(spark, name):
    df = WORKLOADS[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"))


# -- r9 verdict #1: stratified split must not sort a stratum in one task ----


def test_stratified_split_no_per_lang_window(spark):
    """The dominant-language stratum of a real corpus is most of the
    data: a window partitioned by ``lang`` alone is a single-task sort
    at 100 TB.  The plan must rank via the two-phase distributed pattern
    (windows keyed on the range-partition id), never on ``lang``."""
    p = _plan(spark, "doc_stratified_split")
    assert not re.search(r"windowspecdefinition\(lang#", p), (
        "doc_stratified_split regressed to a per-stratum window sort")
    assert "SinglePartition" not in p


def test_stratified_split_exact_proportions(spark):
    from pyspark.sql import functions as F

    out = WORKLOADS["doc_stratified_split"].fn(spark, SF)
    per = {(r["lang"], r["split"]): r["n"]
           for r in out.groupBy("lang", "split")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    langs = {k[0] for k in per}
    for lang in langs:
        n = sum(per.get((lang, s), 0) for s in ("train", "val", "test"))
        assert per.get((lang, "train"), 0) == n * 8 // 10, lang
        assert per.get((lang, "val"), 0) == n * 9 // 10 - n * 8 // 10, lang


def test_stratified_split_deterministic_under_repartition(spark):
    a = WORKLOADS["doc_stratified_split"].fn(spark, SF)
    b = WORKLOADS["doc_stratified_split"].fn(spark, SF).repartition(7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -- r9 verdict #2: no forced broadcast of vocabulary-sized tables ----------


def test_no_forced_vocabulary_broadcast_lint():
    """Token-vocabulary cardinality grows with the corpus; a forced
    ``F.broadcast`` of a token-keyed table is an OOM at 100 TB and
    disables Catalyst's size-based choice.  Grep-level guard over the
    two sites the r9 verdict flagged plus the token-keyed names."""
    for rel in ("ophidia_io_server_spark/pipeline/setjoin.py",
                "ophidia_io_server_spark/workloads/docs.py"):
        src = (REPO / rel).read_text()
        for bad in ("F.broadcast(freq", "F.broadcast(dfreq",
                    "broadcast(token", "broadcast(vocab"):
            assert bad not in src, f"{rel}: forced vocabulary broadcast {bad!r}"


# -- r9 verdict #4: spatial hot-cell guard ----------------------------------


def test_spatial_hot_cell_guard_raises(spark):
    from ophidia_io_server_spark.operators.spatial import radius_self_join

    # pathological: every point in one grid cell
    pts = spark.range(50).selectExpr(
        "id", "0.001 + id * 1e-7 as x", "0.001 as y")
    with pytest.raises(RuntimeError, match="hottest grid cell"):
        radius_self_join(pts, 1.0, max_cell_rows=10)


def test_spatial_guard_passes_normal_density(spark):
    from ophidia_io_server_spark.operators.spatial import radius_self_join

    pts = spark.range(100).selectExpr(
        "id", "cast(id % 10 as double) as x", "cast(id div 10 as double) as y")
    out = radius_self_join(pts, 0.5, max_cell_rows=10)
    assert out.count() == 0  # grid spacing 1.0 > radius


# -- r9 verdict #7: bloom build is ONE job ----------------------------------


def test_bloom_build_single_action(spark, monkeypatch):
    from ophidia_io_server_spark.operators import bloom

    keys = spark.range(100).selectExpr("id * 3 as k")
    # patch the CONCRETE DataFrame class (pyspark 4 routes the public
    # pyspark.sql.DataFrame name through a dispatch shim)
    cls = type(keys)
    actions = []
    orig_collect, orig_count = cls.collect, cls.count
    monkeypatch.setattr(cls, "collect",
                        lambda self: actions.append("collect")
                        or orig_collect(self))
    monkeypatch.setattr(cls, "count",
                        lambda self: actions.append("count")
                        or orig_count(self))
    bf = bloom.bloom_build(keys, "k", m_bits=1 << 12, k_hashes=4)
    assert actions == ["collect"], actions
    monkeypatch.undo()
    row = bf.collect()[0]
    assert row["n_keys"] == 100
    # no false negatives: every real key probes true
    from pyspark.sql import functions as F

    probed = (keys.crossJoin(F.broadcast(bf))
              .where(bloom.bloom_might_contain(
                  F.col("bloom"), F.col("k"), 1 << 12, 4)))
    assert probed.count() == 100


# -- CDF-based rank statistics: no single-partition stage anywhere -----------


def test_rank_statistics_no_single_partition_sort_or_window(spark):
    """Every r10 statistic that consumes the distributed CDF/rank
    primitives must keep its plan free of data-sized single-task stages:
    a ``SinglePartition`` exchange is LEGITIMATE only as the final hop of
    a global scalar aggregate (its input is one partial row per
    partition, bounded by P, not the data) — the scale-killers are a
    Sort or Window consuming one (the r9 stratified-split class).  The
    guard walks each SinglePartition exchange's consumer and rejects
    sorts/windows."""
    def offenders(plan):
        lines = plan.splitlines()
        bad = []
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            indent = len(ln) - len(ln.lstrip(" +-:*("))
            for j in range(i - 1, -1, -1):
                pj = lines[j]
                ind_j = len(pj) - len(pj.lstrip(" +-:*("))
                if pj.strip() and ind_j < indent:
                    if "Sort" in pj or "Window" in pj:
                        bad.append(pj.strip()[:80])
                    break
        return bad

    for name in ("events_mannwhitney_utest", "orders_gini_revenue",
                 "lineitem_winsorized_stats", "events_ks_test",
                 "lineitem_mad_outliers", "lineitem_spearman_corr",
                 "events_quantile_normalize", "doc_stratified_split"):
        p = _plan(spark, name)
        assert not offenders(p), (name, offenders(p))
        assert "CartesianProduct" not in p, name
