"""Physical-plan shape guards: the scale-critical plan properties asserted
structurally so a refactor that silently loses pushdown / top-k / broadcast
fails tests, not just the benchmark."""

import pytest

from ophidia_io_server_spark.workloads import WORKLOADS

SF = "/root/testdata/sf0.001"


def plan_of(spark, name):
    df = WORKLOADS[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended"))


def test_select_reduce_pushdown_and_topk(spark):
    p = plan_of(spark, "select_reduce")
    assert "PushedFilters" in p and "l_orderkey" in p.split("PushedFilters")[1][:200]
    assert "TakeOrderedAndProject" in p  # inverted LIMIT compiles to top-k
    assert "CartesianProduct" not in p


def test_joins_never_cartesian(spark):
    for name in ("join_mul_array", "join_three_way", "tpch_q5_local_supplier"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_dedup_pipelines_no_cartesian(spark):
    for name in ("dedup_ngram_jaccard", "dedup_minhash_pairs", "dedup_simhash_pairs"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name


def test_tpch_q1_partial_aggregation(spark):
    p = plan_of(spark, "tpch_q1_pricing")
    assert "partial_" in p  # map-side combine before the exchange
    assert "PushedFilters" in p  # shipdate predicate reaches the scan


def test_curation_and_contamination_no_cartesian(spark):
    """The curation row composes cluster resolution, hash-split checks,
    sampling/shuffle invariants and decontamination: everything must stay
    equi-join shaped — the only cross joins are broadcast single-ROW
    invariant columns (r4: fractions_ok + its total; r5 adds sample_rate_ok
    with its total, shuffle_is_perm, and the pack_ff_ok composite — which
    itself combines three single-row aggregates — nine single-row
    broadcasts total)."""
    p = plan_of(spark, "curation_split_clusters")
    assert "CartesianProduct" not in p
    # single-row invariant broadcasts are fine; a non-broadcast NLJ is not
    assert "NestedLoopJoin" not in p.replace("BroadcastNestedLoopJoin", "")
    bnlj = p.count("BroadcastNestedLoopJoin")
    assert bnlj <= 9, f"unexpected extra BNLJ ({bnlj}) in curation plan"


def test_ivf_assignment_is_broadcast_not_literal(spark):
    """IVF centroid assignment must be a broadcast join, not an
    O(nlist·dim) literal expression tree (r4 fix)."""
    p = plan_of(spark, "ann_ivf_topk")
    assert "BroadcastExchange" in p
    assert "min_by" in p


def test_sketch_single_aggregation_pass(spark):
    """sketch + exact verification compute in ONE groupBy (no second scan
    of events for the exact side)."""
    df = WORKLOADS["sketch_approx_stats"].fn(spark, SF)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    # one scan NODE (the formatted detail section repeats the node header)
    assert p.count("Location: InMemoryFileIndex") == 1


def test_substring_spans_shape(spark):
    # one hash-exchange for the global window count, doc_id exchange shared by
    # windows+groupBys, no cartesian, no Python in the plan
    p = plan_of(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_classifier_scan_only(spark):
    # the weight-expression path must stay a pure projection: no join, no
    # aggregate exchange — scoring is embarrassingly parallel at 100 TB
    p = plan_of(spark, "quality_classifier_score")
    assert "Join" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    import re
    # only the dev-local spread() round-robin exchange is allowed
    assert not re.search(r"Exchange hashpartitioning", p)


def test_token_budget_no_global_window(spark):
    # the engine must never sort the corpus into one partition: no
    # single-partition Exchange, window partitioned by the quality class
    p = plan_of(spark, "token_budget_select")
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_kneser_ney_bounded_scans(spark):
    """The KN model derives everything from the checkpointed bigram type
    table: the executed plan must not replay the corpus per aggregation
    (was 6 scans before the r6 checkpoint)."""
    df = WORKLOADS["doc_kneser_ney_lm"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan parquet") <= 2, p.count("Scan parquet")
    assert "CartesianProduct" not in p


def test_longest_dup_match_no_range_sampling(spark):
    """The suffix sort rides order-consistent hash-prefix buckets — no
    repartitionByRange (whose boundary sampling re-scans the stream)."""
    df = WORKLOADS["doc_longest_dup_match"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in p
    assert "CartesianProduct" not in p


def test_new_tpch_pushdown_and_broadcasts(spark):
    p = plan_of(spark, "tpch_q7_nation_volume")
    assert "PushedFilters" in p and "l_shipdate" in p
    assert "CartesianProduct" not in p
    p8 = plan_of(spark, "tpch_q8_market_share")
    assert "BroadcastHashJoin" in WORKLOADS["tpch_q8_market_share"].fn(
        spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p8
    # q13 must keep the LEFT join (zero-order bucket depends on it)
    p13 = plan_of(spark, "tpch_q13_order_histogram")
    assert "LeftOuter" in p13 or "left_outer" in p13.lower()


def test_bottom_k_global_is_take_ordered(spark):
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.pipeline.sampling import bottom_k_sample
    from ophidia_io_server_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    df = bottom_k_sample(docs, 10, key_col="doc_id", seed=1)
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()


def _n_parquet_scans(df) -> int:
    p = df._jdf.queryExecution().executedPlan().toString()
    return p.count("Scan parquet")


def test_pinned_multiconsumer_sites_read_blocks_not_parquet(spark, tmp_path):
    """The recompute-per-consumer rule as a structural guard (r8 verdict
    #7): the four fixed pin sites — triangle edges, CC edges, PassJoin
    dictionary, gap-fill observations — must materialize their
    multi-consumer artifact ONCE (pin.pinned → localCheckpoint), so the
    operator's final plan reads checkpointed blocks and contains ZERO
    parquet re-scans of the corpus that produced the artifact."""
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.operators.graph import triangle_counts
    from ophidia_io_server_spark.operators.timeseries import (
        gap_fill_interpolate,
    )
    from ophidia_io_server_spark.pipeline.dedup import dup_clusters
    from ophidia_io_server_spark.pipeline.strsim import (
        edit_distance_self_join,
    )

    # corpus-backed inputs: a parquet scan in the final plan would mean a
    # consumer re-executed the upstream instead of reading the pin
    edges_path = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    ).write.parquet(edges_path)
    edges = spark.read.parquet(edges_path)

    tri = triangle_counts(edges)
    assert _n_parquet_scans(tri) == 0, "triangle edges not pinned"
    got = {r["node"]: r["n_triangles"] for r in tri.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}

    cc = dup_clusters(
        edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")))
    assert _n_parquet_scans(cc) == 0, "CC edge list not pinned"
    assert {r["cluster_id"] for r in cc.collect()} == {1}

    names_path = str(tmp_path / "names")
    spark.createDataFrame(
        [("abc",), ("abd",), ("xyz",)], "name string").write.parquet(names_path)
    pairs = edit_distance_self_join(spark.read.parquet(names_path), "name", 1)
    assert _n_parquet_scans(pairs) == 0, "PassJoin dictionary not pinned"
    assert [(r["a"], r["b"]) for r in pairs.collect()] == [("abc", "abd")]

    obs_path = str(tmp_path / "obs")
    spark.createDataFrame(
        [("k", 0, 1.0), ("k", 3, 4.0)], "key string, idx long, v double"
    ).write.parquet(obs_path)
    filled = gap_fill_interpolate(
        spark.read.parquet(obs_path), ["key"], "idx", "v",
        start_idx=0, n_steps=4)
    assert _n_parquet_scans(filled) == 0, "gap-fill observations not pinned"
    assert filled.count() == 4


def test_wave11_14_no_data_sized_single_task_stage(spark):
    """Waves 11-14 scale guards: the ABC classification (distributed
    prefix sum) must carry no window partitioned on nothing over a
    data-sized input; HITS/co-purchase/contamination joins stay
    equi-join shaped; the top-k rows compile to TakeOrderedAndProject,
    never a global Sort+Limit over an exchange."""
    for name in ("token_hits_scores", "part_copurchase_pairs",
                 "doc_ngram_contamination", "orders_trend_test",
                 "orders_lineitem_mutual_info"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name
        # single-row invariant broadcasts are the only NLJs allowed
        assert "NestedLoopJoin" not in p.replace(
            "BroadcastNestedLoopJoin", ""), name
    for name in ("token_hits_scores", "token_dispersion_index",
                 "embedding_outlier_topk"):
        p = plan_of(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_abc_uses_distributed_prefix_sum(spark):
    """part_abc_classification ranks via global_prefix_sum: every window
    in the plan must be keyed on the physical partition id (_pid), never
    an unpartitioned data-sized ORDER BY window (the r9-verdict
    single-task class)."""
    p = plan_of(spark, "part_abc_classification")
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "_pid" in spec, f"window not keyed on _pid: {spec[:120]}"


def test_kruskal_and_stump_windows_only_on_bounded_value_table(spark):
    """The Kruskal-Wallis / decision-stump / Cliff's-delta windows run on
    the <=50-row value-level CDF — their plans must aggregate BEFORE any
    window (partial aggregation present, and the window input is the
    grouped table, not the raw scan)."""
    for name in ("lineitem_kruskal_wallis", "lineitem_decision_stump",
                 "events_cliffs_delta"):
        p = plan_of(spark, name)
        assert "partial_" in p, name  # map-side combine feeds the window


def test_tdigest_broadcast_cluster_join_and_partial_agg(spark):
    """r12 canonical t-digest: the delta-row cluster frame must arrive by
    broadcast (a shuffled or nested-loop join here would be a scale
    regression), the value-level collapse must combine map-side, and
    nothing may go cartesian."""
    df = WORKLOADS["events_tdigest_quantiles"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    # the data-sized overlap join (value grid x cluster frame) is an
    # equi-join on the cell key with the rank-range residual -> BHJ;
    # the one BroadcastNestedLoopJoin in the plan is the intentional
    # |cells| x delta crossJoin BUILDING the 32-row-per-cell cluster
    # frame (both sides cell-count-sized, never data-sized)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    ext = plan_of(spark, "events_tdigest_quantiles")
    assert "partial_" in ext  # map-side combine on the (type, v) collapse


def test_env_fingerprint_scan_only(spark):
    """r13 env fingerprint: ten column-pruned count/min/max aggregates +
    a literal frame — no joins of any kind, no window, map-side combine
    on every table aggregate."""
    p = plan_of(spark, "env_fingerprint")
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in p
    assert "partial_" in p  # the per-table aggregates combine map-side


def test_stream_moments_readout_is_state_sized(spark):
    """r13 co-moment sketch: the returned frame must read ONLY the
    drained 6-counter-per-type state (LocalTableScan of the memory
    sink) — re-scanning events here would mean the 'streaming' row
    secretly recomputes batch-side.  No joins, no windows: the Pearson
    readout is row-local arithmetic on the state."""
    df = WORKLOADS["stream_moments_monitor"].fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in p
    for bad in ("FileScan", "CartesianProduct", "SortMergeJoin",
                "BroadcastHashJoin", "Window"):
        assert bad not in p, bad
