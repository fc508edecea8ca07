"""``global_dense_rank`` / ``global_prefix_sum`` against ``Window``-based
reference ranks and running sums, on the layouts the literal offset
lookup must handle: empty partitions (gaps in ``_pid``), an empty
frame, caller-supplied buckets, several running sums at once; and the
plan the ranked frame drains with (no offsets join, one job)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.operators.ranking import (
    global_dense_rank,
    global_prefix_sum,
)


def _ref_rank(df, cols):
    return {tuple(r[:-1]): r[-1] for r in df.select(
        *cols, F.dense_rank().over(Window.orderBy(*cols)).alias("r"))
        .distinct().collect()}


def _ref_cums(df, cols, vals):
    w = (Window.orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return sorted(tuple(r) for r in df.select(
        *cols, *[F.sum(v).over(w).cast("bigint").alias(v) for v in vals])
        .collect())


def _check_rank(got, cols, ref):
    rows = got.collect()
    assert {tuple(r[c] for c in cols): r["rank"] for r in rows} == ref
    # ties share a rank: every row of a key carries the key's rank
    assert all(r["rank"] == ref[tuple(r[c] for c in cols)] for r in rows)


def test_dense_rank_with_empty_range_partitions(spark):
    """3 distinct keys over 8 range partitions: at most 3 partitions hold
    rows, the other ids have no summary row."""
    df = spark.range(40).select((F.col("id") % 3 * 10).alias("k"), "id")
    got, mx = global_dense_rank(df, ["k"], partitions=8, return_max=True)
    _check_rank(got, ["k"], _ref_rank(df, ["k"]))
    assert mx == 3
    assert got.count() == 40


def test_dense_rank_bucket_gaps(spark):
    """A caller bucket that skips ids (0, 3, 6 of 8): the gaps take the
    running offset, so ranks stay dense."""
    df = spark.range(30).select((F.col("id") % 3).alias("k"),
                                (F.col("id") % 5).alias("j"))
    got, mx = global_dense_rank(df, ["k", "j"], partitions=8,
                                return_max=True,
                                bucket_of=lambda c: c * 3)
    _check_rank(got, ["k", "j"], _ref_rank(df, ["k", "j"]))
    assert mx == 15


def test_dense_rank_suffix_array_bucket(spark):
    """The suffix-array doubling round's bucket: ``(r-1)·P / max_r`` over
    a dense rank 1..max_r."""
    base = global_dense_rank(
        spark.range(200).select((F.col("id") * 7919 % 61).alias("v")),
        ["v"], partitions=4)
    df = base.select("rank", (F.col("rank") % 4).alias("r2"))
    max_r = 61
    got = global_dense_rank(
        df, ["rank", "r2"], partitions=4, rank_col="nr",
        bucket_of=lambda r: ((r - 1) * 4 / F.lit(max_r)).cast("bigint"))
    ref = _ref_rank(df, ["rank", "r2"])
    assert {(r["rank"], r["r2"]): r["nr"] for r in got.collect()} == ref


def test_dense_rank_bucket_out_of_range_raises(spark):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="outside"):
        global_dense_rank(df, ["k"], partitions=4, bucket_of=lambda c: c)


def test_dense_rank_empty_frame(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    got, mx = global_dense_rank(df, ["k"], partitions=4, return_max=True)
    assert mx == 0
    assert got.collect() == []
    assert got.columns == ["k", "rank"]


def test_prefix_sum_with_empty_range_partitions(spark):
    """5 unique keys over 8 range partitions."""
    df = spark.createDataFrame([(k, k * k) for k in (3, 1, 4, 9, 2)],
                               "k long, c long")
    got, tot = global_prefix_sum(df, ["k"], "c", partitions=8,
                                 return_total=True)
    assert sorted(tuple(r) for r in got.select("k", "cum").collect()) \
        == _ref_cums(df, ["k"], ["c"])
    assert tot == 1 + 4 + 9 + 16 + 81


def test_prefix_sum_two_columns_with_total(spark):
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"),
        (F.col("id") % 3 + 1).alias("b"))
    got, tot = global_prefix_sum(df, ["k"], ["a", "b"], partitions=5,
                                 cum_col=["ca", "cb"], return_total=True)
    assert got.columns == ["k", "a", "b", "ca", "cb"]
    assert sorted(tuple(r) for r in got.select("k", "ca", "cb").collect()) \
        == _ref_cums(df, ["k"], ["a", "b"])
    assert tot == [sum(i % 7 for i in range(300)),
                   sum(i % 3 + 1 for i in range(300))]


def test_prefix_sum_empty_frame(spark):
    df = spark.createDataFrame([], "k long, c long")
    got, tot = global_prefix_sum(df, ["k"], "c", partitions=4,
                                 return_total=True)
    assert tot == 0
    assert got.collect() == []


def test_ranked_frame_drains_in_one_job(spark, group_job_ids):
    """The offsets are a literal lookup on ``_pid``: the drained plan has
    no join on ``_pid`` and one job.  A joined offsets table built from a
    Python list added a broadcast join and a second (Python-worker) job
    to every drain."""
    df = spark.range(6000).select((F.col("id") % 997).alias("k"), "id")
    for name, out in (
            ("rank", global_dense_rank(df, ["k"], partitions=4)),
            ("psum", global_prefix_sum(
                df.groupBy("k").agg(F.count("*").alias("c")), ["k"], "c",
                partitions=4))):
        group = f"test-ranking-drain-{name}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "ranked drain")
        try:
            out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobGroup(None, None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "_pid" in plan  # the lookup indexes the partition id
        assert len(group_job_ids(group)) == 1, name
