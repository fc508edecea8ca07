"""Distributed global ranking — the primitive Spark's window functions
refuse to give you at scale (a bare ``Window.orderBy`` collapses to ONE
partition; every textbook distributed sort-rank needs the two-phase
range-partition + offset pattern instead).

The per-partition offsets are summed on the driver from a ≤P-row summary
and enter the plan as ONE literal array indexed by the partition id
(``element_at(array(<offsets>), _pid + 1)``): no offsets table, no join.

Used by the Manber-Myers suffix-array construction in
``pipeline/dedup.py::suffix_array_ranks``; reusable anywhere a dense
global rank over arbitrarily many rows is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _pid_offsets(totals, nparts: int, width: int):
    """Exclusive running sums of per-partition ``totals`` (``(pid, t0, …)``
    summary rows, ``width`` values each) as ``width`` lists indexed by
    ``_pid``, plus the grand totals.  A partition with no rows has no
    summary row; its slot holds the running offset.  Every pid must lie
    in ``[0, nparts)``: the slot list has exactly ``nparts`` entries."""
    got = {r[0]: r[1:] for r in totals}
    stray = sorted(p for p in got if not 0 <= p < nparts)
    if stray:
        raise ValueError(f"partition ids {stray} outside [0, {nparts})")
    offs = [[0] * nparts for _ in range(width)]
    acc = [0] * width
    for pid in range(nparts):
        for i, t in enumerate(got.get(pid, (0,) * width)):
            offs[i][pid] = acc[i]
            acc[i] += int(t)
    return offs, acc


def _at_pid(offsets: list[int]) -> Column:
    """``offsets[_pid]`` as a plan literal.  The array is one SQL literal
    parsed in the JVM, so building it is one call whatever ``nparts``."""
    arr = F.expr("array(" + ", ".join(f"{int(o)}L" for o in offsets) + ")")
    return F.element_at(arr, F.col("_pid") + 1)


def global_dense_rank(df: DataFrame, cols: list[str],
                      partitions: int | None = None,
                      rank_col: str = "rank",
                      return_max: bool = False,
                      bucket_of=None):
    """Append a DENSE global 1-based rank over the total order of ``cols``
    without any single-partition stage.

    Two-phase shape:
      1. one range exchange on ``cols`` — equal keys provably land in the
         same range partition (the partitioner assigns by key comparison),
         so no key group is ever split across partitions;
      2. per-partition dense ranks (window keyed on the partition id) +
         a per-partition distinct-count summary (≤ P rows — bounded by
         the partition COUNT, not the data) collected to the driver; its
         prefix sums become each partition's rank offset, added back as
         one literal array indexed by the partition id (no table, no
         join).

    Deterministic for any input layout; ties (equal ``cols``) share a
    rank, as SQL DENSE_RANK does.

    With ``return_max=True`` returns ``(ranked_df, max_rank)`` — the
    global max rank is the SUM of the per-partition distinct counts the
    offset summary already holds, so callers that need it (e.g. the
    suffix-array doubling loop's all-distinct early exit) get it with
    ZERO extra passes over the data (r6 verdict #3: the separate
    ``max(rank)`` action was one full corpus-table scan per round).

    The plan is ``localCheckpoint``-ed AFTER the per-partition window:
    the offset branch and the consumer branch would otherwise each
    re-execute the range exchange, and repartitionByRange SAMPLES its
    boundaries per execution — two executions can draw different
    boundaries (exchange reuse is plan-identity-dependent, not
    guaranteed), silently desynchronizing partition ids from offsets.
    The summary and the consumer both read the pinned blocks, so the
    offsets the driver sums are those of the partition ids the consumer
    indexes with.
    Measured: without the pin, ranks over a 31-token corpus came back
    with collisions/gaps whenever Catalyst declined to reuse the
    exchange.  Pinning after the window (rather than after the exchange,
    the first version) also means the range sort + dense_rank run ONCE
    instead of once per branch — one fewer corpus sort per call, which
    the suffix-array doubling loop pays ~2·log(maxlen) times.

    ``bucket_of``: optional callable mapping ``F.col(cols[0])`` to an
    integer bucket that is MONOTONE in the total order of ``cols`` and
    never splits equal keys.  When the caller can compute such a bucket
    directly (e.g. the suffix-array doubling rounds, whose first key is
    a dense rank with a known max), the range partitioner — and the
    SAMPLING PASS that re-executes the whole upstream plan to draw its
    boundaries — is skipped entirely; offsets are then keyed by the
    bucket value instead of the physical partition id, so the bucket
    must lie in ``[0, partitions)`` (``ValueError`` otherwise)."""
    nparts = partitions or df.sparkSession.sparkContext.defaultParallelism
    if bucket_of is not None:
        keyed = (df.withColumn("_pid", bucket_of(F.col(cols[0]))
                               .cast("int"))
                 .repartition(nparts, "_pid"))
    else:
        keyed = (
            df.repartitionByRange(nparts, *cols)
            .withColumn("_pid", F.spark_partition_id())
        )
    w = Window.partitionBy("_pid").orderBy(*cols)
    # lazy checkpoint (r13 opt): the summary collect right below is the
    # first action and materializes the blocks as part of ITS job — an
    # eager checkpoint ran the range sort + window as a separate job and
    # then the collect as a second one.  Same pin semantics (lineage
    # truncated, both branches read the blocks), one job fewer per call.
    local = keyed.withColumn("_lrank", F.dense_rank().over(w)) \
        .localCheckpoint(eager=False)
    counts = local.groupBy("_pid").agg(F.max("_lrank")).collect()
    (offs,), (max_rank,) = _pid_offsets(counts, nparts, 1)
    ranked = (
        local.withColumn(rank_col,
                         (F.col("_lrank") + _at_pid(offs)).cast("bigint"))
        .drop("_pid", "_lrank")
    )
    return (ranked, max_rank) if return_max else ranked


def global_prefix_sum(df: DataFrame, cols: list[str],
                      val_col: str | list[str],
                      partitions: int | None = None,
                      cum_col: str | list[str] = "cum",
                      return_total: bool = False):
    """Append the INCLUSIVE global running sum of ``val_col`` over the
    total order of ``cols`` — the distributed cumulative-distribution
    primitive (exact percentiles, rank statistics with tie-averaged
    ranks, Lorenz/Gini curves, two-sample CDF distances) with no
    single-partition stage.

    ``val_col``/``cum_col`` may be LISTS: several running sums share ONE
    range exchange and one window pass (the KS statistic needs both
    groups' CDFs on the same value axis).

    ``cols`` must be a UNIQUE key of ``df`` (the callers here feed
    distinct-value summary tables); uniqueness keeps the within-window
    peer frame a single row, so the running sum is well-defined without
    a tie policy.

    Same two-phase shape as ``global_dense_rank`` (and the same
    post-window ``localCheckpoint`` pin, for the same boundary-sampling
    reason documented there): one range exchange on ``cols``,
    per-partition running sums keyed on the physical partition id, a
    ≤P-row per-partition total summary collected to the driver, prefix
    sums of THOSE become each partition's offset, one literal array per
    ``val_col`` indexed by the partition id.

    ``return_total=True`` additionally returns the GRAND TOTAL of each
    ``val_col`` (one Python int per column, or the bare int when
    ``val_col`` is a single name) as ``(df, total)`` — the offset
    collect already sums every partition's contribution, so callers
    that need n = Σval (the CDF denominator: percentile thresholds,
    Lorenz totals) get it with ZERO extra passes and can inline it as a
    literal instead of re-aggregating ``max(cum)`` into a 1-row frame
    and broadcast-joining it back (the r13 job-chain discipline: each
    such re-aggregate was a whole extra exchange + broadcast build in
    the final plan).
    """
    vals = [val_col] if isinstance(val_col, str) else list(val_col)
    cums = [cum_col] if isinstance(cum_col, str) else list(cum_col)
    if len(vals) != len(cums):
        raise ValueError(f"val_col/cum_col arity mismatch: {vals} vs {cums}")
    nparts = partitions or df.sparkSession.sparkContext.defaultParallelism
    keyed = (df.repartitionByRange(nparts, *cols)
             .withColumn("_pid", F.spark_partition_id()))
    w = (Window.partitionBy("_pid").orderBy(*cols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = keyed
    for i, v in enumerate(vals):
        local = local.withColumn(f"_lcum{i}", F.sum(F.col(v)).over(w))
    # lazy checkpoint: materialized by the totals collect below (see the
    # identical note in global_dense_rank) — one job fewer per call.
    local = local.localCheckpoint(eager=False)
    totals = local.groupBy("_pid").agg(
        *[F.max(f"_lcum{i}") for i in range(len(vals))]).collect()
    offs, grand = _pid_offsets(totals, nparts, len(vals))
    out = local
    for i, c in enumerate(cums):
        out = out.withColumn(
            c, (F.col(f"_lcum{i}") + _at_pid(offs[i])).cast("bigint"))
    out = out.drop("_pid", *[f"_lcum{i}" for i in range(len(vals))])
    if return_total:
        return out, (grand[0] if isinstance(val_col, str) else grand)
    return out
