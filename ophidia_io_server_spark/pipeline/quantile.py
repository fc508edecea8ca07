"""Mergeable quantile sketch from deterministic coordinated bottom-k
samples — the quantile member of the repo's mergeable-sketch family
(Misra-Gries heavy hitters, Count-Min frequencies, HLL distincts).

A cell's sketch is the k rows with the smallest 60-bit md5 priority of
their id (`conv(substring(md5(id),1,15),16,10)` — the proven cross-engine
integer recipe from ``pipeline/classifier.py``), ties broken by id.  A
hash-priority bottom-k is a simple random sample WITHOUT replacement of
the cell (Cohen & Kaplan 2007, "Summarizing data using bottom-k
sketches"), so the empirical sample quantile estimates the cell quantile
with rank error O(1/√k) w.h.p.  What makes this the RIGHT sketch for a
re-aggregating rollup:

* **Merge is EXACT and deterministic.**  Because every row's priority is
  a pure function of its id, the bottom-k of a union equals the bottom-k
  of the union of per-part bottom-k's — bitwise, for ANY sharding or
  merge order (a global bottom-k row is necessarily in its own part's
  bottom-k).  Re-aggregated estimates are therefore INVARIANT across
  partitionings — a strictly stronger certificate than the HLL rollup's
  mode-dependent 5%/10% bounds (``events_hll_rollup``), and the reason
  the gate can bind cross-grain consistency with a boolean instead of a
  tolerance.
* **SQL-expressible.**  Unlike t-digest/KLL (whose compaction is
  stateful and RNG-bearing), the whole sketch is windows + arrays both
  engines reproduce bitwise — the DuckDB oracle rebuilds the identical
  sample, so the driver's value-hash gate applies to the ESTIMATES, not
  just invariants.
* **Scale shape.**  Build = one exchange (window rank per cell, rows
  beyond k dropped before any collect); cell state is ≤ k rows; merge
  re-ranks |cells|·k rows, never raw data.  At 100 TB the raw corpus is
  touched exactly once.

Estimates are DISCRETE quantiles (a selected data value, index
``floor(q·(m−1))`` of the value-sorted sample) — no interpolation, so no
float arithmetic to drift cross-engine.  Cells with ≤ k rows carry the
whole cell and their estimates are exact by construction.

Reference parity: the reference engine has no sketch surface; this module
is part of the beyond-reference analytics mandate (with
``pipeline/heavy.py`` and the HLL rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame


def _priority(id_col) -> F.Column:
    """60-bit uniform integer priority: first 15 hex digits of md5(id)."""
    return F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def quantile_sketch(df: DataFrame, keys: list[str], value_col: str,
                    id_col: str, k: int = 64) -> DataFrame:
    """Per-``keys`` cell bottom-k sketch.

    Returns one row per cell: ``(*keys, n, sample)`` where ``n`` is the
    exact cell row count (mergeable by sum) and ``sample`` an array of
    ``struct<pr, id, v>`` sorted by (pr, id) — the k smallest priorities.
    NULL values and NULL ids are excluded (no defensible priority).

    One exchange: rows are ranked per cell by (priority, id) and dropped
    beyond k BEFORE the per-cell collect, so no task ever materializes a
    cell larger than k (a bare ``collect_list`` + slice would).

    ``id_col`` must be an INTEGRAL column: the (pr, id) tie-break is
    stored as bigint, and a lossy cast (string id → NULL) would make the
    tie-break nondeterministic and void the bitwise exact-merge
    guarantee the module's certificates rely on — so non-integral id
    types are rejected loudly instead of silently cast."""
    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    id_t = dict(df.dtypes).get(id_col)
    if id_t not in _INTEGRAL:
        raise ValueError(
            f"quantile_sketch: id_col={id_col!r} has type {id_t!r}; an "
            f"integral type {_INTEGRAL} is required for the exact (pr, id) "
            "tie-break — hash or dense-rank the id to bigint first")
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(*keys,
                    _priority(F.col(id_col)).alias("pr"),
                    F.col(id_col).cast("bigint").alias("id"),
                    F.col(value_col).cast("double").alias("v")))
    w = Window.partitionBy(*keys).orderBy("pr", "id")
    wc = Window.partitionBy(*keys)
    ranked = (base.withColumn("_rn", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(wc)))
    return (ranked.where(F.col("_rn") <= k)
            .groupBy(*keys)
            .agg(F.first("_n").cast("bigint").alias("n"),
                 F.array_sort(F.collect_list(
                     F.struct("pr", "id", "v"))).alias("sample")))


def merge_sketches(sk: DataFrame, keys: list[str], k: int = 64) -> DataFrame:
    """Re-aggregate sketch cells to the coarser ``keys`` grain.

    Exact-coordinated merge: explode the ≤k-row samples, re-rank by
    (pr, id) per coarse cell, keep k — bitwise identical to sketching the
    coarse cell from raw data, for any sharding (see module docstring).
    ``n`` adds.  Work is |cells|·k rows — independent of corpus size."""
    rows = sk.select(*keys, "n", F.explode("sample").alias("s"))
    w = Window.partitionBy(*keys).orderBy(F.col("s.pr"), F.col("s.id"))
    ns = sk.groupBy(*keys).agg(F.sum("n").cast("bigint").alias("n"))
    kept = (rows.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .groupBy(*keys)
            .agg(F.array_sort(F.collect_list("s")).alias("sample")))
    return ns.join(kept, on=keys)


def sketch_quantiles(sk: DataFrame, qs: list[float],
                     prefix: str = "est_p") -> DataFrame:
    """Append a discrete-quantile estimate column per q in ``qs``.

    The estimate is the sample value at 0-based index ``floor(q·(m−1))``
    of the VALUE-sorted sample (m = sample size) — a selected datum, no
    interpolation.  Cells with n ≤ k are exact (sample = cell)."""
    vals = F.array_sort(F.transform("sample", lambda s: s["v"]))
    out = sk.withColumn("_vals", vals).withColumn(
        "_m", F.size("_vals"))
    for q in qs:
        idx = F.floor(F.lit(float(q)) * (F.col("_m") - 1)).cast("int") + 1
        out = out.withColumn(
            f"{prefix}{int(round(q * 100))}",
            F.when(F.col("_m") > 0, F.element_at("_vals", idx)))
    return out.drop("_vals", "_m")


def exact_discrete_quantiles(df: DataFrame, keys: list[str],
                             value_col: str, id_col: str, qs: list[float],
                             prefix: str = "exact_p") -> DataFrame:
    """Exact discrete quantiles per cell under the SAME index rule the
    sketch estimator uses (value at 0-based index floor(q·(n−1)) of the
    (value, id)-sorted cell) — the comparison target for the estimates.
    One window exchange; no arrays of unbounded size (only the selected
    index rows survive the filter)."""
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(*keys, F.col(id_col).cast("bigint").alias("id"),
                    F.col(value_col).cast("double").alias("v")))
    w = Window.partitionBy(*keys).orderBy("v", "id")
    wc = Window.partitionBy(*keys)
    ranked = (base.withColumn("_rn", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(wc)))
    hit = None
    for q in qs:
        sel = (ranked.where(
            F.col("_rn") == F.floor(F.lit(float(q))
                                    * (F.col("_n") - 1)).cast("int") + 1)
            .select(*keys, F.col("v").alias(f"{prefix}{int(round(q * 100))}")))
        hit = sel if hit is None else hit.join(sel, on=keys)
    return hit


def equi_depth_histogram(df: DataFrame, value_col: str,
                         tiebreak_cols: list[str], bins: int,
                         partitions: int | None = None) -> DataFrame:
    """EXACT equi-depth histogram — the optimizer-statistics sibling of
    the sketches (CMS frequencies, bottom-k quantiles, HLL distincts):
    rows ranked by (value, *tiebreak) with the distributed two-phase rank
    (no single-partition window), bucket = ((rank−1)·bins) DIV n — so
    per-bucket counts differ by AT MOST 1 for any value distribution
    (the defining equi-depth property, integer arithmetic only).

    Returns one row per non-empty bucket: ``(bucket, n_rows, lo, hi)``
    with lo/hi the bucket's min/max value — the boundary table a
    range-predicate selectivity estimator reads.

    r13 opt (guide §2.3: shuffle the value GRID, not the rows): in any
    rank order keyed (value, *tiebreak), the rows of one value occupy
    the CONTIGUOUS rank block [cum−cnt+1, cum] — the tie-break only
    permutes ranks within that block, and bucket counts/boundaries
    depend only on how the block intersects the bucket rank intervals.
    So the histogram is computed from the distinct-value CDF
    (``global_prefix_sum`` over the value-count table): the range
    exchange carries one row per DISTINCT value instead of one per row
    (the canonical_tdigest discipline).  ``tiebreak_cols`` is kept in
    the signature for API stability / self-documentation of the rank
    order the result is defined over; the result is provably identical
    for every tie-break choice.  Bucket k covers ranks r with
    ((r−1)·bins) DIV n = k, i.e. r−1 ∈ [⌈kn/b⌉, ⌈(k+1)n/b⌉−1] — pure
    BIGINT arithmetic; per-(value, bucket) overlap counts sum to the
    per-bucket depth."""
    from ophidia_io_server_spark.operators.ranking import global_prefix_sum

    del tiebreak_cols  # provably irrelevant to the result (see above)
    b = int(bins)
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v"))
    vc = base.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    cum, n = global_prefix_sum(vc, ["v"], "cnt", partitions,
                               return_total=True)
    n = int(n)
    # value block spans ranks [cum−cnt+1, cum] → buckets lob..hib
    lob = F.expr(f"CAST(((cum - cnt) * {b}) DIV {max(n, 1)} AS BIGINT)")
    hib = F.expr(f"CAST(((cum - 1) * {b}) DIV {max(n, 1)} AS BIGINT)")
    e = cum.select(
        "v", "cnt", "cum",
        F.explode(F.sequence(lob, hib)).alias("bucket"))
    # bucket k's rank interval [r_lo, r_hi] (1-based, derivation above)
    r_lo = F.expr(f"CAST((bucket * {n} + {b} - 1) DIV {b} + 1 AS BIGINT)")
    r_hi = F.expr(f"CAST(((bucket + 1) * {n} + {b} - 1) DIV {b} AS BIGINT)")
    overlap = (F.least(F.col("cum"), r_hi)
               - F.greatest(F.col("cum") - F.col("cnt") + 1, r_lo)
               + 1)
    # n < bins leaves some bucket rank-intervals EMPTY; the block-span
    # sequence can then enumerate such a bucket with overlap 0 — drop it
    # so phantom values never reach the lo/hi aggregates (the row-rank
    # formulation emitted non-empty buckets only)
    return (e.withColumn("_ov", overlap).where(F.col("_ov") > 0)
            .groupBy("bucket")
            .agg(F.sum("_ov").cast("bigint").alias("n_rows"),
                 F.min("v").alias("lo"), F.max("v").alias("hi")))


def canonical_tdigest(df: DataFrame, keys: list[str], value_col: str,
                      delta: int = 32) -> DataFrame:
    """Canonical (merge-invariant) t-digest per ``keys`` cell — the
    tail-accurate member of the mergeable-sketch family (Dunning & Ertl;
    see the r12 workload ``events_tdigest_quantiles`` for the full
    design rationale and the DuckDB oracle twin).

    A streamed t-digest depends on insertion/merge order; this is the
    construction's FIXED POINT — the digest of fully-merged sorted data
    — defined off exact global ranks from the distributed value-level
    CDF, so ANY partitioning of the input yields the same bits.  Cluster
    boundaries follow the smoothstep rational scale
    ``q_j = (3 j^2 delta - 2 j^3) / delta^3`` (dq/dj -> 0 at both ends:
    the cluster budget concentrates in the tails like the classical
    asin-based k1, but the rank thresholds ``t_j = floor(n q_j)`` stay
    pure BIGINT arithmetic — no libm in the hashed path).

    Returns one row per non-empty cluster:
    ``(*keys, cluster, weight, sum_val, lo, hi, span)`` where ``span``
    is the cluster's defined rank width (``weight == span`` certifies
    the digest tiles the rank space exactly).

    Scale: the value-level collapse is partial-aggregatable; the CDF
    window runs over the per-cell DISTINCT value grid; the delta-row
    cluster frame is broadcast into the overlap join."""
    base = (df.where(F.col(value_col).isNotNull())
            .select(*keys, F.col(value_col).alias("v")))
    vc = base.groupBy(*keys, "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    return tdigest_from_value_counts(vc, keys, delta=delta)


def tdigest_from_value_counts(vc: DataFrame, keys: list[str],
                              delta: int = 32) -> DataFrame:
    """The counts→digest stage of ``canonical_tdigest``, exposed so a
    STREAMING value-level collapse (integer counts are micro-batch-
    decomposition invariant) can feed the identical fixed-point
    construction — the digest is a pure function of the value-level CDF,
    so stream-accumulated counts converge to the batch digest BITWISE.
    ``vc`` must be ``(*keys, v, cnt)`` with bigint cnt."""
    d = int(delta)
    wv = Window.partitionBy(*keys).orderBy("v")
    cdf = (vc.withColumn("cum", F.sum("cnt").over(wv))
           .withColumn("n", F.sum("cnt").over(Window.partitionBy(*keys))))
    cells = cdf.select(*keys, "n").distinct()
    j = vc.sparkSession.range(1, d + 1).toDF("j")
    # t_j = floor(n * m_j / d^3) with m_j = 3 j^2 d - 2 j^3 <= d^3.
    # Computed as (n div d^3)*m_j + ((n mod d^3)*m_j) div d^3 so every
    # intermediate stays < max(n, d^6): the naive n*m_j wraps BIGINT at
    # n ~ 2.8e14 rows/cell (Spark wraps silently, DuckDB raises) —
    # within a 100 TB hot cell's reach.
    D3 = d * d * d

    def _thresh(jj: str) -> str:
        m = f"(3*{jj}*{jj}*{d} - 2*{jj}*{jj}*{jj})"
        return (f"(n div {D3}) * {m} + ((n % {D3}) * {m}) div {D3}")

    cl = (cells.crossJoin(F.broadcast(j))
          .select(
              *[F.col(k).alias(f"__k_{k}") for k in keys],
              F.col("j").cast("bigint").alias("cluster"),
              F.expr(_thresh("(j-1)")).cast("bigint").alias("t_lo"),
              F.expr(_thresh("j")).cast("bigint").alias("t_hi"))
          .where(F.col("t_hi") > F.col("t_lo")))  # drop empty clusters
    cond = (cdf.cum - cdf.cnt < cl.t_hi) & (cdf.cum > cl.t_lo)
    for k in keys:
        cond &= cdf[k] == cl[f"__k_{k}"]
    asg = (cdf.join(F.broadcast(cl), cond)
           .select(*[cdf[k] for k in keys], cl.cluster, cl.t_lo, cl.t_hi,
                   cdf.v,
                   (F.least(cdf.cum, cl.t_hi)
                    - F.greatest(cdf.cum - cdf.cnt, cl.t_lo)).alias("w")))
    return (asg.groupBy(*keys, "cluster")
            .agg(F.sum("w").cast("bigint").alias("weight"),
                 F.sum(F.col("v") * F.col("w")).cast("bigint")
                 .alias("sum_val"),
                 F.min("v").cast("bigint").alias("lo"),
                 F.max("v").cast("bigint").alias("hi"),
                 F.max(F.col("t_hi") - F.col("t_lo")).cast("bigint")
                 .alias("span")))


def tdigest_estimate(digest: DataFrame, keys: list[str],
                     qs: list[float]) -> DataFrame:
    """Quantile estimates from a ``canonical_tdigest`` frame: for each
    cell and q, locate the cluster containing the nearest-rank target
    ``ceil(q n)`` via the digest's cumulative weights and report the
    cluster's value bracket —
    ``(*keys, q, q_ppm, target_rank, est, lo, hi, weight)`` with
    ``est`` the cluster mean (q_ppm/target_rank expose the exact
    integer rank math for downstream certificates).  The EXACT q-quantile provably lies in
    [lo, hi] (clusters are exact rank ranges), so the bracket width is a
    per-estimate certified error bound — tight at the tails by the scale
    function's construction.  All digest-sized frames; never touches raw
    data."""
    cum = (digest
           .withColumn("cum_w", F.sum("weight").over(
               Window.partitionBy(*keys).orderBy("cluster")))
           .withColumn("n", F.sum("weight").over(Window.partitionBy(*keys))))
    # Target rank ceil(q*n) computed EXACTLY in BIGINT: q rides as an
    # integer per-million (every practical q is a ppm-exact rational)
    # and target = (n*q_ppm + 999_999) div 1_000_000.  The double-
    # precision F.ceil(q*n) form is off-by-one at boundaries (e.g.
    # double(0.05)*160 = 8.0000000000000004 -> ceil 9), which can pick
    # the neighbor cluster and break the [lo, hi] bracket guarantee.
    qdf = local_frame(
        digest.sparkSession,
        [(float(q), int(round(q * 1_000_000))) for q in qs],
        "q double, q_ppm bigint")
    target = F.expr("(n * q_ppm + 999999) div 1000000")
    hit = (cum.crossJoin(F.broadcast(qdf))
           .where((F.col("cum_w") >= target)
                  & (F.col("cum_w") - F.col("weight") < target)))
    return hit.select(
        *keys, "q", "q_ppm", target.cast("bigint").alias("target_rank"),
        (F.col("sum_val").cast("double") / F.col("weight")).alias("est"),
        "lo", "hi", "weight")
