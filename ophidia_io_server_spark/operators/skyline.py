"""Distributed 2-D skyline (Pareto frontier) — the classic OLAP
"dominance" operator (Börzsönyi, Kossmann, Stocker, ICDE 2001: *The
Skyline Operator*).  A row is on the skyline iff no other row is at
least as good on BOTH dimensions and strictly better on at least one.

The naive formulation is a quadratic NOT-EXISTS self-join; the 2-D case
collapses to a *sorted scan with a running best*, which is what this
module distributes:

  1. ``groupBy(x).agg(best(y))`` — one map-side-combined exchange; rows
     of the same x collapse to the per-x best y (any worse-y row at the
     same x is dominated by the best-y row, which ties x and is strictly
     better on y).
  2. one range exchange ordered by x in *preference* direction; equal
     keys never split across range partitions, so the per-partition
     running best-y over *strictly preceding* rows (window, ``rowsBetween
     (unboundedPreceding, -1)``) is exact within a partition.
  3. a per-partition best-y summary (≤ P rows — bounded by the partition
     COUNT, not the data) collected to the driver; its prefix-best
     becomes each partition's carry-in, joined back as a broadcast
     literal table — the same two-phase offset discipline as
     ``operators/ranking.global_dense_rank`` (and pinned with the same
     ``localCheckpoint``: repartitionByRange re-samples boundaries per
     execution, so the summary branch and the consumer branch must read
     ONE materialization).
  4. a frontier point survives iff the combined carry-in/running best is
     strictly worse than its own y; original rows rejoin the surviving
     (x, y) points by equi-join (duplicated frontier points all survive:
     equal points never dominate each other).

At 100 TB this is one aggregation exchange + one range exchange + a
P-row driver summary + one equi-join — no quadratic pair volume and no
single-partition global window (``Window.orderBy`` with no partition key
is the textbook scale trap this avoids).

d > 2 dimensions lose the sorted-scan trick; ``skyline_nd`` implements
the distributed local-skyline / merge family instead (the MapReduce
adaptation of block-nested-loops skylines): per-batch vectorized local
skylines — valid because the global skyline is a subset of every local
skyline union — iterated to shrink the candidate set, then one exact
final pass over the (budget-checked) survivors.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame


def skyline_2d(df: DataFrame, x_col: str, y_col: str,
               x_dir: str = "max", y_dir: str = "min",
               partitions: int | None = None) -> DataFrame:
    """Rows of ``df`` on the 2-D Pareto frontier of (``x_col``,
    ``y_col``) under the given preference directions (``"max"`` /
    ``"min"`` per dimension).

    Dominance: q dominates p iff q is at-least-as-preferred on both
    dimensions and strictly preferred on at least one.  Rows with NULL
    in either dimension are never on the skyline (incomparable) and are
    dropped.  All original columns are preserved; exact duplicates of a
    frontier point all survive (equal points do not dominate each
    other).
    """
    if x_dir not in ("max", "min") or y_dir not in ("max", "min"):
        raise ValueError(f"x_dir/y_dir must be 'max' or 'min', got {x_dir!r}/{y_dir!r}")
    spark = df.sparkSession
    nparts = partitions or spark.sparkContext.defaultParallelism

    best_y = F.min if y_dir == "min" else F.max
    x_order = F.col(x_col).desc() if x_dir == "max" else F.col(x_col).asc()

    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    # phase 1: per-x best y (map-side combined; one exchange)
    pts = base.groupBy(x_col).agg(best_y(y_col).alias("_besty"))

    # phase 2: range exchange in preference order + per-partition running
    # best over strictly-preceding rows (one row per distinct x, so
    # "preceding rows" == "strictly preferred x")
    keyed = (pts.repartitionByRange(nparts, x_order)
             .withColumn("_pid", F.spark_partition_id()))
    w = (Window.partitionBy("_pid").orderBy(x_order)
         .rowsBetween(Window.unboundedPreceding, -1))
    local = keyed.withColumn("_prev", best_y("_besty").over(w)).localCheckpoint()

    # phase 3: ≤P-row summary -> prefix carry-in per partition
    summary = sorted(
        (r["_pid"], r["_b"]) for r in
        local.groupBy("_pid").agg(best_y("_besty").alias("_b")).collect()
    )
    carry, carry_rows = None, []
    for pid, b in summary:
        carry_rows.append((pid, carry))
        if b is not None:
            if carry is None:
                carry = b
            else:
                carry = min(carry, b) if y_dir == "min" else max(carry, b)
    y_type = dict(pts.dtypes)["_besty"]
    offs = local_frame(
        spark,
        [(int(p), c) for p, c in carry_rows] or [(0, None)],
        f"_pid int, _carry {y_type}")

    dominated = F.col("_best_prev").isNotNull() & (
        (F.col("_best_prev") <= F.col("_besty")) if y_dir == "min"
        else (F.col("_best_prev") >= F.col("_besty")))
    combine = F.least if y_dir == "min" else F.greatest
    frontier = (
        local.join(F.broadcast(offs), on="_pid")
        .withColumn("_best_prev", combine(F.col("_prev"), F.col("_carry")))
        .where(~dominated)
        .select(x_col, F.col("_besty").alias(y_col))
    )
    return base.join(frontier, on=[x_col, y_col])


def _local_skyline_np(m):
    """Row indices of the local Pareto frontier of an (n, d) all-MAXIMIZE
    float matrix.  Sort by the first dim descending (ties: remaining dims
    desc) so a point can only be dominated by an EARLIER kept point, then
    one vectorized dominance probe per point against the kept set —
    O(n·s·d) with s the local skyline size."""
    import numpy as np

    order = np.lexsort(tuple(-m[:, j] for j in range(m.shape[1] - 1, -1, -1)))
    kept_rows: list[int] = []
    kept = np.empty((0, m.shape[1]))
    for i in order:
        p = m[i]
        if kept.shape[0]:
            ge = (kept >= p).all(axis=1)
            gt = (kept > p).any(axis=1)
            if bool((ge & gt).any()) or bool((kept == p).all(axis=1).any()):
                # dominated, or an exact duplicate of a kept point (keep
                # one representative per point; duplicates rejoin later)
                if not bool((ge & gt).any()):
                    kept_rows.append(i)  # duplicate of a frontier point
                continue
        kept = np.vstack([kept, p[None, :]])
        kept_rows.append(i)
    return sorted(kept_rows)


def skyline_nd(df: DataFrame, dims: dict[str, str],
               candidate_budget: int = 2_000_000,
               max_rounds: int = 4) -> DataFrame:
    """d-dimensional Pareto frontier over NUMERIC columns — the
    distributed local-skyline/merge scheme (block-nested-loops skylines
    adapted to partitions; Börzsönyi et al. 2001 §BNL).

    ``dims`` maps column → ``"max"`` / ``"min"``.  Rows with a NULL in
    any dimension are incomparable and dropped (as in ``skyline_2d``).
    Exact duplicates of a frontier point all survive.

    Shape: every Arrow batch reduces to its local skyline (valid
    because no globally-non-dominated point can be locally dominated,
    so each pass only removes non-answers); passes iterate with
    shrinking partition counts until the candidate set fits the exact
    final pass, which runs the same kernel on ONE partition.  The
    frontier can be as large as the input on adversarial
    (anti-correlated) data — ``candidate_budget`` bounds the final
    single-task pass and the operator fails LOUDLY when the surviving
    candidates exceed it rather than silently OOMing a task (same
    discipline as the winnowing position budget).

    Sizing ``candidate_budget``: the final pass holds one numpy float64
    matrix of ``budget × d`` entries plus the Arrow batch, so its peak
    task memory is ~``budget × d × 8 B × 3`` (matrix + kept-copy +
    Arrow).  Budget from executor memory:  ``budget ≈ task_mem /
    (24·d)`` — e.g. a 4 GiB task at d=4 dims supports ~40M candidates;
    the 2M default fits any sane executor (d=8 → ~400 MB peak).  The
    BNL kernel's time is O(candidates × frontier), so budgets past ~10M
    also need a frontier that is small relative to the candidates —
    if the frontier itself is input-sized, no budget fixes it: reduce
    dimensions or filter first (the RuntimeError below says so).
    """
    import numpy as np  # noqa: F401 — required by the batch kernel

    if not dims or any(d not in ("max", "min") for d in dims.values()):
        raise ValueError(f"dims must map column -> 'max'|'min', got {dims!r}")
    cols = list(dims)
    for c in cols:
        t = dict(df.dtypes)[c]
        if t in ("string", "binary", "boolean") or t.startswith(("timestamp", "date", "array", "struct", "map")):
            raise ValueError(
                f"skyline_nd needs numeric dims; {c} is {t} (cast first — "
                "e.g. timestamps to epoch seconds)")

    base = df.where(
        F.expr(" AND ".join(f"`{c}` IS NOT NULL" for c in cols)))
    # all-maximize canonical form: negate the minimized dims
    canon = base.select(*[
        (F.col(c) if d == "max" else (-F.col(c))).cast("double").alias(f"_d{i}")
        for i, (c, d) in enumerate(dims.items())
    ]).distinct()

    dcols = [f"_d{i}" for i in range(len(cols))]

    def local_pass(it: "Iterator"):
        for pdf in it:
            if not len(pdf):
                continue
            m = pdf[dcols].to_numpy(dtype=float)
            yield pdf.iloc[_local_skyline_np(m)]

    # candidates are pinned per round: each set feeds the count AND the
    # next pass / final pass (the recompute-per-consumer rule)
    cand = canon.mapInPandas(local_pass, canon.schema).localCheckpoint()
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism
    # max_rounds reductions need max_rounds+1 counts: the count at the
    # top of each iteration checks the PREVIOUS round's survivors, so the
    # final reduction's output must get its own check before we give up.
    for _ in range(max_rounds + 1):
        n = cand.count()
        if n <= candidate_budget:
            break
        parts = max(1, parts // 4)
        cand = (cand.repartition(parts)
                .mapInPandas(local_pass, canon.schema).localCheckpoint())
    else:
        raise RuntimeError(
            f"skyline_nd: candidate set still exceeds candidate_budget="
            f"{candidate_budget} after {max_rounds} local-skyline rounds — "
            "the frontier itself is input-sized (anti-correlated data); "
            "raise the budget or reduce dimensions")
    final = (cand.repartition(1).mapInPandas(local_pass, canon.schema)
             .localCheckpoint())

    back = final.select(*[
        (F.col(f"_d{i}") if d == "max" else (-F.col(f"_d{i}")))
        .alias(f"_k{i}")
        for i, d in enumerate(dims.values())
    ])
    cond = [F.col(c).cast("double") == F.col(f"_k{i}")
            for i, c in enumerate(cols)]
    return base.join(back, cond).drop(*[f"_k{i}" for i in range(len(cols))])
