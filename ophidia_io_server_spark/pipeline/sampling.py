"""Deterministic sampling / splitting / shuffling for training-data curation.

Why not ``df.sample()`` / ``randomSplit()``: those draw from per-partition RNG
streams, so the selected set changes with partition layout and — worse — with
task RETRIES (a re-executed task re-draws; at 1000-executor scale some task
always retries, silently double-including or dropping rows).  Everything here
derives the decision from ``xxhash64(seed, key)`` of a stable row key instead:
pure Column expressions, bit-reproducible on any cluster layout, stable under
retries, and the same row always lands in the same sample/split/position —
the property a train/val/test split MUST have to avoid leakage across reruns.

Scale notes:
- sampling/splitting are narrow (no shuffle, no driver state) — they fuse
  into the scan as a codegen'd filter;
- ``deterministic_shuffle`` is the one global reorder (range exchange on the
  hash — the standard "shuffle the corpus once before sharding" step);
- stratified rates use one tiny driver-side map (strata → fraction), not a
  per-row lookup table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame

# decisions quantize the 64-bit hash into this many buckets; 1e6 gives rate
# resolution of 1e-6 while staying in exact-int territory
_BUCKETS = 1_000_000


def _bucket(key, seed: int):
    """Uniform bucket in [0, _BUCKETS) from the (seed, key) hash."""
    return F.pmod(F.xxhash64(F.lit(seed), key), F.lit(_BUCKETS))


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                seed: int = 7) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed on ``key_col``.

    The decision is a pure function of (seed, key): reruns, retries and
    repartitions select the identical set — unlike ``df.sample``.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_bucket(F.col(key_col), seed) < int(fraction * _BUCKETS))


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str = "source", key_col: str = "doc_id",
                      seed: int = 7, default_fraction: float = 0.0) -> DataFrame:
    """Per-stratum deterministic rates — the training-mix rebalancer
    (downsample over-represented sources, keep rare ones whole).

    ``fractions`` maps stratum value → keep fraction; strata not listed keep
    ``default_fraction``.  The map is a driver-side literal CASE (tiny),
    the per-row decision the same hash filter as ``hash_sample``.
    """
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1], got {v}")
    thresh = F.lit(int(default_fraction * _BUCKETS))
    for val, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == val, int(frac * _BUCKETS)).otherwise(thresh)
    return df.where(_bucket(F.col(key_col), seed) < thresh)


def bottom_k_sample(df: DataFrame, k: int, key_col: str = "doc_id",
                    seed: int = 0, strata_col: str | None = None) -> DataFrame:
    """EXACT-size uniform sample without replacement: the k rows with the
    smallest (seed, key) hashes — the distributed, deterministic
    equivalent of reservoir sampling (every size-k subset equally likely
    under a uniform hash, and the same k rows come back on any layout,
    any partitioning, any retry — unlike ``rdd.takeSample``/``reservoir``
    state).  ``hash_sample`` gives a Bernoulli fraction (size varies);
    this gives exactly min(k, n).

    With ``strata_col``: exactly k per stratum (window row_number over the
    hash order — one shuffle on the stratum key).  Without: a global
    TakeOrdered-shaped top-k on the negated criterion — per-partition
    heads then a merge of k·P candidate rows, never a full sort.

    The hash order is also the standard bottom-k sketch, so two tables
    sampled with the same seed share their sample on shared keys —
    the MinHash-style overlap-estimation property for free."""
    from pyspark.sql import Window

    h = F.xxhash64(F.lit(seed), F.col(key_col))
    if strata_col is not None:
        w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col))
        return (df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= k).drop("_rn"))
    # global: sort+limit compiles to TakeOrderedAndProject (bounded merge)
    return df.orderBy(h.asc(), F.col(key_col)).limit(k)


def weighted_bottom_k(df: DataFrame, k: int, weight_col: str,
                      key_col: str = "doc_id", salt: str = "",
                      max_weight: int = 65536,
                      priority_col: str = "priority") -> DataFrame:
    """EXACT-size weighted sample without replacement (integer weights):
    the k rows with the smallest *priority*, where a row's priority is the
    minimum of ``w`` independent uniform hashes — the integer-weight case
    of bottom-k/"exponential race" sampling (Efraimidis & Spirakis 2006
    via replication: a row of weight w behaves exactly like w unit-weight
    clones, and min-of-clones ~ Beta(1, w) ~ U^(1/w), so heavier rows win
    proportionally more often; the replicas never materialize as rows —
    the min folds inside one codegen'd projection).

    Everything stays on an exact integer grid: each clone hash is the
    first 15 hex digits of ``md5(md5(key) || '#' || salt || ':' || j)``
    (60 bits, the proven cross-engine recipe from
    ``pipeline/classifier.py``) — no
    transcendentals, no float compares, so selection is bit-reproducible
    across engines, retries and partitionings, unlike ``u^(1/w)`` scoring
    whose last-ulp ``ln``/``pow`` differences can flip the k-th seat.

    Scale: per-row cost is O(w) hash evaluations fused into the scan (cap
    enforced by ``max_weight``); selection is a TakeOrdered top-k — never
    a full sort, never a shuffle proportional to Σw.  Samples drawn with
    the same salt share clone hashes on shared keys (coordinated
    bottom-k sketches).  Weights must be ≥ 1; rows with NULL weight or
    NULL key are excluded (no defensible priority)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight_col).cast("bigint")
    key = F.col(key_col).cast("string")
    # clone string: "md5(key)#salt:j".  The key rides as its FIXED-WIDTH
    # md5 hex (32 chars, no delimiter characters), so the decomposition is
    # unambiguous for ANY key and salt contents: chars 1-32 are the key
    # field, '#' is structural, and j (digits-only) splits off at the last
    # ':'.  The previous "key#salt:j" form collided across (key, salt)
    # pairs when keys contained '#'/':' — e.g. key 'a#b' with no salt vs
    # key 'a' with salt 'b' (r7 ADVICE).
    pref = F.concat(F.md5(key), F.lit(f"#{salt}:"))
    clone = lambda j: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(pref, j.cast("bigint").cast("string"))),
                    1, 15), 16, 10).cast("bigint")
    pr = F.array_min(F.transform(
        F.sequence(F.lit(0), (F.least(w, F.lit(max_weight)) - 1).cast("int")),
        clone))
    out = (
        df.where(F.col(key_col).isNotNull() & w.isNotNull() & (w >= 1))
        .withColumn(priority_col, pr)
    )
    bad = F.col(weight_col).cast("bigint") > max_weight
    out = out.withColumn(
        priority_col,
        F.when(bad, F.raise_error(F.concat(
            F.lit(f"weighted_bottom_k: weight exceeds max_weight={max_weight} "
                  f"for key "), F.col(key_col).cast("string")))
        ).otherwise(F.col(priority_col)),
    )
    return out.orderBy(F.col(priority_col).asc(), F.col(key_col)).limit(k)


def hash_split(df: DataFrame, weights: list[float], key_col: str = "doc_id",
               seed: int = 7, split_col: str = "split") -> DataFrame:
    """Deterministic train/val/test split: adds ``split_col`` = 0..len-1.

    Buckets partition [0, 1) by cumulative weight, so the splits are exactly
    disjoint and exhaustive, and a row's split never changes between runs —
    the no-leakage property ``randomSplit`` does not give you.
    """
    if not weights or any(w < 0 for w in weights):
        raise ValueError(f"weights must be non-negative, got {weights}")
    total = float(sum(weights))
    if total <= 0:
        raise ValueError("weights must sum to > 0")
    b = _bucket(F.col(key_col), seed)
    cum = 0.0
    expr = F.lit(len(weights) - 1)
    # build from the last boundary backwards so earlier WHENs win
    bounds = []
    for w in weights[:-1]:
        cum += w / total
        bounds.append(int(cum * _BUCKETS))
    for i in reversed(range(len(bounds))):
        expr = F.when(b < bounds[i], i).otherwise(expr)
    return df.withColumn(split_col, expr.cast("int"))


def deterministic_shuffle(df: DataFrame, key_col: str = "doc_id",
                          seed: int = 7) -> DataFrame:
    """Global deterministic permutation: order by (hash(seed, key), key).

    The once-per-corpus "shuffle before sharding" step of a training
    pipeline.  A range exchange on the hash — uniformly load-balanced by
    construction, and the only operator in this module that shuffles.
    Changing ``seed`` gives an independent permutation.
    """
    return df.orderBy(F.xxhash64(F.lit(seed), F.col(key_col)), F.col(key_col))


def select_token_budget(df: DataFrame, budget: int,
                        quality_col: str = "quality",
                        tokens_col: str = "n_tokens",
                        key_col: str = "doc_id") -> DataFrame:
    """Fill a training-token budget with the best documents: take rows in
    (``quality_col`` DESC, ``key_col`` ASC) order while the cumulative token
    count BEFORE each row is under ``budget`` — the budget overshoots by at
    most one document, never undershoots while data remains.

    The naive formulation is a global sort + running sum — a single-partition
    window at 100 TB.  This implementation never builds a global order:

    1. ``groupBy(quality)`` → per-value token totals (map-side combined; the
       quality histogram is tiny relative to the corpus — quality scores are
       rounded/quantized by every upstream scorer here);
    2. the driver cumulative-scans the sorted histogram (thousands of
       entries) into per-class OFFSETS (tokens in all better classes) and
       finds the threshold class — classes above it are taken whole, classes
       below dropped before any shuffle;
    3. ``cum_before`` = class offset (broadcast-joined) + a running sum
       windowed PER QUALITY CLASS (ordered by ``key_col``) — partitions are
       single classes, never the corpus.  A pathologically popular quality
       value is the one skew risk; quantize scores coarser if one class
       outgrows a partition.

    Output = the selected rows + ``cum_before``, row-identical to the
    global-sort formulation (the gate row's SQL oracle computes exactly that
    global window for the comparison).

    NULL quality ranks LAST (the SQL ``ORDER BY quality DESC NULLS LAST``
    convention): unscored rows are taken only after every scored class, by
    normalizing NULL to −inf internally.
    """
    from pyspark.sql import Window

    q = F.coalesce(F.col(quality_col).cast("double"),
                   F.lit(float("-inf")))
    hist = (
        df.groupBy(q.alias("_q"))
        .agg(F.sum(F.col(tokens_col).cast("bigint")).alias("_toks"))
        .orderBy(F.col("_q").desc())
        .collect()
    )
    offsets, run, thresh = [], 0, None
    for r in hist:
        if run >= budget:
            break
        offsets.append((r["_q"], run))
        thresh = r["_q"]
        run += r["_toks"]
    if thresh is None:  # zero budget or empty input
        return df.withColumn("cum_before", F.lit(0).cast("bigint")).limit(0)
    spark = df.sparkSession
    off = local_frame(spark, offsets, schema="_q double, _off long")
    w = (Window.partitionBy(q)
         .orderBy(F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        df.where(q >= F.lit(thresh))
        .join(F.broadcast(off), q == F.col("_q"))
        .withColumn(
            "cum_before",
            (F.col("_off")
             + F.coalesce(F.sum(F.col(tokens_col).cast("bigint")).over(w),
                          F.lit(0))).cast("bigint"))
        .where(F.col("cum_before") < budget)
        .drop("_q", "_off")
    )


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          key_col: str = "doc_id", seed: int = 7,
                          fmt: str = "parquet", mode: str = "error") -> None:
    """Materialize a curated corpus as training shards: every row lands in
    shard ``xxhash64(seed, key) % n_shards`` with a deterministic position
    inside its shard — re-running the writer (any cluster layout, any retry
    schedule) produces byte-identical shard membership and order, which is
    what makes training runs reproducible and resumable.

    Implementation: the shard id is a pure Column; ``repartition(n, shard)``
    routes each shard to one task and ``sortWithinPartitions`` fixes the
    intra-shard order (hash position, then key) — no global sort.  Written
    with ``partitionBy(shard)`` so a trainer reads ``shard=K/`` directories
    independently.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    shard = F.pmod(F.xxhash64(F.lit(seed), F.col(key_col)), F.lit(n_shards))
    pos = F.xxhash64(F.lit(seed + 1), F.col(key_col))
    out = (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("_pos", pos)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "_pos", key_col)
        .drop("_pos")
    )
    out.write.mode(mode).partitionBy("shard").format(fmt).save(path)
