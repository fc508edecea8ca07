"""Explicit Bloom-filter semi-join reduction — the 100 TB join-pruning
primitive done as data, not config.

Spark's own runtime filters (InjectRuntimeFilter) build a
``bloom_filter_agg`` over the dim side and prefilter the fact scan, but
the aggregate is internal-only (not a registered SQL routine in this
build) and fires at the optimizer's discretion.  This module builds the
same structure with PURE DataFrame ops, so a pipeline can pin the
reduction deterministically: a map-backed bitset (word index →
64-bit word) built in one partial-aggregatable pass over the keys,
broadcast to the fact side, and probed with k xxhash64 positions per
row — entirely whole-stage-codegen arithmetic, no UDF.

Guarantees: NO false negatives ever (a true match always passes —
``might_contain`` tests exactly the bits ``add`` set); false positives
are removed by the exact re-join that follows, so the END RESULT is
bitwise the plain semi-join — the bloom only changes how many fact rows
reach the join shuffle.  Expected FP rate is the classic
``(1 − e^{−k·n/m})^k``.

Sizing: the broadcast map is ≤ m/64 entries of 16 B ≈ m/4 bytes (2^20
bits → 256 KB).  At 10 bits/key it holds ~m/10 keys; past ~10^8 keys
prefer partitioned semi-join — the docstring budget discipline, stated
loudly here rather than discovered at broadcast OOM.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.tables import local_frame


def _positions(key: Column, m_bits: int, k_hashes: int) -> list[Column]:
    return [F.pmod(F.xxhash64(key, F.lit(h)), F.lit(m_bits))
            for h in range(k_hashes)]


def bloom_build(keys: DataFrame, key_col: str, m_bits: int = 1 << 20,
                k_hashes: int = 4) -> DataFrame:
    """ONE-row DataFrame ``(bloom: array<bigint>, n_keys: bigint)`` — a
    DENSE m/64-word bitset over the distinct values of ``key_col``.  One
    scan + one tiny aggregation (≤ m/64 words).

    Dense array, not a map: Spark's in-memory MapData lookup is a LINEAR
    scan of the entries, so probing a ~10k-entry map 4×/row cost ~7 µs
    per fact row (measured r9 — the probe was 30× slower than the scan
    under it); array ``element_at`` is O(1).  The sparse word rows are
    assembled into the dense array ON THE DRIVER — that collect is
    m-bounded (≤ m/64 rows, a CONFIG, not data size), the same
    ≤P-row-summary discipline as the ranking offsets; a transform-over-
    map densify was tried first and cost seconds per execution in the
    interpreted lambda.

    ONE job (r9 verdict #7): each distinct key contributes EXACTLY
    ``k_hashes`` position rows, so the key count rides the same word
    aggregate as a per-word row count — ``n_keys = Σ count / k_hashes``
    computed driver-side from the m-bounded summary, instead of a second
    ``count()`` action over the distinct keys (which also means the
    distinct-key plan has a single consumer and needs no checkpoint)."""
    if m_bits % 64 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    k = (keys.select(F.col(key_col).alias("_k"))
         .where(F.col("_k").isNotNull()).distinct())
    pos = k.select(F.explode(F.array(
        *_positions(F.col("_k"), m_bits, k_hashes))).alias("p"))
    words = (pos.select((F.col("p") / 64).cast("bigint").alias("w"),
                        _bit(F.col("p")).alias("b"))
             .groupBy("w").agg(F.bit_or("b").alias("bits"),
                               F.count(F.lit(1)).alias("c"))
             .collect())  # ≤ m/64 rows — m-bounded, NOT key-bounded
    n_keys = sum(int(r["c"]) for r in words) // k_hashes
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[int(r["w"])] = int(r["bits"])
    spark = keys.sparkSession
    return local_frame(spark, [(arr, n_keys)],
                       "bloom array<bigint>, n_keys bigint")


def _bit(p: Column) -> Column:
    """The single-bit word for position p: 1 << (p % 64), as a bigint
    (SQL shiftleft accepts a column bit count via call_function)."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int"))


def bloom_might_contain(bloom: Column, key: Column, m_bits: int,
                        k_hashes: int = 4) -> Column:
    """Probe: true iff every one of the key's k bit positions is set.
    O(1) dense-array indexing + bit tests — codegen arithmetic on the
    broadcast row, no Python."""
    checks = []
    for p in _positions(key, m_bits, k_hashes):
        w = (p / 64).cast("int") + 1  # element_at is 1-based on arrays
        checks.append(
            F.element_at(bloom, w).bitwiseAND(_bit(p)) != 0)
    return reduce(lambda a, b: a & b, checks)
