"""Temperature-based source mixing — the data-recipe step that rebalances
a multi-source corpus before training (sample source s at a rate ∝
``n_s^(α−1)``, the α-temperature scaling used by multilingual/multi-corpus
pretraining recipes; α=1 keeps natural proportions, α→0 equalizes
sources).

Pipeline shape: one count aggregation (rows = #sources), the weight
algebra on that tiny frame, then a broadcast join of per-source rates back
onto the corpus and the same deterministic hash-Bernoulli selection as
``pipeline/sampling.py`` (layout/retry-stable, no RNG state).  Nothing
driver-side except the source-count frame the broadcast would ship anyway.

Oracle-parity discipline: weights normalize by ``Σ_s n_s^α`` — a float sum
over sources, folded in SOURCE-NAME order on both engines (sort-then-fold,
the repo's standard); ``pow``/division sit inside the public 6-dp
rounding.  Selection itself is xxhash64-based (not expressible in DuckDB),
so gate rows verify it with deterministic tolerance booleans against the
binomial envelope, like the other sampling surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ophidia_io_server_spark.pipeline.sampling import _BUCKETS, _bucket


def source_mixing_plan(
    docs: DataFrame,
    alpha: float = 0.7,
    target_fraction: float = 0.5,
    source_col: str = "source",
) -> DataFrame:
    """Per-source sampling plan: ``(source, n_docs, weight, target_rate)``.

    ``weight_s = n_s^α / Σ_t n_t^α`` (the temperature-flattened mix);
    ``target_rate_s = min(1, weight_s · N · target_fraction / n_s)`` —
    the Bernoulli keep-rate that realizes the mix at ``target_fraction``
    of the corpus size (capped: a rare source cannot be oversampled past
    once-each without replacement)."""
    counts = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # Σ n^α and N folded in source order on a single-row frame both engines
    # can reproduce: sort the collected (source, n^α) structs, left-fold.
    tot = counts.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col(source_col).alias("s"),
            F.pow(F.col("n_docs"), F.lit(alpha)).alias("na"),
            F.col("n_docs").alias("n"),
        ))).alias("xs")
    ).select(
        F.aggregate("xs", F.lit(0.0), lambda a, x: a + x["na"]).alias("denom"),
        F.aggregate("xs", F.lit(0).cast("bigint"),
                    lambda a, x: a + x["n"]).alias("n_total"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            source_col, "n_docs",
            F.round(F.pow(F.col("n_docs"), F.lit(alpha)) / F.col("denom"), 6)
             .alias("weight"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.pow(F.col("n_docs"), F.lit(alpha)) / F.col("denom")
                    * F.col("n_total") * F.lit(target_fraction) / F.col("n_docs"),
                ), 6).alias("target_rate"),
        )
    )


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.7,
    target_fraction: float = 0.5,
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """The corpus resampled to the α-temperature mix: per-source
    deterministic hash-Bernoulli keep at that source's ``target_rate``.
    Adds nothing and drops rows only — schema passes through."""
    plan = source_mixing_plan(docs, alpha, target_fraction, source_col)
    return temperature_mix_stream(docs, plan, source_col, key_col, seed)


def temperature_mix_stream(
    stream: DataFrame,
    plan: DataFrame,
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Apply a (static, broadcast) per-source rate plan: a null-safe inner
    join of the rates + the per-row deterministic hash-Bernoulli keep.
    On a stream this is the STREAMING form of ``temperature_sample``, which
    is this call on the batch corpus and its own plan.

    Because the selection of a row depends only on (its key hash, its
    source's rate) and never on other rows, incremental micro-batch
    application with a FIXED plan is row-identical to the batch operator —
    the property the gate row proves by equating per-source counts.  The
    plan is the side input the production shape wants anyway: rates come
    from a corpus snapshot / previous epoch (α-mixing needs global counts,
    which an unbounded stream cannot know mid-flight), refreshed between
    epochs by re-broadcasting.  Stateless: no state store, watermark-free,
    schema passes through."""
    # null-safe join: the plan counts a NULL-source stratum like any other
    # (groupBy keeps the NULL group), so a plain inner join would silently
    # drop those rows while their mass still skewed every weight
    rates = F.broadcast(
        plan.select(F.col(source_col).alias("__src"), "target_rate"))
    withr = stream.join(
        rates, stream[source_col].eqNullSafe(rates["__src"])).drop("__src")
    # same bucket construction as sampling.hash_sample, rate per row; the
    # 6-dp rate times 1e6 buckets is integral — F.round recovers it exactly
    # (a bare cast would truncate 0.123456·1e6 = 123455.999… to 123455)
    thresh = F.round(F.col("target_rate") * _BUCKETS).cast("bigint")
    return withr.where(_bucket(F.col(key_col), seed) < thresh).select(*stream.columns)
