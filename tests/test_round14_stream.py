"""r14 streaming batch-count reduction (verdict item 2) regression pins.

The staged-drain file counts dropped (4 -> 2 data files; 2 -> 1 sentinel)
after proving per-row batch-count invariance
(scripts/r14_stream_batchcount_probe.py).  These tests pin the two claims
that reduction rests on:

1. merge-invariant drains produce BITWISE-identical results for any file
   split of the same row multiset;
2. with a SINGLE sentinel batch the watermark-driven eviction/timeout pass
   still fires (in the trailing no-data micro-batch) and emits the
   NULL-extended rows.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _rows_key(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


def test_staged_events_dir_has_two_files(spark):
    from ophidia_io_server_spark.workloads.streaming import _staged_events_dir

    path = _staged_events_dir(spark, SF_SMALL)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 2, files


def test_moments_drain_is_batch_count_invariant(spark, tmp_path):
    """Drain the co-moment monitor from a 1-file staging and from the
    committed 2-file staging: bitwise-identical drained rows (the
    commutative-monoid argument the 4->2 reduction rests on)."""
    import ophidia_io_server_spark.workloads.streaming as st
    from ophidia_io_server_spark.sources.tables import load_table
    from ophidia_io_server_spark.workloads import WORKLOADS

    fn = WORKLOADS["stream_moments_monitor"].fn
    committed = _rows_key(fn(spark, SF_SMALL))

    one = str(tmp_path / "events_f1")
    (load_table(spark, SF_SMALL, "events").repartition(1)
     .write.mode("overwrite").parquet(one))
    orig = st._staged_events_dir
    st._staged_events_dir = lambda _s, _d: one
    try:
        single = _rows_key(fn(spark, SF_SMALL))
    finally:
        st._staged_events_dir = orig
    assert committed == single


def test_single_sentinel_outer_join_still_evicts(spark):
    """The outer stream-stream join must still emit its NULL-extended
    rows with ONE sentinel batch: the eviction pass rides the trailing
    no-data micro-batch (noDataMicroBatches, pinned in
    run_available_now).  A regression to zero unmatched rows means the
    eviction pass no longer runs before the drain terminates."""
    from ophidia_io_server_spark.workloads import WORKLOADS
    from ophidia_io_server_spark.workloads.streaming import (
        _staged_events_outer_dir,
    )

    path = _staged_events_outer_dir(spark, SF_SMALL)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 2, files  # one data file + ONE sentinel file

    out = WORKLOADS["stream_view_attribution_outer"].fn(spark, SF_SMALL)
    agg = out.agg(
        F.sum(F.when(~F.col("matched"), 1).otherwise(0)).alias("n_null"),
        F.min("stream_equals_batch").alias("eq")).collect()[0]
    assert agg["n_null"] > 0, "no NULL-extended rows: eviction never fired"
    assert bool(agg["eq"]) is True
