"""Round-8 fix coverage: registry composition as a computed invariant,
the weighted-bottom-k salt-delimiter collision, k-means small-corpus
clamp, the empty-stream return type, and the winnowing position-budget
boundary (r7 VERDICT #5/#8 and the five r7 ADVICE items)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_registry_composition_zero_uncovered():
    from ophidia_io_server_spark.workloads import (
        GATE_ORDER,
        WORKLOADS,
        registry_composition,
    )

    comp = registry_composition()
    assert comp["uncovered"] == []
    assert comp["gate_rows"] == len(GATE_ORDER) == 50
    assert comp["total"] == len(WORKLOADS)
    assert comp["standalone"] + comp["suites"] == comp["total"]


def test_weighted_bottom_k_salt_delimiter_no_collision(spark):
    """key 'a#b' with no salt and key 'a' with salt 'b' used to build the
    same clone prefix 'a#b:' — their priorities must now differ (the key
    rides as fixed-width md5, so delimiter characters in keys are inert)."""
    from ophidia_io_server_spark.pipeline.sampling import weighted_bottom_k

    d1 = spark.createDataFrame([("a#b", 1)], "doc_id string, w int")
    d2 = spark.createDataFrame([("a", 1)], "doc_id string, w int")
    p1 = weighted_bottom_k(d1, k=1, weight_col="w").collect()[0]["priority"]
    p2 = weighted_bottom_k(d2, k=1, weight_col="w",
                           salt="b").collect()[0]["priority"]
    assert p1 != p2
    # determinism: the same (key, salt) always draws the same priority
    p1b = weighted_bottom_k(d1, k=1, weight_col="w").collect()[0]["priority"]
    assert p1 == p1b


def test_kmeans_fit_clamps_k_to_corpus(spark):
    from ophidia_io_server_spark.pipeline.cluster import kmeans_fit

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    assigned, cents = kmeans_fit(df, k=8, iters=2)
    rows = assigned.collect()
    assert len(rows) == 3
    assert len(cents) == 3  # clamped to the seed count
    assert {r["cluster"] for r in rows} <= set(range(3))


def test_kmeans_fit_empty_raises(spark):
    from ophidia_io_server_spark.pipeline.cluster import kmeans_fit

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="no vectors|empty"):
        kmeans_fit(df, k=4)


def test_minhash_lsh_stream_empty_returns_empty_df(spark, tmp_path):
    from ophidia_io_server_spark.streaming.ingest import minhash_lsh_stream

    path = str(tmp_path / "empty_stream")
    (tmp_path / "empty_stream").mkdir()
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(path))
    out = minhash_lsh_stream(stream, timeout_sec=60)
    assert out is not None
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b",
                                                   "jaccard"]
    assert out.count() == 0


def test_winnow_position_budget_boundary(spark, monkeypatch):
    """A document past the 2^bits gram-position budget must fail LOUDLY
    (raise_error), not silently mis-tie-break; one inside passes.  The
    budget is lowered via monkeypatch so the boundary is exercised
    without a 1M-token fixture."""
    from ophidia_io_server_spark.pipeline import dedup as D

    monkeypatch.setattr(D, "_WIN_POS_BITS", 6)  # cap = 64 tokens
    ok_doc = " ".join(f"t{i}" for i in range(60))
    long_doc = " ".join(f"t{i}" for i in range(80))

    good = spark.createDataFrame([(1, ok_doc)], "doc_id long, text string")
    assert D.winnow_fingerprints(good).count() > 0

    bad = spark.createDataFrame([(2, long_doc)], "doc_id long, text string")
    with pytest.raises(Exception, match="winnow"):
        D.winnow_fingerprints(bad).count()
