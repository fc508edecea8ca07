"""Round-3 engine hardening regression tests:

- sequential_ids: dense-id invariant survives repeated runs over a skewed,
  an empty and a one-partition frame (Spark's distributed sequence pins its
  sorted input between its count and numbering passes, so range-boundary
  re-sampling between them can't skew the numbering).
- insert-after-flush: inserting into a fragment whose insert run already
  committed raises (reference parity) instead of silently replacing rows.
- server wire: a query that fails during result materialization produces a
  clean 'E' frame — never a 'K' followed by a half-stream.
- cosine_pairs: exact triangle block join equals brute force, plan free of
  BroadcastNestedLoopJoin/CartesianProduct; cosine_pairs_lsh is a verified
  subset with full recall on the high-similarity pairs it is built for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("frame,nparts", [("skewed", 7), ("empty", 3), ("one_partition", 1)],
                         ids=["skewed", "empty", "one_partition"])
def test_sequential_ids_dense_on_skewed_frame(spark, frame, nparts):
    from ophidia_io_server_spark.operators.engine import sequential_ids

    # skewed id space: a huge cluster at one end plus sparse far outliers —
    # range-boundary sampling differs easily between jobs on such a frame.
    # The empty and one-partition frames are the edge cases of the
    # per-partition offsets
    rows = [(i, [float(i)]) for i in range(1, 2001)]
    rows += [(10_000_000 + i * 997, [float(i)]) for i in range(200)]
    if frame == "empty":
        rows = []
    df = spark.createDataFrame(rows, "id_dim long, measure array<double>").repartition(nparts)
    for _ in range(2):  # run twice: flakiness here is the bug being guarded
        out = sequential_ids(df, 100)
        ids = [r.id_dim for r in out.select("id_dim").collect()]
        assert sorted(ids) == list(range(100, 100 + len(rows)))
        # id order must follow the original id order
        ordered = out.orderBy("id_dim").select("measure").collect()
        src_sorted = [m for _, m in sorted(rows)]
        assert [r.measure for r in ordered] == src_sorted


def test_insert_after_flush_rejected(spark):
    from ophidia_io_server_spark.operators.engine import IOServer
    from ophidia_io_server_spark.operators.select import QueryExecError

    srv = IOServer(spark)
    srv.execute("operation=create_frag;frag_name=t1")
    srv.execute("operation=insert;frag_name=t1;value=?,?", params={1: 1, 2: [1.0]})
    assert srv.catalog.df("t1").count() == 1
    with pytest.raises(QueryExecError, match="already stored"):
        srv.execute("operation=insert;frag_name=t1;value=?,?", params={1: 2, 2: [2.0]})
    # committed rows untouched by the rejected insert
    assert srv.catalog.df("t1").count() == 1
    # drop + recreate re-opens the insert path
    srv.execute("operation=drop_frag;frag_name=t1")
    srv.execute("operation=create_frag;frag_name=t1")
    srv.execute("operation=insert;frag_name=t1;value=?,?", params={1: 3, 2: [3.0]})
    assert [r.id_dim for r in srv.catalog.df("t1").collect()] == [3]


def test_server_error_during_materialization_is_clean_E_frame(spark):
    from ophidia_io_server_spark.server import QueryClient, QueryServer

    server = QueryServer(spark)
    server.serve_background()
    try:
        host, port = server.address
        cli = QueryClient(host, port)
        # div-by-zero-free parse, fails only when the job runs: unknown
        # fragment is caught at plan time, so use a runtime-failing UDF path
        # via a fragment that exists but with a query whose execution fails.
        # Simplest robust probe: a fragment whose stored plan fails at
        # materialization (createDataFrame from an RDD that raises).
        def boom(_):
            raise RuntimeError("runtime failure during materialization")

        bad = spark.createDataFrame([(1, [1.0])], "id_dim long, measure array<double>") \
            .rdd.map(boom).toDF("id_dim long, measure array<double>")
        server.io_server.catalog.put("bad_frag", bad, cache=False)
        good = spark.createDataFrame([(7, [2.5])], "id_dim long, measure array<double>")
        server.io_server.catalog.put("good_frag", good, cache=False)
        with pytest.raises(RuntimeError):
            cli.execute("operation=select;from=bad_frag;field=id_dim|measure;"
                        "select_alias=id_dim|measure")
        # the connection is still usable: the failure produced one clean 'E'
        # frame, not a 'K' followed by a half-stream the client misparses
        names, rows = cli.execute("operation=select;from=good_frag;"
                                  "field=id_dim;select_alias=id_dim")
        assert rows == [[7]] or rows == [["7"]]
        cli.close()
    finally:
        server.shutdown()


def test_cosine_pairs_exact_and_plan_shape(spark):
    from ophidia_io_server_spark.pipeline.similarity import cosine_pairs
    from ophidia_io_server_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    got = cosine_pairs(emb, threshold=0.4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # brute-force reference (collect-side, test only)
    import numpy as np

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    expect = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        va = vecs[a]
        for b in ids[i + 1:]:
            vb = vecs[b]
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if c >= 0.4:
                expect.add((a, b))
    assert {(r.vec_a, r.vec_b) for r in got.collect()} == expect


def test_cosine_pairs_lsh_verified_subset(spark):
    from ophidia_io_server_spark.pipeline.similarity import cosine_pairs, cosine_pairs_lsh
    from ophidia_io_server_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    exact = {(r.vec_a, r.vec_b): r.cosine for r in cosine_pairs(emb, 0.4).collect()}
    approx = {(r.vec_a, r.vec_b): r.cosine for r in cosine_pairs_lsh(emb, 0.4).collect()}
    # precision is exact: every LSH pair is in the exact set with equal score
    for k, v in approx.items():
        assert k in exact and v == exact[k]
    # recall on the high-similarity regime the banding is built for
    high = {k for k, v in exact.items() if v >= 0.9}
    assert high <= set(approx), "missed high-similarity pairs"
