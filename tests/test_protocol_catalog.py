"""RS-message serialization round-trip and catalog persistence/restore."""

import shutil
import tempfile

import pytest

from ophidia_io_server_spark.catalog import Catalog, CatalogError
from ophidia_io_server_spark.operators.engine import IOServer
from ophidia_io_server_spark.protocol import deserialize_packets, serialize_result_set
from ophidia_io_server_spark.sources.random_import import random_fragment


def test_rs_roundtrip(spark):
    df = random_fragment(spark, 50, 6)
    nfields, rows = deserialize_packets(serialize_result_set(df))
    want = [[r.id_dim, list(r.measure)] for r in df.orderBy("id_dim").collect()]
    rows.sort(key=lambda r: r[0])
    assert nfields == 2
    assert len(rows) == 50
    assert rows[0][0] == want[0][0]
    assert rows[0][1] == pytest.approx(want[0][1])
    assert rows[-1][1] == pytest.approx(want[-1][1])


def test_rs_chunking_small_packets(spark):
    df = random_fragment(spark, 40, 4)
    packets = list(serialize_result_set(df, max_packet_len=200))
    assert len(packets) > 3  # forced chunking
    nfields, rows = deserialize_packets(packets)
    assert nfields == 2 and len(rows) == 40


def test_rs_drain_runs_one_job(spark, group_job_ids):
    """A multi-partition, shuffle-free result drains with ONE Spark job, not
    one job per partition, and rows keep partition (id) order."""
    sc = spark.sparkContext
    df = random_fragment(spark, 400, 4, partitions=8).where("id_dim > 350")
    group = "test-rs-drain-one-job"
    sc.setJobGroup(group, "one-job drain")
    try:
        _, rows = deserialize_packets(serialize_result_set(df))
    finally:
        sc.setJobGroup(None, None)
    assert [r[0] for r in rows] == list(range(351, 401))
    assert len(group_job_ids(group)) == 1


def test_rs_mixed_types(spark):
    df = spark.createDataFrame(
        [(1, 1.5, "ab", None), (2, -0.25, "", 7)],
        "a long, b double, c string, d long",
    )
    _, rows = deserialize_packets(serialize_result_set(df))
    rows.sort(key=lambda r: r[0])
    assert rows == [[1, 1.5, "ab", None], [2, -0.25, "", 7]]


def test_catalog_persist_restore(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_")
    try:
        srv = IOServer(spark)
        srv.execute("operation=create_database;db_name=clim")
        srv.catalog.put("f1", random_fragment(spark, 20, 3), cache=False)
        srv.catalog.put("clim.f2", random_fragment(spark, 10, 2), cache=False)
        srv.catalog.put("tmp1", random_fragment(spark, 5, 2), temp=True, cache=False)
        saved = srv.catalog.persist(root)
        assert sorted(saved) == ["clim.f2", "default.f1"]

        cat2 = Catalog.restore(spark, root, cache=False)
        assert cat2.list_fragments("default") == ["f1"]
        assert cat2.list_fragments("clim") == ["f2"]
        assert not cat2.exists("tmp1")  # temps don't survive restart
        assert cat2.df("clim.f2").count() == 10
        # restored fragments answer dialect queries
        srv2 = IOServer(spark, catalog=cat2)
        out = srv2.execute("operation=select;from=f1;field=id_dim|oph_size_array(measure);"
                           "select_alias=id_dim|n;order=id_dim;limit=3")
        assert [r.n for r in out.collect()] == [3, 3, 3]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_restore_missing(spark):
    with pytest.raises(CatalogError):
        Catalog.restore(spark, "/tmp/definitely_not_a_catalog_dir_xyz")


def test_failed_persist_keeps_last_snapshot(spark, tmp_path):
    """A fragment whose write fails must leave the previous snapshot whole:
    the error propagates, restore returns the first snapshot's fragments
    and rows, and no temp directory is left next to the root."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "cat")
    srv = IOServer(spark)
    srv.catalog.put("a", random_fragment(spark, 20, 3), cache=False)
    srv.catalog.put("b", random_fragment(spark, 10, 2), cache=False)
    assert sorted(srv.catalog.persist(root)) == ["default.a", "default.b"]
    want = {n: sorted(Catalog.restore(spark, root, cache=False).df(n).collect())
            for n in ("a", "b")}

    bad = random_fragment(spark, 20, 3).withColumn(
        "measure", F.when(F.col("id_dim") > 0,
                          F.raise_error(F.lit("fragment write failed")))
        .otherwise(F.col("measure")))
    srv.catalog.put("a", bad, cache=False, overwrite=True)
    with pytest.raises(Exception, match="fragment write failed"):
        srv.catalog.persist(root)

    cat2 = Catalog.restore(spark, root, cache=False)
    assert cat2.list_fragments("default") == ["a", "b"]
    assert {n: sorted(cat2.df(n).collect()) for n in ("a", "b")} == want
    assert sorted(os.listdir(tmp_path)) == ["cat"]


def test_persist_layout_enables_id_skipping(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_layout_")
    try:
        srv = IOServer(spark)
        srv.catalog.put("big", random_fragment(spark, 10000, 4), cache=False)
        srv.catalog.persist(root, id_files=8)
        import glob
        files = glob.glob(f"{root}/v1/default/big/part-*")
        assert len(files) == 8  # range-partitioned into id-contiguous files

        cat2 = Catalog.restore(spark, root, cache=False)
        q = cat2.df("big").where("id_dim >= 1 AND id_dim <= 100")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "LessThanOrEqual(id_dim,100" in plan
        assert q.count() == 100
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_versioned_persist_time_travel(spark):
    root = tempfile.mkdtemp(prefix="ophidia_cat_ver_")
    try:
        srv = IOServer(spark)
        srv.catalog.put("f", random_fragment(spark, 10, 2), cache=False)
        v1 = srv.catalog.persist_versioned(root)
        srv.catalog.put("f", random_fragment(spark, 25, 2), cache=False, overwrite=True)
        srv.catalog.put("g", random_fragment(spark, 5, 2), cache=False)
        v2 = srv.catalog.persist_versioned(root)
        assert (v1, v2) == (1, 2)

        latest = Catalog.restore_versioned(spark, root, cache=False)
        assert latest.df("f").count() == 25 and latest.exists("g")
        old = Catalog.restore_versioned(spark, root, version=1, cache=False)
        assert old.df("f").count() == 10 and not old.exists("g")

        with pytest.raises(CatalogError):
            Catalog.restore_versioned(spark, root, version=9)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_merge_upsert_semantics(spark):
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.catalog import Catalog, CatalogError, merge_into, merge_upsert

    base = spark.createDataFrame(
        [(1, [1.0]), (2, [2.0]), (3, [3.0])], "id_dim long, measure array<double>")
    upd = spark.createDataFrame(
        [(2, [20.0]), (3, None), (4, [40.0])], "id_dim long, measure array<double>")
    got = {r["id_dim"]: r["measure"] for r in merge_upsert(base, upd).collect()}
    assert got[1] == [1.0]          # untouched base row survives
    assert got[2] == [20.0]         # update replaces
    assert got[3] is None           # NULL cell in an update row still WINS
    assert got[4] == [40.0]         # unmatched update inserts
    with pytest.raises(CatalogError, match="schema"):
        merge_upsert(base, upd.withColumnRenamed("measure", "m2"))

    cat = Catalog(spark)
    cat.put("frag", base, cache=False)
    merge_into(cat, "frag", upd, cache=False)
    assert {r["id_dim"] for r in cat.df("frag").collect()} == {1, 2, 3, 4}


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    import pytest

    from ophidia_io_server_spark.catalog import CatalogError, merge_upsert

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id_dim long, m double")
    dup = spark.createDataFrame([(2, 21.0), (2, 22.0)], "id_dim long, m double")
    with pytest.raises(CatalogError, match="duplicate key"):
        merge_upsert(base, dup)
    # explicit opt-out keeps the old (row-multiplying) behavior available
    assert merge_upsert(base, dup, validate=False).count() == 3
    ok = spark.createDataFrame([(2, 21.0), (3, 30.0)], "id_dim long, m double")
    got = {r["id_dim"]: r["m"] for r in merge_upsert(base, ok).collect()}
    assert got == {1: 10.0, 2: 21.0, 3: 30.0}
