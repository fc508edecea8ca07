"""DDL / DML / procedures / catalog semantics."""

import pytest

from ophidia_io_server_spark.catalog import CatalogError


def test_create_insert_drop(server, spark):
    server.execute("operation=create_frag;frag_name=t1")
    server.execute("operation=insert;frag_name=t1;value=?,?", params={1: 1, 2: [1.0, 2.0]})
    df = server.catalog.df("t1")
    assert df.count() == 1
    server.execute("operation=drop_frag;frag_name=t1")
    assert not server.catalog.exists("t1")


def test_multi_insert_runs(server):
    server.execute("operation=create_frag;frag_name=t2")
    server.execute(
        "operation=multi_insert;frag_name=t2;value=(?,?),(?,?);tot_run=2;curr_run=1;final_statement=no",
        params={1: 1, 2: [1.0], 3: 2, 4: [2.0]},
    )
    server.execute(
        "operation=multi_insert;frag_name=t2;value=(?,?),(?,?);tot_run=2;curr_run=2;final_statement=yes",
        params={1: 3, 2: [3.0], 3: 4, 4: [4.0]},
    )
    assert server.catalog.df("t2").count() == 4


def test_databases(server):
    server.execute("operation=create_database;db_name=mydb")
    server.catalog.use("mydb")
    server.execute("operation=random_import;frag_name=r1;nrows=10;array_len=3")
    assert server.catalog.exists("mydb.r1")
    with pytest.raises(CatalogError):
        server.execute("operation=drop_database;db_name=mydb")  # not empty
    server.execute("operation=drop_frag;frag_name=r1")
    server.execute("operation=drop_database;db_name=mydb")
    assert server.catalog.current_db == "default"


def test_ctas_two_columns_rule(server):
    with pytest.raises(Exception):
        server.execute(
            "operation=create_frag_select;frag_name=bad;from=frag_qty;field=id_dim"
        )


def test_ctas_and_export(server):
    server.execute(
        "operation=create_frag_select;frag_name=ct;from=frag_qty;"
        "field=id_dim|oph_mul_scalar(measure,2);select_alias=id_dim|measure;"
        "where=id_dim<=5"
    )
    out = server.execute("operation=function;function=oph_export;arg='ct'")
    rows = out.collect()
    assert [r["id_dim"] for r in rows] == sorted(r["id_dim"] for r in rows)


def test_subset_sequential_ids(server):
    server.execute(
        "operation=function;function=oph_subset;"
        "arg='frag_qty'|'10'|'measure'|'sub1'|'oph_is_in_subset(id_dim,1,7,100)'"
    )
    got = [r["id_dim"] for r in server.catalog.df("sub1").orderBy("id_dim").collect()]
    assert got == list(range(10, 10 + len(got)))


def test_oph_size(server):
    out = server.execute("operation=function;function=oph_size;arg='frag_qty'").collect()
    assert out[0]["size_bytes"] > 0


def test_random_import_deterministic(server, spark):
    from ophidia_io_server_spark.sources.random_import import random_fragment

    a = random_fragment(spark, 50, 6, seed=7).collect()
    b = random_fragment(spark, 50, 6, seed=7).collect()
    assert a == b
    c = random_fragment(spark, 50, 6, seed=8).collect()
    assert a != c


def test_dense_id_validation(server, spark):
    from ophidia_io_server_spark.operators.select import assert_dense_ids, QueryExecError
    from pyspark.sql import functions as F

    ok = spark.range(1, 100).select(F.col("id").alias("id_dim"))
    assert_dense_ids(ok, "ok")
    gappy = ok.filter(F.col("id_dim") % 7 != 0)
    with pytest.raises(QueryExecError):
        assert_dense_ids(gappy, "gappy")


def test_random_import_measure_types(spark):
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    for mtype, pytype in (("oph_long", int), ("oph_float", float), ("oph_bit", bool)):
        srv.execute(f"operation=random_import;frag_name=r_{mtype};nrows=5;"
                    f"array_len=3;measure_type={mtype}")
        row = srv.catalog.df(f"r_{mtype}").orderBy("id_dim").collect()[0]
        assert isinstance(row.measure[0], pytype), (mtype, row.measure)


def test_insert_literal_values(spark):
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    srv.execute("operation=create_frag;frag_name=lit1")
    srv.execute("operation=insert;frag_name=lit1;value=3,[1.5 2.5 3.5]")
    row = srv.catalog.df("lit1").collect()[0]
    assert row.id_dim == 3 and row.measure == [1.5, 2.5, 3.5]


def test_typed_measure_queries(spark):
    """Primitives over non-double measure types (reference element types):
    reductions/transforms promote to double like the reference's C math."""
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    for mtype in ("oph_long", "oph_float", "oph_int"):
        srv.execute(f"operation=random_import;frag_name=t_{mtype};nrows=8;"
                    f"array_len=4;measure_type={mtype}")
        out = srv.execute(
            f"operation=select;from=t_{mtype};"
            "field=id_dim|oph_reduce(measure,'sum')|oph_sum_scalar(measure,1);"
            "select_alias=id_dim|s|m1;order=id_dim;limit=3"
        ).collect()
        assert len(out) == 3
        assert all(isinstance(r.s, float) for r in out), mtype
        assert all(len(r.m1) == 4 for r in out), mtype


def test_bit_measure_queries(spark):
    """bit (boolean) measures: size + popcount via convert_d (reference
    bit-packed measure type, oph-lib-binary-io.h:61-68)."""
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    srv.execute("operation=random_import;frag_name=bitsx;nrows=6;array_len=8;"
                "measure_type=oph_bit;algorithm=mixed")
    out = srv.execute(
        "operation=select;from=bitsx;field=id_dim|oph_size_array(measure)"
        "|oph_reduce(oph_convert_d(measure),'sum');"
        "select_alias=id_dim|n|ones;order=id_dim").collect()
    assert len(out) == 6
    assert all(r.n == 8 and 0.0 <= r.ones <= 8.0 for r in out)
    # mixed algorithm decorrelates: not every row is all-0 or all-1
    assert any(0.0 < r.ones < 8.0 for r in out)


def test_execute_builds_plans_only(spark, group_job_ids):
    """random_import, oph_subset, a sequential-id CTAS and oph_size start no
    Spark job inside ``execute``; their work runs when the results are
    drained, with the sizes and dense ids the eager path used to give."""
    from pyspark.sql import functions as F

    from ophidia_io_server_spark.operators.engine import IOServer

    sc = spark.sparkContext
    srv = IOServer(spark)
    build, drain = "test-execute-plans-only", "test-execute-plans-only-drain"
    sc.setJobGroup(build, "execute only")
    try:
        srv.execute("operation=random_import;frag_name=pl_src;nrows=300;array_len=5;"
                    "algorithm=mixed;seed=3")
        srv.execute("operation=function;function=oph_subset;"
                    "arg='pl_src'|'10'|'measure'|'pl_sub'|'oph_is_in_subset(id_dim,1,3,300)'")
        srv.execute("operation=create_frag_select;frag_name=pl_ct;from=pl_src;"
                    "field=id_dim|measure;where=id_dim>=150;sequential_id=500")
        sizes = {f: srv.execute(f"operation=function;function=oph_size;arg={f}")
                 for f in ("pl_src", "pl_sub", "pl_ct")}
    finally:
        sc.setJobGroup(None, None)
    sc.setJobGroup(drain, "drain")
    try:
        got = {f: df.collect() for f, df in sizes.items()}
        ids = {f: sorted(r.id_dim for r in srv.catalog.df(f).select("id_dim").collect())
               for f in ("pl_sub", "pl_ct")}
        want = {f: srv.catalog.df(f).agg(8 * F.count("*") + 8 * F.sum(F.size("measure")))
                .first()[0] for f in sizes}
    finally:
        sc.setJobGroup(None, None)
    # listener events arrive in order: once the drain's jobs are visible,
    # any job started inside execute would be visible too
    assert group_job_ids(drain)
    assert list(sc.statusTracker().getJobIdsForGroup(build)) == []
    for f, rows in got.items():
        assert [(r.frag, r.size_bytes) for r in rows] == [(f, want[f])]
    assert ids["pl_sub"] == list(range(10, 10 + 100))
    assert ids["pl_ct"] == list(range(500, 500 + 151))
