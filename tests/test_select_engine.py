"""Select-pipeline clause semantics (reference quirks included)."""

import numpy as np
import pytest

from ophidia_io_server_spark.operators.select import QueryExecError


def ids(df):
    return [r["id_dim"] for r in df.collect()]


def test_where_order(server):
    out = server.execute(
        "operation=select;from=frag_qty;field=id_dim;select_alias=id_dim;"
        "where=oph_is_in_subset(id_dim,1,5,50);order=id_dim"
    )
    assert ids(out) == [1, 6, 11, 16, 21, 26, 31, 36, 41, 46]


def test_limit_is_pre_projection_window(server, frag_qty):
    # limit=offset|n applies to the filtered input in id order
    out = server.execute(
        "operation=select;from=frag_qty;field=id_dim;select_alias=id_dim;"
        "where=id_dim<=20;limit=5|3;order=id_dim"
    )
    all_ids = sorted(
        r["id_dim"] for r in frag_qty.filter("id_dim <= 20").select("id_dim").collect()
    )
    assert ids(out) == all_ids[5:8]


def test_limit_zero(server):
    out = server.execute(
        "operation=select;from=frag_qty;field=id_dim;select_alias=id_dim;limit=0"
    )
    assert out.count() == 0


def test_group_first_of_group_rule(server):
    out = server.execute(
        "operation=select;from=frag_qty;"
        "field=oph_id(id_dim,10)|id_dim;select_alias=grp|first_id;"
        "where=id_dim<=30&id_dim>=1;group=oph_id(id_dim,10);order=grp"
    )
    rows = {r["grp"]: r["first_id"] for r in out.collect()}
    # first row of each group in id order (WHERE keeps ids 1..30)
    assert rows[1] == 1 and rows[2] == 11 and rows[3] == 21


def test_multi_table_requires_where(server, frag_qty):
    server.catalog.put("frag_b", frag_qty, cache=False)
    with pytest.raises(QueryExecError):
        server.execute("operation=select;from=frag_qty|frag_b;field=id_dim")


def test_join_alignment(server, frag_qty):
    server.catalog.put("frag_c", frag_qty, cache=False)
    out = server.execute(
        "operation=select;from=frag_qty|frag_c;from_alias=a|b;"
        "field=id_dim|oph_sub_array(a.measure,b.measure);"
        "select_alias=id_dim|diff;where=id_dim<=10;order=id_dim"
    )
    for r in out.collect():
        assert all(v == 0 for v in r["diff"])


def test_params_in_where(server):
    out = server.execute(
        "operation=select;from=frag_qty;field=id_dim;select_alias=id_dim;"
        "where=id_dim<=?;order=id_dim",
        params={1: 3},
    )
    assert ids(out) == [r for r in ids(out) if r <= 3]


def test_projection_boolean_cast(server):
    out = server.execute(
        "operation=select;from=frag_qty;field=id_dim=1;select_alias=is_one;"
        "where=id_dim<=2;order=is_one"
    )
    vals = sorted(r["is_one"] for r in out.collect())
    assert vals == [0, 0, 1]  # ids 0, 1, 2 → only id 1 matches


def test_validate_dense_rejects_gappy_ids(spark):
    from ophidia_io_server_spark.operators import IOServer
    from ophidia_io_server_spark.operators.select import QueryExecError
    import pytest as _pytest

    srv = IOServer(spark, validate_dense=True)
    dense = spark.createDataFrame([(i, [1.0]) for i in range(1, 6)],
                                  "id_dim long, measure array<double>")
    gappy = spark.createDataFrame([(i, [1.0]) for i in (1, 2, 4, 7)],
                                  "id_dim long, measure array<double>")
    srv.catalog.put("d1", dense, cache=False)
    srv.catalog.put("d2", dense, cache=False)
    srv.catalog.put("g1", gappy, cache=False)
    # dense fragments join fine
    assert srv.execute(
        "operation=select;from=d1|d2;from_alias=a|b;"
        "field=id_dim|oph_sum_array(a.measure,b.measure);"
        "select_alias=id_dim|s;where=id_dim>=1").count() == 5
    # gappy ids rejected (reference blocks.c:859-876)
    with _pytest.raises(QueryExecError, match="not dense"):
        srv.execute(
            "operation=select;from=d1|g1;from_alias=a|b;"
            "field=id_dim|oph_sum_array(a.measure,b.measure);"
            "select_alias=id_dim|s;where=id_dim>=1").count()


def test_everything_query(spark):
    """Join two fragments, WHERE with binds + id built-ins, inverted LIMIT
    window, GROUP BY id-derived key, aggregate + first-of-group, ORDER."""
    from ophidia_io_server_spark.operators import IOServer
    from ophidia_io_server_spark.sources.random_import import random_fragment

    srv = IOServer(spark)
    srv.catalog.put("ea", random_fragment(spark, 200, 4, seed=1), cache=False)
    srv.catalog.put("eb", random_fragment(spark, 200, 4, seed=2), cache=False)
    out = srv.execute(
        "operation=select;from=ea|eb;from_alias=a|b;"
        "field=oph_id(id_dim,?)"
        "|oph_reduce(oph_aggregate_operator(oph_mul_array(a.measure,b.measure),'oph_sum'),'sum')"
        ";select_alias=grp|s;"
        "where=oph_is_in_subset(id_dim,1,2,?)&id_dim>=?;"
        "group=oph_id(id_dim,?);order=grp;limit=5|40",
        params={1: 10, 2: 160, 3: 11, 4: 10},
    ).collect()
    # ids 11..159 odd → limit window rows 6..45 of that ordered set
    assert [r.grp for r in out] == sorted({(i - 1) // 10 + 1 for i in range(21, 100, 2)})
    assert all(r.s > 0 for r in out)


def test_info_pseudo_tables(spark):
    """@info_system / @info_system_table — keywords the reference declares
    but never implements (language.h:110-114); working superset here."""
    from ophidia_io_server_spark.operators import IOServer
    from ophidia_io_server_spark.sources.random_import import random_fragment

    srv = IOServer(spark)
    srv.catalog.put("inv1", random_fragment(spark, 5, 2), cache=False)
    info = srv.execute("operation=select;from=@info_system;"
                       "field=spark_version|parallelism;"
                       "select_alias=v|p").collect()
    assert len(info) == 1 and info[0].p > 0
    inv = srv.execute("operation=select;from=@info_system_table;"
                      "field=db|frag|device;select_alias=db|frag|device").collect()
    assert ("default", "inv1", "MEMORY") in {(r.db, r.frag, r.device) for r in inv}


def test_udf_select_over_ordered_fragment_runs_once(spark, group_job_ids):
    """An Arrow-UDF select ordered by a projected id column, over a
    random_import fragment (range-partitioned and sorted by id_dim), sorts
    its input before the projection: Spark drops that sort, so the drain is
    one job with no Exchange, and the UDF runs once."""
    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    srv.execute("operation=random_import;frag_name=udf_once;nrows=2000;array_len=8;"
                "algorithm=mixed;seed=5")
    srv.catalog.df("udf_once").count()  # build the cache outside the group
    out = srv.execute("operation=select;from=udf_once;field=id_dim|oph_gsl_fft(measure);"
                      "select_alias=id_dim|f;where=id_dim>=700&id_dim<1200;order=id_dim")
    group = "test-udf-select-once"
    spark.sparkContext.setJobGroup(group, "udf select")
    try:
        rows = out.collect()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert [r.id_dim for r in rows] == list(range(700, 1200))
    assert len(group_job_ids(group)) == 1
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def _measure(i):
    return np.array([float(i), 0.5 * i, float(-i), float(i % 7)])


def _fft_of(x):
    spec = np.fft.fft(x)
    return np.column_stack([spec.real, spec.imag]).ravel()


def _fft(i):
    return _fft_of(_measure(i))


@pytest.fixture(scope="module")
def shuffled_server(spark):
    """Two fragments whose rows are stored in shuffled id order over four
    partitions, so no order on id_dim is known to Spark."""
    import random

    from ophidia_io_server_spark.operators import IOServer

    srv = IOServer(spark)
    ids = list(range(1, 201))
    for name, seed in (("shuf_a", 1), ("shuf_b", 2)):
        random.Random(seed).shuffle(ids)
        rows = [(i, _measure(i).tolist()) for i in ids]
        df = spark.createDataFrame(rows, "id_dim long, measure array<double>").repartition(4)
        srv.catalog.put(name, df)
    return srv


@pytest.mark.parametrize("query, want_id, check", [
    # ORDER by the alias of a bare column: the input is sorted first
    ("field=id_dim|oph_gsl_fft(measure);select_alias=id_dim|f;where=id_dim>=20;"
     "order=id_dim",
     lambda r: r[0],
     lambda i, v: np.allclose(v, _fft(i))),
    # multi-table FROM, ORDER by a qualified bare column
    ("from_alias=x|y;field=x.id_dim|oph_gsl_fft(oph_mul_array(x.measure,y.measure));"
     "where=x.id_dim=y.id_dim&x.id_dim>=20;order=x.id_dim",
     lambda r: r[0],
     lambda i, v: np.allclose(v, _fft_of(_measure(i) ** 2))),
    # no pandas UDF: sorted after the projection
    ("field=id_dim|oph_reduce(measure,'sum');where=id_dim>=20;order=id_dim",
     lambda r: r[0],
     lambda i, v: np.isclose(v, _measure(i).sum())),
    # ORDER by an expression alias: sorted after the projection
    ("field=id_dim*2|oph_gsl_fft(measure);select_alias=twice|f;where=id_dim>=20;"
     "order=twice",
     lambda r: r[0] // 2,
     lambda i, v: np.allclose(v, _fft(i))),
], ids=["udf", "multi_table", "reduce", "expression_alias"])
def test_order_over_shuffled_fragment(shuffled_server, query, want_id, check):
    frm = "shuf_a|shuf_b" if "from_alias" in query else "shuf_a"
    rows = shuffled_server.execute(f"operation=select;from={frm};{query}").collect()
    got = [want_id(r) for r in rows]
    assert got == list(range(20, 201))
    assert all(check(i, r[1]) for i, r in zip(got, rows))


@pytest.mark.parametrize("field, sort_first", [
    ("id_dim|oph_gsl_fft(measure)", True),
    ("id_dim|oph_reduce(measure,'sum')|oph_size_array(measure)", False),
])
def test_only_a_pandas_udf_select_sorts_its_input(shuffled_server, field, sort_first):
    """The sort moves before the projection only when the projection calls a
    pandas UDF; otherwise it sorts the projected rows, so a shuffle over an
    unordered fragment moves those rather than the whole input arrays."""
    out = shuffled_server.execute(f"operation=select;from=shuf_a;field={field};order=id_dim")
    root = out._jdf.queryExecution().optimizedPlan().nodeName()
    assert (root != "Sort") == sort_first
