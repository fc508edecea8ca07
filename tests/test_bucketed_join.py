"""Co-located fragment joins via bucketing (SURVEY §4 optimization (b)):
fragments bucketed+sorted on id_dim join with NO shuffle exchange — the
physical layout that makes the reference's aligned zip-join cost-free on a
cluster (each bucket pair joins locally)."""

import pytest
from pyspark.sql import functions as F

from ophidia_io_server_spark.sources.random_import import random_fragment


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    names = []
    for name, seed in (("bfrag_a", 1), ("bfrag_b", 2)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (random_fragment(spark, 2000, 6, seed=seed)
         .write.bucketBy(8, "id_dim").sortBy("id_dim")
         .option("path", f"{base}/{name}").saveAsTable(name))
        names.append(name)
    yield names
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    a, b = (spark.table(n) for n in bucketed)
    # hint("merge"): at test size Catalyst would broadcast (which disables
    # bucketed scans); at cluster scale both sides are large and SMJ is the
    # strategy — the hint reproduces the at-scale plan shape
    joined = (
        a.hint("merge").join(b, on="id_dim")
        .select("id_dim", F.zip_with(a["measure"], b["measure"],
                                     lambda x, y: x * y).alias("prod"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join should not shuffle:\n{plan[:2000]}"
    assert joined.count() == 2000


def test_bucketed_join_values_correct(spark, bucketed):
    a, b = (spark.table(n) for n in bucketed)
    row = (
        a.join(b, on="id_dim")
        .select("id_dim", F.zip_with(a["measure"], b["measure"],
                                     lambda x, y: x * y).alias("prod"))
        .where(F.col("id_dim") == 7).collect()[0]
    )
    va = a.where(F.col("id_dim") == 7).collect()[0].measure
    vb = b.where(F.col("id_dim") == 7).collect()[0].measure
    assert row.prod == pytest.approx([x * y for x, y in zip(va, vb)])
