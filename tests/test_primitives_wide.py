"""Coverage for the remaining §2.9 primitives not exercised elsewhere:
shape/codec/complex/id-algebra/two-phase-aggregate surfaces, each against a
closed-form or numpy oracle."""

import math
import struct

import numpy as np
import pytest
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ophidia_io_server_spark.dialect.expression import ExprContext, compile_expression

A1 = [1.0, 2.0, 3.0, 4.0]
A2 = [3.0, -1.0, 4.0, 1.5]


@pytest.fixture(scope="module")
def frag(spark):
    schema = StructType([
        StructField("id_dim", LongType()),
        StructField("measure", ArrayType(DoubleType())),
        StructField("other", ArrayType(DoubleType())),
    ])
    return spark.createDataFrame([(1, A1, A2)], schema).cache()


def run1(frag, src):
    ctx = ExprContext(resolver=lambda n: frag[n])
    ev = compile_expression(src, ctx)
    col = ev.numeric() if ev.boolean else ev.col
    return frag.select(col.alias("r")).collect()[0]["r"]


# -- element-wise binary / scalar variants -----------------------------------


def test_zip_family(frag):
    assert run1(frag, "oph_abs_array(measure, other)") == pytest.approx(
        [math.hypot(a, b) for a, b in zip(A1, A2)])
    assert run1(frag, "oph_arg_array(measure, other)") == pytest.approx(
        [math.atan2(b, a) for a, b in zip(A1, A2)])
    assert run1(frag, "oph_min_array(measure, other)") == pytest.approx(
        [min(a, b) for a, b in zip(A1, A2)])
    assert run1(frag, "oph_div_array(measure, other)") == pytest.approx(
        [a / b for a, b in zip(A1, A2)])
    assert run1(frag, "oph_operator_array(measure, other, 'sub')") == pytest.approx(
        [a - b for a, b in zip(A1, A2)])


def test_scalar2_variants(frag):
    assert run1(frag, "oph_sum_scalar2(measure, 2, 10)") == pytest.approx(
        [2 * x + 10 for x in A1])
    assert run1(frag, "oph_mul_scalar2(measure, 2, 3)") == pytest.approx(
        [2 * (x * 3) for x in A1])


def test_predicate2_nan_passthrough(spark):
    schema = StructType([StructField("measure", ArrayType(DoubleType()))])
    df = spark.createDataFrame([([1.0, float("nan"), -2.0],)], schema)
    ctx = ExprContext(resolver=lambda n: df[n])
    ev = compile_expression("oph_predicate2(measure, 'x', '>0', 'x', '0')", ctx)
    got = df.select(ev.col.alias("r")).collect()[0]["r"]
    assert got[0] == 1.0 and math.isnan(got[1]) and got[2] == 0.0


def test_mask_array(frag):
    got = run1(frag, "oph_mask_array(measure, other, -9)")
    # other is all nonzero → everything passes; zero mask → filler
    assert got == pytest.approx(A1)
    got2 = run1(frag, "oph_mask_array(measure, oph_sum_scalar(other, -3), -9)")
    # mask element 0 becomes 0 → filled
    assert got2[0] == -9.0


# -- shape ops ----------------------------------------------------------------


def test_concat_aliases(frag):
    for fn in ("oph_concat2", "oph_append", "oph_extend"):
        assert run1(frag, f"{fn}(measure, other)") == pytest.approx(A1 + A2)


def test_interlace2_blocks(frag):
    got = run1(frag, "oph_interlace2(measure, other, '2,2')")
    assert got == pytest.approx([1.0, 2.0, 3.0, -1.0, 3.0, 4.0, 4.0, 1.5])


def test_sequence(frag):
    assert run1(frag, "oph_sequence(3)") == pytest.approx([1.0, 2.0, 3.0])
    assert run1(frag, "oph_sequence(2, 10, 3)") == pytest.approx([2.0, 5.0, 8.0])


def test_extract_and_sub_array(frag):
    assert run1(frag, "oph_extract(measure, '4,1,2')") == pytest.approx([4.0, 1.0, 2.0])
    assert run1(frag, "oph_sub_array(measure, other)") == pytest.approx(
        [a - b for a, b in zip(A1, A2)])


# -- codecs -------------------------------------------------------------------


def test_bin_roundtrip_and_dump(frag):
    packed = run1(frag, "oph_to_bin(measure)")
    assert bytes(packed) == struct.pack("<4d", *A1)
    assert run1(frag, "oph_from_bin(oph_to_bin(measure))") == pytest.approx(A1)
    one = run1(frag, "oph_value_to_bin(42)")
    assert bytes(one) == struct.pack("<d", 42.0)
    dump = run1(frag, "oph_dump(measure)")
    assert dump == struct.pack("<4d", *A1).hex()


def test_cast_and_convert(frag):
    assert run1(frag, "oph_cast(measure, 'oph_int')") == [1, 2, 3, 4]
    assert run1(frag, "oph_convert_d(oph_convert_l(measure))") == pytest.approx(A1)


# -- math by name -------------------------------------------------------------


def test_math_by_name(frag):
    assert run1(frag, "oph_math(measure, 'sqrt')") == pytest.approx(
        [math.sqrt(x) for x in A1])
    assert run1(frag, "oph_math(measure, 'oph_log')") == pytest.approx(
        [math.log(x) for x in A1])


# -- complex interleaved ------------------------------------------------------


def test_complex_family(frag):
    inter = run1(frag, "oph_interlace(measure, other)")  # re=A1, im=A2
    assert inter == pytest.approx([v for p in zip(A1, A2) for v in p])
    assert run1(frag, "oph_gsl_complex_get_imag(oph_interlace(measure, other))") == \
        pytest.approx(A2)
    assert run1(frag, "oph_gsl_complex_get_arg(oph_interlace(measure, other))") == \
        pytest.approx([math.atan2(b, a) for a, b in zip(A1, A2)])
    polar = run1(frag, "oph_gsl_complex_to_polar(oph_interlace(measure, other))")
    want = [v for a, b in zip(A1, A2) for v in (math.hypot(a, b), math.atan2(b, a))]
    assert polar == pytest.approx(want)
    rect = run1(frag, "oph_gsl_complex_to_rect(oph_gsl_complex_to_polar("
                      "oph_interlace(measure, other)))")
    assert rect == pytest.approx([v for p in zip(A1, A2) for v in p])


# -- id algebra ---------------------------------------------------------------


def test_id_of_subset_and_id3(spark):
    schema = StructType([StructField("id_dim", LongType())])
    df = spark.createDataFrame([(i,) for i in range(1, 25)], schema)
    ctx = ExprContext(resolver=lambda n: df[n])
    pos = compile_expression("oph_id_of_subset(id_dim, 3, 4)", ctx)
    got = {r.id_dim: r.p for r in df.select("id_dim", pos.col.alias("p")).collect()}
    assert got[3] == 1 and got[7] == 2 and got[11] == 3
    # id3: chunks of rows (sizes 2,3) tiled with block size 2
    v = compile_expression("oph_id3(id_dim, '2,3', 2)", ctx)
    out = df.select("id_dim", v.col.alias("v")).orderBy("id_dim").collect()
    assert all(r.v >= 1 for r in out)


# -- two-phase aggregate ------------------------------------------------------


def test_aggregate_stats_partial_final(spark):
    """partial per sub-group → final over partials == direct stats (the
    reference's anticipated two-phase aggregation, SURVEY §2.5)."""
    from pyspark.sql import functions as F

    schema = StructType([
        StructField("id_dim", LongType()),
        StructField("measure", ArrayType(DoubleType())),
    ])
    data = [(i + 1, [float(i + 1), float(2 * (i + 1))]) for i in range(8)]
    df = spark.createDataFrame(data, schema)
    ctx = ExprContext(resolver=lambda n: df[n])

    part = compile_expression("oph_aggregate_stats_partial(measure)", ctx)
    halves = df.withColumn("g", (F.col("id_dim") <= 4).cast("int"))
    partials = halves.groupBy("g").agg(part.col.alias("p"))

    ctx2 = ExprContext(resolver=lambda n: partials[n])
    fin = compile_expression("oph_aggregate_stats_final(p, '10011')", ctx2)
    got = partials.agg(fin.col.alias("s")).collect()[0]["s"]

    arr = np.array([d[1] for d in data])  # 8 x 2
    want_mean = arr.mean(axis=0)
    want_min = arr.min(axis=0)
    want_max = arr.max(axis=0)
    assert got == pytest.approx(list(want_mean) + list(want_min) + list(want_max))


STAT_MASKS = ["10000", "01000", "00100", "00010", "00001", "11111", "10011"]


@pytest.fixture(scope="module")
def stats_rows(spark):
    """Nine rows of 3-element arrays in three partial groups, plus their
    partial-stats states."""
    from pyspark.sql import functions as F

    schema = StructType([
        StructField("id_dim", LongType()),
        StructField("measure", ArrayType(DoubleType())),
    ])
    rng = np.random.default_rng(7)
    arr = rng.normal(size=(9, 3)).round(3)
    df = spark.createDataFrame([(i + 1, row.tolist()) for i, row in enumerate(arr)], schema)
    part = compile_expression("oph_aggregate_stats_partial(measure)",
                              ExprContext(resolver=lambda n: df[n]))
    partials = (df.groupBy(((F.col("id_dim") - 1) / 3).cast("int").alias("g"))
                .agg(part.col.alias("p")))
    return arr, df, partials


def _stats_oracle(arr, mask):
    stats = [arr.mean(axis=0), arr.var(axis=0, ddof=1), arr.std(axis=0, ddof=1),
             arr.min(axis=0), arr.max(axis=0)]
    return np.concatenate([s for s, flag in zip(stats, mask) if flag == "1"])


@pytest.mark.parametrize("mask", STAT_MASKS)
def test_aggregate_stats_masks_match_numpy(stats_rows, mask):
    """Each stat mask yields the selected stats in (mean, variance, std, min,
    max) order, directly and merged from partial states."""
    arr, df, partials = stats_rows
    want = _stats_oracle(arr, mask)
    for frame, src in ((df, f"oph_aggregate_stats(measure, '{mask}')"),
                       (partials, f"oph_aggregate_stats_final(p, '{mask}')")):
        ev = compile_expression(src, ExprContext(resolver=lambda n, f=frame: f[n]))
        got = frame.agg(ev.col.alias("s")).collect()[0]["s"]
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("src", ["oph_aggregate_stats(measure, '00000')",
                                 "oph_aggregate_stats_final(p, '00000')"])
def test_aggregate_stats_empty_mask_is_an_expr_error(stats_rows, src):
    from ophidia_io_server_spark.dialect.expression import ExprError

    _, df, partials = stats_rows
    frame = partials if "final" in src else df
    with pytest.raises(ExprError, match="empty stat mask"):
        compile_expression(src, ExprContext(resolver=lambda n: frame[n]))


def test_fft_ifft_roundtrip(frag):
    """ifft(fft(x)) reproduces x interleaved with zero imaginary parts."""
    got = run1(frag, "oph_gsl_complex_get_real(oph_gsl_ifft(oph_gsl_fft(measure)))")
    assert got == pytest.approx(A1, abs=1e-9)
    imag = run1(frag, "oph_gsl_complex_get_imag(oph_gsl_ifft(oph_gsl_fft(measure)))")
    assert imag == pytest.approx([0.0] * len(A1), abs=1e-9)


def test_dwt_idwt_roundtrip(frag):
    got = run1(frag, "oph_gsl_idwt(oph_gsl_dwt(measure))")
    assert got == pytest.approx(A1, abs=1e-9)


def test_fit_linear_fitted_values(frag):
    got = run1(frag, "oph_gsl_fit_linear(measure)")
    # A1 = [1,2,3,4] is exactly linear: fitted == input
    assert got == pytest.approx(A1, abs=1e-9)


def test_id3_exact_reference_trace(spark):
    """Exact values from the C algorithm (oph_query_expression_functions.c:
    76-135): k=id-1, row=k/bs, rel=row%sum(list), chunk search over the
    first n-1 entries, out = k%bs + (i + row/sum*len)*bs + 1."""
    from pyspark.sql.types import LongType, StructField, StructType

    def c_model(id_, lst, bs):
        k = id_ - 1
        reduced = sum(lst)
        row = k // bs
        rel = row % reduced
        start = 0
        i = len(lst) - 1
        for j, n in enumerate(lst[:-1]):
            stop = start + n
            if start <= rel < stop:
                i = j
                break
            start = stop
        return k % bs + (i + row // reduced * len(lst)) * bs + 1

    df = spark.createDataFrame([(i,) for i in range(1, 41)],
                               StructType([StructField("id_dim", LongType())]))
    ctx = ExprContext(resolver=lambda n: df[n])
    v = compile_expression("oph_id3(id_dim, '2,3', 2)", ctx)
    got = {r.id_dim: r.v for r in df.select("id_dim", v.col.alias("v")).collect()}
    for id_ in range(1, 41):
        assert got[id_] == c_model(id_, [2, 3], 2), id_


def test_id_to_index_variadic_trace(spark):
    """Multi-size unravel mirrors the C fold (functions.c:128-156):
    index = successive modulo-divide, answer from the LAST size."""
    from pyspark.sql.types import LongType, StructField, StructType

    def c_model(id_, sizes):
        k = id_ - 1
        idx = k
        for s in sizes:
            idx = k % s
            k = (k - idx) // s
        return idx + 1

    df = spark.createDataFrame([(i,) for i in range(1, 61)],
                               StructType([StructField("id_dim", LongType())]))
    ctx = ExprContext(resolver=lambda n: df[n])
    v = compile_expression("oph_id_to_index(id_dim, 3, 4)", ctx)
    got = {r.id_dim: r.v for r in df.select("id_dim", v.col.alias("v")).collect()}
    for id_ in range(1, 61):
        assert got[id_] == c_model(id_, [3, 4]), id_


def test_get_subarray3_multidim(spark):
    """2x3 row-major block: keep row 2, cols 1 and 3 → elements 4 and 6."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    arr = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    df = spark.createDataFrame([(arr,)],
                               StructType([StructField("measure", ArrayType(DoubleType()))]))
    ctx = ExprContext(resolver=lambda n: df[n])
    ev = compile_expression("oph_get_subarray3(measure, '2,3', '2', '1:2:end')", ctx)
    got = df.select(ev.col.alias("r")).collect()[0]["r"]
    assert got == [40.0, 60.0]
    ev2 = compile_expression("oph_get_subarray3(measure, '2,3', '1:end', '2')", ctx)
    got2 = df.select(ev2.col.alias("r")).collect()[0]["r"]
    assert got2 == [20.0, 50.0]


def test_arrow_flag_marks_the_pandas_udf_primitives():
    """A row-wise select sorts its input first only when a projected
    primitive is flagged ``arrow``; every primitive built on a pandas UDF
    must carry the flag, and no other."""
    import inspect
    import re

    from ophidia_io_server_spark.functions import PRIMITIVES

    builds_udf = {n for n, p in PRIMITIVES.items()
                  if re.search(r"\b\w+_udf\b", inspect.getsource(p.fn))}
    assert builds_udf == {n for n, p in PRIMITIVES.items() if p.arrow}
    assert "oph_gsl_fft" in builds_udf
