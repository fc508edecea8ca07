"""In-row reductions: oph_reduce / oph_reduce2 / oph_reduce3, accumulate,
moving average.

Reference: SIMPLE plugins (SURVEY.md §2.9) that shrink or scan a row's array.
All reductions here are pure ``F.aggregate``/``F.slice`` Column compositions
(JVM-side, codegen).  Scan-type ops (accumulate, moving_avg) use the same
left-to-right fold the reference's C loop performs, so results are bitwise
identical to a sequential oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ophidia_io_server_spark.dialect.expression import EV, ExprError
from ophidia_io_server_spark.functions import primitive, str_arg, int_arg
from ophidia_io_server_spark.functions.core import strip_type_tags

_REDUCE_OPS = {"sum", "avg", "mean", "max", "min", "var", "std", "count", "prod", "first", "last"}


def _norm_op(op: str) -> str:
    op = op.lower().removeprefix("oph_")
    if op == "mean":
        op = "avg"
    if op not in _REDUCE_OPS:
        raise ExprError(f"unknown reduce operation {op!r}")
    return op


def reduce_array(m: Column, op: str) -> Column:
    """Reduce one array Column to a scalar Column with a named op.

    Left-to-right folds (matches a sequential C loop / DuckDB list_aggregate
    evaluation order, so double results are exact for oracle comparison).
    """
    op = _norm_op(op)
    n = F.size(m).cast("double")
    if op == "count":
        return F.size(F.filter(m, lambda x: ~F.isnan(x))).cast("long")
    if op == "max":
        return F.array_max(m)
    if op == "min":
        return F.array_min(m)
    if op == "first":
        return F.element_at(m, 1)
    if op == "last":
        return F.element_at(m, -1)
    s = F.aggregate(m, F.lit(0.0), lambda a, x: a + x)
    if op == "sum":
        return s
    if op == "avg":
        return s / n
    if op == "prod":
        return F.aggregate(m, F.lit(1.0), lambda a, x: a * x)
    ss = F.aggregate(m, F.lit(0.0), lambda a, x: a + x * x)
    mean = s / n
    # clamp: the ss - n·mean² identity can cancel to a tiny negative for
    # near-constant arrays, which would make std a NaN
    var = F.greatest((ss - n * mean * mean) / (n - 1), F.lit(0.0))
    if op == "var":
        return var
    return F.sqrt(var)  # std


@primitive("oph_reduce", doc="reduce the whole array to a scalar: op in sum/avg/max/min/var/std/count/prod")
def oph_reduce(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    op = str_arg(args, 1, "oph_reduce", "sum")
    return EV(reduce_array(m, op))


@primitive("oph_operator", doc="apply a named aggregation over the whole array → length-1 result")
def oph_operator(args, ctx):
    """Reference `oph_operator` (primitives list entry; Ophidia docs: one
    aggregate value over the measure).  Same surface as oph_reduce with the
    'oph_'-prefixed operator names (OPH_SUM/OPH_MAX/...)."""
    args = strip_type_tags(args)
    m = args[0].col
    op = str_arg(args, 1, "oph_operator", "oph_sum")
    return EV(reduce_array(m, op))


@primitive("oph_reduce2", doc="block-wise reduce: contiguous blocks of given size → smaller array")
def oph_reduce2(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    op = str_arg(args, 1, "oph_reduce2", "sum")
    block = int_arg(args, 2, "oph_reduce2")
    if block <= 0:
        raise ExprError("oph_reduce2: block size must be positive")
    nb = F.ceil(F.size(m) / F.lit(block)).cast("int")
    return EV(
        F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: reduce_array(F.slice(m, i * block + 1, block), op),
        )
    )


@primitive("oph_reduce3", doc="strided reduce: group elements by index % out_size → out_size array")
def oph_reduce3(args, ctx):
    """Reduce along the *outer* axis of a [n/out_size x out_size] row-major
    view: output j aggregates elements j, j+out_size, j+2*out_size, ..."""
    args = strip_type_tags(args)
    m = args[0].col
    op = str_arg(args, 1, "oph_reduce3", "sum")
    out_size = int_arg(args, 2, "oph_reduce3")
    if out_size <= 0:
        raise ExprError("oph_reduce3: output size must be positive")
    return EV(
        F.transform(
            F.sequence(F.lit(0), F.lit(out_size - 1)),
            lambda j: reduce_array(
                F.filter(m, lambda x, i: i % out_size == j), op
            ),
        )
    )


@primitive("oph_accumulate", arrow=True, doc="prefix sums (running total) within the array")
def oph_accumulate(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    # left fold building the running-sum array; O(n) state via struct(acc, out)
    # is not expressible with F.aggregate's scalar accumulator + array result
    # cheaply, so use the index-ramp formulation: out[i] = sum(slice(1..i)).
    # For long arrays the pandas path below is the scale choice.
    from ophidia_io_server_spark.functions.pandas_kernels import cumsum_udf

    return EV(cumsum_udf(m.cast("array<double>")))


@primitive("oph_deaccumulate", doc="inverse of accumulate: first element then successive diffs")
def oph_deaccumulate(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    # zip the array with its right-shifted self: out[i] = m[i] - m[i-1], with
    # m[-1] := 0 so out[0] = m[0].  Formulated so `m` never appears inside a
    # lambda body (Spark rejects Python-UDF-derived columns in HOF lambdas,
    # and accumulate chains feed UDF output here).
    shifted = F.concat(F.array(F.lit(0.0)), F.slice(m, 1, F.size(m) - 1))
    return EV(F.zip_with(m, shifted, lambda x, p: x - p))


@primitive("oph_moving_avg", doc="trailing moving average, window k, partial windows at start")
def oph_moving_avg(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    k = int_arg(args, 1, "oph_moving_avg", 2)
    idx = F.sequence(F.lit(1), F.size(m))

    def mavg(i):
        start = F.greatest(i - k + 1, F.lit(1))
        w = F.slice(m, start, (i - start + 1))
        return F.aggregate(w, F.lit(0.0), lambda a, x: a + x) / F.size(w)

    return EV(F.transform(idx, mavg))
