"""Cross-row AGGREGATE primitives (reference FUN AGGREGATE entries:
oph_aggregate_operator, oph_aggregate_stats[, _partial, _final], oph_roll_up —
``/root/reference/etc/oph_primitives_list.in``; executor lifecycle
add/exec/clear ``src/query_engine/oph_query_plugin_executor.c:480-680``).

The reference's row-machine (per-row ``add``, group-boundary ``exec``) is
re-expressed as declarative aggregate Columns, so Spark performs partial
(map-side) + final aggregation natively — the two-phase split the reference
only emulated with its *_partial/*_final plugin pair.

Scale note: the Column forms below collect each group's arrays and fold them
on the reducer.  That is exactly what the reference does (per-group array
state), is correct at any group width that fits an executor, and benefits
from map-side partial aggregation.  For extremely wide groups, the
positional-explode alternative in ``operators/array_agg.py`` trades one
shuffle for bounded memory.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from ophidia_io_server_spark.dialect.expression import EV, ExprError
from ophidia_io_server_spark.functions import primitive, str_arg
from ophidia_io_server_spark.functions.core import strip_type_tags


def _ew(op: str):
    ops = {
        "sum": lambda x, y: x + y,
        "max": lambda x, y: F.greatest(x, y),
        "min": lambda x, y: F.least(x, y),
        "mul": lambda x, y: x * y,
    }
    key = op.lower().removeprefix("oph_")
    if key in ("avg", "mean"):
        key = "sum"  # divided by count afterwards
    if key not in ops:
        raise ExprError(f"unknown aggregate operation {op!r}")
    return ops[key]


def elementwise_fold(m: Column, op: str) -> Column:
    """Element-wise fold of all arrays in the group into one array."""
    fn = _ew(op)
    lst = F.collect_list(m)
    init = F.lit(None).cast("array<double>")
    folded = F.aggregate(
        lst,
        init,
        lambda acc, x: F.when(acc.isNull(), x.cast("array<double>")).otherwise(
            F.zip_with(acc, x, fn)
        ),
    )
    return folded


@primitive("oph_aggregate_operator", aggregate=True,
           doc="element-wise max/min/sum/avg across the group's arrays")
def oph_aggregate_operator(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    op = str_arg(args, 1, "oph_aggregate_operator", "sum").lower().removeprefix("oph_")
    folded = elementwise_fold(m, op)
    if op in ("avg", "mean"):
        cnt = F.count(F.lit(1)).cast("double")
        return EV(F.transform(folded, lambda x: x / cnt))
    return EV(folded)


_PARTS = ("sum", "sumsq", "min", "max")


def _fold(part, p: str) -> Column:
    """Fold the rows' ``part(p)`` arrays element-wise over the group."""
    return elementwise_fold(part(p), "sum" if p == "sumsq" else p)


def _row_parts(m: Column):
    """Each row's array for a part of ``_PARTS``: the measure, squared for sumsq."""
    return lambda p: F.transform(m, lambda x: x * x) if p == "sumsq" else m


def _masked_stats(name: str, mask: str, cnt: Column, part) -> Column:
    """Concatenate the stats ``mask`` selects over (mean, variance, std, min,
    max), building only those Columns and what they derive from: variance
    needs the mean, std the variance, each built once.  ``part(p)`` is each
    row's array for ``p`` in ``_PARTS``."""

    @cache
    def mean() -> Column:
        return F.transform(_fold(part, "sum"), lambda x: x / cnt)

    @cache
    def var() -> Column:
        return F.zip_with(_fold(part, "sumsq"), mean(),
                          lambda q, mu: (q - cnt * mu * mu) / (cnt - 1))

    stats = (mean, var, lambda: F.transform(var(), F.sqrt),
             lambda: _fold(part, "min"), lambda: _fold(part, "max"))
    chosen = [stats[i]() for i, flag in enumerate(mask[:5]) if flag == "1"]
    if not chosen:
        raise ExprError(f"{name}: empty stat mask")
    return F.concat(*chosen) if len(chosen) > 1 else chosen[0]


@primitive("oph_aggregate_stats", aggregate=True,
           doc="element-wise [mean|variance|std|min|max] across group rows; mask picks stats")
def oph_aggregate_stats(args, ctx):
    """oph_aggregate_stats(measure[, 'mask']) — mask is a string of 1/0 flags
    over (mean, variance, std, min, max); default '10000' (mean only).
    Output concatenates the selected per-element stat arrays in order."""
    args = strip_type_tags(args)
    m = args[0].col.cast("array<double>")
    mask = str_arg(args, 1, "oph_aggregate_stats", "10000")
    cnt = F.count(F.lit(1)).cast("double")
    return EV(_masked_stats("oph_aggregate_stats", mask, cnt, _row_parts(m)))


@primitive("oph_aggregate_stats_partial", aggregate=True,
           doc="partial stats state: concat(count, sum[], sumsq[], min[], max[])")
def oph_aggregate_stats_partial(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col.cast("array<double>")
    cnt = F.count(F.lit(1)).cast("double")
    return EV(F.concat(F.array(cnt), *[_fold(_row_parts(m), p) for p in _PARTS]))


@primitive("oph_aggregate_stats_final", aggregate=True,
           doc="combine partial-stats arrays: element-wise merge → [mean|var|std|min|max] per mask")
def oph_aggregate_stats_final(args, ctx):
    """Input rows are oph_aggregate_stats_partial outputs (count, sum, sumsq,
    min, max packed in one array of length 1+4k).  Merges partials and emits
    the same stat layout as oph_aggregate_stats."""
    args = strip_type_tags(args)
    p = args[0].col.cast("array<double>")
    mask = str_arg(args, 1, "oph_aggregate_stats_final", "10000")
    ki = ((F.size(p) - 1) / 4).cast("int")
    cnt = F.sum(F.element_at(p, 1))
    return EV(_masked_stats("oph_aggregate_stats_final", mask, cnt,
                            lambda part: F.slice(p, _PARTS.index(part) * ki + 2, ki)))


@primitive("oph_roll_up", aggregate=True,
           doc="concatenate the group's arrays ordered by id_dim into one array")
def oph_roll_up(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    id_col = F.col(ctx.id_col)
    pairs = F.array_sort(F.collect_list(F.struct(id_col.alias("i"), m.alias("v"))))
    return EV(F.flatten(F.transform(pairs, lambda r: r["v"])))
