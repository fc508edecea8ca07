"""Primitive registry — the Spark-first re-expression of the reference's 88
MySQL-UDF plugins (``/root/reference/etc/oph_primitives_list.in``; loader
``src/query_engine/oph_query_plugin_loader.c:72-263``).

Each primitive is a plan-time function ``(args: list[EV], ctx: ExprContext)
-> EV`` that builds a declarative Column (higher-order array functions where
possible, Arrow-batched pandas UDFs where numpy is genuinely needed).
AGGREGATE-class primitives (reference FUN AGGREGATE entries) return aggregate
Columns usable under groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from ophidia_io_server_spark.dialect.expression import EV, ExprContext, ExprError


@dataclass
class Primitive:
    name: str
    fn: Callable
    aggregate: bool = False
    arrow: bool = False  # builds an Arrow-batched pandas UDF
    doc: str = ""


PRIMITIVES: dict[str, Primitive] = {}


def primitive(name: str, aggregate: bool = False, arrow: bool = False, doc: str = ""):
    def deco(fn):
        PRIMITIVES[name] = Primitive(name=name, fn=fn, aggregate=aggregate, arrow=arrow,
                                     doc=doc or fn.__doc__ or "")
        return fn

    return deco


def call_primitive(name: str, args: list[EV], ctx: ExprContext) -> EV:
    if name not in PRIMITIVES:
        raise ExprError(f"unknown function {name!r}")
    out = PRIMITIVES[name].fn(args, ctx)
    return out if isinstance(out, EV) else EV(out)


# argument helpers -----------------------------------------------------------


def str_arg(args: list[EV], i: int, name: str, default: str | None = None) -> str:
    if i >= len(args):
        if default is not None:
            return default
        raise ExprError(f"{name}: missing string argument #{i + 1}")
    ev = args[i]
    if not ev.is_literal or not isinstance(ev.pyval, str):
        raise ExprError(f"{name}: argument #{i + 1} must be a 'string' literal")
    return ev.pyval


def int_arg(args: list[EV], i: int, name: str, default: int | None = None) -> int:
    if i >= len(args):
        if default is not None:
            return default
        raise ExprError(f"{name}: missing integer argument #{i + 1}")
    ev = args[i]
    if not ev.is_literal or not isinstance(ev.pyval, (int, float)):
        raise ExprError(f"{name}: argument #{i + 1} must be a numeric literal")
    return int(ev.pyval)


def num_arg(args: list[EV], i: int, name: str, default: float | None = None) -> float:
    if i >= len(args):
        if default is not None:
            return default
        raise ExprError(f"{name}: missing numeric argument #{i + 1}")
    ev = args[i]
    if not ev.is_literal or not isinstance(ev.pyval, (int, float)):
        raise ExprError(f"{name}: argument #{i + 1} must be a numeric literal")
    return ev.pyval


# Load primitive modules (import side effect: registration).
from ophidia_io_server_spark.functions import idfuncs  # noqa: E402,F401
from ophidia_io_server_spark.functions import core  # noqa: E402,F401
from ophidia_io_server_spark.functions import reduce as _reduce  # noqa: E402,F401
from ophidia_io_server_spark.functions import aggregates  # noqa: E402,F401
from ophidia_io_server_spark.functions import gsl  # noqa: E402,F401
