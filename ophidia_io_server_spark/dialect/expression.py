"""Compile Ophidia-dialect expressions into Spark ``Column`` trees.

The reference evaluates a per-row AST interpreter (grammar
``/root/reference/src/query_engine/oph_query_expression_parser.y:40-89``,
evaluator ``oph_query_expression_evaluator.c:570-826``).  Here the whole
evaluator disappears into Catalyst: we parse the same surface grammar —
numbers, 'strings', NULL, ``?N`` binds, ``alias.column`` refs, ``fn(args)``
calls, binary ``+ - * / % = & | !`` — and emit declarative Columns, so
predicates/projections run inside WholeStageCodegen, vectorized, with
predicate pushdown and constant folding for free.

Documented divergences from the reference (SURVEY.md §7.3):
- ``/`` performs real division (the reference has a bug making it multiply,
  oph_query_expression_evaluator.c:616-627);
- comparison operators ``< <= > >= !=`` are accepted (the reference grammar
  only has ``=``);
- arithmetic keeps natural Spark types instead of always promoting to double.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


class ExprError(ValueError):
    pass


@dataclass
class EV:
    """A compiled expression value: Spark Column + static metadata.

    ``elem_src``/``elem_fn`` carry element-wise lineage for primitive-chain
    fusion: when an element-wise primitive consumes an EV produced by another
    element-wise primitive, it composes the lambdas into ONE ``transform``
    instead of nesting them (Catalyst does not fuse across higher-order
    function boundaries, so unfused chains materialize an intermediate array
    per step per row)."""

    col: Column
    boolean: bool = False  # Column is BooleanType (needs !=0 nowhere)
    pyval: Any = None  # python literal value when statically known
    is_literal: bool = False
    elem_src: Column | None = None  # base array column of an element-wise chain
    elem_fn: Any = None             # Column -> Column lambda over one element

    def truthy(self) -> Column:
        return self.col if self.boolean else self.col != 0

    def numeric(self) -> Column:
        return self.col.cast("long") if self.boolean else self.col


def elementwise(arg, fn) -> EV:
    """Build a fused element-wise EV: ``fn`` applied per element of ``arg``
    (an EV or Column).  Composes with an upstream element-wise chain."""
    from pyspark.sql import functions as F

    if isinstance(arg, EV) and arg.elem_fn is not None:
        base = arg.elem_src
        composed = _compose_elem(arg.elem_fn, fn)
    else:
        base = arg.col if isinstance(arg, EV) else arg
        composed = fn
    return EV(F.transform(base, composed), elem_src=base, elem_fn=composed)


def _compose_elem(inner, outer):
    # single-parameter closure: PySpark HOFs sniff the lambda's arity, so
    # captured values must not appear as default parameters
    def f(e):
        return outer(inner(e))

    return f


@dataclass
class ExprContext:
    """Name-resolution context for one query scope."""

    resolver: Callable[[str], Column]
    params: dict[int, Any] = field(default_factory=dict)  # ?N binds (1-based)
    id_col: str = "id_dim"


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
  | (?P<string>'(?:[^'\\]|\\.)*')
  | (?P<bind>\?\d+)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)
  | (?P<op><=|>=|!=|==|\|\||&&|[-+*/%=<>!&|(),])
    """,
    re.VERBOSE,
)


def tokenize(src: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise ExprError(f"bad character {src[pos]!r} at {pos} in {src!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        tokens.append((kind, m.group()))
    tokens.append(("eof", ""))
    return tokens


# ---------------------------------------------------------------------------
# Pratt-style recursive-descent parser → EV
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], ctx: ExprContext):
        self.toks = tokens
        self.i = 0
        self.ctx = ctx

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, value: str) -> None:
        kind, v = self.next()
        if v != value:
            raise ExprError(f"expected {value!r}, got {v!r}")

    # grammar: or_expr is the entry point
    def parse(self) -> EV:
        ev = self.parse_or()
        if self.peek()[0] != "eof":
            raise ExprError(f"trailing tokens at {self.peek()[1]!r}")
        return ev

    def parse_or(self) -> EV:
        left = self.parse_and()
        while self.peek()[1] in ("|", "||"):
            self.next()
            right = self.parse_and()
            left = EV(left.truthy() | right.truthy(), boolean=True)
        return left

    def parse_and(self) -> EV:
        left = self.parse_cmp()
        while self.peek()[1] in ("&", "&&"):
            self.next()
            right = self.parse_cmp()
            left = EV(left.truthy() & right.truthy(), boolean=True)
        return left

    _CMP = {"=", "==", "!=", "<", "<=", ">", ">="}

    def parse_cmp(self) -> EV:
        left = self.parse_add()
        if self.peek()[1] in self._CMP:
            op = self.next()[1]
            right = self.parse_add()
            lc, rc = left.numeric(), right.numeric()
            if op in ("=", "=="):
                col = lc == rc
            elif op == "!=":
                col = lc != rc
            elif op == "<":
                col = lc < rc
            elif op == "<=":
                col = lc <= rc
            elif op == ">":
                col = lc > rc
            else:
                col = lc >= rc
            return EV(col, boolean=True)
        return left

    def parse_add(self) -> EV:
        left = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            right = self.parse_mul()
            lc, rc = left.numeric(), right.numeric()
            lv, rv = left.pyval, right.pyval
            lit = left.is_literal and right.is_literal
            if op == "+":
                left = EV(lc + rc, pyval=(lv + rv) if lit else None, is_literal=lit)
            else:
                left = EV(lc - rc, pyval=(lv - rv) if lit else None, is_literal=lit)
        return left

    def parse_mul(self) -> EV:
        left = self.parse_unary()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            right = self.parse_unary()
            lc, rc = left.numeric(), right.numeric()
            lv, rv = left.pyval, right.pyval
            lit = left.is_literal and right.is_literal
            if op == "*":
                left = EV(lc * rc, pyval=(lv * rv) if lit else None, is_literal=lit)
            elif op == "/":
                # correct division (reference bug: computes l*r — not copied)
                left = EV(lc / rc, pyval=(lv / rv) if lit and rv else None, is_literal=lit)
            else:
                left = EV(lc % rc, pyval=(lv % rv) if lit and rv else None, is_literal=lit)
        return left

    def parse_unary(self) -> EV:
        kind, v = self.peek()
        if v == "-":
            self.next()
            ev = self.parse_unary()
            return EV(-ev.numeric(), pyval=(-ev.pyval if ev.is_literal else None),
                      is_literal=ev.is_literal)
        if v == "!":
            self.next()
            ev = self.parse_unary()
            return EV(~ev.truthy(), boolean=True)
        return self.parse_primary()

    def parse_primary(self) -> EV:
        kind, v = self.next()
        if kind == "number":
            pyval = float(v) if ("." in v or "e" in v or "E" in v) else int(v)
            return EV(F.lit(pyval), pyval=pyval, is_literal=True)
        if kind == "string":
            s = v[1:-1].replace("\\'", "'")
            return EV(F.lit(s), pyval=s, is_literal=True)
        if kind == "bind":
            n = int(v[1:])
            if n not in self.ctx.params:
                raise ExprError(f"unbound parameter ?{n}")
            pv = self.ctx.params[n]
            return EV(F.lit(pv), pyval=pv, is_literal=True)
        if kind == "name":
            if v.upper() == "NULL":
                return EV(F.lit(None), pyval=None, is_literal=True)
            if self.peek()[1] == "(":
                return self.parse_call(v)
            try:
                return EV(self.ctx.resolver(v))
            except Exception as e:
                raise ExprError(f"cannot resolve column {v!r}: {e}") from e
        if v == "(":
            ev = self.parse_or()
            self.expect(")")
            return ev
        raise ExprError(f"unexpected token {v!r}")

    def parse_call(self, name: str) -> EV:
        from ophidia_io_server_spark.functions import call_primitive

        self.expect("(")
        args: list[EV] = []
        if self.peek()[1] != ")":
            args.append(self.parse_or())
            while self.peek()[1] == ",":
                self.next()
                args.append(self.parse_or())
        self.expect(")")
        return call_primitive(name.lower(), args, self.ctx)


def compile_expression(src: str, ctx: ExprContext) -> EV:
    """Compile one dialect expression to an EV (Spark Column + metadata)."""
    return _Parser(tokenize(src), ctx).parse()


def compile_lambda(src: str, var: str = "x") -> Callable[[Column], Column]:
    """Compile an expression over a single free variable (used by primitives
    like oph_predicate whose sub-expressions mention ``x``)."""

    def fn(x: Column) -> Column:
        ctx = ExprContext(resolver=lambda name: _var_resolver(name, var, x))
        return compile_expression(src, ctx).numeric()

    return fn


def _var_resolver(name: str, var: str, x: Column) -> Column:
    if name == var:
        return x
    raise ExprError(f"unknown variable {name!r} (expected {var!r})")


def _calls_primitive(src: str, flag: str) -> bool:
    from ophidia_io_server_spark.functions import PRIMITIVES

    for kind, v in tokenize(src)[:-1]:
        if kind == "name" and v.lower() in PRIMITIVES and getattr(PRIMITIVES[v.lower()], flag):
            return True
    return False


def expression_uses_aggregate(src: str) -> bool:
    """True if the expression calls any AGGREGATE-class primitive."""
    return _calls_primitive(src, "aggregate")


def expression_uses_arrow(src: str) -> bool:
    """True if the expression calls any primitive built on a pandas UDF."""
    return _calls_primitive(src, "arrow")
