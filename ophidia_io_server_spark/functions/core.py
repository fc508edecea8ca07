"""Tier-1 array primitives: pure higher-order-function Column expressions.

These correspond to the SIMPLE plugins in
``/root/reference/etc/oph_primitives_list.in`` whose semantics reduce to
element-wise / shape transforms (SURVEY.md §2.9).  Everything here compiles
to JVM-side ``transform``/``zip_with``/``slice``/``concat``/``aggregate``
expressions — no Python in the hot path, fully vectorizable under
WholeStageCodegen, which is what makes the 100 TB target tractable.

The reference plugin bodies live in the separate public ophidia-primitives
repo (not vendored here); semantics follow the public Ophidia primitive docs
and are normalized in each docstring.  Type-tag arguments used by the MySQL
ABI ('OPH_DOUBLE', ...) are accepted and ignored where present: Spark arrays
are natively typed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ophidia_io_server_spark.dialect.expression import EV, ExprError, compile_lambda, elementwise
from ophidia_io_server_spark.functions import primitive, str_arg, int_arg, num_arg

_TYPE_TAGS = {
    "oph_double", "oph_float", "oph_int", "oph_long", "oph_short", "oph_byte", "oph_bit",
    "oph_complex_double", "oph_complex_float", "oph_complex_int", "oph_complex_long",
}


def strip_type_tags(args: list[EV]) -> list[EV]:
    """Drop leading 'OPH_*|OPH_*' measure-type hint arguments (MySQL-ABI relic)."""
    out = []
    for i, a in enumerate(args):
        if (
            i < 2
            and a.is_literal
            and isinstance(a.pyval, str)
            and all(p.strip().lower() in _TYPE_TAGS for p in a.pyval.split("|"))
        ):
            continue
        out.append(a)
    return out


def _binop(op: str):
    ops = {
        "sum": lambda x, y: x + y,
        "sub": lambda x, y: x - y,
        "mul": lambda x, y: x * y,
        "div": lambda x, y: x / y,
        "max": lambda x, y: F.greatest(x, y),
        "min": lambda x, y: F.least(x, y),
        "arg": lambda x, y: F.atan2(y, x),
        "abs": lambda x, y: F.sqrt(x * x + y * y),
        "mod": lambda x, y: x % y,
    }
    key = op.lower().removeprefix("oph_")
    if key not in ops:
        raise ExprError(f"unknown element-wise operation {op!r}")
    return ops[key]


# -- scalar ops --------------------------------------------------------------


@primitive("oph_sum_scalar", doc="x + s for each array element")
def oph_sum_scalar(args, ctx):
    args = strip_type_tags(args)
    s = args[1].numeric()
    return elementwise(args[0], lambda x: x + s)


@primitive("oph_mul_scalar", doc="x * s for each array element")
def oph_mul_scalar(args, ctx):
    args = strip_type_tags(args)
    s = args[1].numeric()
    return elementwise(args[0], lambda x: x * s)


@primitive("oph_sum_scalar2", doc="a*x + b for each element (affine transform)")
def oph_sum_scalar2(args, ctx):
    args = strip_type_tags(args)
    a, b = args[1].numeric(), args[2].numeric()
    return elementwise(args[0], lambda x: a * x + b)


@primitive("oph_mul_scalar2", doc="a*(x*b) for each element (two-scalar product)")
def oph_mul_scalar2(args, ctx):
    args = strip_type_tags(args)
    a, b = args[1].numeric(), args[2].numeric()
    return elementwise(args[0], lambda x: a * (x * b))


# -- element-wise binary ops over two measures ------------------------------


def _zip_primitive(name: str, op: str):
    @primitive(name, doc=f"element-wise {op} of two arrays")
    def _f(args, ctx, _op=op):
        args = strip_type_tags(args)
        a, b = args[0].col, args[1].col
        return EV(F.zip_with(a, b, _binop(_op)))

    return _f


_zip_primitive("oph_sum_array", "sum")
_zip_primitive("oph_sub_array", "sub")
_zip_primitive("oph_mul_array", "mul")
_zip_primitive("oph_div_array", "div")
_zip_primitive("oph_max_array", "max")
_zip_primitive("oph_min_array", "min")
_zip_primitive("oph_abs_array", "abs")  # complex modulus sqrt(a²+b²)
_zip_primitive("oph_arg_array", "arg")  # complex argument atan2(b,a)


@primitive("oph_operation_array", doc="element-wise op named by string over two arrays")
def oph_operation_array(args, ctx):
    args = strip_type_tags(args)
    a, b = args[0].col, args[1].col
    op = str_arg(args, 2, "oph_operation_array", "sum")
    return EV(F.zip_with(a, b, _binop(op)))


@primitive("oph_operator_array", doc="alias of oph_operation_array")
def oph_operator_array(args, ctx):
    return oph_operation_array(args, ctx)


@primitive("oph_compare", doc="1 if the two arrays are element-wise equal, else 0")
def oph_compare(args, ctx):
    args = strip_type_tags(args)
    a, b = args[0].col, args[1].col
    eq = F.forall(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return EV((F.size(a) == F.size(b)) & eq, boolean=True)


# -- math --------------------------------------------------------------------

_MATH_FNS = {
    "sin": F.sin, "cos": F.cos, "tan": F.tan, "asin": F.asin, "acos": F.acos,
    "atan": F.atan, "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    # log/round take an optional 2nd parameter — wrap to one arg, else
    # F.transform's arity sniffing passes the element index into it
    "exp": F.exp, "log": lambda x: F.log(x), "ln": lambda x: F.log(x),
    "log10": F.log10, "log2": F.log2,
    "sqrt": F.sqrt, "abs": F.abs, "floor": F.floor, "ceil": F.ceil,
    "round": lambda x: F.round(x), "sign": F.signum, "cbrt": F.cbrt,
    "degrees": F.degrees, "radians": F.radians,
}


@primitive("oph_math", doc="apply a named unary math function element-wise")
def oph_math(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    fname = str_arg(args, 1, "oph_math").lower().removeprefix("oph_math_").removeprefix("oph_")
    if fname not in _MATH_FNS:
        raise ExprError(f"oph_math: unknown function {fname!r}")
    fn = _MATH_FNS[fname]
    if fname in ("floor", "ceil"):
        return elementwise(args[0], lambda x: fn(x).cast("double"))
    return elementwise(args[0], fn)


@primitive("oph_predicate", doc="element-wise if expr(x) <op> 0 then then(x) else else(x)")
def oph_predicate(args, ctx):
    """Ophidia: oph_predicate(measure, 'x-256', '>0', 'x', '0') — evaluate the
    first expression per element, compare against 0 with the comparator, pick
    the then/else expression (each may mention x)."""
    args = strip_type_tags(args)
    m = args[0].col
    expr_src = str_arg(args, 1, "oph_predicate")
    comp = str_arg(args, 2, "oph_predicate").strip()
    then_src = str_arg(args, 3, "oph_predicate")
    else_src = str_arg(args, 4, "oph_predicate")
    e = compile_lambda(expr_src)
    t = _maybe_nan_lambda(then_src)
    z = _maybe_nan_lambda(else_src)
    comps = {
        ">0": lambda c: c > 0, ">=0": lambda c: c >= 0, "<0": lambda c: c < 0,
        "<=0": lambda c: c <= 0, "=0": lambda c: c == 0, "==0": lambda c: c == 0,
        "!=0": lambda c: c != 0,
    }
    key = comp.replace(" ", "")
    if key not in comps:
        raise ExprError(f"oph_predicate: unsupported comparator {comp!r}")
    cond = comps[key]

    def pick(x):
        v = e(x)
        # C parity: every comparison involving NaN is false (Spark would
        # order NaN greater than any value), so NaN takes the else-branch
        return F.when(~F.isnan(v) & cond(v), t(x)).otherwise(z(x))

    return elementwise(args[0], pick)


def _maybe_nan_lambda(src: str):
    if src.strip().upper() in ("NAN", "'NAN'"):
        return lambda x: F.lit(float("nan"))
    if src.strip().upper() == "NULL":
        return lambda x: F.lit(None).cast("double")
    return compile_lambda(src)


@primitive("oph_predicate2", doc="like oph_predicate but NaN elements pass through unchanged")
def oph_predicate2(args, ctx):
    inner = oph_predicate(args, ctx)
    args2 = strip_type_tags(args)
    m = args2[0].col
    return EV(F.zip_with(m, inner.col, lambda x, r: F.when(F.isnan(x), x).otherwise(r)))


# -- masking / filtering -----------------------------------------------------


@primitive("oph_mask_array", doc="x where mask!=0 else NaN (filler overridable)")
def oph_mask_array(args, ctx):
    args = strip_type_tags(args)
    m, mask = args[0].col, args[1].col
    fill = num_arg(args, 2, "oph_mask_array", float("nan"))
    return EV(F.zip_with(m, mask, lambda x, b: F.when(b != 0, x).otherwise(F.lit(fill))))


@primitive("oph_filter", doc="keep elements where expr(x) is nonzero (array shrinks)")
def oph_filter(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    cond = compile_lambda(str_arg(args, 1, "oph_filter"))
    return EV(F.filter(m, lambda x: cond(x) != 0))


@primitive("oph_find", doc="1-based positions where |x - value| <= tolerance")
def oph_find(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    value = args[1].numeric()
    tol = num_arg(args, 2, "oph_find", 0.0)
    idx = F.sequence(F.lit(1), F.size(m))
    return EV(F.filter(idx, lambda i: F.abs(F.element_at(m, i.cast("int")) - value) <= tol))


@primitive("oph_replace", doc="replace elements equal to old (or NaN) with new")
def oph_replace(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    old_is_nan = args[1].is_literal and isinstance(args[1].pyval, str) and args[1].pyval.upper() == "NAN"
    new = args[2].numeric()
    if old_is_nan:
        return elementwise(args[0], lambda x: F.when(F.isnan(x), new).otherwise(x))
    old = args[1].numeric()
    return elementwise(args[0], lambda x: F.when(x == old, new).otherwise(x))


# -- normalization / quantization -------------------------------------------


@primitive("oph_normalize", doc="(x - mean) / sample_std per array")
def oph_normalize(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    n = F.size(m).cast("double")
    s = F.aggregate(m, F.lit(0.0), lambda a, x: a + x)
    ss = F.aggregate(m, F.lit(0.0), lambda a, x: a + x * x)
    mean = s / n
    var = (ss - n * mean * mean) / (n - 1)
    std = F.sqrt(var)
    # constant arrays: sd==0 → define z-score as 0 (avoids engine-dependent
    # 0/0: Spark NaN vs an oracle whose sd carries fp residual → 0/tiny = 0)
    return EV(F.transform(m, lambda x: F.when(std == 0.0, 0.0).otherwise((x - mean) / std)))


@primitive("oph_quantize", doc="map x to level index given ascending 'csv' thresholds")
def oph_quantize(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    ths = [float(s) for s in str_arg(args, 1, "oph_quantize").split(",")]

    def level(x):
        c = F.lit(0.0)
        for t in ths:
            c = c + F.when(x > t, 1.0).otherwise(0.0)
        return c

    return elementwise(args[0], level)


@primitive("oph_padding", doc="right-pad array with value to target length")
def oph_padding(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    target = int_arg(args, 1, "oph_padding")
    value = num_arg(args, 2, "oph_padding", float("nan"))
    pad = F.array_repeat(F.lit(value), F.greatest(F.lit(target) - F.size(m), F.lit(0)))
    return EV(F.concat(m, pad))


# -- shape / subsetting ------------------------------------------------------


@primitive("oph_get_subarray", doc="slice(start, size), 1-based")
def oph_get_subarray(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    start = args[1].numeric()
    size = args[2].numeric() if len(args) > 2 else F.size(m)
    return EV(F.slice(m, start, size))


def _parse_subset(spec: str) -> list[tuple[int, int, int]]:
    """Ophidia subset strings: 'start:stop', 'start:step:stop', comma unions.
    'end' may be used for the last index; 1-based inclusive."""
    out = []
    for part in spec.split(","):
        bits = part.strip().split(":")
        if len(bits) == 1:
            s = e = bits[0]
            st = "1"
        elif len(bits) == 2:
            s, e = bits
            st = "1"
        elif len(bits) == 3:
            s, st, e = bits
        else:
            raise ExprError(f"bad subset spec {part!r}")
        out.append((s, st, e))
    return out


def _subset_mask(spec: str, m: Column):
    """Boolean lambda i(1-based Column) -> Column for membership in subset."""
    parts = _parse_subset(spec)
    n = F.size(m)

    def member(i):
        acc = F.lit(False)
        for s, st, e in parts:
            sc = n if s == "end" else F.lit(int(s))
            ec = n if e == "end" else F.lit(int(e))
            stc = F.lit(int(st))
            acc = acc | ((i >= sc) & (i <= ec) & (((i - sc) % stc) == 0))
        return acc

    return member


@primitive("oph_get_subarray2", doc="subset by 'start:step:stop[,...]' string (1-based)")
def oph_get_subarray2(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    spec = str_arg(args, 1, "oph_get_subarray2")
    member = _subset_mask(spec, m)
    idx = F.filter(F.sequence(F.lit(1), F.size(m)), member)
    return EV(F.transform(idx, lambda i: F.element_at(m, i.cast("int"))))


@primitive("oph_get_subarray3", doc="multidimensional subset: per-dim specs over 'csv' dim sizes")
def oph_get_subarray3(args, ctx):
    """oph_get_subarray3(measure, 'size1,size2,...', 'spec1', 'spec2', ...):
    treat the flat array as a row-major [size1 x size2 x ...] block and keep
    elements whose per-dimension (1-based) index is in each subset spec."""
    args = strip_type_tags(args)
    m = args[0].col
    sizes = [int(s) for s in str_arg(args, 1, "oph_get_subarray3").split(",")]
    specs = [str_arg(args, 2 + d, "oph_get_subarray3", "1:end") for d in range(len(sizes))]

    def member(i):  # i: 1-based flat index Column
        flat = i - 1
        acc = F.lit(True)
        # row-major: last dim varies fastest
        rem = flat
        strides = []
        s = 1
        for size in reversed(sizes):
            strides.append(s)
            s *= size
        strides = list(reversed(strides))  # stride per dim
        for d, size in enumerate(sizes):
            dim_idx = F.floor(rem / strides[d]).cast("long") % size + 1
            parts = _parse_subset(specs[d])
            dacc = F.lit(False)
            for st_, step_, en_ in parts:
                sc = size if st_ == "end" else int(st_)
                ec = size if en_ == "end" else int(en_)
                dacc = dacc | (
                    (dim_idx >= sc) & (dim_idx <= ec) & (((dim_idx - sc) % int(step_)) == 0)
                )
            acc = acc & dacc
        return acc

    idx = F.filter(F.sequence(F.lit(1), F.size(m)), member)
    return EV(F.transform(idx, lambda i: F.element_at(m, i.cast("int"))))


@primitive("oph_extract", doc="elements at the given 1-based 'csv' indices")
def oph_extract(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    idxs = [int(s) for s in str_arg(args, 1, "oph_extract").split(",")]
    return EV(F.array(*[F.element_at(m, i) for i in idxs]))


@primitive("oph_get_index_array", doc="array of 1..n (index ramp matching the measure)")
def oph_get_index_array(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    return EV(F.sequence(F.lit(1), F.size(m)).cast("array<long>"))


# -- concatenation & interleave ---------------------------------------------


def _concat_primitive(name: str):
    @primitive(name, doc="concatenate arrays")
    def _f(args, ctx):
        args = strip_type_tags(args)
        return EV(F.concat(*[a.col for a in args]))

    return _f


_concat_primitive("oph_concat")
_concat_primitive("oph_concat2")
_concat_primitive("oph_append")
_concat_primitive("oph_extend")


@primitive("oph_interlace", doc="interleave arrays element by element")
def oph_interlace(args, ctx):
    args = strip_type_tags(args)
    cols = [a.col for a in args]
    if len(cols) == 2:
        return EV(F.flatten(F.zip_with(cols[0], cols[1], lambda x, y: F.array(x, y))))
    # n-ary: index ramp over min length
    n = cols[0]
    idx = F.sequence(F.lit(1), F.size(n))
    return EV(
        F.flatten(
            F.transform(idx, lambda i: F.array(*[F.element_at(c, i.cast("int")) for c in cols]))
        )
    )


@primitive("oph_interlace2", doc="block-interleave: alternate blocks of given sizes")
def oph_interlace2(args, ctx):
    """oph_interlace2(a, b, 'ba,bb'): emit ba elements of a then bb of b,
    cycling (reference PR #26 semantics generalized)."""
    args = strip_type_tags(args)
    a, b = args[0].col, args[1].col
    ba, bb = [int(s) for s in str_arg(args, 2, "oph_interlace2", "1,1").split(",")]
    na = F.size(a)
    ncycles = F.ceil(na / F.lit(ba)).cast("int")
    cyc = F.sequence(F.lit(0), ncycles - 1)
    return EV(
        F.flatten(
            F.transform(
                cyc,
                lambda c: F.concat(
                    F.slice(a, c * ba + 1, ba), F.slice(b, c * bb + 1, bb)
                ),
            )
        )
    )


# -- reorder -----------------------------------------------------------------


@primitive("oph_reverse", doc="reverse the array")
def oph_reverse(args, ctx):
    args = strip_type_tags(args)
    return EV(F.reverse(args[0].col))


@primitive("oph_rotate", doc="circular shift right by n (negative = left)")
def oph_rotate(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    n = int_arg(args, 1, "oph_rotate", 1)
    sz = F.size(m)
    k = F.lit(n) % sz
    k = F.when(k < 0, k + sz).otherwise(k)
    return EV(F.concat(F.slice(m, sz - k + 1, k), F.slice(m, 1, sz - k)))


@primitive("oph_shift", doc="shift right by n filling with NaN (negative = left)")
def oph_shift(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    n = int_arg(args, 1, "oph_shift", 1)
    fill = num_arg(args, 2, "oph_shift", float("nan"))
    sz = F.size(m)
    if n >= 0:
        pad = F.array_repeat(F.lit(fill), F.least(F.lit(n), sz))
        return EV(F.concat(pad, F.slice(m, 1, F.greatest(sz - n, F.lit(0)))))
    k = -n
    pad = F.array_repeat(F.lit(fill), F.least(F.lit(k), sz))
    return EV(F.concat(F.slice(m, F.lit(k) + 1, F.greatest(sz - k, F.lit(0))), pad))


@primitive("oph_permute", doc="permute row-major dims of the flat array: ('sizes','perm')")
def oph_permute(args, ctx):
    """oph_permute(measure, 'd1,d2,...', 'p1,p2,...'): view the array as a
    row-major tensor of the given sizes and transpose axes by the (1-based)
    permutation; emitted as pure index-remapping transform."""
    args = strip_type_tags(args)
    m = args[0].col
    sizes = [int(s) for s in str_arg(args, 1, "oph_permute").split(",")]
    perm = [int(s) - 1 for s in str_arg(args, 2, "oph_permute").split(",")]
    ndim = len(sizes)
    out_sizes = [sizes[p] for p in perm]
    # output strides (row-major over out_sizes)
    out_strides = [1] * ndim
    for d in range(ndim - 2, -1, -1):
        out_strides[d] = out_strides[d + 1] * out_sizes[d + 1]
    in_strides = [1] * ndim
    for d in range(ndim - 2, -1, -1):
        in_strides[d] = in_strides[d + 1] * sizes[d + 1]
    total = 1
    for s in sizes:
        total *= s

    def src_index(i):  # i: 0-based output flat index (Column)
        flat = F.lit(0)
        for d in range(ndim):
            idx_d = F.floor(i / out_strides[d]).cast("long") % out_sizes[d]
            flat = flat + idx_d * in_strides[perm[d]]
        return flat

    idx = F.sequence(F.lit(0), F.lit(total - 1))
    return EV(F.transform(idx, lambda i: F.element_at(m, (src_index(i) + 1).cast("int"))))


@primitive("oph_expand", doc="marker: explode array to rows (handled by select engine)")
def oph_expand(args, ctx):
    # Returning rows from a scalar expression needs operator-level handling;
    # the select engine special-cases a top-level oph_expand projection into
    # posexplode.  Standalone use returns the array unchanged.
    args = strip_type_tags(args)
    return EV(args[0].col)


# -- sizes -------------------------------------------------------------------


@primitive("oph_size_array", doc="number of elements")
def oph_size_array(args, ctx):
    args = strip_type_tags(args)
    return EV(F.size(args[0].col).cast("long"))


@primitive("oph_count_array", doc="count of non-NaN elements")
def oph_count_array(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    return EV(F.size(F.filter(m, lambda x: ~F.isnan(x))).cast("long"))


@primitive("oph_sequence", doc="sequence(start, stop, step) as array")
def oph_sequence(args, ctx):
    args = strip_type_tags(args)
    if len(args) == 1:
        return EV(F.sequence(F.lit(1), args[0].numeric().cast("long")).cast("array<double>"))
    start, stop = args[0].numeric().cast("long"), args[1].numeric().cast("long")
    step = args[2].numeric().cast("long") if len(args) > 2 else F.lit(1)
    return EV(F.sequence(start, stop, step).cast("array<double>"))


# -- type & codec ------------------------------------------------------------

_CAST_TYPES = {
    "oph_byte": "tinyint", "oph_short": "smallint", "oph_int": "int",
    "oph_long": "bigint", "oph_float": "float", "oph_double": "double",
    "byte": "tinyint", "short": "smallint", "int": "int", "long": "bigint",
    "float": "float", "double": "double",
}


@primitive("oph_cast", doc="cast array elements to a named numeric type")
def oph_cast(args, ctx):
    m = args[0].col
    # last string literal names the target type ('oph_double' etc.)
    target = None
    for a in args[1:]:
        if a.is_literal and isinstance(a.pyval, str):
            target = a.pyval.strip().lower()
    if target is None or target.split("|")[-1] not in _CAST_TYPES:
        raise ExprError(f"oph_cast: unknown target type {target!r}")
    t = _CAST_TYPES[target.split("|")[-1]]
    return EV(m.cast(f"array<{t}>"))


@primitive("oph_convert_d", doc="cast array elements to double")
def oph_convert_d(args, ctx):
    args = strip_type_tags(args)
    return EV(args[0].col.cast("array<double>"))


@primitive("oph_convert_l", doc="cast array elements to long")
def oph_convert_l(args, ctx):
    args = strip_type_tags(args)
    return EV(args[0].col.cast("array<long>"))


@primitive("oph_to_bin", arrow=True, doc="pack numeric array to little-endian bytes (pandas UDF)")
def oph_to_bin(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import to_bin_udf

    args = strip_type_tags(args)
    return EV(to_bin_udf(args[0].col.cast("array<double>")))


@primitive("oph_value_to_bin", arrow=True, doc="pack a single value to little-endian bytes")
def oph_value_to_bin(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import to_bin_udf

    args = strip_type_tags(args)
    return EV(to_bin_udf(F.array(args[0].numeric().cast("double"))))


@primitive("oph_from_bin", arrow=True, doc="unpack little-endian double bytes to array")
def oph_from_bin(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import from_bin_udf

    args = strip_type_tags(args)
    return EV(from_bin_udf(args[0].col))


@primitive("oph_compress", arrow=True, doc="zlib-compress packed array bytes (pandas UDF)")
def oph_compress(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import compress_udf

    args = strip_type_tags(args)
    return EV(compress_udf(args[0].col.cast("array<double>")))


@primitive("oph_uncompress", arrow=True, doc="inverse of oph_compress")
def oph_uncompress(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import uncompress_udf

    args = strip_type_tags(args)
    return EV(uncompress_udf(args[0].col))


@primitive("oph_dump", arrow=True, doc="hex dump of the packed array bytes")
def oph_dump(args, ctx):
    from ophidia_io_server_spark.functions.binary_codec import to_bin_udf

    args = strip_type_tags(args)
    return EV(F.lower(F.hex(to_bin_udf(args[0].col.cast("array<double>")))))
