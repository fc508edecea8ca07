"""GSL-family numeric primitives (oph_gsl_*) re-expressed with Column math
where closed-form, numpy pandas-UDF kernels where spectral/fit kernels are
needed (SURVEY.md §2.9, list ``/root/reference/etc/oph_primitives_list.in``).

Statistical conventions follow GSL: sample variance (n-1), linear-interpolated
quantiles (matches numpy 'linear' and DuckDB quantile_cont).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ophidia_io_server_spark.dialect.expression import EV, ExprError
from ophidia_io_server_spark.functions import primitive, str_arg, int_arg, num_arg
from ophidia_io_server_spark.functions.core import strip_type_tags
from ophidia_io_server_spark.functions.reduce import reduce_array


@primitive("oph_gsl_sd", doc="sample standard deviation of the array (n-1)")
def oph_gsl_sd(args, ctx):
    args = strip_type_tags(args)
    return EV(reduce_array(args[0].col, "std"))


@primitive("oph_gsl_stats", doc="stats vector by mask over (mean,var,std,min,max,sum)")
def oph_gsl_stats(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    mask = str_arg(args, 1, "oph_gsl_stats", "111110")
    stats = ["avg", "var", "std", "min", "max", "sum"]
    chosen = [reduce_array(m, stats[i]).cast("double") for i, fl in enumerate(mask[:6]) if fl == "1"]
    if not chosen:
        raise ExprError("oph_gsl_stats: empty mask")
    return EV(F.array(*chosen))


@primitive("oph_gsl_quantile", doc="linear-interpolated quantile q of the array")
def oph_gsl_quantile(args, ctx):
    args = strip_type_tags(args)
    m = F.array_sort(args[0].col.cast("array<double>"))
    q = num_arg(args, 1, "oph_gsl_quantile", 0.5)
    n = F.size(m)
    # GSL/numpy 'linear': h = (n-1)q; x[floor(h)] + frac*(x[floor(h)+1]-x[floor(h)])
    h = (n - 1) * F.lit(float(q))
    lo = F.floor(h).cast("int")
    frac = h - lo
    xlo = F.element_at(m, lo + 1)
    xhi = F.element_at(m, F.least(lo + 2, n))
    return EV(xlo + frac * (xhi - xlo))


@primitive("oph_gsl_histogram", doc="bin counts over [min,max] with n equal bins")
def oph_gsl_histogram(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col.cast("array<double>")
    nbins = int_arg(args, 1, "oph_gsl_histogram", 10)
    lo = num_arg(args, 2, "oph_gsl_histogram", float("nan"))
    hi = num_arg(args, 3, "oph_gsl_histogram", float("nan"))
    lo_c = F.lit(lo) if lo == lo else F.array_min(m)
    hi_c = F.lit(hi) if hi == hi else F.array_max(m)
    width = (hi_c - lo_c) / nbins

    def count_bin(b):
        lo_b = lo_c + b * width
        hi_b = lo_c + (b + 1) * width
        # GSL: bins are [lo, hi) except the last which is [lo, hi]
        in_bin = lambda x: (x >= lo_b) & (F.when(F.lit(b) == nbins - 1, x <= hi_b).otherwise(x < hi_b))
        return F.size(F.filter(m, in_bin)).cast("double")

    return EV(F.transform(F.sequence(F.lit(0), F.lit(nbins - 1)), count_bin))


@primitive("oph_gsl_boxplot", doc="[min, q1, median, q3, max] of the array")
def oph_gsl_boxplot(args, ctx):
    args = strip_type_tags(args)
    srt = F.array_sort(args[0].col.cast("array<double>"))
    n = F.size(srt)

    def quant(q):
        h = (n - 1) * F.lit(q)
        lo = F.floor(h).cast("int")
        frac = h - lo
        xlo = F.element_at(srt, lo + 1)
        xhi = F.element_at(srt, F.least(lo + 2, n))
        return xlo + frac * (xhi - xlo)

    return EV(F.array(F.element_at(srt, 1), quant(0.25), quant(0.5), quant(0.75), F.element_at(srt, -1)))


@primitive("oph_gsl_sort", doc="ascending sort of the array")
def oph_gsl_sort(args, ctx):
    args = strip_type_tags(args)
    return EV(F.array_sort(args[0].col))


@primitive("oph_gsl_correlation", doc="Pearson correlation of two arrays")
def oph_gsl_correlation(args, ctx):
    args = strip_type_tags(args)
    a = args[0].col.cast("array<double>")
    b = args[1].col.cast("array<double>")
    n = F.size(a).cast("double")
    sa = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
    sb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x)
    saa = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    sbb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    sab = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cov = sab - sa * sb / n
    va = saa - sa * sa / n
    vb = sbb - sb * sb / n
    return EV(cov / F.sqrt(va * vb))


@primitive("oph_gsl_fft", arrow=True,
           doc="full FFT of real input → interleaved re/im (numpy kernel)")
def oph_gsl_fft(args, ctx):
    from ophidia_io_server_spark.functions.pandas_kernels import fft_udf

    args = strip_type_tags(args)
    return EV(fft_udf(args[0].col.cast("array<double>")))


@primitive("oph_gsl_ifft", arrow=True, doc="inverse FFT of interleaved re/im → interleaved re/im")
def oph_gsl_ifft(args, ctx):
    from ophidia_io_server_spark.functions.pandas_kernels import ifft_udf

    args = strip_type_tags(args)
    return EV(ifft_udf(args[0].col.cast("array<double>")))


@primitive("oph_gsl_dwt", arrow=True, doc="one-level Haar DWT [approx|detail]")
def oph_gsl_dwt(args, ctx):
    from ophidia_io_server_spark.functions.pandas_kernels import dwt_udf

    args = strip_type_tags(args)
    return EV(dwt_udf(args[0].col.cast("array<double>")))


@primitive("oph_gsl_idwt", arrow=True, doc="inverse one-level Haar DWT")
def oph_gsl_idwt(args, ctx):
    from ophidia_io_server_spark.functions.pandas_kernels import idwt_udf

    args = strip_type_tags(args)
    return EV(idwt_udf(args[0].col.cast("array<double>")))


def _fit_linear_terms(m):
    """Closed-form least squares over (x=0..n-1, y): pure Column math — no
    Python, bitwise SQL-reproducible (same left folds, same IEEE ops)."""
    n = F.size(m).cast("double")
    sx = n * (n - 1) / 2
    sxx = (n - 1) * n * (2 * n - 1) / 6
    sy = F.aggregate(m, F.lit(0.0), lambda a, x: a + x)
    sxy = F.aggregate(
        F.zip_with(m, F.sequence(F.lit(0), F.size(m) - 1),
                   lambda y, i: y * i.cast("double")),
        F.lit(0.0), lambda a, x: a + x,
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return slope, intercept


@primitive("oph_gsl_fit_linear", doc="least-squares line fit → fitted values")
def oph_gsl_fit_linear(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col.cast("array<double>")
    slope, intercept = _fit_linear_terms(m)
    return EV(F.transform(F.sequence(F.lit(0), F.size(m) - 1),
                          lambda i: intercept + slope * i.cast("double")))


@primitive("oph_gsl_fit_linear_coeff", doc="least-squares line fit → [intercept, slope]")
def oph_gsl_fit_linear_coeff(args, ctx):
    args = strip_type_tags(args)
    slope, intercept = _fit_linear_terms(args[0].col.cast("array<double>"))
    return EV(F.array(intercept, slope))


@primitive("oph_gsl_spline", doc="resample the array to new_size points (linear interpolation)")
def oph_gsl_spline(args, ctx):
    """Pure Column math (out[i] = lerp at position i*(n-1)/(N-1)) so the SQL
    oracle reproduces it bit-for-bit; no UDF needed for linear resampling."""
    args = strip_type_tags(args)
    m = args[0].col.cast("array<double>")
    new_size = int_arg(args, 1, "oph_gsl_spline")
    n = F.size(m)

    def lerp(i):
        pos = i * (n - 1) / F.lit(new_size - 1)
        lo = F.floor(pos).cast("int")
        frac = pos - lo
        xlo = F.element_at(m, lo + 1)
        xhi = F.element_at(m, F.least(lo + 2, n))
        return xlo + frac * (xhi - xlo)

    return EV(F.transform(F.sequence(F.lit(0), F.lit(new_size - 1)), lerp))


@primitive("oph_ccluster_kcluster", arrow=True,
           doc="1-D k-means on the array → k sorted centroids")
def oph_ccluster_kcluster(args, ctx):
    from ophidia_io_server_spark.functions.pandas_kernels import kcluster_udf

    args = strip_type_tags(args)
    k = int_arg(args, 1, "oph_ccluster_kcluster", 2)
    return EV(kcluster_udf(k)(args[0].col.cast("array<double>")))


# -- interleaved complex helpers --------------------------------------------


def _deinterleave(m, part):
    # positional filter keeps the input array OUT of lambda bodies, so this
    # composes with pandas-UDF outputs (e.g. oph_gsl_fft) — Spark rejects
    # UDF-derived columns referenced inside higher-order-function lambdas
    par = 0 if part == "re" else 1
    return F.filter(m, lambda x, i: i % 2 == par)


@primitive("oph_gsl_complex_get_real", doc="real parts of interleaved complex array")
def oph_gsl_complex_get_real(args, ctx):
    args = strip_type_tags(args)
    return EV(_deinterleave(args[0].col, "re"))


@primitive("oph_gsl_complex_get_imag", doc="imaginary parts of interleaved complex array")
def oph_gsl_complex_get_imag(args, ctx):
    args = strip_type_tags(args)
    return EV(_deinterleave(args[0].col, "im"))


@primitive("oph_gsl_complex_get_abs", doc="moduli of interleaved complex array")
def oph_gsl_complex_get_abs(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    re, im = _deinterleave(m, "re"), _deinterleave(m, "im")
    return EV(F.zip_with(re, im, lambda r, i: F.sqrt(r * r + i * i)))


@primitive("oph_gsl_complex_get_arg", doc="arguments (atan2) of interleaved complex array")
def oph_gsl_complex_get_arg(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    re, im = _deinterleave(m, "re"), _deinterleave(m, "im")
    return EV(F.zip_with(re, im, lambda r, i: F.atan2(i, r)))


def _interleave_pair(a, b):
    return F.flatten(F.zip_with(a, b, lambda x, y: F.array(x, y)))


@primitive("oph_gsl_complex_to_polar", doc="interleaved (re,im) → interleaved (rho,theta)")
def oph_gsl_complex_to_polar(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    re, im = _deinterleave(m, "re"), _deinterleave(m, "im")
    rho = F.zip_with(re, im, lambda r, i: F.sqrt(r * r + i * i))
    th = F.zip_with(re, im, lambda r, i: F.atan2(i, r))
    return EV(_interleave_pair(rho, th))


@primitive("oph_gsl_complex_to_rect", doc="interleaved (rho,theta) → interleaved (re,im)")
def oph_gsl_complex_to_rect(args, ctx):
    args = strip_type_tags(args)
    m = args[0].col
    rho, th = _deinterleave(m, "re"), _deinterleave(m, "im")
    re = F.zip_with(rho, th, lambda r, t: r * F.cos(t))
    im = F.zip_with(rho, th, lambda r, t: r * F.sin(t))
    return EV(_interleave_pair(re, im))
