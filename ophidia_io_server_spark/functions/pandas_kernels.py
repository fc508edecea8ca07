"""Arrow-batched pandas-UDF kernels for primitives whose semantics need numpy.

These are the deliberate exceptions to the "stay JVM-side" rule (SURVEY.md §4):
scans/transforms with per-element state (cumsum) or numeric kernels (FFT, DWT,
fits) that higher-order functions cannot express efficiently.  All kernels are
vectorized per Arrow batch — never row-at-a-time Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


@F.pandas_udf(ArrayType(DoubleType()))
def cumsum_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda a: np.cumsum(np.asarray(a, dtype=np.float64)).tolist())


@F.pandas_udf(ArrayType(DoubleType()))
def fft_udf(s: pd.Series) -> pd.Series:
    """Real input array → interleaved [re0, im0, re1, im1, ...] full FFT."""

    def k(a):
        out = np.fft.fft(np.asarray(a, dtype=np.float64))
        return np.column_stack([out.real, out.imag]).ravel().tolist()

    return s.map(k)


@F.pandas_udf(ArrayType(DoubleType()))
def ifft_udf(s: pd.Series) -> pd.Series:
    """Interleaved complex input → interleaved complex inverse FFT."""

    def k(a):
        a = np.asarray(a, dtype=np.float64)
        z = a[0::2] + 1j * a[1::2]
        out = np.fft.ifft(z)
        return np.column_stack([out.real, out.imag]).ravel().tolist()

    return s.map(k)


def _haar_dwt(a: np.ndarray) -> np.ndarray:
    """One-level Haar DWT: [approx | detail], orthonormal (1/sqrt(2) scaling)."""
    n = len(a) // 2 * 2
    e, o = a[0:n:2], a[1:n:2]
    r = np.concatenate([(e + o) / np.sqrt(2.0), (e - o) / np.sqrt(2.0)])
    if len(a) % 2:
        r = np.append(r, a[-1])
    return r


def _haar_idwt(a: np.ndarray) -> np.ndarray:
    odd = len(a) % 2
    core = a[: len(a) - odd]
    h = len(core) // 2
    ap, de = core[:h], core[h:]
    out = np.empty(len(core))
    out[0::2] = (ap + de) / np.sqrt(2.0)
    out[1::2] = (ap - de) / np.sqrt(2.0)
    if odd:
        out = np.append(out, a[-1])
    return out


@F.pandas_udf(ArrayType(DoubleType()))
def dwt_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda a: _haar_dwt(np.asarray(a, dtype=np.float64)).tolist())


@F.pandas_udf(ArrayType(DoubleType()))
def idwt_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda a: _haar_idwt(np.asarray(a, dtype=np.float64)).tolist())


def kcluster_udf(k: int):
    """Deterministic 1-D k-means per array.

    k == 2 (and enough points): EXACT optimal clustering — in 1-D the optimal
    2-means partition is a split of the sorted values, so enumerate the n-1
    split points, score each with the integer-exact within-cluster
    sum-of-squares identity SS = (ssq_l - sum_l²/t) + (ssq_r - sum_r²/(n-t)),
    first-minimum tie-break.  Deterministic, globally optimal, and closed-form
    enough for a SQL oracle to mirror bitwise (plain left-to-right sums, one
    division each — no iterative state).

    k != 2: quantile-init Lloyd (25 iterations), sorted centroids.
    """

    @F.pandas_udf(ArrayType(DoubleType()))
    def _k(s: pd.Series) -> pd.Series:
        def exact2(a):
            srt = sorted(float(v) for v in a)
            n = len(srt)
            best_t, best_ss = 1, None
            for t in range(1, n):
                sl = ssl = 0.0
                for x in srt[:t]:
                    sl += x
                    ssl += x * x
                sr = ssr = 0.0
                for x in srt[t:]:
                    sr += x
                    ssr += x * x
                ss = (ssl - sl * sl / t) + (ssr - sr * sr / (n - t))
                if best_ss is None or ss < best_ss:
                    best_ss, best_t = ss, t
            t = best_t
            sl = 0.0
            for x in srt[:t]:
                sl += x
            sr = 0.0
            for x in srt[t:]:
                sr += x
            return [sl / t, sr / (n - t)]  # sorted by construction

        def lloyd(a):
            x = np.asarray(a, dtype=np.float64)
            cents = np.quantile(x, np.linspace(0, 1, k + 2)[1:-1] if k > 1 else [0.5])
            cents = np.asarray(cents, dtype=np.float64)
            for _ in range(25):
                d = np.abs(x[:, None] - cents[None, :])
                lab = d.argmin(axis=1)
                for j in range(k):
                    sel = x[lab == j]
                    if len(sel):
                        cents[j] = sel.mean()
            return np.sort(cents).tolist()

        def kernel(a):
            if k == 2 and len(a) >= 2:
                return exact2(a)
            return lloyd(a)

        return s.map(kernel)

    return _k
