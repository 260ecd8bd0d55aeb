"""Reference twin of ``osdocr_spark.kernels.smoothing``'s Whittaker solve
and ``find_peaks``.

The package smooths with one banded Cholesky solve through a factor shared
by every signal length and drops, before measuring prominences, every local
maximum that cannot clear the prominence bar.  This module keeps the forms
they replaced, as independent checks (``tests/test_smoothing.py``):

- ``whittaker_smooth``: for n ≤ 2048 the dense inverse of ``I + λ·DᵀD``
  (one O(n³) inversion per length, cached) applied to the signal's nonzero
  entries; above that a banded Cholesky factor built per length and applied
  by scalar forward and back substitution;
- ``find_peaks``: prominences measured for every local maximum, then
  filtered.  This reuses the package's ``find_peaks`` with no bar, which
  never runs the prefilter.
"""

from __future__ import annotations

from functools import lru_cache
from math import comb

import numpy as np

from osdocr_spark.kernels import smoothing


def _difference_stencil(order: int) -> np.ndarray:
    """Coefficients of the d-th forward difference: (-1)^k * C(d, k)."""
    return np.array([(-1) ** k * comb(order, k) for k in range(order + 1)], dtype=np.float64)


def _system_band(n: int, lmbda: float, order: int) -> np.ndarray:
    """Band coefficients of A = I + λ·DᵀD: ``band[k][i] = A[i, i+k]``.

    A[i, i+k] = (i == i+k) + λ · Σ_m s[m]·s[m+k] over difference rows
    r = i−m that exist (0 ≤ r ≤ n−d−1) and cover both columns (m+k ≤ d).
    """
    d = order
    s = _difference_stencil(d)
    a = np.zeros((d + 1, n), dtype=np.float64)
    for k in range(d + 1):
        for m in range(0, d - k + 1):
            i = np.arange(n - k)
            valid = (i - m >= 0) & (i - m <= n - d - 1)
            a[k, : n - k][valid] += lmbda * s[m] * s[m + k]
    a[0] += 1.0
    return a


@lru_cache(maxsize=8)
def _cholesky_band(n: int, lmbda: float, order: int) -> tuple:
    """Banded Cholesky factor of A = I + λ·DᵀD.

    Returns ``bands`` shaped (order+1, n): ``bands[k][i] = L[i+k, i]``
    (lower-triangular factor, k-th subdiagonal).  Cached: histogram lengths
    cluster tightly across documents, so factors are reused batch-wide.
    """
    d = order
    a = _system_band(n, lmbda, order)

    # Banded Cholesky: L[i,j] for j in [i-d, i]
    lband = np.zeros((d + 1, n), dtype=np.float64)  # lband[k][j] = L[j+k, j]
    for j in range(n):
        acc = a[0, j]
        for k in range(1, min(d, j) + 1):
            acc -= lband[k, j - k] ** 2
        ljj = np.sqrt(acc)
        lband[0, j] = ljj
        for i in range(j + 1, min(j + d, n - 1) + 1):
            acc = a[i - j, j]
            for k in range(1, d + 1):
                jj = j - k
                if jj >= 0 and i - jj <= d:
                    acc -= lband[i - jj, jj] * lband[j - jj, jj]
            lband[i - j, j] = acc / ljj
    return tuple(map(tuple, lband))


@lru_cache(maxsize=4)
def _dense_inverse(n: int, lmbda: float, order: int) -> np.ndarray:
    """Dense (I + λDᵀD)⁻¹ for histogram-sized systems: one cached O(n³)
    inversion turns every later smooth into a single O(n²) matvec.
    Histogram lengths cluster tightly (page geometry is quantized), so the
    cache hit rate is ~100% after warmup.  The system matrix is assembled
    from its analytic band (O(n·d)) — building it via ``DᵀD`` matmul costs
    3× the inversion itself at n≈1000."""
    band = _system_band(n, lmbda, order)
    A = np.zeros((n, n), dtype=np.float64)
    idx = np.arange(n)
    A[idx, idx] = band[0]
    for k in range(1, order + 1):
        i = idx[: n - k]
        A[i, i + k] = band[k, : n - k]
        A[i + k, i] = band[k, : n - k]
    return np.linalg.inv(A)


_DENSE_MAX_N = 2048


def whittaker_smooth(y, lmbda: float, order: int) -> np.ndarray:
    """Smooth a 1-D signal by penalized least squares (Whittaker–Eilers).

    Mirrors ``WhittakerSmoother(lmbda=…, order=…).smooth(y)`` as used by the
    reference's histogram analyses (``ocr_tree_analyser.py:59-66,170-174,
    296-300``).  Histogram-sized systems use a cached dense inverse (a
    gathered matvec); longer signals use the banded Cholesky solve.
    """
    y = np.asarray(y, dtype=np.float64)
    n = y.shape[0]
    if n == 0:
        return y.copy()
    d = int(order)
    if n <= d:
        return y.copy()
    if n <= _DENSE_MAX_N:
        inv = _dense_inverse(n, float(lmbda), d)
        # spike-sparse histograms: only the nonzero columns are summed
        nz = np.nonzero(y)[0]
        return inv[:, nz] @ y[nz]
    lband = np.array(_cholesky_band(n, float(lmbda), d), dtype=np.float64)
    # Solve L w = y (forward), then Lᵀ z = w (backward).
    w = np.empty(n, dtype=np.float64)
    for i in range(n):
        acc = y[i]
        for k in range(1, min(d, i) + 1):
            acc -= lband[k, i - k] * w[i - k]
        w[i] = acc / lband[0, i]
    z = np.empty(n, dtype=np.float64)
    for i in range(n - 1, -1, -1):
        acc = w[i]
        for k in range(1, min(d, n - 1 - i) + 1):
            acc -= lband[k, i] * z[i + k]
        z[i] = acc / lband[0, i]
    return z


def find_peaks(x, prominence: float | None = None, width: float | None = None):
    """``smoothing.find_peaks`` without the prominence prefilter: the
    package's own call with no bar measures every local maximum's
    prominence (and width), and the bar is applied afterwards.  Every
    property is per peak, so filtering last selects what the package's
    filter-first order selects."""
    peaks, props = smoothing.find_peaks(x, width=width)
    if prominence is None:
        return peaks, props
    keep = props["prominences"] >= prominence
    return peaks[keep], {k: v[keep] for k, v in props.items()}
