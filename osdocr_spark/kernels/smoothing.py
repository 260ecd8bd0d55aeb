"""Whittaker–Eilers smoothing and 1-D peak detection, scipy-free.

The reference smooths its layout histograms with the external Rust-backed
``whittaker_eilers.WhittakerSmoother`` and finds peaks with
``scipy.signal.find_peaks`` (``O/ocr_tree_module/ocr_tree_analyser.py:11,59-68,
180,199,294,307``).  Neither package is available here, and pinning them would
make determinism fragile (SURVEY.md §7.3), so both are re-implemented from
their published definitions:

- Whittaker smoothing solves ``(I + λ·Dᵈᵀ Dᵈ) z = y`` where ``Dᵈ`` is the
  d-th order difference matrix (Eilers, *A Perfect Smoother*, Anal. Chem.
  2003).  The system matrix is symmetric positive-definite and banded with
  bandwidth ``d``; we factor it once per (n, λ, d) with a banded Cholesky
  (O(n·d²)) and cache the factor, because histogram lengths repeat heavily
  across documents of the same page geometry.
- ``find_peaks`` follows the scipy local-maxima + prominence + width
  definitions (plateaus resolved to their midpoint, prominence bases at the
  nearest higher sample, widths measured at ``peak_height - prominence/2``).

Everything is deterministic float64 numpy.
"""

from __future__ import annotations

from functools import lru_cache
from math import comb

import numpy as np

__all__ = ["whittaker_smooth", "savgol_smooth", "find_peaks"]


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


@lru_cache(maxsize=4096)
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


@lru_cache(maxsize=24)
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
    296-300``).  Histogram-sized systems use a cached dense inverse (fast
    matvec); longer signals fall back to the banded Cholesky solve.
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
        # layout histograms are spike-sparse (a handful of margins/sizes in
        # a page-width axis): summing only the nonzero columns turns the
        # O(n²) matvec into O(n·k).  This gather path is taken UNCONDITIONALLY
        # (r2 ADVICE: an input-dependent sparse/dense branch made the float
        # summation order a function of sparsity; one canonical path restores
        # "same input → same bits").  For dense y the gather degenerates to
        # the full matvec plus one O(n²) copy, n ≤ 2048.  Downstream peak
        # detection uses exact comparisons; the A/B suite (byte parity +
        # size-class oracles) pins that gather-vs-dense ulp drift never
        # flipped a peak, and is now moot on this path.
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


@lru_cache(maxsize=32)
def _savgol_eval_matrix(window_length: int, polyorder: int) -> np.ndarray:
    """H[k] = weights such that ``H[k] · y[s:s+m]`` evaluates the
    least-squares degree-``polyorder`` fit of the window at offset ``k``
    (positions centered at ``(m-1)/2``, fractional for even windows like
    scipy's ``savgol_coeffs`` default ``pos``)."""
    m, p = window_length, polyorder
    x = np.arange(m, dtype=np.float64) - (m - 1) / 2.0
    A = np.vander(x, p + 1, increasing=True)       # A[i,j] = x_i^j
    proj = np.linalg.solve(A.T @ A, A.T)           # a = proj @ y
    return np.vander(x, p + 1, increasing=True) @ proj  # H[k] = powers(x_k)·proj


def savgol_smooth(y, window_length: int, polyorder: int = 2) -> np.ndarray:
    """Savitzky–Golay smoothing (deriv 0), scipy-free.

    The alternative histogram smoother the reference selects with
    ``method='savgol_filter'`` (``ocr_tree_analyser.py:59-66``:
    ``savgol_filter(line_sizes, round(len(line_sizes)*0.1), 2)``).  Interior
    samples get the central least-squares fit; edges use scipy's
    ``mode='interp'`` rule (fit the first/last full window's polynomial and
    evaluate it at the edge positions).  Deviation from scipy: a window that
    is too small for the polynomial order (scipy raises) is clamped to
    ``polyorder + 1``, and signals shorter than the window are returned
    unsmoothed — the degenerate-histogram tolerance every other kernel here
    follows."""
    y = np.asarray(y, dtype=np.float64)
    n = y.shape[0]
    m = max(int(window_length), polyorder + 1)
    if n <= m or m <= polyorder:
        return y.copy()
    H = _savgol_eval_matrix(m, polyorder)
    out = np.empty(n, dtype=np.float64)
    center = (m - 1) // 2
    # interior: one vectorized sliding-window matvec
    windows = np.lib.stride_tricks.sliding_window_view(y, m)
    out[center:center + len(windows)] = windows @ H[center]
    # edges (interp mode): evaluate the first/last window's fit
    out[:center] = H[:center] @ y[:m]
    tail = n - (center + len(windows))
    if tail > 0:
        out[-tail:] = H[-tail:] @ y[-m:]
    return out


def _local_maxima(x: np.ndarray) -> np.ndarray:
    """Indices of local maxima; plateaus resolve to their midpoint (scipy
    rule).  Strict peaks are found vectorized; only plateau candidates
    (rare in smoothed signals) are walked in Python."""
    n = x.shape[0]
    if n < 3:
        return np.empty(0, dtype=np.int64)
    d = np.diff(x)
    strict = np.nonzero((d[:-1] > 0) & (d[1:] < 0))[0] + 1
    plateau_starts = np.nonzero((d[:-1] > 0) & (d[1:] == 0))[0] + 1
    peaks = list(strict)
    for i in plateau_starts:
        j = i
        while j < n - 1 and x[j + 1] == x[i]:
            j += 1
        if j < n - 1 and x[j + 1] < x[i]:
            peaks.append((i + j) // 2)
    peaks.sort()
    return np.asarray(peaks, dtype=np.int64)


def _prominences(x: np.ndarray, peaks: np.ndarray):
    """Peak prominences + base indices per the scipy definition
    (vectorized: window = up to the nearest strictly-higher sample; base =
    the window minimum, ties resolved to the first occurrence)."""
    n = x.shape[0]
    prom = np.empty(len(peaks), dtype=np.float64)
    left_bases = np.empty(len(peaks), dtype=np.int64)
    right_bases = np.empty(len(peaks), dtype=np.int64)
    for pi, p in enumerate(peaks):
        h = x[p]
        higher = np.nonzero(x[:p] > h)[0]
        start = int(higher[-1]) + 1 if len(higher) else 0
        seg = x[start:p]
        if len(seg):
            li = int(np.argmin(seg))
            left_min = float(seg[li])
            left_bases[pi] = start + li
        else:
            left_min = h
            left_bases[pi] = p
        higher = np.nonzero(x[p + 1:] > h)[0]
        stop = p + 1 + int(higher[0]) if len(higher) else n
        seg = x[p + 1:stop]
        if len(seg):
            ri = int(np.argmin(seg))
            right_min = float(seg[ri])
            right_bases[pi] = p + 1 + ri
        else:
            right_min = h
            right_bases[pi] = p
        prom[pi] = h - max(left_min, right_min)
    return prom, left_bases, right_bases


def find_peaks(x, prominence: float | None = None, width: float | None = None):
    """scipy-compatible subset of ``scipy.signal.find_peaks``.

    Supports the ``prominence`` and ``width`` filters the reference uses
    (``ocr_tree_analyser.py:68,180,199,294,307``).  Returns
    ``(peaks, properties)`` where properties contains ``prominences``,
    ``left_bases``, ``right_bases`` and — when ``width`` is requested —
    ``widths``, ``width_heights``, ``left_ips``, ``right_ips``
    (measured at rel_height=0.5, the scipy default).
    """
    x = np.asarray(x, dtype=np.float64)
    peaks = _local_maxima(x)
    props: dict[str, np.ndarray] = {}
    if len(peaks) == 0:
        props["prominences"] = np.array([])
        if width is not None:
            for k in ("widths", "width_heights", "left_ips", "right_ips"):
                props[k] = np.array([])
        return peaks, props

    prom, lb, rb = _prominences(x, peaks)
    if prominence is not None:
        keep = prom >= prominence
        peaks, prom, lb, rb = peaks[keep], prom[keep], lb[keep], rb[keep]
    props["prominences"] = prom
    props["left_bases"] = lb
    props["right_bases"] = rb

    if width is not None:
        widths = np.empty(len(peaks))
        wh = np.empty(len(peaks))
        lips = np.empty(len(peaks))
        rips = np.empty(len(peaks))
        for pi, p in enumerate(peaks):
            height = x[p] - prom[pi] * 0.5
            wh[pi] = height
            i = p
            while i > lb[pi] and x[i] > height:
                i -= 1
            if x[i] > height:
                lip = float(i)
            else:
                lip = i + (height - x[i]) / (x[i + 1] - x[i]) if x[i + 1] != x[i] else float(i)
            i = p
            while i < rb[pi] and x[i] > height:
                i += 1
            if x[i] > height:
                rip = float(i)
            else:
                rip = i - (height - x[i]) / (x[i - 1] - x[i]) if x[i - 1] != x[i] else float(i)
            lips[pi], rips[pi] = lip, rip
            widths[pi] = rip - lip
        keep = widths >= width
        peaks = peaks[keep]
        for k, v in (("prominences", prom), ("left_bases", lb), ("right_bases", rb),
                     ("widths", widths), ("width_heights", wh),
                     ("left_ips", lips), ("right_ips", rips)):
            props[k] = v[keep]
    return peaks, props
