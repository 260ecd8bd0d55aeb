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
  bandwidth ``d``.  Histogram lengths follow page geometry, which differs
  from scan to scan, so nothing is built per length: one banded Cholesky
  factor per (λ, d) serves every n (the length-n factor is its leading n
  rows with the trailing d×d block redone).  For the analyzer's (λ, d) its
  rows settle to a fixed row after a few hundred, so the factor and the
  solve data it caches stay bounded however long a signal is; for a (λ, d)
  whose rows do not settle within 8192 rows, the factor's rows grow with
  the longest signal (d+1 floats a row) while the cached solve data stays
  bounded (see :class:`_BandFactor`).  The solve applies the factor block by
  block through dense block inverses, in the spirit of the SPIKE banded
  solver (Polizzi & Sameh, 2006): O(n·b) work in a fixed number of numpy
  calls per 2048 samples.
- ``find_peaks`` follows the scipy local-maxima + prominence + width
  definitions (plateaus resolved to their midpoint, prominence bases at the
  nearest higher sample, widths measured at ``peak_height - prominence/2``).
  With a ``prominence`` bar, maxima that cannot reach it (``x[p] − min(x)``
  below the bar) are dropped before prominences are measured.

Everything is deterministic float64 numpy.
"""

from __future__ import annotations

from functools import lru_cache
from math import comb, sqrt

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


_BLOCK = 32             # rows per block: one dense b×b triangular inverse each
_CHUNK_BLOCKS = 64      # blocks per chunk: the unit of the folded coupling
_CHUNK = _BLOCK * _CHUNK_BLOCKS
_FIRST_ROWS = 32        # first factor size tried; doubled until the rows settle
_MAX_HEAD_ROWS = 1 << 13
_SETTLE_TOL = 64 * np.finfo(np.float64).eps


def _cholesky_rows(a: np.ndarray, rows: list, stop: int) -> None:
    """Append rows ``len(rows)..stop-1`` of the banded Cholesky factor of the
    system whose band is ``a`` (``_system_band`` layout).  ``rows[i][k]`` is
    ``L[i, i-k]``; Python floats, since each row depends on the previous d."""
    d = a.shape[0] - 1
    for i in range(len(rows), stop):
        row = [0.0] * (d + 1)
        for k in range(d, 0, -1):            # L[i, j] for j = i-d .. i-1
            j = i - k
            if j < 0:
                continue
            acc = a[k, j]
            for q in range(k + 1, d + 1):    # shared columns i-q < j
                if i - q >= 0:
                    acc -= row[q] * rows[j][q - k]
            row[k] = acc / rows[j][0]
        row[0] = sqrt(a[0, i] - sum(v * v for v in row[1:]))
        rows.append(row)


class _Chunk:
    """Solve data for ``_CHUNK`` consecutive factor rows, cut into
    ``_BLOCK``-row blocks.  Inside a block the factor is applied through its
    dense inverse; the d values a block hands to the next (its forward tail,
    its backward head) are coupled for all blocks at once by one precomputed
    unit-triangular matrix, so a solve over the chunk is a fixed handful of
    numpy calls whatever its length.  ``edge`` is the factor's d×d coupling
    of the chunk's first rows to the rows before it."""

    __slots__ = ("inv", "fwd", "bwd", "fold_fwd", "fold_bwd", "edge")

    def __init__(self, band: np.ndarray):
        # band: (_CHUNK + d, d+1) factor rows, the chunk's own plus the next
        # chunk's first d (for the last block's backward coupling)
        b, nb = _BLOCK, _CHUNK_BLOCKS
        d = band.shape[1] - 1
        lb = np.zeros((nb, b, b))
        blocks = band[:_CHUNK].reshape(nb, b, d + 1)
        idx = np.arange(b)
        for k in range(d + 1):
            lb[:, idx[k:], idx[:b - k]] = blocks[:, k:, k]
        # coupling[j][r, c] = L[jb + r, jb - d + c]: block j's first d rows
        # against the previous block's last d columns (nb + 1 blocks: the
        # last one is the next chunk's first)
        first = np.stack([band[j * b: j * b + d] for j in range(nb + 1)])
        coupling = np.zeros((nb + 1, d, d))
        for r in range(d):
            for c in range(r, d):
                coupling[:, r, c] = first[:, r, d + r - c]
        inv = np.zeros((nb, b, b))               # forward substitution on I
        for i in range(b):
            acc = np.zeros((nb, b))
            acc[:, i] = 1.0
            for k in range(1, min(d, i) + 1):
                acc -= lb[:, i, i - k, None] * inv[:, i - k]
            inv[:, i] = acc / lb[:, i, i, None]
        fwd = inv[:, :, :d] @ coupling[:nb]                     # (nb, b, d)
        bwd = inv[:, -d:, :].transpose(0, 2, 1) @ coupling[1:].transpose(0, 2, 1)
        self.inv, self.fwd, self.bwd, self.edge = inv, fwd, bwd, coupling[0]
        # tails t_j = s_j − fwd_j[-d:]·t_{j-1}; heads h_j = s_j − bwd_j[:d]·h_{j+1}
        eye = np.eye(d)
        fold_fwd = np.zeros((nb, d, nb, d))
        fold_bwd = np.zeros((nb, d, nb, d))
        for j in range(nb):
            fold_fwd[j, :, j] = eye
            if j:
                fold_fwd[j] -= np.einsum("rc,cjs->rjs", fwd[j, -d:], fold_fwd[j - 1])
        for j in range(nb - 1, -1, -1):
            fold_bwd[j, :, j] = eye
            if j < nb - 1:
                fold_bwd[j] -= np.einsum("rc,cjs->rjs", bwd[j, :d], fold_bwd[j + 1])
        self.fold_fwd = fold_fwd.reshape(nb * d, nb * d)
        self.fold_bwd = fold_bwd.reshape(nb * d, nb * d)

    def forward(self, rhs: np.ndarray) -> np.ndarray:
        """``L⁻¹·rhs`` over the chunk's leading ``len(rhs)`` rows (a
        multiple of ``_BLOCK``), rows before the chunk taken as zero."""
        nb = len(rhs) // _BLOCK
        d = self.edge.shape[0]
        u = (self.inv[:nb] @ rhs.reshape(nb, _BLOCK, 1))[:, :, 0]
        tails = self.fold_fwd[:nb * d, :nb * d] @ u[:, -d:].ravel()
        u[1:] -= (self.fwd[1:nb] @ tails.reshape(nb, d, 1)[:-1])[:, :, 0]
        return u.ravel()

    def backward(self, rhs: np.ndarray) -> np.ndarray:
        """``L⁻ᵀ·rhs`` over the chunk's leading ``len(rhs)`` rows, rows after
        them taken as zero."""
        nb = len(rhs) // _BLOCK
        d = self.edge.shape[0]
        v = (rhs.reshape(nb, 1, _BLOCK) @ self.inv[:nb])[:, 0]
        heads = self.fold_bwd[:nb * d, :nb * d] @ v[:, :d].ravel()
        v[:-1] -= (self.bwd[:nb - 1] @ heads.reshape(nb, d, 1)[1:])[:, :, 0]
        return v.ravel()


class _BandFactor:
    """Cholesky factor of ``A = I + λ·DᵀD`` shared by every signal length.

    For length n, A agrees with the unbounded system everywhere except its
    trailing d×d block (the difference rows past n−d are missing), so the
    length-n factor is the unbounded factor's leading n rows with only the
    trailing d×d block redone.  The unbounded factor's rows converge to a
    fixed row (its interior is Toeplitz): they are computed by doubling,
    from ``_FIRST_ROWS``, until the second half of the rows agrees to within
    ``_SETTLE_TOL``; past that point every row is the settled row, so the
    head, the per-chunk solve data and the cost of a factor build are all
    bounded by where the rows settle (a few hundred rows for the analyzer's
    λ and d), not by the longest signal seen.  The settle point is decided
    once, when the factor is built, so a smooth never depends on which
    lengths came before it.  Should the rows not settle within
    ``_MAX_HEAD_ROWS`` (λ = 1e5 at d = 3, λ = 1e8 at d = 2), later rows are
    computed exactly on demand and kept, so the rows grow with the longest
    signal seen, d+1 floats a row; solve data is cached only for chunks
    inside the first ``_MAX_HEAD_ROWS`` rows and rebuilt per call past
    them."""

    def __init__(self, lmbda: float, order: int):
        self.lmbda, self.d = lmbda, order
        self.rows: list = []
        self.settled = None
        n = _FIRST_ROWS
        while True:
            self._extend(n)
            head = np.asarray(self.rows[n // 2:])
            spread = (head.max(axis=0) - head.min(axis=0)).max()
            if spread <= _SETTLE_TOL * np.abs(head).max():
                self.settled = self.rows[-1]
                del self.rows[n // 2:]
                break
            if n >= _MAX_HEAD_ROWS:
                break
            n *= 2
        self.chunks: dict = {}
        # the last d rows of every length that reaches into the head; the
        # last entry is the one every longer length shares
        self.tails = [None] * (order + 1) + [
            self._tail_block(n) for n in range(order + 1, len(self.rows) + 2 * order + 1)]

    def _extend(self, stop: int) -> None:
        if len(self.rows) < stop:
            a = _system_band(stop + self.d, self.lmbda, self.d)
            _cholesky_rows(a, self.rows, stop)

    def row(self, i: int) -> list:
        """Factor row i: ``row[k] = L[i, i-k]``."""
        if i >= len(self.rows):
            if self.settled is not None:
                return self.settled
            self._extend(i + 1)
        return self.rows[i]

    def _tail_block(self, n: int) -> tuple:
        """``(x, S⁻¹)`` for the length-n system's last d rows."""
        d, m = self.d, n - self.d
        x = np.array([[self.row(m + i)[d + i - c] if c >= i else 0.0
                       for c in range(d)] for i in range(d)])
        a = np.array(_trailing_block(n, self.lmbda, d))
        return x, np.linalg.inv(a - x @ x.T)

    def tail(self, n: int) -> tuple:
        if n < len(self.tails):
            return self.tails[n]
        if self.settled is not None:             # rows m-d..n-1 all settled
            return self.tails[-1]
        return self._tail_block(n)

    def band(self, lo: int, hi: int) -> np.ndarray:
        """Factor rows ``lo..hi-1`` as a (hi−lo, d+1) array."""
        if self.settled is None:
            self._extend(hi)
        head = self.rows[lo:hi]
        out = np.empty((hi - lo, self.d + 1))
        if head:
            out[:len(head)] = head
        if len(head) < hi - lo:
            out[len(head):] = self.settled
        return out

    def chunk(self, c: int) -> _Chunk:
        lo = c * _CHUNK
        if self.settled is not None and lo - self.d >= len(self.rows):
            c = -1                               # every settled chunk is alike
        elif lo + _CHUNK + self.d > _MAX_HEAD_ROWS:
            return _Chunk(self.band(lo, lo + _CHUNK + self.d))   # not kept
        ch = self.chunks.get(c)
        if ch is None:
            ch = self.chunks[c] = _Chunk(self.band(lo, lo + _CHUNK + self.d))
        return ch

    def solve(self, y: np.ndarray) -> np.ndarray:
        n, d = len(y), self.d
        m = n - d                       # rows shared with the unbounded factor
        size = -(-m // _BLOCK) * _BLOCK
        w = np.zeros(size + d)
        w[:m] = y[:m]
        chunks = [self.chunk(c) for c in range(-(-size // _CHUNK))]
        for c, ch in enumerate(chunks):          # forward: L w = y
            lo = c * _CHUNK
            part = w[lo:min(lo + _CHUNK, size)]
            if lo:
                part[:d] -= ch.edge @ w[lo - d:lo]
            part[:] = ch.forward(part)
        # the trailing d rows: with x = L[m:, m-d:m] (the unbounded factor's
        # rows) and S = A_n[m:, m:] − x·xᵀ (their finished block, in Gram
        # form), the last d unknowns are S⁻¹·(y[m:] − x·w[m-d:m]) and they
        # feed back into the rows above them through xᵀ
        x, k = self.tail(n)
        lo = max(m - d, 0)
        zt = k @ (y[m:] - x[:, d - (m - lo):] @ w[lo:m])
        w[lo:m] -= x[:, d - (m - lo):].T @ zt
        w[m:] = 0.0
        for c in range(len(chunks) - 1, -1, -1):  # backward: Lᵀ z = w
            lo = c * _CHUNK
            part = w[lo:min(lo + _CHUNK, size)]
            if lo + _CHUNK < size:
                part[-d:] -= chunks[c + 1].edge.T @ w[lo + _CHUNK:lo + _CHUNK + d]
            part[:] = chunks[c].backward(part)
        w[m:m + d] = zt
        return w[:n]


def _trailing_block(n: int, lmbda: float, order: int) -> list:
    """``A[n-d:, n-d:]`` of the length-n system ``I + λ·DᵀD``, as lists."""
    d = order
    s = _difference_stencil(d).tolist()
    out = [[float(i == j) for j in range(d)] for i in range(d)]
    for i in range(d):
        for j in range(d):
            gi, gj = n - d + i, n - d + j
            for r in range(max(gi, gj, d) - d, min(gi, gj, n - d - 1) + 1):
                out[i][j] += lmbda * s[gi - r] * s[gj - r]
    return out


@lru_cache(maxsize=8)
def _factor(lmbda: float, order: int) -> _BandFactor:
    return _BandFactor(lmbda, order)


# perfbench/layers.py reads this name's cache_info() for its
# smoothing.inverse_hits / inverse_misses metrics: they count factor builds.
_dense_inverse = _factor


def whittaker_smooth(y, lmbda: float, order: int) -> np.ndarray:
    """Smooth a 1-D signal by penalized least squares (Whittaker–Eilers).

    Mirrors ``WhittakerSmoother(lmbda=…, order=…).smooth(y)`` as used by the
    reference's histogram analyses (``ocr_tree_analyser.py:59-66,170-174,
    296-300``): one banded Cholesky solve of ``(I + λDᵀD) z = y``, through
    the factor shared by every length for this (λ, d) (see
    :class:`_BandFactor`), so neither the time nor the memory of a call
    depends on which lengths came before it.
    """
    y = np.asarray(y, dtype=np.float64)
    d = int(order)
    if y.shape[0] <= d:
        return y.copy()
    if d == 0:                                  # A = (1 + λ)·I
        return y / (1.0 + lmbda)
    return _factor(float(lmbda), d).solve(y)


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

    if prominence is not None:
        # exact prefilter: a peak's prominence is x[p] minus a sample of x,
        # so at most x[p] − min(x) (float subtraction is monotone); a peak
        # under the bar there would be dropped below anyway, and no other
        # peak's prominence depends on it
        peaks = peaks[x[peaks] - x.min() >= prominence]
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
