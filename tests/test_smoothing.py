"""Whittaker smoothing and ``find_peaks`` against their reference twin
(``tests/smoothing_reference.py``): the dense inverse the package no longer
builds, and ``find_peaks`` without the prominence prefilter."""

import os
import sys
import tracemalloc

import numpy as np
import pytest

from osdocr_spark.kernels import smoothing
from osdocr_spark.kernels.smoothing import find_peaks, whittaker_smooth

sys.path.insert(0, os.path.dirname(__file__))
import smoothing_reference as ref  # noqa: E402

#: the analyzer's (λ, d) pairs: text sizes, columns, journal areas
PAIRS = [(1e1, 3), (2e4, 2), (2e2, 2)]


def _lengths(lmbda: float, d: int) -> list[int]:
    """Lengths around every boundary of the solve: tiny systems, the block
    edges, the end of the factor's head (where the tail blocks become
    shared), the chunk edges and two settled chunks."""
    head = len(smoothing._factor(lmbda, d).rows)
    b, c = smoothing._BLOCK, smoothing._CHUNK
    out = {0, 1, d, d + 1, d + 2, 2 * d, 2 * d + 1, 1211}
    for edge in (b, 2 * b, head, head + d, c, 2 * c):
        out.update(edge + d + k for k in (-1, 0, 1))
    return sorted(out)


def _signals(n: int, rng: np.random.Generator) -> list[np.ndarray]:
    """Spike histograms like the analyzer's (a few weighted bins, 10% zero
    padding), random dense signals and the all-zero signal."""
    spikes = np.zeros(n)
    if n:
        k = min(8, n)
        spikes[rng.integers(0, max(n - n // 10, 1), k)] = rng.integers(1, 30, k)
    return [spikes, rng.random(n) * 10, np.zeros(n)]


def _cases():
    rng = np.random.default_rng(16)
    for lmbda, d in PAIRS:
        for n in _lengths(lmbda, d):
            for y in _signals(n, rng):
                yield lmbda, d, y


def _close(got, want):
    scale = max(np.abs(want).max(initial=0.0), 1e-300)
    return got.shape == want.shape and np.abs(got - want).max(initial=0.0) <= 1e-9 * scale


def _same_peaks(a, b, exact: bool) -> None:
    (pa, qa), (pb, qb) = a, b
    assert np.array_equal(pa, pb)
    assert qa.keys() == qb.keys()
    for k in qa:
        if exact or qa[k].dtype.kind == "i":
            assert np.array_equal(qa[k], qb[k]), k
        else:
            assert np.allclose(qa[k], qb[k], rtol=1e-9, atol=1e-9), k


def test_whittaker_matches_dense_reference():
    cases = list(_cases())
    assert len(cases) >= 200
    for lmbda, d, y in cases:
        got = whittaker_smooth(y, lmbda, d)
        want = ref.whittaker_smooth(y, lmbda, d)
        assert _close(got, want), (lmbda, d, len(y))
        if not y.any():
            assert not got.any()


def test_smoothed_peaks_match_reference():
    """The analyzer's use: clip the smooth at 0, peaks at 0.1·max, with and
    without the width pass.  Peaks and bases are identical; prominences,
    widths and interpolated edges agree to the smooth's rounding; on one
    and the same signal the package and the reference agree exactly."""
    for lmbda, d, y in _cases():
        z = np.clip(whittaker_smooth(y, lmbda, d), 0.0, None)
        zr = np.clip(ref.whittaker_smooth(y, lmbda, d), 0.0, None)
        for width in (None, 1):
            got = find_peaks(z, prominence=0.1 * z.max() if len(z) else 0.0, width=width)
            twin = ref.find_peaks(z, prominence=0.1 * z.max() if len(z) else 0.0, width=width)
            want = ref.find_peaks(zr, prominence=0.1 * zr.max() if len(zr) else 0.0,
                                  width=width)
            _same_peaks(got, twin, exact=True)
            _same_peaks(got, want, exact=False)


def _plateau_signals(rng: np.random.Generator, count: int):
    """Small-integer signals with repeated values, so plateaus, equal
    heights and equal bases are common."""
    for _ in range(count):
        n = int(rng.integers(0, 60))
        yield rng.integers(0, 5, n).repeat(rng.integers(1, 4, n)).astype(np.float64)


def test_find_peaks_prefilter_keeps_peaks_at_the_bar():
    """A peak whose bases reach the signal's minimum has prominence
    exactly ``x[p] − min(x)``; at ``prominence`` equal to that it must be
    kept, like every peak whose prominence equals the bar."""
    rng = np.random.default_rng(11)
    hits = 0
    for x in _plateau_signals(rng, 300):
        _, props = ref.find_peaks(x)
        for bar in np.unique(props["prominences"]):
            got = find_peaks(x, prominence=bar)
            want = ref.find_peaks(x, prominence=bar)
            _same_peaks(got, want, exact=True)
            hits += int(np.any(x[want[0]] - x.min() == bar))
    assert hits > 0
    p, props = find_peaks(np.array([0.0, 1.0, 0.0]), prominence=1.0)
    assert list(p) == [1] and list(props["prominences"]) == [1.0]


def test_unsettled_factor_matches_reference():
    """A (λ, d) whose factor rows do not settle within ``_MAX_HEAD_ROWS``
    (λ = 1e5 at d = 3) computes later rows on demand: it matches the twin
    at lengths around the end of its head and tail table and past them,
    and it caches solve data only for chunks inside the head."""
    lmbda, d = 1e5, 3
    f = smoothing._factor(lmbda, d)
    assert f.settled is None
    top, c, tails = smoothing._MAX_HEAD_ROWS, smoothing._CHUNK, len(f.tails)
    rng = np.random.default_rng(9)
    for n in (1211, top + d - 1, top + d, top + d + 1, tails - 1, tails,
              top + c + d + 1):
        for y in _signals(n, rng)[:2]:
            assert _close(whittaker_smooth(y, lmbda, d),
                          ref.whittaker_smooth(y, lmbda, d)), n
    cached = set(f.chunks)
    assert cached and all((k + 1) * c + d <= top for k in cached)
    whittaker_smooth(rng.random(top + 3 * c), lmbda, d)
    assert set(f.chunks) == cached


def test_whittaker_same_bits_whatever_came_before():
    """A factor is built the same way whichever length asks first, so a
    smooth's bits never depend on the lengths smoothed before it."""
    rng = np.random.default_rng(3)
    y = _signals(1500, rng)[0]
    smoothing._factor.cache_clear()
    first = whittaker_smooth(y, 2e4, 2)
    smoothing._factor.cache_clear()
    for n in (40, 3000, 5000, 1499):
        whittaker_smooth(rng.random(n), 2e4, 2)
    assert np.array_equal(whittaker_smooth(y, 2e4, 2), first)


def test_whittaker_memory_bounded_across_lengths():
    """Ten distinct column-histogram lengths from a cold cache stay far
    under one dense n×n inverse per length (the dense path peaked at
    ~189 MB here)."""
    rng = np.random.default_rng(5)
    signals = [_signals(int(n), rng)[0] for n in rng.choice(np.arange(1300, 1700), 10,
                                                           replace=False)]
    smoothing._dense_inverse.cache_clear()
    tracemalloc.start()
    try:
        for y in signals:
            whittaker_smooth(y, 2e4, 2)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, peak


@pytest.mark.parametrize("lmbda,d", PAIRS)
def test_factor_holds_no_square_array(lmbda, d):
    """No cached array grows with the signal length: a smooth of 10⁵
    samples leaves the factor's head and chunks as they were."""
    f = smoothing._factor(lmbda, d)
    whittaker_smooth(np.zeros(3 * smoothing._CHUNK), lmbda, d)
    head, chunks = len(f.rows), set(f.chunks)
    whittaker_smooth(np.random.default_rng(0).random(100_000), lmbda, d)
    assert len(f.rows) == head and set(f.chunks) == chunks
