"""Per-call reference twins of ``kernels.neighbors.directly_*``.

The reference's ``boxes_directly_below/right/above``
(``ocr_tree.py:867-951``) as one strip semi-join plus a pairwise dominance
anti-join per target block — the per-call form the package replaced with
row reads of ``neighbors.neighbor_matrices``.  Kept only as the parity
baseline for the matrix (``tests/test_kernels.py``).
"""

from __future__ import annotations

import numpy as np

from osdocr_spark.kernels import geometry as g
from osdocr_spark.kernels.neighbors import _strip_extended_vertical


def _dominance_prune(bb: np.ndarray, picked: np.ndarray, axis_top: int,
                     later: str) -> np.ndarray:
    """Drop b1 if some other picked b2 overlaps it on the extension axis and
    b1 starts strictly *later* than b2 (``ocr_tree.py:879-894`` et al.)."""
    k = len(picked)
    if k <= 1:
        return picked
    boxes = bb[picked]
    if later == "top_greater":       # directly_below: b1.top > b2.top invalid
        pair = g.intersects(boxes[:, None, :], boxes[None, :, :], extend_vertical=True, inside=True)
        worse = boxes[:, None, g.T] > boxes[None, :, g.T]
    elif later == "left_greater":    # directly_right: b1.left > b2.left invalid
        pair = g.intersects(boxes[:, None, :], boxes[None, :, :], extend_horizontal=True, inside=True)
        worse = boxes[:, None, g.L] > boxes[None, :, g.L]
    else:                             # directly_above: b1.bottom < b2.bottom invalid
        pair = g.intersects(boxes[:, None, :], boxes[None, :, :], extend_vertical=True, inside=True)
        worse = boxes[:, None, g.B] < boxes[None, :, g.B]
    same = np.eye(k, dtype=bool)
    invalid = ((pair & worse) & ~same).any(axis=1)
    return picked[~invalid]



def directly_below(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_below`` (``ocr_tree.py:867-894``): strip semi-join +
    not-inside filter + nearest-neighbor dominance anti-join."""
    if len(cand) == 0:
        return cand
    eb = _strip_extended_vertical(bb, i, int(bb[cand, g.B].max()))
    hit = (
        (bb[cand, g.T] > bb[i, g.T])
        & ~g.is_inside(bb[cand], bb[i][None, :])
        & g.intersects(bb[cand], eb[None, :])
    )
    return _dominance_prune(bb, cand[hit], g.T, "top_greater")


def directly_right(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_right`` (``ocr_tree.py:897-925``): right of target's
    right edge, horizontally-extended intersect, and *not* intersecting the
    vertically-extended target (i.e. no x-overlap)."""
    if len(cand) == 0:
        return cand
    hit = (
        (bb[cand, g.R] > bb[i, g.R])
        & ~g.is_inside(bb[cand], bb[i][None, :])
        & g.intersects(bb[cand], bb[i][None, :], extend_horizontal=True)
        & ~g.intersects(bb[cand], bb[i][None, :], extend_vertical=True)
    )
    return _dominance_prune(bb, cand[hit], g.L, "left_greater")


def directly_above(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_above`` (``ocr_tree.py:928-951``)."""
    if len(cand) == 0:
        return cand
    eb = _strip_extended_vertical(bb, i, int(bb[cand, g.B].max()))
    hit = (
        (bb[cand, g.B] < bb[i, g.B])
        & ~g.is_inside(bb[cand], bb[i][None, :])
        & g.intersects(bb[cand], eb[None, :])
    )
    return _dominance_prune(bb, cand[hit], g.B, "bottom_less")
