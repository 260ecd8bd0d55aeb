"""Directional geometric semi-joins between blocks of one document.

Vectorized re-implementations of the reference's O(N²) Python nested loops
(``O/ocr_tree_module/ocr_tree.py:813-951``): for a target block, select
blocks intersecting its infinite strip extension in a direction, then prune
non-nearest neighbors with a pairwise dominance anti-join.  N is the number
of blocks in one document (tens), so the (k,k) broadcasts are trivial.

These feed both the classifier (``boxes_directly_above`` in
``categorize_box``, ``ocr_tree_analyser.py:1120-1165``) and the reading-order
graph (``topologic_graph``, ``ocr_tree_analyser.py:1283-1310``).
"""

from __future__ import annotations

import numpy as np

from . import geometry as g

__all__ = ["directly_below", "directly_right", "directly_above",
           "below", "right", "above", "left", "neighbor_tables",
           "neighbor_matrices"]


def _strip_extended_vertical(bb: np.ndarray, i: int, all_bottom: int) -> np.ndarray:
    """Target box extended to a vertical strip top=0..max bottom
    (``ocr_tree.py:818-821``)."""
    eb = bb[i].copy()
    eb[g.T] = 0
    eb[g.B] = all_bottom
    return eb


def below(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_below`` (``ocr_tree.py:813-824``): candidates with
    ``top > target.top`` intersecting the vertical strip extension."""
    if len(cand) == 0:
        return cand
    eb = _strip_extended_vertical(bb, i, int(bb[cand, g.B].max()))
    hit = (bb[cand, g.T] > bb[i, g.T]) & g.intersects(bb[cand], eb[None, :])
    return cand[hit]


def right(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_right`` (``ocr_tree.py:826-837``)."""
    if len(cand) == 0:
        return cand
    eb = bb[i].copy()
    eb[g.L] = 0
    eb[g.R] = int(bb[cand, g.R].max())
    hit = (bb[cand, g.L] > bb[i, g.L]) & g.intersects(bb[cand], eb[None, :])
    return cand[hit]


def above(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_above`` (``ocr_tree.py:839-850``): candidates with
    ``bottom < target.bottom`` intersecting the vertical strip extension."""
    if len(cand) == 0:
        return cand
    eb = _strip_extended_vertical(bb, i, int(bb[cand, g.B].max()))
    hit = (bb[cand, g.B] < bb[i, g.B]) & g.intersects(bb[cand], eb[None, :])
    return cand[hit]


def left(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_left`` (``ocr_tree.py:852-863``)."""
    if len(cand) == 0:
        return cand
    eb = bb[i].copy()
    eb[g.L] = 0
    eb[g.R] = int(bb[cand, g.R].max())
    hit = (bb[cand, g.R] < bb[i, g.R]) & g.intersects(bb[cand], eb[None, :])
    return cand[hit]


def neighbor_tables(bb: np.ndarray, idxs: np.ndarray,
                    kinds: tuple = ("below", "right", "above")) -> dict:
    """All-pairs ``directly_below``/``directly_right``/``directly_above``
    for one block set in ONE vectorized pass — the ordering path asks for
    every block's neighbors, so n separate strip+prune calls redo the same
    pairwise overlap tests n times.

    Returns ``{"below"|"right"|"above": {i: [j, ...]}}`` with neighbor lists
    in ``idxs`` order (matching the per-call candidate order
    ``idxs[idxs != i]``); ``kinds`` restricts which directions are computed.
    """
    k = len(idxs)
    out: dict[str, dict[int, list[int]]] = {kd: {} for kd in kinds}
    if k == 0:
        return out
    mats = neighbor_matrices(bb, idxs, kinds)
    for kind in kinds:
        direct = mats[kind]
        tbl = out[kind]
        for a in range(k):
            tbl[int(idxs[a])] = [int(idxs[b]) for b in np.nonzero(direct[a])[0]]
    return out


def neighbor_matrices(bb: np.ndarray, idxs: np.ndarray,
                      kinds: tuple = ("below", "right", "above")) -> dict:
    """The matrix form of :func:`neighbor_tables`: ``direct[a, b]`` = block
    ``idxs[b]`` is a direct neighbor of ``idxs[a]`` in the given direction
    (``boxes_directly_*``, ``ocr_tree.py:867-951``).  This is the only
    implementation: :func:`directly_below` and its twins read one row of
    it.  The reference's per-call strip+prune (kept as the parity twin in
    ``tests/neighbors_reference.py``) reduces to these masks exactly for
    well-formed boxes (left ≤ right, top ≤ bottom):

    - the vertical strip runs from the page edge y = 0 down to the
      candidates' max bottom, and every candidate's top ≤ its bottom ≤ that
      max, so the strip test is x-overlap plus ``bottom ≥ 0``;
    - ``inside=True`` in the dominance pair test is redundant (containment
      implies axis overlap);
    - the dominance anti-join "drop j if some other hit k overlaps it on
      the strip axis and j starts later" is one boolean matrix product
      over the hit matrix.
    """
    k = len(idxs)
    if k == 0:
        return {kd: np.zeros((0, 0), dtype=bool) for kd in kinds}
    bx = bb[idxs]
    L_, R_, T_, B_ = bx[:, g.L], bx[:, g.R], bx[:, g.T], bx[:, g.B]
    xov = (L_[:, None] <= R_[None, :]) & (R_[:, None] >= L_[None, :])
    yov = ((T_[:, None] <= T_[None, :]) & (B_[:, None] >= T_[None, :])) \
        | ((T_[None, :] <= T_[:, None]) & (B_[None, :] >= T_[:, None]))
    # inside[j, i]: box j fully inside box i
    inside = (L_[:, None] >= L_[None, :]) & (R_[:, None] <= R_[None, :]) \
        & (T_[:, None] >= T_[None, :]) & (B_[:, None] <= B_[None, :])
    not_inside = ~inside.T  # [i, j]: j not inside i
    edge = (B_ >= 0)[None, :]  # j reaches the strip's y = 0 page edge
    eye = np.eye(k, dtype=bool)

    # hit matrices + dominance anti-joins per direction:
    # invalid[i, j] = ∃k∈hit[i]: pair(j,k) & j later
    spec = {
        "below": lambda: ((T_[None, :] > T_[:, None]) & not_inside & xov & edge,
                          xov & (T_[:, None] > T_[None, :]) & ~eye),
        "right": lambda: ((R_[None, :] > R_[:, None]) & not_inside & yov & ~xov,
                          yov & (L_[:, None] > L_[None, :]) & ~eye),
        "above": lambda: ((B_[None, :] < B_[:, None]) & not_inside & xov & edge,
                          xov & (B_[:, None] < B_[None, :]) & ~eye),
    }
    out = {}
    for kind in kinds:
        hit, m = spec[kind]()
        # float32 accumulation via BLAS sgemm (r5: numpy integer matmul has
        # no BLAS path — the int32 product was the dense-page hot spot).
        # Exactness: summands are 0/1 and a row sum is ≤ k ≪ 2²⁴, so every
        # partial sum is exactly representable in float32 regardless of
        # BLAS accumulation order; the r2 int8-wrap hazard (>127 matching
        # entries) cannot recur (pinned by the >255-block composed family).
        out[kind] = hit & ~(
            hit.astype(np.float32) @ m.T.astype(np.float32) > 0.5)
    return out


def _direct_row(kind: str, bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """Row ``i`` of :func:`neighbor_matrices` over ``[i, *cand]``: the
    candidates that are direct ``kind`` neighbors of block ``i``."""
    if len(cand) == 0:
        return cand
    idxs = np.concatenate(([i], cand))
    return cand[neighbor_matrices(bb, idxs, (kind,))[kind][0, 1:]]


def directly_below(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_below`` (``ocr_tree.py:867-894``)."""
    return _direct_row("below", bb, i, cand)


def directly_right(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_right`` (``ocr_tree.py:897-925``)."""
    return _direct_row("right", bb, i, cand)


def directly_above(bb: np.ndarray, i: int, cand: np.ndarray) -> np.ndarray:
    """``boxes_directly_above`` (``ocr_tree.py:928-951``)."""
    return _direct_row("above", bb, i, cand)
