"""Whole-array reference for ``osdocr_spark.kernels.order.next_top_block``.

The package picks the visually-first block with one scalar walk over tuple
boxes at every candidate-set size.  This route evaluates the same band
memberships as boolean masks over all candidates at once; it is kept here
as an independent check of the walk on block-heavy candidate sets
(``test_next_top_block_vec_matches_loop`` in ``test_kernels.py``).
"""

from __future__ import annotations

import math

import numpy as np

from osdocr_spark.kernels.doc import Document


def _next_top_block_vec(doc: Document, cand: list[int],
                        origin: tuple[float, float]) -> int | None:
    """Whole-array ``next_top_block``: the band memberships evaluate as
    boolean masks over the candidate boxes (same ±0.05 within formulas,
    both directions), and every first-minimum selection is ``np.argmin``
    over indices kept in candidate order — the exact tie-breaks of the
    scalar walk's stable scans, including the duplicate top-blocks at the
    head of the leftmost pool."""
    cidx = np.asarray([int(c) for c in cand], dtype=np.int64)
    bx = doc.b_box[cidx]
    Lc, Rc, Tc, Bc = bx[:, 0], bx[:, 1], bx[:, 2], bx[:, 3]

    # --- top route
    ti = np.nonzero(Tc == Tc.min())[0]
    ha = (Bc - Tc) * 0.05
    Tt, Bt = Tc[ti][None, :], Bc[ti][None, :]
    hb = (Bt - Tt) * 0.05
    band = (((Tc[:, None] - ha[:, None] <= Tt) & (Bc[:, None] + ha[:, None] >= Bt))
            | ((Tt - hb <= Tc[:, None]) & (Bt + hb >= Bc[:, None]))).any(axis=1)
    pot = np.concatenate([ti, np.nonzero(band)[0]])
    lm = int(pot[np.argmin(Lc[pot])])
    wa = (Rc - Lc) * 0.05
    wl = (Rc[lm] - Lc[lm]) * 0.05
    b2 = (((Lc - wa <= Lc[lm]) & (Rc + wa >= Rc[lm]))
          | ((Lc[lm] - wl <= Lc) & (Rc[lm] + wl >= Rc)))
    b2i = np.nonzero(b2)[0]
    p_top = int(b2i[np.argmin(Tc[b2i])]) if len(b2i) else None

    # --- left route
    li = np.nonzero(Lc == Lc.min())[0]
    Lt, Rt = Lc[li][None, :], Rc[li][None, :]
    wb = (Rt - Lt) * 0.05
    b3 = (((Lc[:, None] - wa[:, None] <= Lt) & (Rc[:, None] + wa[:, None] >= Rt))
          | ((Lt - wb <= Lc[:, None]) & (Rt + wb >= Rc[:, None]))).any(axis=1)
    b3i = np.nonzero(b3)[0]
    p_left = int(b3i[np.argmin(Tc[b3i])]) if len(b3i) else None

    if p_left is not None and p_top is not None:
        dl = math.hypot(origin[0] - Lc[p_left], origin[1] - Tc[p_left])
        dt = math.hypot(origin[0] - Lc[p_top], origin[1] - Tc[p_top])
        return int(cidx[p_left]) if dl < dt else int(cidx[p_top])
    if p_left is not None:
        return int(cidx[p_left])
    if p_top is not None:
        return int(cidx[p_top])
    return int(cidx[int(np.argmin(Tc))])
