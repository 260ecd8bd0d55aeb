"""Scalar reference for ``osdocr_spark.kernels.fix.block_bound_box_fix``.

The walk tests every later block against the current one with the
inclusive-edge touch predicate written out in plain Python, the way the
reference's ``block_bound_box_fix`` loop visits pairs; the package finds
the same partners through one touch matrix per round.  Every rule's box
arithmetic goes through the broadcast geometry on numpy boxes (and a numpy
``remove_box_area``), never the pair forms the package uses, so the two
sides share no box code.  The parity tests in ``test_fix_suite.py`` pin
them against each other.
"""

from __future__ import annotations

import numpy as np

from osdocr_spark.kernels import geometry as g
from osdocr_spark.kernels.fix import MBlock, join_blocks, prune_children_area


def remove_box_area(b: np.ndarray, cut: np.ndarray) -> np.ndarray:
    """``Box.remove_box_area`` (``box.py:248-297``) on numpy boxes through
    the broadcast geometry: shrink ``b`` until disjoint from ``cut``,
    trimming the side that loses the least area, ≤4 times."""
    out = np.asarray(b, dtype=np.int64).copy()
    for _ in range(4):
        ib = g.intersect_area_box(out, cut)
        if min(g.width(ib), g.height(ib)) <= 0 or g.area(ib) <= 0:
            break
        w = int(g.width(out))
        h = int(g.height(out))
        cands = []
        if cut[g.B] >= out[g.B] and cut[g.T] > out[g.T]:
            cands.append(((out[g.B] - cut[g.T]) * w, (g.B, int(cut[g.T]))))
        if cut[g.T] <= out[g.T] and cut[g.B] < out[g.B]:
            cands.append(((cut[g.B] - out[g.T]) * w, (g.T, int(cut[g.B]))))
        if cut[g.R] >= out[g.R] and cut[g.L] > out[g.L]:
            cands.append(((out[g.R] - cut[g.L]) * h, (g.R, int(cut[g.L]))))
        if cut[g.L] <= out[g.L] and cut[g.R] < out[g.R]:
            cands.append(((cut[g.R] - out[g.L]) * h, (g.L, int(cut[g.R]))))
        if not cands:
            break
        cands.sort(key=lambda c: c[0])
        side, val = cands[0][1]
        out[side] = val
    return out


def block_bound_box_fix(blocks: list[MBlock], conf: int = 10,
                        max_rounds: int = 5) -> list[MBlock]:
    for _ in range(max_rounds):
        changed = False
        i = 0
        while i < len(blocks):
            a = blocks[i]
            j = i + 1
            while j < len(blocks):
                b = blocks[j]
                # when the boxes do not touch every rule below is a no-op
                # (is_inside implies intersects with inclusive edges, and
                # the shrink branch is gated on intersects)
                ab, bb = a.box, b.box
                if not ((ab[0] <= bb[1] and ab[1] >= bb[0])
                        and ((ab[2] <= bb[2] and ab[3] >= bb[2])
                             or (bb[2] <= ab[2] and bb[3] >= ab[2]))):
                    j += 1
                    continue
                na, nb_ = np.array(ab, np.int64), np.array(bb, np.int64)
                a_empty = a.is_empty(conf=conf)
                b_empty = b.is_empty(conf=conf)
                if b_empty and bool(g.is_inside(nb_, na)) and not b.aspect_delimiter(conf):
                    blocks.pop(j)
                    changed = True
                    continue
                if a_empty and bool(g.is_inside(na, nb_)) and not a.aspect_delimiter(conf):
                    blocks.pop(i)
                    changed = True
                    i -= 1
                    break
                if bool(g.intersects(na, nb_)):
                    inter = g.intersect_area_box(na, nb_)
                    inter_area = max(int(g.area(inter)), 0)
                    area_a = max(int(g.area(na)), 0)
                    area_b = max(int(g.area(nb_)), 0)
                    if not a_empty and not b_empty and area_a > 0 and inter_area / area_a >= 0.7:
                        join_blocks(a, b, orientation="auto")
                        blocks.pop(j)
                        changed = True
                        continue
                    if not a_empty and not b_empty and area_b > 0 and inter_area / area_b >= 0.7:
                        join_blocks(b, a, orientation="auto")
                        blocks[i] = b
                        blocks.pop(j)
                        changed = True
                        continue
                    if inter_area > 0:
                        ra = inter_area / area_a if area_a else 0
                        rb = inter_area / area_b if area_b else 0
                        target = a if ra < rb else b
                        new_box = remove_box_area(np.array(target.box, np.int64), inter)
                        if list(map(int, new_box)) != target.box:
                            target.box = list(map(int, new_box))
                            prune_children_area(target)
                            changed = True
                j += 1
            i += 1
        if not changed:
            break
    return blocks
