"""Explicit block-id management over the flat :class:`Document`.

The pipelines assign implicit pre-order ids at parse time (``doc.py``), which
covers every internal consumer; these operators port the reference's
*explicit* id workflow — the editor-facing surface a user re-numbering or
re-mapping blocks relies on (``O/ocr_tree_module/ocr_tree.py``):

- :func:`id_boxes`   — (re)assign sequential ids with delimiter/area
  restriction and the non-override collision protocol (``:451-493``)
- :func:`clean_ids`  — reset ids (``:495-504``)
- :func:`change_ids` — remap ids through a dict (``:954-963``)

The flat model has one id-bearing level (blocks ≙ reference level 2, the
default of all three reference methods); ``-1`` stands in for the
reference's ``None`` id.  All three mutate ``doc.b_id`` in place and return
the document, matching the reference's in-place tree mutation.
"""

from __future__ import annotations

import numpy as np

from . import geometry as g
from .doc import Document

__all__ = ["id_boxes", "clean_ids", "change_ids"]

NO_ID = -1


def id_boxes(doc: Document, delimiters: bool = True,
             area: np.ndarray | None = None, override: bool = True) -> Document:
    """(Re)assign sequential block ids in pre-order (``id_boxes``,
    ``ocr_tree.py:451-493``).

    - ``delimiters=False`` skips delimiter blocks (``:474``).
    - ``area`` restricts assignment to blocks fully inside it (``:474``).
    - ``override=False`` keeps existing ids, starting the counter past the
      current max (``:466-471``) and replaying the reference's collision
      protocol (``:479-489``): the first holder of a duplicate id keeps it,
      later holders are bumped to the running counter; the counter advances
      on every kept-or-bumped id.
    """
    nxt = 0
    occ: dict[int, int] = {0: 0}
    if not override:
        existing = doc.b_id[doc.b_id != NO_ID]
        if len(existing):
            nxt = int(existing.max()) + 1
            occ = {k: 0 for k in range(nxt)}
    in_area = None if area is None else g.is_inside(doc.b_box, np.asarray(area))
    for bi in range(doc.n_blocks()):
        if not delimiters and doc.block_is_delimiter(bi):
            continue
        if in_area is not None and not in_area[bi]:
            continue
        cur = int(doc.b_id[bi])
        if cur == NO_ID or override:
            doc.b_id[bi] = nxt
            occ[nxt] = 1
            nxt += 1
        elif cur <= nxt:
            if occ.get(cur, 0) == 1:          # duplicate: bump to counter
                doc.b_id[bi] = nxt
                occ[nxt] = 1
            else:
                occ[cur] = occ.get(cur, 0) + 1
            nxt += 1
    return doc


def clean_ids(doc: Document) -> Document:
    """Reset every block id to unset (``clean_ids``, ``ocr_tree.py:495-504``)."""
    doc.b_id[:] = NO_ID
    return doc


def change_ids(doc: Document, mapping: dict[int, int], clean: bool = True) -> Document:
    """Remap block ids through ``mapping`` (``change_ids``,
    ``ocr_tree.py:954-963``).  Unmapped ids are cleared when ``clean``.

    Reference-faithful quirk: the guard is ``if self.id`` (``:956``) —
    truthiness, not ``is not None`` — so id **0** is never remapped or
    cleared; replicated here.
    """
    for bi in range(doc.n_blocks()):
        cur = int(doc.b_id[bi])
        if cur == NO_ID or cur == 0:  # falsy ids skipped (reference :956)
            continue
        if cur in mapping:
            doc.b_id[bi] = mapping[cur]
        elif clean:
            doc.b_id[bi] = NO_ID
    return doc
