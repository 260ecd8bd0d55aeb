"""Naive (legacy) reading-order paths (SURVEY.md §2.10).

Re-implements ``calculate_reading_order_naive`` (``O/ocr_tree_module/
ocr_tree_analyser.py:730-855``), ``next_top_block_context`` (``:859-987``)
and ``calculate_reading_order_naive_context`` (``:993-1083``) over block
indices.  These are the reference's pre-graph ordering algorithms — the
production path is the attraction graph in :mod:`.order` (used by
``order_ocr_tree``); the naive paths are kept for operator parity and as an
independent cross-check of the graph order on simple layouts.

Both build an order *map* (block → blocks after it) by greedy traversal and
then extract a list Kahn-style (first block with no unvisited predecessor).
The unconditional debug ``print``s of the reference (``:769-846``) are not
reproduced (SURVEY.md §4.1 anti-patterns).
"""

from __future__ import annotations

from . import geometry as g
from .doc import Document
from .order import next_top_block

__all__ = ["reading_order_naive", "reading_order_naive_context", "next_top_block_context"]


def _order_map_to_list(order_map: dict[int, list[int]]) -> list[int]:
    """Kahn-style extraction preserving map insertion order
    (``ocr_tree_analyser.py:823-843``)."""
    order: list[int] = []
    while len(order) < len(order_map):
        chosen = None
        for cand in order_map:
            if cand in order:
                continue
            valid = True
            for other, afters in order_map.items():
                if cand in afters and other not in order:
                    valid = False
                    break
            if valid:
                chosen = cand
                break
        if chosen is None:  # cycle guard (reference would loop forever)
            chosen = next(b for b in order_map if b not in order)
        order.append(chosen)
    return order


def reading_order_naive(doc: Document, block_idx: list[int]) -> list[int]:
    """Position-only ordering (``calculate_reading_order_naive``,
    ``:730-855``): vertically-aligned blocks order left→right, lower blocks
    come after; next block = the visually-first horizontally-aligned block
    below, else the global visually-first remaining block."""
    bb = doc.b_box.tolist()
    blocks = [i for i in block_idx if not doc.block_is_delimiter(i)]
    if not blocks:
        return []
    order_map: dict[int, list[int]] = {i: [] for i in blocks}
    remaining = list(blocks)
    current = next_top_block(doc, remaining)
    remaining.remove(current)
    while remaining and current is not None:
        for b in remaining:
            if g.pair_within_vertical(bb[b], bb[current], rng=0.2):
                if bb[b][g.L] >= bb[current][g.L] and current not in order_map[b]:
                    order_map[current].append(b)
            elif bb[b][g.T] > bb[current][g.T] and current not in order_map[b]:
                order_map[current].append(b)
        potential = [b for b in remaining
                     if bb[b][g.T] > bb[current][g.T]
                     and g.pair_within_horizontal(bb[b], bb[current], rng=0.2)]
        nxt = next_top_block(doc, potential) if potential else None
        if nxt is None:
            nxt = next_top_block(doc, remaining)
        if nxt is None:
            break
        remaining.remove(nxt)
        if nxt not in order_map[current]:
            order_map[current].append(nxt)
        current = nxt
    return _order_map_to_list(order_map)


def next_top_block_context(doc: Document, blocks: list[int],
                           current: int | None = None) -> int | None:
    """Type-aware successor choice (``next_top_block_context``, ``:859-987``):
    no current → best title (else best non-continuation block); title → the
    visually-first non-title below it; text → continuation-aware below/right
    search honoring delimiters and start/end-text flags; image → best caption
    below.  Falls back to :func:`next_top_block` over non-delimiters."""
    bb = doc.b_box.tolist()
    non_delims = [b for b in blocks if doc.b_type[b] != "delimiter"]
    if not non_delims:
        return None
    nxt: int | None = None
    cur_type = doc.b_type[current] if current is not None else None

    if cur_type is None:
        titles = [b for b in blocks if doc.b_type[b] == "title"]
        if titles:
            nxt = next_top_block(doc, titles)
        else:
            potential = [b for b in non_delims
                         if not (doc.b_type[b] == "text" and doc.b_start_text[b] is False)]
            nxt = next_top_block(doc, potential)
    elif cur_type == "title":
        below = [b for b in non_delims
                 if bb[b][g.T] > bb[current][g.T]
                 and g.pair_within_horizontal(bb[current], bb[b], rng=0.3)]
        if below:
            cand = next_top_block(doc, below)
            if cand is not None and doc.b_type[cand] != "title":
                nxt = cand
    elif cur_type == "text":
        text_blocks = [b for b in blocks if doc.b_type[b] == "text"]
        below_all = [b for b in blocks
                     if bb[b][g.T] > bb[current][g.T]
                     and g.pair_within_horizontal(bb[current], bb[b], rng=0.1)]
        below_block = min(below_all, key=lambda b: bb[b][g.T]) if below_all else None
        if doc.b_end_text[current] is False:
            if below_block is not None and doc.b_type[below_block] == "delimiter" and \
                    int(g.width(doc.b_box[below_block])) > int(g.height(doc.b_box[below_block])):
                potential = [b for b in text_blocks
                             if bb[b][g.T] < bb[below_block][g.T]
                             and g.pair_within_horizontal(bb[b], bb[below_block], rng=0.3)]
                if potential:
                    nxt = next_top_block(doc, potential)
            elif below_block is not None:
                below = [b for b in text_blocks
                         if bb[b][g.T] > bb[current][g.T]
                         and g.pair_within_horizontal(bb[b], bb[current], rng=0.3)]
                if below:
                    cand = next_top_block(doc, below)
                    if doc.b_start_text[cand] is False:
                        nxt = cand
                    else:
                        potential = [b for b in text_blocks
                                     if not g.pair_within_horizontal(bb[b], bb[current], rng=0.3)]
                        nxt = next_top_block(doc, potential)
                        if nxt is not None and doc.b_start_text[nxt] is True:
                            nxt = next_top_block(doc, below)
                else:
                    potential = [b for b in text_blocks
                                 if not g.pair_within_horizontal(bb[b], bb[current], rng=0.3)
                                 and doc.b_start_text[b] is False]
                    nxt = next_top_block(doc, potential)
            else:
                potential = [b for b in text_blocks
                             if not g.pair_within_horizontal(bb[b], bb[current], rng=0.3)
                             and doc.b_start_text[b] is False]
                nxt = next_top_block(doc, potential)
        else:
            if below_block is not None:
                if doc.b_type[below_block] == "text":
                    if doc.b_start_text[below_block] is True:
                        nxt = below_block
                else:
                    nxt = below_block
            else:
                potential = [b for b in text_blocks
                             if not g.pair_within_horizontal(bb[b], bb[current], rng=0.3)]
                nxt = next_top_block(doc, potential)
    elif cur_type == "image":
        captions = [b for b in blocks
                    if doc.b_type[b] == "caption" and bb[b][g.T] > bb[current][g.T]]
        if captions:
            nxt = next_top_block(doc, captions)

    if nxt is None or doc.b_type[nxt] == "delimiter":
        nxt = next_top_block(doc, non_delims)
    return nxt


def reading_order_naive_context(doc: Document, block_idx: list[int]) -> list[int]:
    """Context-aware naive ordering (``calculate_reading_order_naive_context``,
    ``:993-1083``)."""
    blocks = list(block_idx)
    order_map: dict[int, list[int]] = {
        i: [] for i in blocks if doc.b_type[i] != "delimiter"}
    if not order_map:
        return []
    current = next_top_block_context(doc, blocks)
    if current is None:
        return list(order_map)
    blocks.remove(current)
    while blocks and current is not None:
        nxt = next_top_block_context(doc, blocks, current)
        if nxt is None:
            break
        if nxt in order_map:
            blocks.remove(nxt)
            if nxt not in order_map[current]:
                order_map[current].append(nxt)
        elif nxt in blocks:
            blocks.remove(nxt)
        current = nxt
    return _order_map_to_list(order_map)
