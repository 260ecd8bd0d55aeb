"""Object-model reference for ``osdocr_spark.kernels.fix``.

The fix suite as it ran before it moved onto the ``Document``'s columns:
a mutable list of ``MBlock`` objects holding ``MWord`` objects, built by
``to_mutable`` and gathered back by ``to_document``, with every rule a
walk over those objects.  The package runs the same rules as column
passes and block-row walks over one ``fix.Page``; the parity tests in
``test_fix_suite.py`` pin the two against each other on every
``Document`` column.

Two rules differ from the object code they were moved from:

- ``block_bound_box_fix`` is the per-pair scalar walk: it tests every
  later block against the current one with the inclusive-edge touch
  predicate written out in plain Python, the way the reference's loop
  visits pairs, where the package finds the same partners through one
  touch matrix per round.  Its box arithmetic goes through the broadcast
  geometry on numpy boxes (and a numpy ``remove_box_area``), never the
  pair forms the package uses, so the two sides share no box code.
- ``unite_blocks`` reads the scalar ``is_vertical_text`` of
  ``tests/doc_reference.py`` (the reference's rule), not the object
  model's one-word-only test, which said False for every multi-word or
  multi-line block.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

import numpy as np

import doc_reference
from osdocr_spark.kernels import geometry as g
from osdocr_spark.kernels.analyzer import average_word_distance
from osdocr_spark.kernels.doc import Document

_WORD_CHAR = re.compile(r"[\w\d]")


@dataclass
class MWord:
    box: list  # [l, r, t, b]
    conf: int
    text: str
    par: int
    line: int
    link: bool = False


@dataclass
class MBlock:
    id: int
    type: str | None
    box: list  # [l, r, t, b]
    words: list = field(default_factory=list)

    # -- predicates (OCR_Tree method analogs) --------------------------------
    def is_empty(self, conf: int = 0, only_text: bool = False) -> bool:
        if not only_text and self.type == "image":
            return False
        return not any(w.conf >= conf and _WORD_CHAR.search(w.text) for w in self.words)

    def aspect_delimiter(self, conf: int = 0, only_type: bool = False) -> bool:
        if self.type == "delimiter":
            return True
        if only_type:
            return False
        if self.is_empty(conf):
            w = self.box[1] - self.box[0]
            h = self.box[3] - self.box[2]
            return w >= h * 4 or h >= w * 4
        return False

    def is_image(self, conf: int = 0, text_size: int = 0, only_type: bool = False) -> bool:
        if only_type:
            return self.type == "image"
        if self.type == "image" or (self.is_empty(conf) and not self.aspect_delimiter(conf)):
            return (self.box[3] - self.box[2]) > text_size * 3
        return False

    def orientation(self) -> str:
        w = self.box[1] - self.box[0]
        h = self.box[3] - self.box[2]
        return "horizontal" if w > h else ("vertical" if w < h else "square")

    def lines(self) -> list[tuple]:
        """Lines in order: [((par, line), [words...]), ...]."""
        out: dict[tuple, list] = {}
        for w in self.words:
            out.setdefault((w.par, w.line), []).append(w)
        return sorted(out.items(), key=lambda kv: kv[0])

    def hull(self, conf: int = -1):
        ws = [w for w in self.words if w.conf >= conf and w.text.strip()]
        if not ws:
            return None
        return [min(w.box[0] for w in ws), max(w.box[1] for w in ws),
                min(w.box[2] for w in ws), max(w.box[3] for w in ws)]


def to_mutable(doc: Document) -> list[MBlock]:
    """The mutable block list of ``doc``.  Each column is converted to
    Python values once (``tolist``), so every field is a plain ``int``,
    ``bool`` or ``str`` and every word and block owns its box list."""
    w_box, w_conf, w_text = doc.w_box.tolist(), doc.w_conf.tolist(), doc.w_text.tolist()
    w_par, w_line, w_link = doc.w_par.tolist(), doc.w_line.tolist(), doc.w_link.tolist()
    blocks = []
    for bi, (bid, btype, bbox) in enumerate(zip(doc.b_id.tolist(), doc.b_type.tolist(),
                                                doc.b_box.tolist())):
        words = [MWord(w_box[i], w_conf[i], w_text[i], w_par[i], w_line[i], w_link[i])
                 for i in doc.words_of(bi).tolist()]
        blocks.append(MBlock(bid, btype, bbox, words))
    return blocks


def to_document(blocks: list[MBlock], url: str) -> Document:
    wb, wc, wt, wbl, wp, wl, wlk, bb, bid, bty = [], [], [], [], [], [], [], [], [], []
    for new_bi, b in enumerate(blocks):
        bb.append(b.box)
        bid.append(b.id)
        bty.append(b.type)
        for w in b.words:
            wb.append(w.box)
            wc.append(w.conf)
            wt.append(w.text)
            wbl.append(new_bi)
            wp.append(w.par)
            wl.append(w.line)
            wlk.append(w.link)
    return Document(
        url=url,
        w_box=np.array(wb, np.int64).reshape(-1, 4), w_conf=np.array(wc, np.int64),
        w_text=np.array(wt, object), w_block=np.array(wbl, np.int64),
        w_par=np.array(wp, np.int64), w_line=np.array(wl, np.int64),
        w_link=np.array(wlk, bool), b_box=np.array(bb, np.int64).reshape(-1, 4),
        b_id=np.array(bid, np.int64), b_type=np.array(bty, object),
    )


# ---------------------------------------------------------------- operators

def remove_nodes_conf(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Delete words below the confidence threshold
    (``OCR_Tree.remove_nodes_conf``, ``ocr_tree.py:1271-1285``)."""
    for b in blocks:
        b.words = [w for w in b.words if w.conf >= conf]
    return blocks


def remove_empty_boxes(blocks: list[MBlock], page_box: list, conf: int = 10,
                       find_delimiters: bool = True, find_images: bool = True) -> list[MBlock]:
    """Drop empty blocks; always drop empty blocks covering ≥80% of the page
    area; keep delimiters and (optionally) images
    (``remove_empty_boxes``, ``ocr_tree_fix.py:17-57``)."""
    page_area = max((page_box[1] - page_box[0]) * (page_box[3] - page_box[2]), 1)
    out = []
    for b in blocks:
        if b.is_empty(conf=conf, only_text=True):
            area = (b.box[1] - b.box[0]) * (b.box[3] - b.box[2])
            if area >= page_area * 0.8:
                continue
            if b.aspect_delimiter(conf=conf, only_type=not find_delimiters):
                out.append(b)
                continue
            if not find_images and b.is_image(conf=conf, only_type=True):
                out.append(b)
                continue
            continue
        out.append(b)
    return out


def text_bound_box_fix(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Shrink each text block's box to the hull of its confident words
    (``text_bound_box_fix``, ``ocr_tree_fix.py:211-256``; only shrinks,
    never grows)."""
    for b in blocks:
        h = b.hull(conf=conf)
        if h is None:
            continue
        b.box = [max(b.box[0], h[0]), min(b.box[1], h[1]),
                 max(b.box[2], h[2]), min(b.box[3], h[3])]
    return blocks


def join_blocks(a: MBlock, b: MBlock, orientation: str = "vertical") -> MBlock:
    """Merge block ``b`` into ``a`` (``OCR_Tree.join_trees``,
    ``ocr_tree.py:967-1084``).

    ``auto``: horizontal when the boxes (or their horizontal strips)
    intersect, else vertical.  Vertical: top block first, b's paragraphs
    renumbered after a's.  Horizontal: line-level y-slot merge — lines whose
    vertical overlap is ≥70% of either height merge into one line (words
    ordered left-to-right); others interleave by top.
    """
    if orientation == "auto":
        if g.pair_intersects(a.box, b.box, inside=True) or \
                g.pair_intersects(a.box, b.box, extend_horizontal=True, inside=True):
            orientation = "horizontal"
        else:
            orientation = "vertical"

    if orientation == "vertical":
        top, bot = (a, b) if a.box[2] <= b.box[2] else (b, a)
        par_off = max((w.par for w in top.words), default=-1) + 1
        line_off = max((w.line for w in top.words), default=-1) + 1
        merged = [replace(w) for w in top.words] + [
            replace(w, par=w.par + par_off, line=w.line + line_off) for w in bot.words
        ]
    else:
        left, right_ = (a, b) if a.box[0] <= b.box[0] else (b, a)
        slots: list[list] = []  # [[top, bottom, words...]]
        for _key, ws in left.lines() + right_.lines():
            t = min(w.box[2] for w in ws)
            btm = max(w.box[3] for w in ws)
            placed = False
            for s in slots:
                ov = min(s[1], btm) - max(s[0], t)
                if ov > 0 and (ov / max(btm - t, 1) >= 0.7 or ov / max(s[1] - s[0], 1) >= 0.7):
                    s[0] = min(s[0], t)
                    s[1] = max(s[1], btm)
                    s[2].extend(ws)
                    placed = True
                    break
            if not placed:
                slots.append([t, btm, list(ws)])
        slots.sort(key=lambda s: s[0])
        merged = []
        for li, s in enumerate(slots):
            for w in sorted(s[2], key=lambda w: w.box[0]):
                merged.append(replace(w, par=0, line=li))

    a.words = merged
    a.box = [min(a.box[0], b.box[0]), max(a.box[1], b.box[1]),
             min(a.box[2], b.box[2]), max(a.box[3], b.box[3])]
    return a


def prune_children_area(b: MBlock) -> MBlock:
    """Clamp word boxes into the block box (``prune_children_area``,
    ``ocr_tree.py:764-780``), dropping words fully outside."""
    kept = []
    for w in b.words:
        l = max(w.box[0], b.box[0])
        r = min(w.box[1], b.box[1])
        t = max(w.box[2], b.box[2])
        btm = min(w.box[3], b.box[3])
        if l < r and t < btm:
            w.box = [l, r, t, btm]
            kept.append(w)
    b.words = kept
    return b


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


def split_block(b: MBlock, delimiter: list, orientation: str = "horizontal",
                conf: int = 10, keep_all: bool = False) -> list[MBlock]:
    """Cut a block in ≤2 at a delimiter box (``split_block``,
    ``ocr_tree_fix.py:801-941``): horizontal → area above delimiter.top /
    below delimiter.bottom; vertical → area left of delimiter.left / right
    of delimiter.right.  Words assigned by containment; ``keep_all`` sends
    straddlers to the side with the larger overlap; emptied lines drop."""
    if orientation == "horizontal":
        area1 = [b.box[0], b.box[1], b.box[2], min(b.box[3], delimiter[2] + 1)]
        area2 = [b.box[0], b.box[1], delimiter[3], b.box[3]]
    else:
        area1 = [b.box[0], max(delimiter[0], b.box[0] + 1), b.box[2], b.box[3]]
        area2 = [delimiter[1], b.box[1], b.box[2], b.box[3]]
    w1: list[MWord] = []
    w2: list[MWord] = []
    for w in b.words:
        if g.pair_is_inside(w.box, area1):
            w1.append(w)
        elif g.pair_is_inside(w.box, area2):
            w2.append(w)
        elif keep_all:
            ov1 = g.pair_inter_area(area1, w.box)
            ov2 = g.pair_inter_area(area2, w.box)
            (w1 if ov1 > ov2 else w2).append(w)
        # else: dropped (reference removes from both sides)
    if not w1 and not w2:
        return [b]
    out = []
    if w1:
        b1 = MBlock(b.id, b.type, area1, w1)
        h = b1.hull(-1)
        if h:
            b1.box = [area1[0], min(area1[1], max(h[1], area1[0] + 1)),
                      area1[2], min(area1[3], max(h[3], area1[2] + 1))] if orientation == "horizontal" else area1
        out.append(b1)
    if w2:
        b2 = MBlock(b.id if not w1 else -1, b.type, area2, w2)
        out.append(b2)
    return out


def split_whitespaces(blocks: list[MBlock], avg_word_dist: float, conf: int = 10,
                      dif_ratio: int = 3) -> list[MBlock]:
    """Split blocks at wide common whitespace gaps (``split_whitespaces``,
    ``ocr_tree_fix.py:945-1135``): per line, gaps ≥ ``dif_ratio`` × the
    blended average ``(line_avg·0.3 + doc_avg·0.7)/2`` become candidate
    intervals; a split is valid iff an interval combination intersects across
    *every* line (backtracking DFS); the cut is the widest common interval."""
    out = list(blocks)
    next_id = max((b.id for b in blocks), default=0) + 1
    for b in blocks:
        if b.is_empty(conf=conf, only_text=True):
            continue
        lines = b.lines()
        lines_seqs: list[list[list]] = []
        valid = True
        average = 0.0
        for _key, ws in lines:
            ws = [w for w in ws if w.conf >= conf]
            if not ws:
                continue
            ws = sorted(ws, key=lambda w: w.box[0])
            dists = [ws[0].box[0] - b.box[0]]
            pairs = [(None, ws[0])]
            for w_prev, w_next in zip(ws, ws[1:]):
                dists.append(w_next.box[0] - w_prev.box[1])
                pairs.append((w_prev, w_next))
            dists.append(b.box[1] - ws[-1].box[1])
            pairs.append((ws[-1], None))
            # drop non-positive interior gaps (reference ``:995-1001``)
            k = 1
            while k < len(dists) - 1:
                if dists[k] <= 0:
                    dists.pop(k)
                    pairs.pop(k)
                else:
                    k += 1
            if not dists:
                continue
            average = (sum(dists) / len(dists) * 0.3 + avg_word_dist * 0.7) / 2
            seqs = []
            for k, d in enumerate(dists):
                if d >= dif_ratio * average:
                    if k == 0:
                        seqs.append([b.box[0], pairs[k][1].box[0]])
                    elif k == len(dists) - 1:
                        seqs.append([pairs[k][0].box[1], b.box[1]])
                    else:
                        seqs.append([pairs[k][0].box[1], pairs[k][1].box[0]])
            if not seqs:
                valid = False
                break
            lines_seqs.append(seqs)
        if not (valid and lines_seqs and len(lines_seqs) == len(lines)):
            continue

        # DFS for one interval per line with pairwise-chained intersection
        def dfs(level: int, lo: int, hi: int):
            if level == len(lines_seqs):
                return (lo, hi)
            for iv in lines_seqs[level]:
                nlo, nhi = max(lo, iv[0]), min(hi, iv[1])
                if iv[0] <= hi and lo <= iv[1]:
                    r = dfs(level + 1, nlo, nhi)
                    if r:
                        return r
            return None

        found = None
        for first in lines_seqs[0]:
            found = dfs(1, first[0], first[1])
            if found:
                break
        if not found:
            continue
        left, right = found
        if right - left >= dif_ratio * average:
            parts = split_block(b, [left, right, b.box[2], b.box[3]],
                                orientation="vertical", conf=conf, keep_all=True)
            if len(parts) == 2:
                idx = out.index(b)
                parts[1].id = next_id
                next_id += 1
                out[idx] = parts[0]
                out.append(parts[1])
    return out


def delimiters_fix(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Fix delimiters (``delimiters_fix``, ``ocr_tree_fix.py:512-681``):
    inside an empty block → delete; inside/crossing a text block → split the
    block when the extended delimiter strip is word-free (area ratios 0.4
    horizontal / 0.1 vertical) and both sides keep text, else delete/shrink
    the delimiter; ≥50% inside an image → delete."""
    out = list(blocks)
    next_id = max((b.id for b in blocks), default=0) + 1
    delims = [b for b in blocks if b.type == "delimiter"]
    for d in delims:
        if d not in out:
            continue
        orient = d.orientation()
        j = 0
        while j < len(out):
            blk = out[j]
            if blk is d or blk.type == "delimiter":
                j += 1
                continue
            # geometric prescreen BEFORE the per-block word scans: both
            # branches below require intersects (is_inside ⊆ intersects,
            # closed edges), so a non-overlapping pair is a no-op and the
            # is_empty/is_image scans can be skipped entirely (d.box is
            # re-read each pair because the shrink branch moves it)
            if not g.pair_intersects(d.box, blk.box):
                j += 1
                continue
            if blk.is_empty(conf=conf, only_text=True) and not blk.is_image(only_type=True):
                j += 1
                continue
            inter_area = max(g.pair_inter_area(d.box, blk.box), 0)
            d_area = max(_area(d.box), 1)
            if g.pair_is_inside(d.box, blk.box):
                if blk.is_empty(conf=conf, only_text=True):
                    out.remove(d)
                    break
                strip = list(d.box)
                if orient == "horizontal":
                    strip[0], strip[1] = blk.box[0], blk.box[1]
                else:
                    strip[2], strip[3] = blk.box[2], blk.box[3]
                ratio = 0.4
                side_words = [w for w in blk.words if w.conf >= conf and _ovr(strip, w) >= ratio]
                o = "horizontal" if orient == "horizontal" else "vertical"
                ws1 = [w for w in blk.words
                       if w.conf >= conf and _before(d.box, w, o)]
                ws2 = [w for w in blk.words
                       if w.conf >= conf and not _before(d.box, w, o) and w not in side_words]
                if not side_words and ws1 and ws2:
                    parts = split_block(blk, d.box, orientation="horizontal",
                                        conf=conf, keep_all=True)
                    if len(parts) == 2:
                        parts[1].id = next_id
                        parts[1].type = blk.type
                        next_id += 1
                        out[j] = parts[0]
                        out.append(parts[1])
                    else:
                        out.remove(d)
                        break
                else:
                    out.remove(d)
                    break
            elif inter_area > 0:
                if inter_area / d_area >= 0.5 and blk.is_image(conf=conf):
                    out.remove(d)
                    break
                strip = list(d.box)
                if orient == "horizontal":
                    strip[0], strip[1] = blk.box[0], blk.box[1]
                else:
                    strip[2], strip[3] = blk.box[2], blk.box[3]
                ratio = 0.1 if orient == "vertical" else 0.4
                text_in_strip = [w for w in blk.words
                                 if w.conf >= conf and _ovr(strip, w) >= ratio]
                if text_in_strip:
                    d.box = g.remove_box_area(d.box, blk.box)
                else:
                    parts = split_block(blk, strip, orientation=orient, conf=conf, keep_all=True)
                    if len(parts) == 2:
                        parts[1].id = next_id
                        parts[1].type = blk.type
                        next_id += 1
                        out[j] = parts[0]
                        out.append(parts[1])
                    else:
                        d.box = g.remove_box_area(d.box, blk.box)
            j += 1
    return out


def _area(box: list) -> int:
    return (box[1] - box[0]) * (box[3] - box[2])


def _ovr(area: list, w: MWord) -> float:
    return max(g.pair_inter_area(area, w.box), 0) / max(_area(w.box), 1)


def _before(dbox: list, w: MWord, orientation: str) -> bool:
    if orientation == "horizontal":
        return w.box[3] <= dbox[2]
    return w.box[1] <= dbox[0]


def unite_blocks(blocks: list[MBlock], conf: int = 10,
                 horizontal_join: bool = True) -> list[MBlock]:
    """Merge same-type vertically-adjacent aligned blocks (``unite_blocks``,
    ``ocr_tree_fix.py:391-508``): the single aligned directly-below block of
    the same type joins upward (vertical-text and orientation compatibility
    checks; reject when the merged hull intersects other blocks ≥10%); when
    *all* directly-below blocks are same-type and aligned, they join
    horizontally first."""
    from osdocr_spark.kernels import neighbors as nb

    out = list(blocks)
    i = 0
    while i < len(out):
        target = out[i]
        bb = np.array([b.box for b in out], np.int64).reshape(-1, 4)
        others = np.array([k for k in range(len(out)) if k != i], np.int64)
        below = [out[k] for k in nb.directly_below(bb, i, others)]
        same = [b for b in below if b.type == target.type]
        if not target.is_empty(conf=conf, only_text=True):
            if _is_vertical_text(target, conf):
                same = [b for b in same if _is_vertical_text(b, conf)]
        else:
            same = [b for b in same if b.orientation() == target.orientation()]
        aligned = [b for b in same
                   if g.pair_within_horizontal(target.box, b.box, rng=0.1, only_self=True)]
        united = False
        if len(aligned) == 1:
            cand = aligned[0]
            hull = [min(target.box[0], cand.box[0]), max(target.box[1], cand.box[1]),
                    min(target.box[2], cand.box[2]), max(target.box[3], cand.box[3])]
            conflict = any(
                b is not target and b is not cand
                and (ov := g.pair_inter_area(hull, b.box)) > 0
                and ov / max(_area(b.box), 1) >= 0.1
                for b in out)
            if not conflict:
                join_blocks(target, cand)
                out.remove(cand)
                united = True
        elif horizontal_join and same and len(aligned) == len(same) == len(below) and len(same) > 1:
            row = sorted(same, key=lambda b: b.box[0])
            head = row[0]
            for nxt in row[1:]:
                join_blocks(head, nxt, orientation="horizontal")
                out.remove(nxt)
            join_blocks(target, head)
            out.remove(head)
            united = True
        if not united:
            i += 1
    return out


def _is_vertical_text(b: MBlock, conf: int) -> bool:
    return doc_reference.is_vertical_text(to_document([b], ""), 0, conf)


def remove_solo_words(blocks: list[MBlock], conf: int = 10) -> list[MBlock]:
    """Drop one-word blocks contained in a block of a different type
    (``remove_solo_words``, ``ocr_tree_fix.py:685-708``)."""
    out = []
    for b in blocks:
        if not b.is_empty(conf=conf):
            text = " ".join(w.text for w in b.words if w.conf >= conf).strip()
            if len(text.split(" ")) == 1:
                if any(o is not b and o.type != b.type
                       and g.pair_is_inside(b.box, o.box) for o in blocks):
                    continue
        out.append(b)
    return out


def find_text_titles(blocks: list[MBlock], normal_text_size: float,
                     avg_char_width: float, conf: int = 10) -> list[MBlock]:
    """Split title-looking lines out of text blocks (``find_text_titles``,
    ``ocr_tree_fix.py:712-796``): a line taller than normal text (title
    range) that follows ended text (or opens the block) becomes a new title
    block; the remainder of the block is split below it."""
    out = list(blocks)
    next_id = max((b.id for b in blocks), default=0) + 1
    i = 0
    while i < len(out):
        b = out[i]
        i += 1
        if b.type == "title" or b.is_empty(conf=conf):
            continue
        lines = b.lines()
        if len(lines) < 2:
            continue
        prev_text = ""
        for j, (_key, ws) in enumerate(lines):
            ws_ok = [w for w in ws if w.conf >= conf]
            if not ws_ok:
                continue
            mh = sum(w.box[3] - w.box[2] for w in ws_ok) / len(ws_ok)
            nchars = sum(len(w.text) for w in ws_ok)
            mw = sum(w.box[1] - w.box[0] for w in ws_ok) / max(nchars, 1)
            title_range = not (normal_text_size * 0 <= mh <= normal_text_size * 2) or \
                not (avg_char_width * 0.5 <= mw <= avg_char_width * 1.5)
            is_title_line = mh > normal_text_size and title_range
            ended = (not re.search(r"[\d\w]+", prev_text)) or \
                (prev_text and prev_text[-1] in (".", "?", "!"))
            if is_title_line and ended:
                title_words = list(ws)
                # absorb following title lines
                kk = j + 1
                while kk < len(lines):
                    nws = [w for w in lines[kk][1] if w.conf >= conf]
                    if nws:
                        nmh = sum(w.box[3] - w.box[2] for w in nws) / len(nws)
                        if nmh > normal_text_size:
                            title_words += lines[kk][1]
                            kk += 1
                            continue
                    break
                tb_box = [min(w.box[0] for w in title_words), max(w.box[1] for w in title_words),
                          min(w.box[2] for w in title_words), max(w.box[3] for w in title_words)]
                title_block = MBlock(next_id, "title", tb_box,
                                     [replace(w, par=0, line=w.line) for w in title_words])
                next_id += 1
                out.append(title_block)
                rest = [w for w in b.words if w not in title_words]
                b.words = rest
                h = b.hull(-1)
                if h:
                    b.box = h
                break
            prev_text = " ".join(w.text for w in ws_ok).strip()
    return [b for b in out if b.words or b.type in ("delimiter", "image") or b.is_empty()]


def remove_blocks_inside(blocks: list[MBlock], container_id: int) -> list[MBlock]:
    """Delete blocks fully contained in the given block
    (``remove_blocks_inside``, ``ocr_tree.py:1096-1106``)."""
    cont = next((b for b in blocks if b.id == container_id), None)
    if cont is None:
        return blocks
    return [b for b in blocks
            if b is cont or not g.pair_is_inside(b.box, cont.box)]


def clean_doc(doc: Document, conf: int = 10) -> Document:
    """The reference's cleaning pipeline in normative order
    (``clean_ocr``, ``O/pipeline.py:708-819``): remove_nodes_conf →
    remove_empty_boxes → text_bound_box_fix → split_whitespaces →
    delimiters_fix → block_bound_box_fix.  (The image-space
    ``bound_box_fix_image`` stage is a no-op for HTML payloads.)  The only
    layout statistic the suite reads is the document's average word gap
    (``split_whitespaces``), so no full ``analyze_text`` runs here."""
    avg_word_dist = average_word_distance(doc, conf=conf)
    blocks = to_mutable(doc)
    if doc.n_blocks():
        page_box = [int(doc.b_box[:, 0].min()), int(doc.b_box[:, 1].max()),
                    int(doc.b_box[:, 2].min()), int(doc.b_box[:, 3].max())]
    else:
        page_box = [0, 1, 0, 1]
    blocks = remove_nodes_conf(blocks, conf=conf)
    blocks = remove_empty_boxes(blocks, page_box, conf=conf)
    # type obvious delimiters so delimiters_fix can operate pre-categorize
    # (the reference's pipeline injects typed delimiter nodes before cleaning,
    # ``O/pipeline.py:653-698``; aspect detection is our payload's analog)
    for b in blocks:
        if b.type is None and b.aspect_delimiter(conf=conf):
            b.type = "delimiter"
    blocks = text_bound_box_fix(blocks, conf=conf)
    blocks = split_whitespaces(blocks, avg_word_dist, conf=conf)
    blocks = delimiters_fix(blocks, conf=conf)
    blocks = block_bound_box_fix(blocks, conf=conf)
    return to_document(blocks, doc.url)
