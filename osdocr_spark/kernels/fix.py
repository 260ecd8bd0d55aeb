"""Mutation / restructuring operators — the "UPDATE/DML" of the engine
(SURVEY.md §2.9): empty-box removal, bounding-box overlap resolution, text
hull shrinking, whitespace splitting, delimiter fixing, block uniting, solo
word removal, in-text title extraction, and tree joining.

Re-implemented from ``O/ocr_tree_module/ocr_tree_fix.py`` and the join/update
methods of ``O/ocr_tree_module/ocr_tree.py:967-1239`` on the columnar
``Document``: a rule that treats every block on its own is one mask or
grouped pass over the whole page, read off the ``Document``'s predicates;
a sequential rule walks the block rows of a :class:`Page` in the
reference's visit order.  The object-model suite these replaced is the
parity reference in ``tests/fix_reference.py``.

Documented deviations (clean implementations of intended semantics):

- ``remove_empty_boxes`` pops while iterating in the reference
  (``ocr_tree_fix.py:36-55``), silently skipping the element after each
  removal; we remove every qualifying block.
- ``block_bound_box_fix``'s worklist (``:83-201``) interleaves a cursor with
  a dict of pending boxes; we run the same pairwise rules to a fixpoint,
  each round walking the pairs in list order (same rule set, deterministic
  order) and finding a block's partners in one box-touch matrix per round
  instead of testing every pair.
- horizontal ``join_trees``'s recursive child interleave
  (``ocr_tree.py:1013-1076``) is expressed as a line-level y-slot merge with
  the same ≥70% overlap rule (the flat model has no nested children to
  recurse into).
"""

from __future__ import annotations

import re
from dataclasses import replace

import numpy as np

from . import geometry as g
from .analyzer import average_word_distance
from .doc import Document, box_orientation, delimiter_aspect, group_hulls

__all__ = [
    "Row", "Page",
    "remove_nodes_conf", "remove_empty_boxes", "text_bound_box_fix",
    "block_bound_box_fix", "split_block", "split_whitespaces",
    "delimiters_fix", "unite_blocks", "remove_solo_words", "find_text_titles",
    "join_blocks", "remove_blocks_inside", "translate_doc", "scale_doc", "prune_children_area",
    "clean_doc",
]


class Row:
    """One block row of a :class:`Page`: the block's id, type, box
    (``[l, r, t, b]`` plain ints) and word indices into the page's word
    columns, in pre-order."""

    __slots__ = ("id", "type", "box", "words")

    def __init__(self, id: int, type: str | None, box: list, words: list):
        self.id, self.type, self.box, self.words = id, type, box, words


class Page:
    """A document as the sequential rules edit it: ``rows``, the block
    rows in order, over word columns.  ``box``, ``par`` and ``line`` are
    the page's own per-word lists, the only word fields a rule writes;
    ``src`` maps a word to its ``doc`` word for every other field.  A join
    copies the words it merges (``join_trees`` builds new nodes), so no
    two rows share a word; a word's box is replaced, never edited.  The
    masks ``words``/``blocks`` pick what to keep, and ``types``/``boxes``
    stand in for ``b_type``/``b_box``."""

    def __init__(self, doc: Document, words: np.ndarray | None = None,
                 blocks: np.ndarray | None = None, types: np.ndarray | None = None,
                 boxes: np.ndarray | None = None):
        self.doc = doc
        self.src = list(range(len(doc.w_text)))
        self.box = doc.w_box.tolist()
        self.par = doc.w_par.tolist()
        self.line = doc.w_line.tolist()
        self.conf = doc.w_conf.tolist()
        self.text = doc.w_text.tolist()
        self.nonblank = doc.w_nonblank().tolist()
        self._text_words: dict[int, list] = {}
        ids = doc.b_id.tolist()
        types = (doc.b_type if types is None else types).tolist()
        boxes = (doc.b_box if boxes is None else boxes).tolist()
        ws = doc.block_words(words)
        keep = range(len(ids)) if blocks is None else np.flatnonzero(blocks).tolist()
        self.rows = [Row(ids[bi], types[bi], boxes[bi], ws[bi]) for bi in keep]

    # ------------------------------------------------------------ row reads
    def is_empty(self, row: Row, conf: int = 0, only_text: bool = False) -> bool:
        """``OCR_Tree.is_empty`` of a row: none of its words is in
        ``Document.text_word_mask(conf)``.  Images are never empty unless
        ``only_text``."""
        if not only_text and row.type == "image":
            return False
        ok = self._text_words.get(conf)
        if ok is None:
            ok = self._text_words[conf] = self.doc.text_word_mask(conf).tolist()
        src = self.src
        return not any(ok[src[k]] for k in row.words)

    def is_delimiter(self, row: Row, conf: int = 0) -> bool:
        """``Document.block_is_delimiter`` of a row."""
        if row.type == "delimiter":
            return True
        b = row.box
        return self.is_empty(row, conf) and delimiter_aspect(b[1] - b[0], b[3] - b[2])

    def confident(self, words: list, conf: int) -> list:
        cf, src = self.conf, self.src
        return [k for k in words if cf[src[k]] >= conf]

    def texts(self, words: list) -> list:
        text, src = self.text, self.src
        return [text[src[k]] for k in words]

    def lines(self, words: list) -> list:
        """``words`` grouped into lines, in (par, line) order."""
        out: dict[tuple, list] = {}
        par, line = self.par, self.line
        for k in words:
            out.setdefault((par[k], line[k]), []).append(k)
        return [out[key] for key in sorted(out)]

    def hull(self, words: list) -> list | None:
        """Hull of the words with non-blank text; None if none."""
        nonblank, src = self.nonblank, self.src
        boxes = [self.box[k] for k in words if nonblank[src[k]]]
        return _hull(boxes) if boxes else None

    # ----------------------------------------------------------- row writes
    def copy(self, k: int, par: int, line: int) -> int:
        """A new word: word ``k`` on paragraph ``par``, line ``line``."""
        self.src.append(self.src[k])
        self.box.append(self.box[k])
        self.par.append(par)
        self.line.append(line)
        return len(self.src) - 1

    def document(self, rows: list | None = None) -> Document:
        """``rows`` (default: the page's) gathered into a new ``Document``
        by one concatenation of their word indices."""
        rows = self.rows if rows is None else rows
        doc = self.doc
        idx = [k for r in rows for k in r.words]
        src = np.array([self.src[k] for k in idx], np.int64)
        n = np.fromiter((len(r.words) for r in rows), np.int64, len(rows))
        return Document(
            url=doc.url, w_box=np.array([self.box[k] for k in idx], np.int64).reshape(-1, 4),
            w_conf=doc.w_conf[src], w_text=doc.w_text[src],
            w_block=np.repeat(np.arange(len(rows), dtype=np.int64), n),
            w_par=np.array([self.par[k] for k in idx], np.int64),
            w_line=np.array([self.line[k] for k in idx], np.int64),
            w_link=doc.w_link[src],
            b_box=np.array([r.box for r in rows], np.int64).reshape(-1, 4),
            b_id=np.array([r.id for r in rows], np.int64),
            b_type=np.array([r.type for r in rows], object),
        )


def _hull(boxes: list) -> list:
    return [min(b[0] for b in boxes), max(b[1] for b in boxes),
            min(b[2] for b in boxes), max(b[3] for b in boxes)]


def _area(box: list) -> int:
    return (box[1] - box[0]) * (box[3] - box[2])


# ----------------------------------------------------------- column passes

def remove_nodes_conf(doc: Document, conf: int = 10) -> np.ndarray:
    """The words kept by ``OCR_Tree.remove_nodes_conf``
    (``ocr_tree.py:1271-1285``): those at or above ``conf``."""
    return doc.w_conf >= conf


def remove_empty_boxes(doc: Document, page_box: list, conf: int = 10) -> np.ndarray:
    """The blocks kept by ``remove_empty_boxes`` (``ocr_tree_fix.py:17-57``):
    a block empty at ``conf`` is dropped unless it is a delimiter, and
    always when it covers ≥80% of the page area."""
    page_area = max((page_box[1] - page_box[0]) * (page_box[3] - page_box[2]), 1)
    small = g.area(doc.b_box) < page_area * 0.8
    return doc.nonempty_mask(conf) | (small & doc.delimiter_mask(conf))


def text_bound_box_fix(doc: Document, conf: int = 10) -> np.ndarray:
    """Every block box shrunk to the hull of its confident, non-blank words
    (``text_bound_box_fix``, ``ocr_tree_fix.py:211-256``; only shrinks,
    never grows; a block without such words keeps its box)."""
    ok = (doc.w_conf >= conf) & doc.w_nonblank()
    hull, count = group_hulls(doc.w_block[ok], doc.w_box[ok], doc.n_blocks())
    has = count > 0
    box = doc.b_box.copy()
    box[has, 0::2] = np.maximum(box[has, 0::2], hull[has, 0::2])   # left, top
    box[has, 1::2] = np.minimum(box[has, 1::2], hull[has, 1::2])   # right, bottom
    return box


# --------------------------------------------------------------- row rules

def join_blocks(page: Page, a: Row, b: Row, orientation: str = "vertical") -> Row:
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

    par, line, box = page.par, page.line, page.box
    if orientation == "vertical":
        top, bot = (a, b) if a.box[2] <= b.box[2] else (b, a)
        par_off = max((par[k] for k in top.words), default=-1) + 1
        line_off = max((line[k] for k in top.words), default=-1) + 1
        merged = [page.copy(k, par[k], line[k]) for k in top.words] + [
            page.copy(k, par[k] + par_off, line[k] + line_off) for k in bot.words]
    else:
        left, right_ = (a, b) if a.box[0] <= b.box[0] else (b, a)
        slots: list[list] = []  # [[top, bottom, words...]]
        for ws in page.lines(left.words) + page.lines(right_.words):
            t = min(box[k][2] for k in ws)
            btm = max(box[k][3] for k in ws)
            for s in slots:
                ov = min(s[1], btm) - max(s[0], t)
                if ov > 0 and (ov / max(btm - t, 1) >= 0.7 or ov / max(s[1] - s[0], 1) >= 0.7):
                    s[0] = min(s[0], t)
                    s[1] = max(s[1], btm)
                    s[2].extend(ws)
                    break
            else:
                slots.append([t, btm, list(ws)])
        slots.sort(key=lambda s: s[0])
        merged = [page.copy(k, 0, li) for li, s in enumerate(slots)
                  for k in sorted(s[2], key=lambda k: box[k][0])]

    a.words = merged
    a.box = _hull([a.box, b.box])
    return a


def prune_children_area(page: Page, row: Row) -> Row:
    """Clamp word boxes into the block box (``prune_children_area``,
    ``ocr_tree.py:764-780``), dropping words fully outside."""
    kept = []
    rl, rr, rt, rb = row.box
    for k in row.words:
        wl, wr, wt, wb = page.box[k]
        l, r, t, btm = max(wl, rl), min(wr, rr), max(wt, rt), min(wb, rb)
        if l < r and t < btm:
            page.box[k] = [l, r, t, btm]
            kept.append(k)
    row.words = kept
    return row


def block_bound_box_fix(page: Page, conf: int = 10, max_rounds: int = 5) -> None:
    """Resolve block overlaps (``block_bound_box_fix``,
    ``ocr_tree_fix.py:61-208``): empty box inside another → delete; two
    non-empty boxes overlapping ≥70% of either → merge (``join_trees`` auto);
    other intersections → shrink the box with the smaller intersection ratio
    (``remove_box_area``) and clamp its words.  Runs the pairwise rules to a
    fixpoint (see module docstring): each round walks the pairs ``i < j`` in
    row order.

    Every rule is a no-op unless the two boxes touch (the inclusive-edge
    ``geometry.intersects``), so each round starts from one symmetric touch
    matrix ``P`` over the block boxes ``M`` and block ``i``'s next partner
    is the first ``True`` in ``P[i, j:]``.  The matrix follows the rows:
    a pop deletes its row and column, and a box that grows (``join_blocks``
    into ``a``) or shrinks gets its row and column recomputed.  The matrix
    only picks the pairs to look at; every rule re-reads the live boxes.
    Row ``i`` stands for the ``a`` binding: when ``b`` absorbs ``a`` it
    takes slot ``i`` but the walk goes on comparing the stale ``a``, a
    quirk of the reference loop kept here.  The per-pair scalar walk is the
    parity reference in ``tests/fix_reference.py``."""
    blocks = page.rows
    for _ in range(max_rounds):
        changed = False
        M = np.array([b.box for b in blocks], dtype=np.int64).reshape(-1, 4)
        P = _touch_matrix(M)
        i = 0
        while i < len(blocks):
            a = blocks[i]
            j = i + 1
            while j < len(blocks):
                j += int(P[i, j:].argmax())
                if not P[i, j]:
                    break
                b = blocks[j]
                a_empty = page.is_empty(a, conf)
                b_empty = page.is_empty(b, conf)
                if b_empty and g.pair_is_inside(b.box, a.box) and not page.is_delimiter(b, conf):
                    blocks.pop(j)
                    P, M = _drop(P, M, j)
                    changed = True
                    continue
                if a_empty and g.pair_is_inside(a.box, b.box) and not page.is_delimiter(a, conf):
                    blocks.pop(i)
                    P, M = _drop(P, M, i)
                    changed = True
                    i -= 1
                    break
                if g.pair_intersects(a.box, b.box):
                    inter = g.pair_intersect_area_box(a.box, b.box)
                    inter_area = max(_area(inter), 0)
                    area_a = max(_area(a.box), 0)
                    area_b = max(_area(b.box), 0)
                    if not a_empty and not b_empty and area_a > 0 and inter_area / area_a >= 0.7:
                        join_blocks(page, a, b, orientation="auto")
                        blocks.pop(j)
                        P, M = _drop(P, M, j)
                        _refresh(P, M, i, a.box)
                        changed = True
                        continue
                    if not a_empty and not b_empty and area_b > 0 and inter_area / area_b >= 0.7:
                        join_blocks(page, b, a, orientation="auto")
                        blocks[i] = b
                        blocks.pop(j)
                        P, M = _drop(P, M, j)
                        changed = True
                        continue
                    if inter_area > 0:
                        ra = inter_area / area_a if area_a else 0
                        rb = inter_area / area_b if area_b else 0
                        target, k = (a, i) if ra < rb else (b, j)
                        new_box = g.remove_box_area(target.box, inter)
                        if new_box != target.box:
                            target.box = new_box
                            prune_children_area(page, target)
                            _refresh(P, M, k, new_box)
                            changed = True
                j += 1
            i += 1
        if not changed:
            break


def _touch_matrix(M: np.ndarray) -> np.ndarray:
    """``geometry.intersects`` of every box row of ``M`` with every other.
    Both halves of the predicate are a one-sided test and its transpose
    (``l_a <= r_b`` and ``l_b <= r_a``; ``t_b`` inside ``[t_a, b_a]`` or
    ``t_a`` inside ``[t_b, b_b]``), so each is computed once."""
    l, r, t, b = M.T.copy()
    x = l[:, None] <= r
    y = (t[:, None] <= t) & (b[:, None] >= t)
    return x & x.T & (y | y.T)


def _drop(P: np.ndarray, M: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Delete block ``k`` from the touch matrix and the box rows."""
    return np.delete(np.delete(P, k, 0), k, 1), np.delete(M, k, 0)


def _refresh(P: np.ndarray, M: np.ndarray, k: int, box: list) -> None:
    """Set block ``k``'s box to ``box`` and recompute its touch row and
    column in place."""
    M[k] = box
    P[k] = P[:, k] = g.intersects(M[k], M)


def split_block(page: Page, row: Row, delimiter: list,
                orientation: str = "horizontal") -> list[Row]:
    """Cut a block in ≤2 at a delimiter box (``split_block``,
    ``ocr_tree_fix.py:801-941``): horizontal → area above delimiter.top /
    below delimiter.bottom; vertical → area left of delimiter.left / right
    of delimiter.right.  Words go to the area that contains them, and a
    word inside neither to the one it overlaps more."""
    b = row.box
    if orientation == "horizontal":
        area1 = [b[0], b[1], b[2], min(b[3], delimiter[2] + 1)]
        area2 = [b[0], b[1], delimiter[3], b[3]]
    else:
        area1 = [b[0], max(delimiter[0], b[0] + 1), b[2], b[3]]
        area2 = [delimiter[1], b[1], b[2], b[3]]
    w1: list[int] = []
    w2: list[int] = []
    for k in row.words:
        wb = page.box[k]
        if g.pair_is_inside(wb, area1):
            w1.append(k)
        elif g.pair_is_inside(wb, area2):
            w2.append(k)
        else:
            ov1 = g.pair_inter_area(area1, wb)
            ov2 = g.pair_inter_area(area2, wb)
            (w1 if ov1 > ov2 else w2).append(k)
    if not w1 and not w2:
        return [row]
    out = []
    if w1:
        b1 = Row(row.id, row.type, area1, w1)
        h = page.hull(w1)
        if h and orientation == "horizontal":
            b1.box = [area1[0], min(area1[1], max(h[1], area1[0] + 1)),
                      area1[2], min(area1[3], max(h[3], area1[2] + 1))]
        out.append(b1)
    if w2:
        out.append(Row(row.id if not w1 else -1, row.type, area2, w2))
    return out


def split_whitespaces(page: Page, avg_word_dist: float, conf: int = 10,
                      dif_ratio: int = 3) -> None:
    """Split blocks at wide common whitespace gaps (``split_whitespaces``,
    ``ocr_tree_fix.py:945-1135``): per line, gaps ≥ ``dif_ratio`` × the
    blended average ``(line_avg·0.3 + doc_avg·0.7)/2`` become candidate
    intervals; a split is valid iff an interval combination intersects across
    *every* line (backtracking DFS); the cut is the widest common interval.
    A cut keeps words on both sides, so a block of one word never splits."""
    rows = page.rows
    out = list(rows)
    next_id = max((r.id for r in rows), default=0) + 1
    box = page.box
    for pos, b in enumerate(rows):
        if len(b.words) < 2 or page.is_empty(b, conf, only_text=True):
            continue
        # a line without a confident word or a wide gap keeps the block whole
        lines_seqs: list[list[list]] = []
        average = 0.0
        for ws in page.lines(b.words):
            ws = sorted(page.confident(ws, conf), key=lambda k: box[k][0])
            if not ws:
                break
            # the gaps [lo, hi] from the block's left edge to the first word,
            # between words, and from the last word to the right edge; a
            # non-positive interior gap is dropped (reference ``:995-1001``)
            edges = [b.box[0], *(x for k in ws for x in box[k][:2]), b.box[1]]
            gaps = [edges[m:m + 2] for m in range(0, len(edges), 2)]
            gaps = [gaps[0], *(gp for gp in gaps[1:-1] if gp[1] > gp[0]), gaps[-1]]
            average = (sum(hi - lo for lo, hi in gaps) / len(gaps) * 0.3 + avg_word_dist * 0.7) / 2
            seqs = [gp for gp in gaps if gp[1] - gp[0] >= dif_ratio * average]
            if not seqs:
                break
            lines_seqs.append(seqs)
        else:
            found = _common_interval(lines_seqs)
            if not found:
                continue
            left, right = found
            if right - left >= dif_ratio * average:
                parts = split_block(page, b, [left, right, b.box[2], b.box[3]],
                                    orientation="vertical")
                if len(parts) == 2:
                    parts[1].id = next_id
                    next_id += 1
                    out[pos] = parts[0]
                    out.append(parts[1])
    page.rows = out


def _common_interval(lines_seqs: list) -> tuple | None:
    """The first choice of one interval per line, by backtracking, whose
    consecutive choices chain-intersect; returns the running intersection."""
    def dfs(level: int, lo: int, hi: int):
        if level == len(lines_seqs):
            return (lo, hi)
        for iv in lines_seqs[level]:
            if iv[0] <= hi and lo <= iv[1]:
                r = dfs(level + 1, max(lo, iv[0]), min(hi, iv[1]))
                if r:
                    return r
        return None

    for first in lines_seqs[0]:
        found = dfs(1, first[0], first[1])
        if found:
            return found
    return None


def delimiters_fix(page: Page, conf: int = 10) -> None:
    """Fix delimiters (``delimiters_fix``, ``ocr_tree_fix.py:512-681``):
    inside an empty block → delete; inside/crossing a text block → split the
    block when the extended delimiter strip is word-free (area ratios 0.4
    horizontal / 0.1 vertical) and both sides keep text, else delete/shrink
    the delimiter; ≥50% inside an image → delete."""
    out = list(page.rows)
    next_id = max((r.id for r in page.rows), default=0) + 1
    box = page.box

    def in_strip(blk: Row, strip: list, ratio: float) -> list:
        return [k for k in page.confident(blk.words, conf)
                if max(g.pair_inter_area(strip, box[k]), 0) / max(_area(box[k]), 1) >= ratio]

    def split(blk: Row, j: int, cut: list, orientation: str) -> bool:
        parts = split_block(page, blk, cut, orientation=orientation)
        if len(parts) != 2:
            return False
        nonlocal next_id
        parts[1].id = next_id
        parts[1].type = blk.type
        next_id += 1
        out[j] = parts[0]
        out.append(parts[1])
        return True

    for d in [r for r in page.rows if r.type == "delimiter"]:
        if d not in out:
            continue
        orient = box_orientation(d.box)
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
            if page.is_empty(blk, conf, only_text=True) and blk.type != "image":
                j += 1
                continue
            inter_area = max(g.pair_inter_area(d.box, blk.box), 0)
            d_area = max(_area(d.box), 1)
            strip = list(d.box)
            if orient == "horizontal":
                strip[0], strip[1] = blk.box[0], blk.box[1]
            else:
                strip[2], strip[3] = blk.box[2], blk.box[3]
            if g.pair_is_inside(d.box, blk.box):
                # split the text block at a delimiter with a word-free strip
                # and confident words before it and after it, else drop it
                ws = page.confident(blk.words, conf)
                before = [k for k in ws if (box[k][3] <= d.box[2] if orient == "horizontal"
                                            else box[k][1] <= d.box[0])]
                if page.is_empty(blk, conf, only_text=True) or in_strip(blk, strip, 0.4) \
                        or not 0 < len(before) < len(ws) or not split(blk, j, d.box, "horizontal"):
                    out.remove(d)
                    break
            elif inter_area > 0:
                image = blk.type == "image" or (page.is_empty(blk, conf)
                                                and not page.is_delimiter(blk, conf))
                if inter_area / d_area >= 0.5 and image and blk.box[3] - blk.box[2] > 0:
                    out.remove(d)
                    break
                ratio = 0.1 if orient == "vertical" else 0.4
                if in_strip(blk, strip, ratio) or not split(blk, j, strip, orient):
                    d.box = g.remove_box_area(d.box, blk.box)
            j += 1
    page.rows = out


def unite_blocks(page: Page, conf: int = 10) -> None:
    """Merge same-type vertically-adjacent aligned blocks (``unite_blocks``,
    ``ocr_tree_fix.py:391-508``): the single aligned directly-below block of
    the same type joins upward (vertical-text and orientation compatibility
    checks; reject when the merged hull intersects other blocks ≥10%); when
    *all* directly-below blocks are same-type and aligned, they join
    horizontally first.  Vertical text is ``Document.vertical_mask`` over
    the target and its candidates as they stand."""
    from . import neighbors as nb

    out = list(page.rows)
    i = 0
    below_of = None  # directly_below over the whole block set, row per block
    while i < len(out):
        target = out[i]
        if below_of is None:
            bb = np.array([b.box for b in out], np.int64).reshape(-1, 4)
            below_of = nb.neighbor_matrices(bb, np.arange(len(out)), ("below",))["below"]
        below = [out[k] for k in np.nonzero(below_of[i])[0]]
        same = [b for b in below if b.type == target.type]
        if not page.is_empty(target, conf, only_text=True):
            vertical = page.document([target] + same).vertical_mask(conf).tolist()
            if vertical[0]:
                same = [b for b, v in zip(same, vertical[1:]) if v]
        else:
            same = [b for b in same if box_orientation(b.box) == box_orientation(target.box)]
        aligned = [b for b in same
                   if g.pair_within_horizontal(target.box, b.box, rng=0.1, only_self=True)]
        united = False
        if len(aligned) == 1:
            cand = aligned[0]
            hull = _hull([target.box, cand.box])
            conflict = any(
                b is not target and b is not cand
                and (ov := g.pair_inter_area(hull, b.box)) > 0
                and ov / max(_area(b.box), 1) >= 0.1
                for b in out)
            if not conflict:
                join_blocks(page, target, cand)
                out.remove(cand)
                united = True
        elif same and len(aligned) == len(same) == len(below) and len(same) > 1:
            row = sorted(aligned, key=lambda b: b.box[0])
            head = row[0]
            for nxt in row[1:]:
                join_blocks(page, head, nxt, orientation="horizontal")
                out.remove(nxt)
            join_blocks(page, target, head)
            out.remove(head)
            united = True
        if united:
            below_of = None  # boxes and block set changed
        else:
            i += 1
    page.rows = out


def remove_solo_words(page: Page, conf: int = 10) -> None:
    """Drop one-word blocks contained in a block of a different type
    (``remove_solo_words``, ``ocr_tree_fix.py:685-708``)."""
    out = []
    for b in page.rows:
        if not page.is_empty(b, conf):
            text = " ".join(page.texts(page.confident(b.words, conf))).strip()
            if len(text.split(" ")) == 1:
                if any(o is not b and o.type != b.type
                       and g.pair_is_inside(b.box, o.box) for o in page.rows):
                    continue
        out.append(b)
    page.rows = out


def find_text_titles(page: Page, normal_text_size: float,
                     avg_char_width: float, conf: int = 10) -> None:
    """Split title-looking lines out of text blocks (``find_text_titles``,
    ``ocr_tree_fix.py:712-796``): a line taller than normal text (title
    range) that follows ended text (or opens the block) becomes a new title
    block; the remainder of the block is split below it."""
    out = list(page.rows)
    next_id = max((r.id for r in page.rows), default=0) + 1
    box = page.box

    def mean_height(ws: list) -> float:
        return sum(box[k][3] - box[k][2] for k in ws) / len(ws)

    i = 0
    while i < len(out):
        b = out[i]
        i += 1
        if b.type == "title" or page.is_empty(b, conf):
            continue
        lines = page.lines(b.words)
        if len(lines) < 2:
            continue
        prev_text = ""
        for j, ws in enumerate(lines):
            ws_ok = page.confident(ws, conf)
            if not ws_ok:
                continue
            mh = mean_height(ws_ok)
            texts = page.texts(ws_ok)
            mw = sum(box[k][1] - box[k][0] for k in ws_ok) / max(sum(map(len, texts)), 1)
            title_range = not (normal_text_size * 0 <= mh <= normal_text_size * 2) or \
                not (avg_char_width * 0.5 <= mw <= avg_char_width * 1.5)
            is_title_line = mh > normal_text_size and title_range
            ended = (not re.search(r"[\d\w]+", prev_text)) or \
                (prev_text and prev_text[-1] in (".", "?", "!"))
            if is_title_line and ended:
                title_words = list(ws)
                # absorb following title lines
                for nxt in lines[j + 1:]:
                    nws = page.confident(nxt, conf)
                    if not nws or mean_height(nws) <= normal_text_size:
                        break
                    title_words += nxt
                for k in title_words:
                    page.par[k] = 0
                out.append(Row(next_id, "title", _hull([box[k] for k in title_words]),
                               title_words))
                next_id += 1
                taken = set(title_words)
                b.words = [k for k in b.words if k not in taken]
                b.box = page.hull(b.words) or b.box
                break
            prev_text = " ".join(texts).strip()
    page.rows = out


def remove_blocks_inside(page: Page, container_id: int) -> None:
    """Delete blocks fully contained in the given block
    (``remove_blocks_inside``, ``ocr_tree.py:1096-1106``)."""
    cont = next((b for b in page.rows if b.id == container_id), None)
    if cont is not None:
        page.rows = [b for b in page.rows
                     if b is cont or not g.pair_is_inside(b.box, cont.box)]


def translate_doc(doc: Document, dx: int, dy: int) -> Document:
    """Recursive box translate (``update_position``, ``ocr_tree.py:1123-``),
    vectorized over the whole document; returns a new ``Document``."""
    off = np.array([dx, dx, dy, dy], np.int64)
    return replace(doc, b_box=doc.b_box + off, w_box=doc.w_box + off)


def scale_doc(doc: Document, fx: float, fy: float) -> Document:
    """``scale_dimensions`` analog: multiply and floor coordinates; returns
    a new ``Document``."""
    sc = np.array([fx, fx, fy, fy])
    return replace(doc, b_box=(doc.b_box * sc).astype(np.int64),
                   w_box=(doc.w_box * sc).astype(np.int64))


def clean_doc(doc: Document, conf: int = 10) -> Document:
    """The reference's cleaning pipeline in normative order
    (``clean_ocr``, ``O/pipeline.py:708-819``): remove_nodes_conf →
    remove_empty_boxes → text_bound_box_fix → split_whitespaces →
    delimiters_fix → block_bound_box_fix.  (The image-space
    ``bound_box_fix_image`` stage is a no-op for HTML payloads.)  The only
    layout statistic the suite reads is the document's average word gap
    (``split_whitespaces``), so no full ``analyze_text`` runs here.  The
    whole-page passes all read the input document: each keeps words at the
    same ``conf``, and the typing reads the boxes as they were before
    ``text_bound_box_fix``."""
    avg_word_dist = average_word_distance(doc, conf=conf)
    page_box = _hull(doc.b_box.tolist()) if doc.n_blocks() else [0, 1, 0, 1]
    # type obvious delimiters so delimiters_fix can operate pre-categorize
    # (the reference's pipeline injects typed delimiter nodes before cleaning,
    # ``O/pipeline.py:653-698``; aspect detection is our payload's analog)
    types = doc.b_type.copy()
    untyped = np.fromiter((t is None for t in types), bool, len(types))
    types[untyped & doc.delimiter_mask(conf)] = "delimiter"
    page = Page(doc, words=remove_nodes_conf(doc, conf), types=types,
                blocks=remove_empty_boxes(doc, page_box, conf),
                boxes=text_bound_box_fix(doc, conf))
    split_whitespaces(page, avg_word_dist, conf=conf)
    delimiters_fix(page, conf=conf)
    block_bound_box_fix(page, conf=conf)
    return page.document()
