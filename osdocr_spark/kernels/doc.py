"""Columnar per-document model: flat numpy word table + block table.

Replaces the reference's recursive ``OCR_Tree`` (``O/ocr_tree_module/
ocr_tree.py:20-45``; levels ``0=document … 5=word``) with the flat columnar
layout the reference itself converts to at its hot spots (``to_dict``
``ocr_tree.py:292-305``, histogram kernels ``ocr_tree_analyser.py:34-52``):
document/page collapse into the row key, and blocks / paragraphs / lines /
words become index columns over one word table per document.

All predicates and aggregates mirror the ``OCR_Tree`` methods cited on each
function; word-order is generation (pre-order) order, which the reference's
``get_boxes_level`` DFS also yields — order is semantically load-bearing for
text emission (SURVEY.md §2.6).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

from . import geometry as g

_WORD_CHAR = re.compile(r"[\w\d]")
#: place values of the packed (block, par, line) key, see ``Document.line_key``
_KEY_BLOCK, _KEY_PAR = 1_000_000_000_000, 1_000_000
_I64 = np.iinfo(np.int64)


def delimiter_aspect(w, h):
    """The ≥4:1 aspect, either way, that makes an empty block a delimiter
    (``is_delimiter``, ``ocr_tree.py:588-600``); ints or arrays."""
    return (w >= h * 4) | (h >= w * 4)


def box_orientation(b) -> str:
    """One box's orientation: ``horizontal`` (wider than tall),
    ``vertical`` (taller than wide) or ``square``."""
    w, h = b[g.R] - b[g.L], b[g.B] - b[g.T]
    return "horizontal" if w > h else ("vertical" if w < h else "square")


def group_hulls(grp: np.ndarray, boxes: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The hull of every group's boxes, ``(n, 4)`` int64, and each group's
    box count; box ``i`` is in group ``grp[i]``.  A group without boxes
    gets left/top at the int64 maximum and right/bottom at the minimum."""
    hull = np.empty((n, 4), dtype=np.int64)
    for c, fn in ((g.L, np.minimum), (g.R, np.maximum),
                  (g.T, np.minimum), (g.B, np.maximum)):
        col = np.full(n, _I64.max if fn is np.minimum else _I64.min)
        fn.at(col, grp, boxes[:, c])
        hull[:, c] = col
    return hull, np.bincount(grp, minlength=n)


def _overlap_vote(grp: np.ndarray, boxes: np.ndarray, size: np.ndarray,
                  within, n_of: np.ndarray) -> np.ndarray:
    """Per group (block): do ≥50% of its ``n_of`` members lie ``within``
    (rng 0.1) the group's largest member, not counting that member itself?
    The largest is the first maximum of ``size`` in index order (the
    reference's ``np.argmax``), found by one lexsort over all members."""
    ng = len(n_of)
    order = np.lexsort((np.arange(len(grp)), -size, grp))
    first = np.ones(len(grp), dtype=bool)
    first[1:] = grp[order][1:] != grp[order][:-1]
    top_of = np.full(ng, -1, dtype=np.int64)
    top_of[grp[order][first]] = order[first]
    hits = within(boxes[top_of[grp]], boxes, rng=0.1)
    overlapped = np.bincount(grp, weights=hits, minlength=ng) - 1
    return np.divide(overlapped, n_of, out=np.zeros(ng), where=n_of > 0) >= 0.5


#: block type taxonomy (``ocr_tree_analyser.py:1202-1213``)
BLOCK_TYPES = ("text", "title", "caption", "image", "delimiter", "highlight", "table", "other")


@dataclass
class Document:
    """One parsed page.  Word arrays are aligned and in pre-order.

    Contract: the arrays are never reassigned after construction, and the
    word columns and ``b_box`` are never written in place — a mutation
    builds a new ``Document``: ``translate_doc`` and ``scale_doc`` replace
    columns, and ``fix.clean_doc`` edits block rows over its own copies of
    the written word columns (a ``fix.Page``) and gathers them into a new
    ``Document`` at the end.  Every per-block property (``words_of``,
    ``line_table``, the word metrics, the vertical verdict,
    ``block_to_text``) is one whole-document pass computed on first use
    and memoized per ``conf`` (and delimiters), so the per-block accessors
    are index reads.  Only the label columns
    ``b_id``/``b_type``/``b_start_text``/``b_end_text`` are written in
    place (categorize, id assignment); no memo reads them."""

    url: str
    #: (Nw, 4) int64 [left, right, top, bottom]
    w_box: np.ndarray
    #: (Nw,) int64 confidence 0–100, −1 sentinel (``ocr_tree.py:39``)
    w_conf: np.ndarray
    #: (Nw,) object — word text
    w_text: np.ndarray
    #: (Nw,) int64 — index into the block table
    w_block: np.ndarray
    #: (Nw,) int64 — paragraph number within block (level 3)
    w_par: np.ndarray
    #: (Nw,) int64 — line number within block (level 4)
    w_line: np.ndarray
    #: (Nw,) bool — word is anchor text (<a>); drives link-density boilerplate
    #: features (new-design component per BASELINE.json north_star)
    w_link: np.ndarray
    #: (Nb, 4) int64 block boxes
    b_box: np.ndarray
    #: (Nb,) int64 block ids (``id_boxes`` pre-order semantics, ``ocr_tree.py:451-493``)
    b_id: np.ndarray
    #: (Nb,) object — type tag or None (pre-categorization)
    b_type: np.ndarray
    #: categorizer flags (``ocr_tree_analyser.py:1170-1182``); None until set
    b_start_text: np.ndarray = field(default=None)
    b_end_text: np.ndarray = field(default=None)

    def __post_init__(self):
        nb = len(self.b_id)
        if self.b_start_text is None:
            self.b_start_text = np.full(nb, None, dtype=object)
        if self.b_end_text is None:
            self.b_end_text = np.full(nb, None, dtype=object)
        # per-word "contains a word character" — vectorized once, reused by
        # every is_empty-style predicate (``ocr_tree.py:570-577``)
        self._w_has_char = np.fromiter(
            (bool(_WORD_CHAR.search(t)) for t in self.w_text), dtype=bool, count=len(self.w_text)
        )
        self._w_len = None
        self._w_nonblank_arr: np.ndarray | None = None
        self._word_order_memo = None
        self._line_key_memo: np.ndarray | None = None
        self._line_cache: dict = {}
        self._nonempty_cache: dict = {}
        self._metric_arr_cache: dict = {}
        self._vvote: np.ndarray | None = None
        self._text_cache: dict = {}

    def w_nonblank(self) -> np.ndarray:
        """Per-word ``bool(text.strip())`` — computed once, reused by every
        word-count aggregate (classifier title arm, column histogram)."""
        if self._w_nonblank_arr is None:
            self._w_nonblank_arr = np.fromiter(
                (bool(t.strip()) for t in self.w_text), dtype=bool,
                count=len(self.w_text))
        return self._w_nonblank_arr

    # ---------------------------------------------------------------- words
    def n_blocks(self) -> int:
        return len(self.b_id)

    def _word_order(self) -> tuple[np.ndarray, np.ndarray]:
        """``(order, starts)``: the stable argsort of ``w_block`` and the
        per-block offsets into it — block ``bi``'s words, in pre-order, are
        ``order[starts[bi]:starts[bi + 1]]``.  The identity on parsed pages
        (words arrive grouped by block); computed on first use."""
        if self._word_order_memo is None:
            order = np.argsort(self.w_block, kind="stable")
            starts = np.searchsorted(self.w_block[order],
                                     np.arange(self.n_blocks() + 1))
            self._word_order_memo = (order, starts)
        return self._word_order_memo

    def line_key(self) -> np.ndarray:
        """Per-word packed line key ``w_block·10¹² + w_par·10⁶ + w_line``
        (int64): equal keys are one line, and key order is (block, par,
        line) order.  Computed on first use."""
        if self._line_key_memo is None:
            self._line_key_memo = (self.w_block.astype(np.int64) * _KEY_BLOCK
                                   + self.w_par * _KEY_PAR + self.w_line)
        return self._line_key_memo

    def words_of(self, bi: int) -> np.ndarray:
        """Word indices of block ``bi`` in pre-order."""
        order, starts = self._word_order()
        return order[starts[bi]:starts[bi + 1]]

    def block_words(self, words: np.ndarray | None = None) -> list[list[int]]:
        """Every block's word indices in pre-order as Python lists, keeping
        only the words in the ``words`` mask when one is given."""
        order, starts = self._word_order()
        if words is not None:
            order = order[words[order]]
            starts = np.searchsorted(self.w_block[order], np.arange(self.n_blocks() + 1))
        flat, bounds = order.tolist(), starts.tolist()
        return [flat[s:e] for s, e in zip(bounds[:-1], bounds[1:])]

    # ---------------------------------------------------------- block preds
    def block_is_empty(self, bi: int, conf: int = 0, only_text: bool = False) -> bool:
        """``OCR_Tree.is_empty`` (``ocr_tree.py:570-577``): no ``[\\w\\d]``
        text above ``conf``.  Images are never empty unless ``only_text``."""
        if not only_text and self.b_type[bi] == "image":
            return False
        return not bool(self.nonempty_mask(conf)[bi])

    def text_word_mask(self, conf: int = 0) -> np.ndarray:
        """Per-word bool mask: the word has ``[\\w\\d]`` text at
        confidence ≥ ``conf`` — a block is empty when none of its words
        has it."""
        return (self.w_conf >= conf) & self._w_has_char

    def nonempty_mask(self, conf: int = 0) -> np.ndarray:
        """Whole-document bool mask: block has ``[\\w\\d]`` text above
        ``conf`` — the vectorized complement of ``is_empty(only_text=True)``
        (one bincount serves every block; memoized per conf)."""
        nonempty = self._nonempty_cache.get(conf)
        if nonempty is None:
            nonempty = np.bincount(self.w_block[self.text_word_mask(conf)],
                                   minlength=self.n_blocks()) > 0
            self._nonempty_cache[conf] = nonempty
        return nonempty

    def block_is_delimiter(self, bi: int, conf: int = 0, only_type: bool = False) -> bool:
        """``is_delimiter`` (``ocr_tree.py:588-600``): typed, or empty with
        the delimiter aspect."""
        if self.b_type[bi] == "delimiter":
            return True
        if only_type:
            return False
        b = self.b_box[bi]
        return self.block_is_empty(bi, conf) and delimiter_aspect(
            int(g.width(b)), int(g.height(b)))

    def delimiter_mask(self, conf: int = 0) -> np.ndarray:
        """Whole-document ``block_is_delimiter``: typed delimiter, or a
        non-image block empty at ``conf`` with the delimiter aspect.  Not
        memoized, since it reads ``b_type``."""
        t = self.b_type
        empty = ~self.nonempty_mask(conf) & (t != "image")
        return (t == "delimiter") | (empty & delimiter_aspect(
            g.width(self.b_box), g.height(self.b_box)))

    def block_is_image(self, bi: int, conf: int = 0, text_size: int = 0,
                       only_type: bool = False) -> bool:
        """``is_image`` (``ocr_tree.py:602-611``)."""
        if only_type:
            return self.b_type[bi] == "image"
        if self.b_type[bi] == "image" or (
            self.block_is_empty(bi, conf) and not self.block_is_delimiter(bi, conf)
        ):
            return int(g.height(self.b_box[bi])) > text_size * 3
        return False

    # --------------------------------------------------------------- lines
    def line_table(self, bi: int, conf: int = -1):
        """Per-line boxes of a block: returns ``(keys, line_boxes, word_counts)``
        where keys are the block's (par, line) pairs in ascending order.

        Lines are the level-4 nodes of the reference tree; their boxes are
        the hulls of their words (the parse stage already guarantees this,
        matching ``text_bound_box_fix`` semantics ``ocr_tree_fix.py:211-256``).
        An index read into ``_line_hulls(conf)``."""
        return self._line_hulls(conf)[2][bi]

    def _line_hulls(self, conf: int):
        """Every line of the page at ``conf`` in one whole-document
        unique+bincount pass: ``(line_block, line_boxes, tables)`` with the
        lines in (block, par, line) order and ``tables[bi]`` the block's
        ``line_table`` slice.  Memoized per conf."""
        hit = self._line_cache.get(conf)
        if hit is not None:
            return hit
        wi = np.arange(len(self.w_text))
        if conf >= 0:
            wi = wi[self.w_conf >= conf]
        uniq, inv = np.unique(self.line_key()[wi], return_inverse=True)
        boxes, counts = group_hulls(inv, self.w_box[wi], len(uniq))
        blk = uniq // _KEY_BLOCK
        rem = uniq % _KEY_BLOCK
        keys = np.stack([rem // _KEY_PAR, rem % _KEY_PAR], axis=1)
        bounds = np.searchsorted(blk, np.arange(self.n_blocks() + 1)).tolist()
        tables = [(keys[s:e], boxes[s:e], counts[s:e])
                  for s, e in zip(bounds[:-1], bounds[1:])]
        hit = self._line_cache[conf] = (blk, boxes, tables)
        return hit

    def block_metric_arrays(self, conf: int = -1) -> tuple[np.ndarray, np.ndarray]:
        """Whole-document (mean_word_height, char_mean_width) arrays, one
        bincount pass per conf (memoized).  Box coordinates and char counts
        are integers, so ``np.bincount``'s float64 sums equal the
        reference's per-block ``.sum()`` exactly (< 2^53), and elementwise
        IEEE division equals the scalar ``float(hsum)/cnt`` bit-for-bit."""
        hit = self._metric_arr_cache.get(conf)
        if hit is not None:
            return hit
        nw = len(self.w_text)
        if self._w_len is None:
            self._w_len = np.fromiter((len(t) for t in self.w_text),
                                      np.int64, nw)
        if conf >= 0 and nw:
            mask = self.w_conf >= conf
            wb, box, wl = self.w_block[mask], self.w_box[mask], self._w_len[mask]
        else:
            wb, box, wl = self.w_block, self.w_box, self._w_len
        nb = self.n_blocks()
        cnt = np.bincount(wb, minlength=nb)
        zeros = lambda: np.zeros(nb)
        hsum = np.bincount(wb, weights=g.height(box), minlength=nb) if len(wb) else zeros()
        wsum = np.bincount(wb, weights=g.width(box), minlength=nb) if len(wb) else zeros()
        csum = np.bincount(wb, weights=wl, minlength=nb) if len(wb) else zeros()
        mh = np.divide(hsum, cnt, out=np.zeros(nb), where=cnt > 0)
        cw = np.divide(wsum, csum, out=np.zeros(nb), where=csum > 0)
        hit = (mh, cw)
        self._metric_arr_cache[conf] = hit
        return hit

    def block_mean_word_height(self, bi: int, conf: int = -1) -> float:
        """``calculate_mean_height(level=5)`` (``ocr_tree.py:530-539``)."""
        return float(self.block_metric_arrays(conf)[0][bi])

    def block_char_mean_width(self, bi: int, conf: int = -1) -> float:
        """``calculate_character_mean_width`` (``ocr_tree.py:550-559``)."""
        return float(self.block_metric_arrays(conf)[1][bi])

    def block_is_text_size(self, bi: int, text_size: float, mean_height: float | None = None,
                           rng: float = 0.3, conf: int = -1) -> bool:
        """``is_text_size`` (``ocr_tree.py:541-548``)."""
        mh = mean_height if mean_height else self.block_mean_word_height(bi, conf)
        return text_size * (1 - rng) <= mh <= text_size * (1 + rng)

    def block_is_vertical_text(self, bi: int, conf: int = 0) -> bool:
        """``is_vertical_text`` (``ocr_tree.py:613-657``) — an index read
        into ``vertical_mask``."""
        return bool(self.nonempty_mask(conf)[bi] and self._vertical_vote()[bi])

    def vertical_mask(self, conf: int = 0) -> np.ndarray:
        """Whole-document ``is_vertical_text`` (``ocr_tree.py:613-657``):
        a non-empty block (at ``conf``) whose geometry votes vertical."""
        return self.nonempty_mask(conf) & self._vertical_vote()

    def _vertical_vote(self) -> np.ndarray:
        """The geometric vertical vote of every block in one pass (memoized;
        the reference reads unfiltered lines and words, so it has no conf):
        one line → a one-word block is vertical when ``height >= 2·width``,
        otherwise its words vote on overlapping the widest word
        horizontally; several lines → the lines vote on overlapping the
        tallest line vertically.  Ties go to the first maximum in word /
        (par, line) order, so the verdict does not depend on how the word
        table is ordered."""
        if self._vvote is not None:
            return self._vvote
        nb = self.n_blocks()
        wb = self.w_block
        lblk, lbox, _ = self._line_hulls(-1)
        nlines = np.bincount(lblk, minlength=nb)
        wcnt = np.bincount(wb, minlength=nb)
        verdict = np.zeros(nb, dtype=bool)  # nlines == 0 → False

        # single-word blocks: aspect test on the only word
        w_of = np.full(nb, -1, dtype=np.int64)
        w_of[wb] = np.arange(len(wb))
        sw = np.nonzero(wcnt == 1)[0]
        if len(sw):
            wbx = self.w_box[w_of[sw]]
            verdict[sw] = g.height(wbx) >= g.width(wbx) * 2

        # single-line multi-word blocks: x-overlap vote vs the widest word
        sl = (nlines == 1) & (wcnt > 1)
        if sl.any():
            vote = _overlap_vote(wb, self.w_box, g.width(self.w_box),
                                 g.within_horizontal, wcnt)
            verdict[sl] = vote[sl]
        # multi-line blocks: y-overlap vote vs the tallest line
        ml = nlines >= 2
        if ml.any():
            vote = _overlap_vote(lblk, lbox, g.height(lbox), g.within_vertical,
                                 nlines)
            verdict[ml] = vote[ml]
        self._vvote = verdict
        return verdict

    # ---------------------------------------------------------------- text
    def block_to_text(self, bi: int, conf: int = 0, text_delimiters: dict | None = None) -> str:
        """``to_text`` (``ocr_tree.py:689-713``): each word emits
        ``text + word_delim``; each line prefixes ``line_delim``; each
        paragraph prefixes ``par_delim``.  Defaults ``{5:' ',4:'\\n',3:'\\n\\t'}``.
        An index read into ``_render_blocks`` (memoized per conf and
        delimiters)."""
        wd, ld, pd = " ", "\n", "\n\t"
        if text_delimiters:
            wd = text_delimiters.get(5, " ")
            ld = text_delimiters.get(4, "\n")
            pd = text_delimiters.get(3, "\n\t")
        key = (conf, wd, ld, pd)
        texts = self._text_cache.get(key)
        if texts is None:
            texts = self._text_cache[key] = self._render_blocks(conf, wd, ld, pd)
        return texts[bi]

    def _render_blocks(self, conf: int, wd: str, ld: str, pd: str) -> list[str]:
        """Every block's ``to_text`` in one pass over the words in block
        order.  The reference's per-word state machine reduces to three
        change masks — a block start always emits par+line delims, a
        paragraph change re-emits both, a line change emits the line delim
        — so each word's emission is a pure function of (prev word, this
        word), and the page renders as three object-array concats plus one
        join per block."""
        order, starts = self._word_order()
        n = len(order)
        wb, par, line = self.w_block[order], self.w_par[order], self.w_line[order]
        first = np.empty(n, dtype=bool)
        first[:1] = True
        np.not_equal(wb[1:], wb[:-1], out=first[1:])
        parchg = first.copy()
        parchg[1:] |= par[1:] != par[:-1]
        linechg = parchg.copy()
        linechg[1:] |= line[1:] != line[:-1]
        ok = self.w_conf[order] >= conf
        texts = np.asarray(self.w_text, dtype=object)[order]
        body = np.full(n, "", dtype=object)
        if ok.any():
            body[ok] = texts[ok] + wd
        pieces = np.where(parchg, pd + ld, np.where(linechg, ld, "")).astype(object)
        pieces += body
        plist = pieces.tolist()
        bounds = starts.tolist()
        return ["".join(plist[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]

    def conf_sum(self, bi: int | None = None) -> tuple[int, int]:
        """(Σ conf, count) partial aggregate (``conf_sum``,
        ``ocr_tree.py:1109-1120`` — literally a hand-written partial+final
        agg; here one vectorized sum)."""
        sel = self.words_of(bi) if bi is not None else np.arange(len(self.w_conf))
        return int(self.w_conf[sel].sum()), int(len(sel))

    def get_delimiters(self, search_area: np.ndarray | None = None,
                       orientation: str | None = None, conf: int = 0) -> list[int]:
        """Delimiter blocks, optionally restricted to an area / orientation
        (``get_delimiters``, ``ocr_tree.py:671-686``)."""
        mask = self.delimiter_mask(conf)
        if search_area is not None:
            mask &= g.is_inside(self.b_box, np.asarray(search_area))
        return [bi for bi in np.flatnonzero(mask).tolist()
                if not orientation or box_orientation(self.b_box[bi]) == orientation]

    def blocks_intersect_area(self, area: np.ndarray, area_ratio: float = 0.0,
                              ignore_type: tuple = ()) -> np.ndarray:
        """Blocks intersecting ``area`` with a minimum overlap ratio
        (``get_boxes_intersect_area``, ``ocr_tree.py:739-762``)."""
        hit = g.intersects(self.b_box, area[None, :], inside=True)
        if area_ratio > 0:
            ov = g.overlap_area(self.b_box, area[None, :]).astype(np.float64)
            ba = np.maximum(g.area(self.b_box), 0)
            ratio = np.where(ba > 0, ov / np.maximum(ba, 1), 1.0)
            hit = hit & ((ba == 0) | (ratio >= area_ratio))
        if ignore_type:
            tmask = np.fromiter((t not in ignore_type for t in self.b_type), bool, len(self.b_type))
            hit = hit & tmask
        return np.nonzero(hit)[0]

    def blocks_in_area(self, area: np.ndarray, ignore_type: tuple = ()) -> np.ndarray:
        """Block indices fully inside ``area`` (``get_boxes_in_area``,
        ``ocr_tree.py:725-736``)."""
        mask = g.is_inside(self.b_box, area[None, :])
        if ignore_type:
            tmask = np.fromiter((t not in ignore_type for t in self.b_type), bool, len(self.b_type))
            mask = mask & tmask
        return np.nonzero(mask)[0]
