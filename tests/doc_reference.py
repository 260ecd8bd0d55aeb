"""Per-block reference implementations of the ``Document`` block properties.

Each function reads one block through a scan of the word table, the way the
reference's ``OCR_Tree`` methods walk one node; ``osdocr_spark.kernels.doc``
computes the same properties as whole-document passes.  The parity tests in
``test_kernels.py`` pin the two against each other, including word tables
whose blocks are interleaved.
"""

from __future__ import annotations

import re

import numpy as np

from osdocr_spark.kernels import geometry as g

_WORD_CHAR = re.compile(r"[\w\d]")


def words_of(doc, bi: int) -> np.ndarray:
    """Word indices of block ``bi`` in table order."""
    return np.nonzero(doc.w_block == bi)[0]


def _confident(doc, bi: int, conf: int) -> np.ndarray:
    wi = words_of(doc, bi)
    return wi[doc.w_conf[wi] >= conf] if conf >= 0 else wi


def line_table(doc, bi: int, conf: int = -1):
    """``(keys, line_boxes, word_counts)`` of one block's lines."""
    wi = _confident(doc, bi, conf)
    if len(wi) == 0:
        return (np.empty((0, 2), np.int64), np.empty((0, 4), np.int64),
                np.empty(0, np.int64))
    key = doc.w_par[wi] * 1_000_000 + doc.w_line[wi]
    uniq, inv = np.unique(key, return_inverse=True)
    nl = len(uniq)
    boxes = np.empty((nl, 4), dtype=np.int64)
    for c, fn in ((g.L, np.minimum), (g.R, np.maximum),
                  (g.T, np.minimum), (g.B, np.maximum)):
        init = np.full(nl, np.iinfo(np.int64).max if fn is np.minimum
                       else np.iinfo(np.int64).min)
        fn.at(init, inv, doc.w_box[wi, c])
        boxes[:, c] = init
    keys = np.stack([uniq // 1_000_000, uniq % 1_000_000], axis=1)
    return keys, boxes, np.bincount(inv, minlength=nl)


def mean_word_height(doc, bi: int, conf: int = -1) -> float:
    """``calculate_mean_height(level=5)`` (``ocr_tree.py:530-539``)."""
    wi = _confident(doc, bi, conf)
    if len(wi) == 0:
        return 0.0
    h = g.height(doc.w_box[wi])
    return float(h.sum()) / len(h)


def char_mean_width(doc, bi: int, conf: int = -1) -> float:
    """``calculate_character_mean_width`` (``ocr_tree.py:550-559``)."""
    wi = _confident(doc, bi, conf)
    nchars = sum(len(doc.w_text[i]) for i in wi)
    return float(g.width(doc.w_box[wi]).sum()) / nchars if nchars else 0.0


def vertical_geom(doc, bi: int) -> bool:
    """The geometric vote of ``is_vertical_text`` (``ocr_tree.py:613-657``)
    over unfiltered lines and words: one line → word aspect / x-overlap
    vote vs the widest word; several lines → y-overlap vote vs the tallest
    line."""
    keys, lboxes, _ = line_table(doc, bi)
    nlines = len(keys)
    if nlines == 0:
        return False
    if nlines == 1:
        wi = words_of(doc, bi)
        wboxes = doc.w_box[wi]
        if len(wi) == 1:
            return bool(g.height(wboxes[0]) >= g.width(wboxes[0]) * 2)
        widest = wboxes[int(np.argmax(g.width(wboxes)))]
        hits = g.within_horizontal(widest[None, :], wboxes, rng=0.1)
        # the reference counts every word except the widest itself
        overlapped = int(hits.sum()) - 1
        return overlapped / len(wi) >= 0.5
    tallest = lboxes[int(np.argmax(g.height(lboxes)))]
    hits = g.within_vertical(tallest[None, :], lboxes, rng=0.1)
    overlapped = int(hits.sum()) - 1
    return overlapped / nlines >= 0.5


def is_vertical_text(doc, bi: int, conf: int = 0) -> bool:
    """``is_vertical_text``: no ``[\\w\\d]`` word above ``conf`` → False,
    else the geometric vote."""
    if not any(_WORD_CHAR.search(doc.w_text[i]) for i in _confident(doc, bi, conf)):
        return False
    return vertical_geom(doc, bi)


def block_to_text(doc, bi: int, conf: int = 0,
                  text_delimiters: dict | None = None) -> str:
    """``to_text`` (``ocr_tree.py:689-713``) as the per-word walk: each
    paragraph prefixes ``par_delim``, each line ``line_delim``, each word
    above ``conf`` emits ``text + word_delim``."""
    d = text_delimiters or {}
    wd, ld, pd = d.get(5, " "), d.get(4, "\n"), d.get(3, "\n\t")
    out: list[str] = []
    last_par = None
    last_line = None
    for i in words_of(doc, bi):
        p = doc.w_par[i]
        ln = doc.w_line[i]
        if p != last_par:
            out.append(pd)
            last_par = p
            last_line = None
        if ln != last_line:
            out.append(ld)
            last_line = ln
        if doc.w_conf[i] >= conf:
            out.append(doc.w_text[i])
            out.append(wd)
    return "".join(out)
