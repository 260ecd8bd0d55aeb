"""hOCR (XHTML) parsing and serialization.

The reference ingests hOCR with a regex attribute parser and a level-driven
stack (``O/ocr_tree_module/ocr_tree.py:131-267``; the same stack algorithm
tree-ifies Tesseract dicts, ``O/ocr_engines/engine_utils.py:88-109``) and
serializes trees back to hOCR (``ocr_tree.py:307-382``).  This module
re-expresses both over the flat columnar :class:`Document`:

- :func:`parse_hocr` — one compiled-regex scan over the byte stream; element
  class → level (block=2, par=3, line=4, word=5), ``bbox``/``x_wconf`` pulled
  from the ``title`` attribute, ``<a>`` anchors recorded per word as the
  link-density feature.  Missing par/line parents are synthesized, matching
  the reference's tolerance for flat hOCR.
- :func:`to_hocr` — inverse writer (round-trip tested).

Parsing is per document but one Python call handles a whole Arrow batch of
documents upstream; inside, work is regex + list appends (no per-row Python
at the Spark layer).
"""

from __future__ import annotations

import html as _html
import re

import numpy as np

from .doc import Document

__all__ = ["parse_hocr", "to_hocr"]

# Inner-content scan: text runs may contain a bare '<' that does not start
# a tag (next char not alnum, '/' or '!'), e.g. 'a < b' — preserved, like
# the reference's BeautifulSoup get_text(); real non-span tags (<a>, <b>…)
# are crossed by the tag alternative; a '<span'/'</span' boundary is never
# crossed, so an unclosed word span still yields group(3)=None rather than
# swallowing the next word.  Linear (no per-character backtracking).
_TEXT_RUN = r"(?:[^<]|<(?![A-Za-z/!]))*"
# The title group nests an optional fast capture of the Tesseract attr
# shape ("bbox L T R B" / "bbox L T R B; x_wconf C") so the common case
# parses in the same C-level scan; any other attr order leaves the nested
# groups None and the per-element fallback below handles it.
_ELEM = re.compile(
    r"<(?:div|p|span)[^>]*?class=['\"](ocr_page|ocr_carea|ocr_par|ocr_line|ocrx_word)['\"]"
    r"[^>]*?title=['\"]("
    r"(?:bbox (-?\d+) (-?\d+) (-?\d+) (-?\d+)(?:; x_wconf (-?\d+))?)?"
    r"[^'\"]*)['\"][^>]*>"
    r"(?:(" + _TEXT_RUN + r"(?:<(?!/?span\b)[^>]*>" + _TEXT_RUN + r")*)</span>)?",
    re.DOTALL,
)
_WCONF = re.compile(r"x_wconf (-?\d+)")
# fast path: hOCR title attrs put x_wconf after bbox (Tesseract order); one
# search replaces two.  Falls back to the separate searches when the
# combined shape doesn't match (arbitrary attr order stays supported).
_TITLE_FAST = re.compile(
    r"bbox (-?\d+) (-?\d+) (-?\d+) (-?\d+)(?:.*?x_wconf (-?\d+))?")
_TAG = re.compile(r"<[^>]+>")

_LEVEL = {"ocr_page": 1, "ocr_carea": 2, "ocr_par": 3, "ocr_line": 4, "ocrx_word": 5}


def parse_hocr(data: bytes | str, url: str = "", default_conf: int = -1) -> Document:
    """Parse hOCR bytes into a :class:`Document` (``from_hocr`` semantics,
    ``ocr_tree.py:186-267``: bbox/x_wconf from title attrs, level from
    element class, word text from span content)."""
    text = data.decode("utf-8", errors="replace") if isinstance(data, (bytes, bytearray)) else data

    # coordinates stay STRINGS through the loop; one numpy str→int64 bulk
    # conversion at the end replaces ~5 int() calls per element (r5: the
    # per-match loop was the parse hot spot after the single-scan regex)
    wb_s: list[str] = []          # flat [x0, x1, y0, y1, ...] per word
    w_conf_s: list[str] = []
    w_text: list[str] = []
    w_block: list[int] = []
    w_par: list[int] = []
    w_line: list[int] = []
    w_link: list[bool] = []
    bb_s: list[str] = []          # flat [x0, x1, y0, y1, ...] per block

    dflt = str(default_conf)
    block = -1
    par = -1
    line = -1
    for cls, title, x0, y0, x1, y1, conf, inner in _ELEM.findall(text):
        if not x0:  # non-Tesseract attr order: per-element fallback
            bm = _TITLE_FAST.search(title)
            if not bm:
                continue
            x0, y0, x1, y1, conf = bm.group(1, 2, 3, 4, 5)
        level = _LEVEL[cls]
        if level == 1:
            continue
        if level == 2:
            bb_s += (x0, x1, y0, y1)
            block += 1
            par = -1
            line = -1
        elif level == 3:
            par += 1
            line = -1
        elif level == 4:
            line += 1
        else:  # word
            if block < 0:  # flat hOCR: synthesize missing parents
                bb_s += (x0, x1, y0, y1)
                block += 1
            if not conf:  # x_wconf elsewhere in the title, or absent
                cm = _WCONF.search(title)
                conf = cm.group(1) if cm else dflt
            is_link = "<a" in inner
            # tag-strip only when a tag can exist (most words are plain text)
            word = _TAG.sub("", inner) if "<" in inner else inner
            word = _html.unescape(word).strip()
            wb_s += (x0, x1, y0, y1)
            w_conf_s.append(conf)
            w_text.append(word)
            w_block.append(block)
            w_par.append(par if par > 0 else 0)
            w_line.append(line if line > 0 else 0)
            w_link.append(is_link)

    nb = len(bb_s) // 4
    return Document(
        url=url,
        w_box=np.array(wb_s, dtype=np.int64).reshape(-1, 4),
        w_conf=np.array(w_conf_s, dtype=np.int64),
        w_text=np.array(w_text, dtype=object),
        w_block=np.array(w_block, dtype=np.int64),
        w_par=np.array(w_par, dtype=np.int64),
        w_line=np.array(w_line, dtype=np.int64),
        w_link=np.array(w_link, dtype=bool),
        b_box=np.array(bb_s, dtype=np.int64).reshape(-1, 4),
        b_id=np.arange(nb, dtype=np.int64),
        b_type=np.full(nb, None, dtype=object),
    )


def to_hocr(doc: Document, page_w: int | None = None, page_h: int | None = None) -> bytes:
    """Serialize a :class:`Document` back to hOCR (``to_hocr``,
    ``ocr_tree.py:307-382`` shape: page → carea → par → line → word)."""
    if page_w is None:
        page_w = int(doc.b_box[:, 1].max()) + 1 if doc.n_blocks() else 1
    if page_h is None:
        page_h = int(doc.b_box[:, 3].max()) + 1 if doc.n_blocks() else 1
    out = [
        "<!DOCTYPE html>\n<html><body>",
        f"<div class='ocr_page' id='page_1' title='bbox 0 0 {page_w} {page_h}'>",
    ]
    for bi in range(doc.n_blocks()):
        l, r, t, b = (int(v) for v in doc.b_box[bi])
        out.append(f"<div class='ocr_carea' id='block_1_{bi + 1}' title='bbox {l} {t} {r} {b}'>")
        wi = doc.words_of(bi)
        last_par = last_line = None
        for i in wi:
            p, ln = int(doc.w_par[i]), int(doc.w_line[i])
            if p != last_par:
                if last_par is not None:
                    out.append("</span></p>")
                out.append(f"<p class='ocr_par' id='par_{bi + 1}_{p + 1}' title='bbox {l} {t} {r} {b}'>")
                last_par, last_line = p, None
            if ln != last_line:
                if last_line is not None:
                    out.append("</span>")
                out.append(f"<span class='ocr_line' id='line_{bi + 1}_{ln + 1}' title='bbox {l} {t} {r} {b}'>")
                last_line = ln
            wl, wr, wt, wb = (int(v) for v in doc.w_box[i])
            word = _html.escape(doc.w_text[i])
            if doc.w_link[i]:
                word = f"<a href='#'>{word}</a>"
            out.append(
                f"<span class='ocrx_word' id='word_{bi + 1}_{i + 1}' "
                f"title='bbox {wl} {wt} {wr} {wb}; x_wconf {int(doc.w_conf[i])}'>{word}</span>"
            )
        if last_line is not None:
            out.append("</span></p>")
        out.append("</div>")
    out.append("</div></body></html>")
    return "\n".join(out).encode("utf-8")
