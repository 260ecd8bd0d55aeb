"""Sequential reference twin of ``kernels.classify.categorize_blocks``.

The reference decision tree (``categorize_boxes``,
``ocr_tree_analyser.py:1087-1231``) as one Python pass over the blocks in
order — the form the package replaced with whole-document masks.  Kept
only as the parity baseline (``tests/test_kernels.py``).
"""

from __future__ import annotations

import numpy as np

from osdocr_spark.kernels import neighbors as nb
from osdocr_spark.kernels.analyzer import analyze_text
from osdocr_spark.kernels.classify import _start_end_flags
from osdocr_spark.kernels.doc import Document


def _categorize_blocks_loop(doc: Document, conf: int = 10,
                            override: bool = False,
                            analysis: dict | None = None) -> dict:
    """The sequential reference decision tree — kept verbatim as the parity
    baseline for the vectorized path; ``override=True`` re-types typed blocks."""
    if analysis is None:
        analysis = analyze_text(doc, conf=conf)
    normal = analysis.get("normal_text_size", 0)
    avg_char_w = analysis.get("average_character_width", 0.0)
    all_idx = np.arange(doc.n_blocks())
    # one all-pairs pass instead of a per-block strip+prune semi-join call
    above_tbl = nb.neighbor_tables(doc.b_box, all_idx, kinds=("above",))["above"]

    for bi in range(doc.n_blocks()):
        if doc.b_type[bi] is not None and not override:
            continue
        btype = None
        if doc.block_is_empty(bi, conf=conf, only_text=True):
            btype = "delimiter" if doc.block_is_delimiter(bi, conf=conf) else "other"
        else:
            mh = doc.block_mean_word_height(bi, conf=conf)
            mw = doc.block_char_mean_width(bi, conf=conf)
            is_text_size = doc.block_is_text_size(bi, normal, mean_height=mh, rng=0.1)
            title_range = (
                not doc.block_is_text_size(bi, normal, mean_height=mh, rng=1.0)
                or not (avg_char_w * 0.5 <= mw <= avg_char_w * 1.5)
            )
            above = above_tbl[bi]

            if is_text_size and not title_range:
                if not any(doc.block_is_image(ai, conf=conf) for ai in above):
                    btype = "text"
                else:
                    btype = "caption"
            elif doc.block_is_vertical_text(bi, conf=conf):
                btype = "text"
            elif mh > normal and title_range:
                wi = doc.words_of(bi)
                nwords = sum(1 for i in wi
                             if doc.w_conf[i] >= conf and doc.w_text[i].strip())
                btype = "title" if nwords < 10 else "highlight"
            elif mh < normal and any(
                doc.block_is_image(ai, conf=conf) or doc.b_type[ai] == "caption"
                for ai in above
            ):
                btype = "caption"

            # continuation flags use a min conf of 50 (``:1167-1169``)
            text = doc.block_to_text(bi, conf=max(50, conf)).strip()
            start, end = _start_end_flags(text)
            doc.b_start_text[bi] = start
            doc.b_end_text[bi] = end

        if btype is None:
            btype = "text" if not doc.block_is_empty(bi, conf=conf) else "other"
        doc.b_type[bi] = btype
    return analysis
