"""Per-document end-to-end extraction kernel.

Mirrors the reference's target lifecycle (``O/pipeline.py:971-1093`` →
``run_target``; SURVEY.md §3.1) re-ordered for an HTML payload:

1. parse    — hOCR bytes → columnar :class:`Document` (ingest stage analog,
              ``engine_utils.py:88-109``)
2. analyze  — ``analyze_text`` stats (text sizes / columns / word gaps)
3. categorize — block type taxonomy + start/end-text flags
4. boilerplate strip — link-density mask (north_star component; replaces the
              image-space header/footer segmentation the reference delegates
              to the absent ``document_image_utils``; its box-space analog
              ``get_journal_areas`` is available as a standalone operator)
5. order    — attraction-weighted topological reading order over main blocks
              (``extract_articles`` path, ``ocr_tree_analyser.py:1919-1944``)
6. articles + emit — article isolation, assembly, ``to_txt`` with
              ``fix_hifenization``; raw bytes (parity artifact) + normalized
              text + per-block character spans read off that text
              (:func:`~osdocr_spark.kernels.emit.text_spans`).

The function is pure and deterministic — one Python call per document, all
inner loops numpy or O(blocks²) with tens of blocks.  The Spark layer feeds
it whole Arrow batches (:mod:`osdocr_spark.spark.stages`).
"""

from __future__ import annotations

from .analyzer import analyze_text
from .classify import boilerplate_mask, categorize_blocks
from .doc import Document
from .emit import article_to_txt, assemble_article, normalize_text, text_spans
from .fix import clean_doc
from .hocr import parse_hocr
from .order import graph_isolate_articles, sort_topologic_order, topologic_order_context

__all__ = ["extract_document", "extract_html"]


def extract_document(doc: Document, conf: int = 10, clean: bool = False) -> dict:
    """Run stages 2–6 over a parsed document, after the §2.9 fix suite
    (``kernels.fix.clean_doc`` — the reference's ``clean_ocr`` order) when
    ``clean``.  Returns a plain dict (arrow friendly): url, text
    (normalized), raw_text (byte-parity artifact), reading order, spans,
    per-article rows, and layout stats."""
    if clean:
        doc = clean_doc(doc, conf=conf)
    analysis = categorize_blocks(doc, conf=conf)
    bp = boilerplate_mask(doc)
    main_idx = [i for i in range(doc.n_blocks()) if not bp[i]]

    order: list[int] = []
    articles: list[list[int]] = []
    graph = topologic_order_context(doc, main_idx)
    if graph is not None:
        order = sort_topologic_order(doc, graph, sort_weight=True)
        articles = graph_isolate_articles(doc, order)

    assembled = [assemble_article(doc, art) for art in articles]
    raw = "".join(article_to_txt(a) for a in assembled)
    norm = normalize_text(raw)
    article_rows = [
        (idx,
         (a["title"] or "").strip(),
         "".join(payload for kind, payload in a["body"] if kind == "text").strip())
        for idx, a in enumerate(assembled)
    ]

    n_cols = len(analysis.get("columns", []))
    return {
        "url": doc.url,
        "text": norm,
        "raw_text": raw,
        "n_blocks": doc.n_blocks(),
        "n_main_blocks": len(main_idx),
        "n_articles": len(articles),
        "n_words": int(len(doc.w_text)),
        "normal_text_size": int(analysis.get("normal_text_size", 0)),
        "detected_columns": n_cols,
        "reading_order": [int(doc.b_id[i]) for i in order],
        "spans": text_spans(doc, assembled, norm),
        "article_rows": article_rows,
    }


def extract_html(url: str, html: bytes, conf: int = 10, clean: bool = False) -> dict:
    """Stage 1 + 2–6: parse, then :func:`extract_document`."""
    return extract_document(parse_hocr(html, url=url), conf, clean)
