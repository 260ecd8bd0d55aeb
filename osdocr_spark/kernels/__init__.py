"""Per-document layout-analysis kernels (pure numpy/pandas; no Spark imports).

Each module re-implements, from scratch, one slice of the reference's
layout-analysis core (citations are ``path:line`` into ``/root/reference``,
with ``O/`` = ``OSDOCR/OSDOCR/``):

- :mod:`.smoothing`   — Whittaker smoother + peak detection
  (replaces the external ``whittaker_eilers`` / ``scipy.signal`` deps used at
  ``O/ocr_tree_module/ocr_tree_analyser.py:11,59-68``).
- :mod:`.geometry`    — Box predicates, broadcast and one-pair forms
  (``O/aux_utils/box.py``).
- :mod:`.doc`         — the flat columnar document model (one numpy word
  table per document) replacing the recursive ``OCR_Tree``
  (``O/ocr_tree_module/ocr_tree.py:20-45``).
- :mod:`.analyzer`    — text-size / column / journal-area histogram analysis
  (``O/ocr_tree_module/ocr_tree_analyser.py:16-441``).
- :mod:`.classify`    — block categorization (``ocr_tree_analyser.py:1087-1231``).
- :mod:`.order`       — reading-order graph + attraction + topological sort +
  article isolation (``ocr_tree_analyser.py:1235-1829``).
- :mod:`.emit`        — text emission + hyphenization fix
  (``O/ocr_tree_module/ocr_tree.py:689-713``, ``O/output_module/text.py:6-18``,
  ``O/output_module/journal/article.py:45-229``).
- :mod:`.hocr`        — hOCR (XHTML) parser and writer
  (``O/ocr_tree_module/ocr_tree.py:131-267,307-382``).
- :mod:`.pipeline`    — the per-document end-to-end extraction kernel.
"""
