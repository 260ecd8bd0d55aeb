#!/usr/bin/env python
"""Page-geometry jitter probe for the analyze layer (ungated).

Every generator page puts its rightmost block at the same x, so every
fixture page smooths a column histogram of the same length; a kernel whose
cost depends on histogram lengths repeating looks fine on the fixtures and
not on real scans.  This probe makes that visible without touching the
generator, a fixture or an oracle input: it parses ``DOCS`` sf plain pages
once, then times ``extract_document`` (``clean=False``) over them three ways,

  - as generated;
  - each parsed page shifted right by ``fix.translate_doc`` by a per-page
    offset drawn from [0, 400);
  - the same with offsets from [800, 1200);

and prints ms/doc (``time.process_time``; the best of ``ROUNDS`` rounds,
the three ways alternating within a round and each pass on its own freshly
parsed pages, so host drift hits all three alike) and the Whittaker factor
builds (misses of the smoothing factor cache) during each way's passes.
Before the passes, one page holding a single block at x = 10**6 is
extracted once, cold, and its time and peak RSS growth printed.

Usage::

    python scripts/jitter_probe.py sf_dir [--cpu K]

``--cpu K`` pins this process to core K (the figures are single-core).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = 400      # sf plain pages timed, doc_id < DOCS
SEED = 0        # seeds the per-page offsets
ROUNDS = 3      # alternating rounds; each way reports its best


def _vm_kb(key: str) -> int:
    """``VmRSS`` / ``VmHWM`` of this process, in kB."""
    with open("/proc/self/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="a generated scale-factor directory (sf0.1)")
    ap.add_argument("--cpu", type=int, default=None)
    args = ap.parse_args(argv)
    if args.cpu is not None:
        os.sched_setaffinity(0, {args.cpu})

    import duckdb
    import numpy as np
    from osdocr_spark.kernels import smoothing
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.fix import translate_doc
    from osdocr_spark.kernels.hocr import parse_hocr
    from osdocr_spark.kernels.pipeline import extract_document

    # first, while the process is fresh: its peak RSS growth is this call's
    far = (b"<html><body><div class='ocr_carea' id='block_1_1' "
           b"title='bbox 1000000 10 1000100 40'><p class='ocr_par' "
           b"title='bbox 1000000 10 1000100 40'><span class='ocr_line' "
           b"title='bbox 1000000 10 1000100 40'><span class='ocrx_word' "
           b"title='bbox 1000000 10 1000100 40; x_wconf 95'>far</span>"
           b"</span></p></div></body></html>")
    doc = parse_hocr(far, url="far")
    rss0 = _vm_kb("VmRSS")
    t0 = time.perf_counter()
    extract_document(doc)
    secs = time.perf_counter() - t0
    print(f"one block at x = 10**6: {secs:.3f} s, peak RSS "
          f"+{(_vm_kb('VmHWM') - rss0) / 1024:.1f} MB", flush=True)
    smoothing._dense_inverse.cache_clear()

    rows = duckdb.sql(
        f"select doc_id, text from '{args.sf_dir}/documents.parquet'"
        f" where doc_id < {DOCS} order by doc_id").fetchall()
    html = [(str(d), generate_page(d, t)) for d, t in rows]
    rng = np.random.default_rng(SEED)
    offsets = {"as generated": None,
               "offset [0, 400)": rng.integers(0, 400, len(html)),
               "offset [800, 1200)": rng.integers(800, 1200, len(html))}
    best = dict.fromkeys(offsets, float("inf"))
    builds = dict.fromkeys(offsets, 0)
    for _ in range(ROUNDS):              # modes alternate within a round
        for label, dxs in offsets.items():
            docs = [parse_hocr(h, url=u) for u, h in html]
            if dxs is not None:
                docs = [translate_doc(doc, int(dx), 0) for doc, dx in zip(docs, dxs)]
            misses = smoothing._dense_inverse.cache_info().misses
            t0 = time.process_time()
            for doc in docs:
                extract_document(doc)
            ms = (time.process_time() - t0) * 1e3 / len(docs)
            best[label] = min(best[label], ms)
            builds[label] += smoothing._dense_inverse.cache_info().misses - misses
    base = best["as generated"]
    for label, ms in best.items():
        print(f"{label:20s} {ms:8.3f} ms/doc  ({ms / base:.2f}x)  "
              f"factor builds {builds[label]}")

if __name__ == "__main__":
    main()
