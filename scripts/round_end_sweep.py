#!/usr/bin/env python
"""Round-end full-sf0.1 kernel sweep (NOTES.md protocol).

The driver's correctness gate runs at sf0.01 (500 docs); rare arithmetic
combinations only materialize at sf0.1 (5000 docs) — round 3's
multi-article headline-span collision produced 7 byte-parity failures at
sf0.1 and ZERO at smaller scales.  This sweep re-derives every extraction
truth kernel-side (no Spark) over the full sf0.1 corpus:

  1. byte parity, plain layout        (extracted text == normalized source)
  2. byte parity, noisy layout        (fix suite exercised end-to-end)
  3. byte parity, multi-article       (+ article isolation finds 2 articles
                                       whenever the layout plants 2)
  4. byte parity, adversarial layouts (ragged/caption/vertical/>127-block)
  5. detected_columns == generated n_cols; normal_text_size == generated
  6. span tiling, every variant (spans exactly tile [0, len(text)-1],
     gap 1 between)
  7. 3-way reading-order agreement (graph == naive == naive-context)

Usage::

    python scripts/round_end_sweep.py [sf_dir] [--procs N]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: the page layouts every document is rendered and extracted in
VARIANTS = ("plain", "noisy", "multi", "adversarial", "crossed")


def _norm(t: str) -> str:
    return re.sub(r"\s+", " ", t).strip()


def check_doc(args: tuple[int, str]) -> list[str]:
    """All sweep checks for one document; returns failure strings."""
    from osdocr_spark.kernels.corpus import (generate_page,
                                             generate_page_adversarial,
                                             layout_params)
    from osdocr_spark.kernels.hocr import parse_hocr
    from osdocr_spark.kernels.classify import boilerplate_mask, categorize_blocks
    from osdocr_spark.kernels.order import (sort_topologic_order,
                                            topologic_order_context)
    from osdocr_spark.kernels.order_naive import (reading_order_naive,
                                                  reading_order_naive_context)
    from osdocr_spark.kernels.pipeline import extract_html

    doc_id, text = args
    url = str(doc_id)
    want = _norm(text)
    fails: list[str] = []

    variants = dict(zip(VARIANTS, (
        generate_page(doc_id, text),
        generate_page(doc_id, text, noisy=True),
        generate_page(doc_id, text, multi_article=True),
        generate_page_adversarial(doc_id, text),
        # round-5 crossed gauntlet: fix-suite defects + 2nd-article headline
        # injected INTO the five irregular families, all at once
        generate_page_adversarial(doc_id, text, noisy=True, multi_article=True),
    ), strict=True))
    results = {}
    for name, html in variants.items():
        r = extract_html(url, html, clean=(name in ("noisy", "crossed")))
        results[name] = r
        if r["text"] != want:
            fails.append(f"{doc_id}:{name}:byte-parity")

    lp = layout_params(doc_id, len(text.split()))
    plain = results["plain"]
    if plain["detected_columns"] != lp["n_cols"]:
        fails.append(f"{doc_id}:detected_columns "
                     f"{plain['detected_columns']}!={lp['n_cols']}")
    if plain["normal_text_size"] != lp["size"]:
        fails.append(f"{doc_id}:normal_text_size "
                     f"{plain['normal_text_size']}!={lp['size']}")
    # multi-article truth: the generator plants a 2nd headline only when
    # >= 6 body words remain for article 2 (corpus.py multi bail-out);
    # when it bails the page is byte-identical to plain — so "did the
    # bytes change" IS the derivable expected-article-count signal
    want_arts = 2 if variants["multi"] != variants["plain"] \
        else plain["n_articles"]
    if results["multi"]["n_articles"] != want_arts:
        fails.append(f"{doc_id}:multi n_articles "
                     f"{results['multi']['n_articles']}!={want_arts}")

    # span tiling over the normalized text, every variant: each span's end
    # covers the separator after its last word, so starts are adjacent
    # (next start == prev end + 1) and the final end == len(text) (virtual
    # trailing separator) — the exact contract the green extract_spans
    # oracle pins at sf0.01
    for name, r in results.items():
        pos = 0
        for bid, s, e in r["spans"]:
            if s != pos or e < s:
                fails.append(f"{doc_id}:{name}:span-tiling at block {bid} ({s},{e},pos={pos})")
                break
            pos = e + 1
        if r["spans"] and r["spans"][-1][2] != len(r["text"]):
            fails.append(f"{doc_id}:{name}:span-tail {r['spans'][-1][2]}!={len(r['text'])}")

    # 3-way reading-order agreement (plain layout)
    doc = parse_hocr(variants["plain"], url=url)
    categorize_blocks(doc)
    bp = boilerplate_mask(doc)
    main = [i for i in range(doc.n_blocks()) if not bp[i]]
    graph = topologic_order_context(doc, main)
    go = sort_topologic_order(doc, graph, sort_weight=True) if graph else []
    if reading_order_naive(doc, main) != go:
        fails.append(f"{doc_id}:naive-order-disagrees")
    if reading_order_naive_context(doc, main) != go:
        fails.append(f"{doc_id}:context-order-disagrees")
    return fails


def main() -> int:
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") \
        else "/root/testdata/sf0.1"
    procs = int(sys.argv[sys.argv.index("--procs") + 1]) \
        if "--procs" in sys.argv else 16

    rows = duckdb.sql(
        f"select doc_id, text from '{sf_dir}/documents.parquet' order by doc_id"
    ).fetchall()
    t0 = time.time()
    with mp.Pool(procs) as pool:
        all_fails = [f for fl in pool.map(check_doc, rows, chunksize=32) for f in fl]
    dt = time.time() - t0
    print(f"swept {len(rows)} docs x {len(VARIANTS)} variants in {dt:.1f}s "
          f"({len(VARIANTS) * len(rows) / dt:.0f} extractions/s, {procs} procs)")
    if all_fails:
        print(f"FAIL ({len(all_fails)}):")
        for f in all_fails[:40]:
            print(" ", f)
        return 1
    print(f"all checks green: byte parity x{len(VARIANTS)} variants, columns/size exact, "
          f"multi-article isolation, span tiling x{len(VARIANTS)}, 3-way order agreement")
    return 0


if __name__ == "__main__":
    sys.exit(main())
