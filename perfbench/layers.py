"""Traced single-process pass: the kernel chain split into its layers.

Each workload's per-document chain is called here one public function at a
time, in pipeline order, and every call records a span ``(name, start_ns,
end_ns, parent, doc_id)``.  A per-document root span is the parent of the
layer spans; spans stay in a list until the pass ends.  The split chain must
give the same text as the one-call path (``extract_html``, or the
checkpoint's ``extract_document(from_json(to_json(parse_hocr(...))))``) and
the oracle, for every sampled document.

The fix suite and the JSON round-trip sit on the path of only one workload
each.  On the others they run as *probes*: spans under a separate root that
are timed per document but left out of the kernel time, the tracing
overhead and the path counters (``fix.path_docs``, ``serialize.path_docs``).
"""

from __future__ import annotations

import gc
import random
import time

from osdocr_spark.kernels import smoothing
from osdocr_spark.kernels.analyzer import analyze_text
from osdocr_spark.kernels.classify import boilerplate_mask, categorize_blocks
from osdocr_spark.kernels.corpus import generate_page
from osdocr_spark.kernels.emit import article_to_txt, assemble_article, document_text
from osdocr_spark.kernels.fix import clean_doc
from osdocr_spark.kernels.hocr import parse_hocr
from osdocr_spark.kernels.order import (graph_isolate_articles, sort_topologic_order,
                                        topologic_order_context)
from osdocr_spark.kernels.pipeline import extract_document, extract_html
from osdocr_spark.kernels.serialize import from_json, to_json
from osdocr_spark.spark.stages import url_for_doc

from inputs import STRATA, expected_texts, sample_ids, text_of

#: traced sample size per workload: fixed ids, so counts repeat exactly
SAMPLE = {"plain": 300, "crossed": 120, "checkpoint": 240}
_SAMPLE_SEED = 4099

#: layer span name → per-layer self-time metric
LAYER_MS = {
    "corpus.generate": "corpus.generate_ms",
    "hocr.parse": "hocr.parse_ms",
    "fix.clean": "fix.clean_ms",
    "analyzer.analyze": "analyzer.analyze_ms",
    "classify.categorize": "classify.categorize_ms",
    "classify.boilerplate": "classify.boilerplate_ms",
    "order.graph": "order.graph_ms",
    "order.sort": "order.sort_ms",
    "order.isolate": "order.isolate_ms",
    "emit.emit": "emit.emit_ms",
    "serialize.to_json": "serialize.to_json_ms",
    "serialize.from_json": "serialize.from_json_ms",
}


def traced_ids(workload: str, smoke: bool = False) -> list[int]:
    """The fixed traced sample (one document per layout residue in smoke
    mode)."""
    return sample_ids(random.Random(_SAMPLE_SEED), STRATA if smoke else SAMPLE[workload])


def _page(workload: str, doc_id: int) -> bytes:
    if workload == "crossed":
        return generate_page(doc_id, text_of(doc_id), noisy=True, adversarial=True,
                             multi_article=True)
    return generate_page(doc_id, text_of(doc_id))


def one_call(workload: str, d: int) -> tuple[str, float, float]:
    """The chain as the Spark stages call it, timed from outside: returns
    the text, page synthesis seconds and the seconds of everything after."""
    url = url_for_doc(d)
    t0 = time.perf_counter()
    html = _page(workload, d)
    t1 = time.perf_counter()
    if workload == "checkpoint":
        r = extract_document(from_json(to_json(parse_hocr(html, url=url)), url=url))
    else:
        r = extract_html(url, html, clean=workload == "crossed")
    return r["text"], t1 - t0, time.perf_counter() - t1


class Tracer:
    """In-memory span recorder; ``record=False`` makes the same calls with
    no spans, the untraced side of the tracing-overhead A/B."""

    def __init__(self, record: bool = True):
        self.record = record
        self.spans: list[list] = []

    def open(self, name: str, parent: int, doc_id: int) -> int:
        if not self.record:
            return -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent, doc_id])
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        if self.record:
            self.spans[idx][2] = time.perf_counter_ns()

    def call(self, name: str, parent: int, doc_id: int, fn, *args, **kwargs):
        if not self.record:
            return fn(*args, **kwargs)
        idx = self.open(name, parent, doc_id)
        out = fn(*args, **kwargs)
        self.close(idx)
        return out


def _emit(doc, articles):
    assembled = [assemble_article(doc, art) for art in articles]
    "".join(article_to_txt(a) for a in assembled)
    return document_text(doc, articles, normalize=True)


def split_doc(workload: str, d: int, tr: Tracer, n: dict) -> str:
    """One document's chain, one layer call at a time; adds to the layer
    counters ``n`` and returns the text."""
    url = url_for_doc(d)
    root = tr.open("pipeline.doc", -1, d)
    html = tr.call("corpus.generate", root, d, _page, workload, d)
    doc = tr.call("hocr.parse", root, d, parse_hocr, html, url=url)
    nb = doc.n_blocks()
    n["blocks"] += nb
    n["words"] += len(doc.w_text)
    n["ge32"] += nb >= 32
    if workload == "checkpoint":
        payload = tr.call("serialize.to_json", root, d, to_json, doc)
        doc = tr.call("serialize.from_json", root, d, from_json, payload, url=url)
        n["json_bytes"] += len(payload.encode("utf-8"))
        n["ser_path"] += 1
    if workload == "crossed":
        doc = tr.call("fix.clean", root, d, clean_doc, doc)
        n["removed"] += nb - doc.n_blocks()
        n["fix_path"] += 1
    analysis = tr.call("analyzer.analyze", root, d, analyze_text, doc)
    tr.call("classify.categorize", root, d, categorize_blocks, doc, analysis=analysis)
    bp = tr.call("classify.boilerplate", root, d, boilerplate_mask, doc)
    main_idx = [i for i in range(doc.n_blocks()) if not bp[i]]
    n["main"] += len(main_idx)
    articles = []
    graph = tr.call("order.graph", root, d, topologic_order_context, doc, main_idx)
    if graph is not None:
        order = tr.call("order.sort", root, d, sort_topologic_order, doc, graph,
                        sort_weight=True)
        articles = tr.call("order.isolate", root, d, graph_isolate_articles, doc, order)
    text = tr.call("emit.emit", root, d, _emit, doc, articles)
    tr.close(root)
    return text


def interleaved_pass(workload: str, ids: list[int], tr: Tracer) -> dict:
    """Each document three ways, in an order that rotates per document: the
    one-call chain, the split chain untraced, the split chain traced.
    Returns the texts, the layer counters and each way's summed seconds."""
    texts: dict[str, dict] = {"call": {}, "traced": {}}
    untraced = Tracer(record=False)
    n = {"blocks": 0, "words": 0, "ge32": 0, "removed": 0, "main": 0,
         "json_bytes": 0, "fix_path": 0, "ser_path": 0}
    scratch = dict(n)
    secs = {"corpus": 0.0, "extract": 0.0, "untraced": 0.0, "traced": 0.0}
    ways = ("call", "untraced", "traced")
    for i, d in enumerate(ids):
        url = url_for_doc(d)
        for way in ways[i % 3:] + ways[:i % 3]:
            if way == "call":
                texts["call"][url], corpus_s, extract_s = one_call(workload, d)
                secs["corpus"] += corpus_s
                secs["extract"] += extract_s
                continue
            t0 = time.perf_counter()
            if way == "traced":
                texts["traced"][url] = split_doc(workload, d, tr, n)
            else:
                split_doc(workload, d, untraced, scratch)
            secs[way] += time.perf_counter() - t0
    return {"texts": texts, "n": n, "secs": secs}


def probe_pass(workload: str, ids: list[int], tr: Tracer) -> dict:
    """The layers this workload's path bypasses, run on its own pages under
    ``probe.doc`` roots; returns the probe counters."""
    n = {"removed": 0, "json_bytes": 0}
    for d in ids:
        url = url_for_doc(d)
        html = _page(workload, d)
        root = tr.open("probe.doc", -1, d)
        if workload != "checkpoint":
            payload = tr.call("serialize.to_json", root, d, to_json, parse_hocr(html, url=url))
            tr.call("serialize.from_json", root, d, from_json, payload, url=url)
            n["json_bytes"] += len(payload.encode("utf-8"))
        if workload != "crossed":
            parsed = parse_hocr(html, url=url)
            cleaned = tr.call("fix.clean", root, d, clean_doc, parsed)
            n["removed"] += parsed.n_blocks() - cleaned.n_blocks()
        tr.close(root)
    return n


def self_times_ns(spans: list[list]) -> dict[str, int]:
    """Σ self time per span name: duration minus the time its children
    cover (children never overlap: calls are sequential)."""
    child = [0] * len(spans)
    for name, t0, t1, parent, _ in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out: dict[str, int] = {}
    for i, (name, t0, t1, _, _) in enumerate(spans):
        out[name] = out.get(name, 0) + (t1 - t0) - child[i]
    return out


def run(workload: str, smoke: bool = False) -> dict:
    """Passes over the workload's fixed sample: one-call cold (inverse-cache
    counters), then the interleaved pass (kernel time, tracing overhead,
    layer self times), then the probes.  Returns the per-layer metrics and
    the per-doc kernel time; raises if the split chain disagrees with the
    one-call chain or the oracle."""
    ids = traced_ids(workload, smoke)
    before = smoothing._dense_inverse.cache_info()
    for d in ids:
        one_call(workload, d)
    after = smoothing._dense_inverse.cache_info()

    tr = Tracer()
    gc.collect()
    res = interleaved_pass(workload, ids, tr)
    probe = probe_pass(workload, ids, tr)

    oracle = expected_texts(ids)
    bad = [u for u in oracle
           if not (res["texts"]["traced"][u] == res["texts"]["call"][u] == oracle[u])]
    if bad:
        raise AssertionError(f"{workload}: split chain differs from the one-call "
                             f"chain or the oracle on {len(bad)} docs, e.g. {bad[0]}")

    spans = tr.spans
    self_ns = self_times_ns(spans)
    # path layers after page synthesis: what extract_html's time splits into
    stage_ns = sum(t1 - t0 for name, t0, t1, parent, _ in spans
                   if parent >= 0 and spans[parent][0] == "pipeline.doc"
                   and name != "corpus.generate")
    docs = len(ids)
    secs = res["secs"]
    kernel_s = secs["corpus"] + secs["extract"]
    c = res["n"]
    m = {metric: self_ns.get(span, 0) / 1e6 / docs for span, metric in LAYER_MS.items()}
    m.update({
        "pipeline.residual_ms": (secs["extract"] * 1e9 - stage_ns) / 1e6 / docs,
        "hocr.blocks": c["blocks"] / docs,
        "hocr.words": c["words"] / docs,
        "hocr.docs_ge32_blocks": c["ge32"],
        "fix.blocks_removed": (c["removed"] + probe["removed"]) / docs,
        "fix.path_docs": c["fix_path"],
        "smoothing.inverse_hits": after.hits - before.hits,
        "smoothing.inverse_misses": after.misses - before.misses,
        "order.main_blocks": c["main"] / docs,
        "serialize.json_bytes": (c["json_bytes"] + probe["json_bytes"]) / docs,
        "serialize.path_docs": c["ser_path"],
        "kernel.docs_per_s_1core": docs / kernel_s,
        "tracing.overhead_share": secs["traced"] / secs["untraced"] - 1.0,
    })
    return {"metrics": m, "kernel_s_per_doc": kernel_s / docs, "spans": spans}
