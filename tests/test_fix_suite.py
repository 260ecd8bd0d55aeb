"""Unit + end-to-end tests for the §2.9 mutation/fix operators."""

import copy
import dataclasses
import os
import re
import sys

import duckdb
import numpy as np
import pytest

from osdocr_spark.kernels import analyzer
from osdocr_spark.kernels import fix as FX
from osdocr_spark.kernels import geometry as g
from osdocr_spark.kernels.corpus import generate_page, generate_page_adversarial
from osdocr_spark.kernels.fix import MBlock, MWord
from osdocr_spark.kernels.hocr import parse_hocr
from osdocr_spark.kernels.pipeline import extract_document, extract_html

sys.path.insert(0, os.path.dirname(__file__))
import fix_reference as ref  # noqa: E402

SF = "/root/testdata/sf0.001"


def W(text, l, t, w=40, h=20, conf=95, par=0, line=0):
    return MWord([l, l + w, t, t + h], conf, text, par, line)


def B(bid, box, words=None, type=None):
    return MBlock(bid, type, list(box), words or [])


def test_remove_nodes_conf_and_empty_boxes():
    blocks = [
        B(0, (0, 100, 0, 20), [W("keep", 0, 0), W("drop", 50, 0, conf=5)]),
        B(1, (0, 400, 40, 45)),                     # thin empty → delimiter kept
        B(2, (10, 60, 100, 140)),                   # empty non-delimiter → dropped
        B(3, (0, 1000, 0, 900)),                    # empty >80% page → dropped
    ]
    blocks = FX.remove_nodes_conf(blocks, conf=10)
    assert [w.text for w in blocks[0].words] == ["keep"]
    out = FX.remove_empty_boxes(blocks, [0, 1000, 0, 1000], conf=10)
    assert [b.id for b in out] == [0, 1]


def test_text_bound_box_fix_shrinks_to_hull():
    b = B(0, (0, 500, 0, 300), [W("a", 20, 30), W("b", 100, 30)])
    FX.text_bound_box_fix([b])
    assert b.box == [20, 140, 30, 50]


def test_block_bound_box_fix_merges_and_shrinks():
    # ≥70% mutual overlap of non-empty blocks → merge
    b1 = B(0, (0, 100, 0, 50), [W("x", 0, 0)])
    b2 = B(1, (5, 100, 0, 50), [W("y", 50, 0)])
    out = FX.block_bound_box_fix([b1, b2])
    assert len(out) == 1 and len(out[0].words) == 2
    # empty inside non-empty → dropped
    b3 = B(0, (0, 200, 0, 100), [W("x", 10, 10)])
    b4 = B(1, (20, 60, 20, 60))
    out = FX.block_bound_box_fix([b3, b4])
    assert [b.id for b in out] == [0]
    # partial overlap → smaller-ratio box shrinks, words clamp
    b5 = B(0, (0, 200, 0, 100), [W("x", 10, 10)])
    b6 = B(1, (180, 400, 0, 100), [W("y", 250, 10)])
    out = FX.block_bound_box_fix([b5, b6])
    assert len(out) == 2
    a, c = (np.array(out[0].box), np.array(out[1].box))
    assert a[1] <= c[0] or c[1] <= a[0]  # disjoint on x now


def test_split_block_horizontal_keep_all():
    words = [W("top", 0, 0, line=0), W("bot", 0, 60, line=1)]
    b = B(0, (0, 100, 0, 90), words)
    parts = FX.split_block(b, [0, 100, 25, 50], orientation="horizontal", keep_all=True)
    assert len(parts) == 2
    assert [w.text for w in parts[0].words] == ["top"]
    assert [w.text for w in parts[1].words] == ["bot"]


def test_split_whitespaces_cuts_common_gap():
    # two lines with the same huge inter-word gap → vertical split
    words = []
    for line in range(2):
        words.append(W(f"l{line}", 0, line * 30, w=40, line=line))
        words.append(W(f"r{line}", 400, line * 30, w=40, line=line))
    b = B(0, (0, 440, 0, 50), words)
    out = FX.split_whitespaces([b], avg_word_dist=10.0, conf=10)
    assert len(out) == 2
    texts = sorted(" ".join(w.text for w in blk.words) for blk in out)
    assert texts == ["l0 l1", "r0 r1"]


def test_unite_blocks_vertical():
    b1 = B(0, (0, 200, 0, 50), [W("upper", 0, 10)], type="text")
    b2 = B(1, (0, 200, 60, 110), [W("lower", 0, 70)], type="text")
    out = FX.unite_blocks([b1, b2])
    assert len(out) == 1
    assert [w.text for w in out[0].words] == ["upper", "lower"]
    assert out[0].box == [0, 200, 0, 110]


def test_remove_solo_words():
    big = B(0, (0, 400, 0, 200), [W("body", 10, 10), W("text", 60, 10)], type="text")
    solo = B(1, (100, 160, 100, 130), [W("noise", 100, 100)], type="other")
    out = FX.remove_solo_words([big, solo])
    assert [b.id for b in out] == [0]


def test_find_text_titles_splits_title_line():
    words = [W("BIG", 0, 0, w=80, h=50, line=0),
             W("normal", 0, 70, h=20, line=1), W("text", 50, 70, h=20, line=1)]
    b = B(0, (0, 200, 0, 90), words, type="text")
    out = FX.find_text_titles([b], normal_text_size=20, avg_char_width=12)
    types = sorted(str(x.type) for x in out)
    assert types == ["text", "title"]
    title = next(x for x in out if x.type == "title")
    assert [w.text for w in title.words] == ["BIG"]


def test_join_blocks_horizontal_slot_merge():
    a = B(0, (0, 100, 0, 60), [W("a1", 0, 0, line=0), W("a2", 0, 30, line=1)])
    b = B(1, (120, 220, 0, 60), [W("b1", 120, 0, line=0), W("b2", 120, 30, line=1)])
    FX.join_blocks(a, b, orientation="horizontal")
    lines = a.lines()
    assert [[w.text for w in ws] for _k, ws in lines] == [["a1", "b1"], ["a2", "b2"]]


def test_json_roundtrip():
    from osdocr_spark.kernels.serialize import from_json, to_json
    doc = parse_hocr(generate_page(3, "alpha beta gamma delta " * 10), url="j")
    doc2 = from_json(to_json(doc), url="j")
    assert list(doc.w_text) == list(doc2.w_text)
    assert (doc.w_box == doc2.w_box).all()
    assert (doc.b_box == doc2.b_box).all()
    assert (doc.w_par == doc2.w_par).all() and (doc.w_line == doc2.w_line).all()


@pytest.fixture(scope="module")
def docs():
    return duckdb.sql(
        f"select doc_id, text from '{SF}/documents.parquet' order by doc_id"
    ).fetchall()


def test_translate_and_scale_build_fresh_documents(docs):
    """Memoized block properties of the input never leak into a moved or
    scaled page: both operators return a new Document and leave the
    input as it was."""
    d, t = docs[0]
    doc = parse_hocr(generate_page(d, t), url=str(d))
    lines = doc.line_table(0)[1].copy()
    mh = doc.block_mean_word_height(0)
    moved = FX.translate_doc(doc, 7, 11)
    assert (moved.line_table(0)[1] == lines + [7, 7, 11, 11]).all()
    assert (doc.line_table(0)[1] == lines).all()
    scaled = FX.scale_doc(doc, 2, 2)
    assert scaled.block_mean_word_height(0) == 2 * mh
    assert doc.block_mean_word_height(0) == mh


def test_noisy_pages_break_without_clean(docs):
    broken = sum(
        1 for d, t in docs[:40]
        if extract_html(str(d), generate_page(d, t, noisy=True))["text"]
        != re.sub(r"\s+", " ", t).strip())
    assert broken == 40  # the injected noise is real


def test_clean_doc_recovers_noisy_pages(docs):
    """End-to-end §2.9 gauntlet: every noisy page byte-recovers after the
    full cleaning pipeline (the extract_text_noisy oracle)."""
    for d, t in docs:
        got = extract_html(str(d), generate_page(d, t, noisy=True), clean=True)["text"]
        assert got == re.sub(r"\s+", " ", t).strip(), f"doc {d}"


def test_clean_doc_stable_on_clean_pages(docs):
    for d, t in docs[:60]:
        got = extract_html(str(d), generate_page(d, t), clean=True)["text"]
        assert got == re.sub(r"\s+", " ", t).strip(), f"doc {d}"


FAMILIES = {
    "noisy": lambda d, t: generate_page(d, t, noisy=True),
    "adversarial": lambda d, t: generate_page_adversarial(d, t),
    "adversarial+noisy": lambda d, t: generate_page_adversarial(d, t, noisy=True),
    "crossed": lambda d, t: generate_page_adversarial(d, t, noisy=True,
                                                      multi_article=True),
}


def snap(blocks):
    """Everything the overlap fix can change: block id, type and box, and
    each block's words in order with their box, text, conf, par, line and
    link."""
    return [(b.id, b.type, list(b.box),
             [(list(w.box), w.text, w.conf, w.par, w.line, w.link) for w in b.words])
            for b in blocks]


def assert_matches_reference(blocks, max_rounds=5):
    got = FX.block_bound_box_fix(copy.deepcopy(blocks), 10, max_rounds)
    want = ref.block_bound_box_fix(copy.deepcopy(blocks), 10, max_rounds)
    assert snap(got) == snap(want)
    return got


def _bbf_inputs(doc, monkeypatch):
    """The two inputs ``block_bound_box_fix`` sees for ``doc``: its raw
    block list, and the list ``clean_doc`` hands it after the earlier
    rules."""
    seen = []
    real = FX.block_bound_box_fix

    def spy(blocks, conf=10, max_rounds=5):
        seen.append(copy.deepcopy(blocks))
        return real(blocks, conf, max_rounds)

    with monkeypatch.context() as m:
        m.setattr(FX, "block_bound_box_fix", spy)
        FX.clean_doc(doc)
    return FX.to_mutable(doc), seen[0]


def test_block_bound_box_fix_vec_matches_loop(docs, monkeypatch):
    """Exact parity of the touch-matrix overlap fix with the scalar walk
    (``tests/fix_reference.py``): ids, types, boxes and every word in
    order with its par/line/link, on raw and ``clean_doc``-prefix inputs
    of pages under and over 64 blocks."""
    seen = {(prefix, big): 0 for prefix in (False, True) for big in (False, True)}
    changed = 0
    for gen in FAMILIES.values():
        for d, t in docs[:20]:
            doc = parse_hocr(gen(d, t.strip()), url=str(d))
            for prefix, blocks in enumerate(_bbf_inputs(doc, monkeypatch)):
                got = assert_matches_reference(blocks)
                seen[bool(prefix), len(blocks) >= 64] += 1
                changed += snap(got) != snap(blocks)
    assert all(seen.values()), seen
    assert changed > 0


def test_touch_matrix_is_pairwise_intersects():
    """The overlap fix's touch matrix is exactly ``geometry.intersects`` of
    every pair, degenerate and inverted boxes included."""
    rng = np.random.default_rng(5)
    lo = rng.integers(0, 60, (200, 2))
    M = np.stack([lo[:, 0], lo[:, 0] + rng.integers(-3, 20, 200),
                  lo[:, 1], lo[:, 1] + rng.integers(-3, 20, 200)], axis=1)
    want = [[bool(g.intersects(a, b)) for b in M] for a in M]
    assert FX._touch_matrix(M).tolist() == want


def test_block_bound_box_fix_partner_of_grown_block():
    """``join_blocks(a, b)`` grows ``a`` into ``c``, which the old ``a``
    did not touch: ``c`` must be found in the same round (then ``c``
    absorbs ``a`` and the round-2 shrink of the merged box wins; missing
    ``c`` lets ``c`` shrink ``d`` first and ends elsewhere)."""
    blocks = [
        B(0, (0, 100, 0, 100), [W("a", 10, 10)]),
        B(1, (0, 100, 0, 130), [W("b", 10, 110)]),
        B(2, (0, 100, 105, 135), [W("c", 10, 112)]),
        B(3, (0, 100, 130, 200), [W("d", 10, 160)]),
    ]
    for rounds in (1, 2, 5):
        out = assert_matches_reference(blocks, rounds)
    assert [(b.id, b.box) for b in out] == [(2, [0, 100, 0, 130]), (3, [0, 100, 130, 200])]


def test_block_bound_box_fix_keeps_stale_binding():
    """When ``b`` absorbs ``a`` (``join_blocks(b, a)``) ``b`` takes slot
    ``i``, but the walk goes on comparing the old ``a``: the next partner
    ``f`` is joined into that orphan, so ``f``'s words leave the page."""
    blocks = [
        B(0, (0, 100, 0, 100), [W("a", 10, 10)]),
        B(1, (0, 100, 40, 110), [W("b", 10, 80)]),
        B(2, (0, 100, 0, 120), [W("f", 10, 50)]),
    ]
    for rounds in (1, 5):
        out = assert_matches_reference(blocks, rounds)
    assert [(b.id, b.box, [w.text for w in b.words]) for b in out] == [
        (1, [0, 100, 0, 110], ["a", "b"])]


def test_block_bound_box_fix_pops_empty_blocks_mid_row():
    """An empty block inside the current one is popped mid-row and the
    walk goes on with the block that slid into its slot; an empty block
    inside a later one is popped from the current slot."""
    blocks = [
        B(0, (30, 50, 130, 150)),                       # empty, inside y
        B(1, (0, 200, 0, 100), [W("a", 10, 10)]),
        B(2, (20, 60, 20, 60)),                         # empty, inside a
        B(3, (150, 300, 0, 100), [W("c", 200, 10)]),
        B(4, (0, 300, 120, 200), [W("y", 100, 160)]),
    ]
    for rounds in (1, 5):
        out = assert_matches_reference(blocks, rounds)
    assert [(b.id, b.box) for b in out] == [
        (1, [0, 150, 0, 100]), (3, [150, 300, 0, 100]), (4, [0, 300, 120, 200])]


def _columns(doc):
    return {f.name: getattr(doc, f.name) for f in dataclasses.fields(doc)}


def _same_document(a, b):
    ca, cb = _columns(a), _columns(b)
    assert ca.keys() == cb.keys()
    for k, v in ca.items():
        if isinstance(v, np.ndarray):
            assert v.dtype == cb[k].dtype and v.shape == cb[k].shape, k
            assert v.tolist() == cb[k].tolist(), k
        else:
            assert v == cb[k], k


def test_to_mutable_round_trip_and_python_types(docs):
    """``to_document(to_mutable(doc))`` rebuilds every column of a parsed
    page, and every mutable field is a plain Python value that no other
    word or block shares."""
    for gen in (lambda d, t: generate_page(d, t),) + tuple(FAMILIES.values()):
        for d, t in docs[:10]:
            doc = parse_hocr(gen(d, t.strip()), url=str(d))
            blocks = FX.to_mutable(doc)
            _same_document(FX.to_document(blocks, doc.url), doc)
            boxes = set()
            for b in blocks:
                assert type(b.id) is int and (b.type is None or type(b.type) is str)
                for w in b.words:
                    assert [type(v) for v in (w.conf, w.text, w.par, w.line, w.link)] \
                        == [int, str, int, int, bool]
                for box in [b.box] + [w.box for w in b.words]:
                    assert type(box) is list and all(type(v) is int for v in box)
                    assert id(box) not in boxes
                    boxes.add(id(box))


def test_clean_doc_skips_layout_analysis(docs, monkeypatch):
    """``clean_doc`` reads only the word gap: with ``analyze_text`` made
    to raise it returns the same documents on noisy and crossed pages."""
    pages = [parse_hocr(FAMILIES[f](d, t.strip()), url=str(d))
             for f in ("noisy", "crossed") for d, t in docs[:10]]
    want = [FX.clean_doc(p) for p in pages]

    def boom(*args, **kwargs):
        raise AssertionError("clean_doc ran analyze_text")

    monkeypatch.setattr(analyzer, "analyze_text", boom)
    for p, w in zip(pages, want):
        _same_document(FX.clean_doc(p), w)
