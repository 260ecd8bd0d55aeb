"""Unit + end-to-end tests for the §2.9 mutation/fix operators."""

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
from osdocr_spark.kernels.doc import Document
from osdocr_spark.kernels.hocr import parse_hocr
from osdocr_spark.kernels.pipeline import extract_document, extract_html

sys.path.insert(0, os.path.dirname(__file__))
import fix_reference as ref  # noqa: E402

SF = "/root/testdata/sf0.001"


def W(text, l, t, w=40, h=20, conf=95, par=0, line=0):
    """A word: ``(text, box, conf, par, line)``."""
    return (text, [l, l + w, t, t + h], conf, par, line)


def B(bid, box, words=None, type=None):
    """A block: ``(id, type, box, words)``."""
    return (bid, type, list(box), words or [])


def document(*blocks, url="t"):
    """The ``Document`` holding the ``B`` blocks in order."""
    ws = [(bi, w) for bi, b in enumerate(blocks) for w in b[3]]
    col = lambda f, dtype: np.array([f(bi, w) for bi, w in ws], dtype)
    return Document(
        url=url, w_box=col(lambda bi, w: w[1], np.int64).reshape(-1, 4),
        w_conf=col(lambda bi, w: w[2], np.int64), w_text=col(lambda bi, w: w[0], object),
        w_block=col(lambda bi, w: bi, np.int64), w_par=col(lambda bi, w: w[3], np.int64),
        w_line=col(lambda bi, w: w[4], np.int64), w_link=np.zeros(len(ws), bool),
        b_box=np.array([b[2] for b in blocks], np.int64).reshape(-1, 4),
        b_id=np.array([b[0] for b in blocks], np.int64),
        b_type=np.array([b[1] for b in blocks], object))


def page(*blocks):
    """The block rows of the ``B`` blocks, over their word columns."""
    return FX.Page(document(*blocks))


def texts(p, row):
    return p.texts(row.words)


def test_remove_nodes_conf_and_empty_boxes():
    doc = document(
        B(0, (0, 100, 0, 20), [W("keep", 0, 0), W("drop", 50, 0, conf=5)]),
        B(1, (0, 400, 40, 45)),                     # thin empty → delimiter kept
        B(2, (10, 60, 100, 140)),                   # empty non-delimiter → dropped
        B(3, (0, 1000, 0, 900)),                    # empty >80% page → dropped
    )
    keep = FX.remove_nodes_conf(doc, conf=10)
    assert doc.w_text[keep].tolist() == ["keep"]
    out = FX.remove_empty_boxes(doc, [0, 1000, 0, 1000], conf=10)
    assert doc.b_id[out].tolist() == [0, 1]


def test_text_bound_box_fix_shrinks_to_hull():
    doc = document(B(0, (0, 500, 0, 300), [W("a", 20, 30), W("b", 100, 30)]))
    assert FX.text_bound_box_fix(doc)[0].tolist() == [20, 140, 30, 50]


def test_block_bound_box_fix_merges_and_shrinks():
    # ≥70% mutual overlap of non-empty blocks → merge
    p = page(B(0, (0, 100, 0, 50), [W("x", 0, 0)]), B(1, (5, 100, 0, 50), [W("y", 50, 0)]))
    FX.block_bound_box_fix(p)
    assert len(p.rows) == 1 and len(p.rows[0].words) == 2
    # empty inside non-empty → dropped
    p = page(B(0, (0, 200, 0, 100), [W("x", 10, 10)]), B(1, (20, 60, 20, 60)))
    FX.block_bound_box_fix(p)
    assert [b.id for b in p.rows] == [0]
    # partial overlap → smaller-ratio box shrinks, words clamp
    p = page(B(0, (0, 200, 0, 100), [W("x", 10, 10)]),
             B(1, (180, 400, 0, 100), [W("y", 250, 10)]))
    FX.block_bound_box_fix(p)
    assert len(p.rows) == 2
    a, c = (np.array(p.rows[0].box), np.array(p.rows[1].box))
    assert a[1] <= c[0] or c[1] <= a[0]  # disjoint on x now


def test_split_block_horizontal_keep_all():
    words = [W("top", 0, 0, line=0), W("bot", 0, 60, line=1)]
    p = page(B(0, (0, 100, 0, 90), words))
    parts = FX.split_block(p, p.rows[0], [0, 100, 25, 50], orientation="horizontal")
    assert len(parts) == 2
    assert texts(p, parts[0]) == ["top"]
    assert texts(p, parts[1]) == ["bot"]


def test_split_whitespaces_cuts_common_gap():
    # two lines with the same huge inter-word gap → vertical split
    words = []
    for line in range(2):
        words.append(W(f"l{line}", 0, line * 30, w=40, line=line))
        words.append(W(f"r{line}", 400, line * 30, w=40, line=line))
    p = page(B(0, (0, 440, 0, 50), words))
    FX.split_whitespaces(p, avg_word_dist=10.0, conf=10)
    assert len(p.rows) == 2
    got = sorted(" ".join(texts(p, blk)) for blk in p.rows)
    assert got == ["l0 l1", "r0 r1"]


def test_unite_blocks_vertical():
    p = page(B(0, (0, 200, 0, 50), [W("upper", 0, 10)], type="text"),
             B(1, (0, 200, 60, 110), [W("lower", 0, 70)], type="text"))
    FX.unite_blocks(p)
    assert len(p.rows) == 1
    assert texts(p, p.rows[0]) == ["upper", "lower"]
    assert p.rows[0].box == [0, 200, 0, 110]


def test_unite_blocks_vertical_text():
    """A vertical-text block unites only with a vertical-text block below
    it, vertical as ``Document.vertical_mask`` rules: a one-line block of
    stacked words, and a two-line block of tall side-by-side lines, each
    keep apart from the horizontal block below them, and the one-line
    block still takes a tall one-word block."""
    stacked = B(0, (10, 30, 0, 80), [W("s1", 10, 0, w=20), W("s2", 10, 30, w=20),
                                     W("s3", 10, 60, w=20)], type="text")
    two_lines = B(0, (10, 35, 0, 80), [W("t1", 10, 0, w=10, h=80, line=0),
                                       W("t2", 25, 0, w=10, h=80, line=1)], type="text")
    for top in (stacked, two_lines):
        below = B(1, (top[2][0], top[2][1], 82, 90), [W("low", top[2][0], 82, w=20, h=8)],
                  type="text")
        p = page(top, below)
        assert p.document().vertical_mask(10).tolist() == [True, False]
        FX.unite_blocks(p)
        assert [(r.id, r.box) for r in p.rows] == [(0, top[2]), (1, below[2])]
    tall = B(1, (10, 30, 85, 150), [W("tall", 10, 85, w=20, h=65)], type="text")
    p = page(stacked, tall)
    FX.unite_blocks(p)
    assert [(r.id, r.box) for r in p.rows] == [(0, [10, 30, 0, 150])]
    assert texts(p, p.rows[0]) == ["s1", "s2", "s3", "tall"]


def test_remove_solo_words():
    big = B(0, (0, 400, 0, 200), [W("body", 10, 10), W("text", 60, 10)], type="text")
    solo = B(1, (100, 160, 100, 130), [W("noise", 100, 100)], type="other")
    p = page(big, solo)
    FX.remove_solo_words(p)
    assert [b.id for b in p.rows] == [0]


def test_find_text_titles_splits_title_line():
    words = [W("BIG", 0, 0, w=80, h=50, line=0),
             W("normal", 0, 70, h=20, line=1), W("text", 50, 70, h=20, line=1)]
    p = page(B(0, (0, 200, 0, 90), words, type="text"))
    FX.find_text_titles(p, normal_text_size=20, avg_char_width=12)
    types = sorted(str(x.type) for x in p.rows)
    assert types == ["text", "title"]
    title = next(x for x in p.rows if x.type == "title")
    assert texts(p, title) == ["BIG"]


def test_join_blocks_horizontal_slot_merge():
    p = page(B(0, (0, 100, 0, 60), [W("a1", 0, 0, line=0), W("a2", 0, 30, line=1)]),
             B(1, (120, 220, 0, 60), [W("b1", 120, 0, line=0), W("b2", 120, 30, line=1)]))
    a, b = p.rows
    FX.join_blocks(p, a, b, orientation="horizontal")
    lines = p.lines(a.words)
    assert [p.texts(ws) for ws in lines] == [["a1", "b1"], ["a2", "b2"]]


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


def assert_matches_reference(doc, max_rounds=5):
    """The overlap fix on ``doc``'s block rows against the scalar walk on
    its object model: every ``Document`` column equal.  Returns the page."""
    p = FX.Page(doc)
    FX.block_bound_box_fix(p, 10, max_rounds)
    want = ref.block_bound_box_fix(ref.to_mutable(doc), 10, max_rounds)
    _same_document(p.document(), ref.to_document(want, doc.url))
    return p


def _bbf_inputs(doc, monkeypatch):
    """The two inputs ``block_bound_box_fix`` sees for ``doc``: its raw
    blocks, and the rows ``clean_doc`` hands it after the earlier rules,
    each as a ``Document``."""
    seen = []
    real = FX.block_bound_box_fix

    def spy(p, conf=10, max_rounds=5):
        seen.append(p.document())
        return real(p, conf, max_rounds)

    with monkeypatch.context() as m:
        m.setattr(FX, "block_bound_box_fix", spy)
        FX.clean_doc(doc)
    return doc, seen[0]


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
            for prefix, before in enumerate(_bbf_inputs(doc, monkeypatch)):
                got = assert_matches_reference(before).document()
                seen[bool(prefix), before.n_blocks() >= 64] += 1
                changed += not _is_same_document(got, before)
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
    doc = document(
        B(0, (0, 100, 0, 100), [W("a", 10, 10)]),
        B(1, (0, 100, 0, 130), [W("b", 10, 110)]),
        B(2, (0, 100, 105, 135), [W("c", 10, 112)]),
        B(3, (0, 100, 130, 200), [W("d", 10, 160)]),
    )
    for rounds in (1, 2, 5):
        out = assert_matches_reference(doc, rounds)
    assert [(b.id, b.box) for b in out.rows] == [(2, [0, 100, 0, 130]), (3, [0, 100, 130, 200])]


def test_block_bound_box_fix_keeps_stale_binding():
    """When ``b`` absorbs ``a`` (``join_blocks(b, a)``) ``b`` takes slot
    ``i``, but the walk goes on comparing the old ``a``: the next partner
    ``f`` is joined into that orphan, so ``f``'s words leave the page."""
    doc = document(
        B(0, (0, 100, 0, 100), [W("a", 10, 10)]),
        B(1, (0, 100, 40, 110), [W("b", 10, 80)]),
        B(2, (0, 100, 0, 120), [W("f", 10, 50)]),
    )
    for rounds in (1, 5):
        out = assert_matches_reference(doc, rounds)
    assert [(b.id, b.box, texts(out, b)) for b in out.rows] == [
        (1, [0, 100, 0, 110], ["a", "b"])]


def test_block_bound_box_fix_pops_empty_blocks_mid_row():
    """An empty block inside the current one is popped mid-row and the
    walk goes on with the block that slid into its slot; an empty block
    inside a later one is popped from the current slot."""
    doc = document(
        B(0, (30, 50, 130, 150)),                       # empty, inside y
        B(1, (0, 200, 0, 100), [W("a", 10, 10)]),
        B(2, (20, 60, 20, 60)),                         # empty, inside a
        B(3, (150, 300, 0, 100), [W("c", 200, 10)]),
        B(4, (0, 300, 120, 200), [W("y", 100, 160)]),
    )
    for rounds in (1, 5):
        out = assert_matches_reference(doc, rounds)
    assert [(b.id, b.box) for b in out.rows] == [
        (1, [0, 150, 0, 100]), (3, [150, 300, 0, 100]), (4, [0, 300, 120, 200])]


def _columns(doc):
    return {f.name: getattr(doc, f.name) for f in dataclasses.fields(doc)}


def _column_diff(a, b):
    """The first column whose dtype, shape or values differ, else None."""
    ca, cb = _columns(a), _columns(b)
    assert ca.keys() == cb.keys()
    for k, v in ca.items():
        if isinstance(v, np.ndarray):
            if v.dtype != cb[k].dtype or v.shape != cb[k].shape or v.tolist() != cb[k].tolist():
                return k
        elif v != cb[k]:
            return k
    return None


def _is_same_document(a, b):
    return _column_diff(a, b) is None


def _same_document(a, b):
    assert _column_diff(a, b) is None, _column_diff(a, b)


def test_to_mutable_round_trip_and_python_types(docs):
    """``Page(doc).document()`` rebuilds every column of a parsed page, and
    every field a rule reads or writes is a plain Python value, with no
    box list shared by two rows or words."""
    for gen in (lambda d, t: generate_page(d, t),) + tuple(FAMILIES.values()):
        for d, t in docs[:10]:
            doc = parse_hocr(gen(d, t.strip()), url=str(d))
            p = FX.Page(doc)
            _same_document(p.document(), doc)
            for r in p.rows:
                assert type(r.id) is int and (r.type is None or type(r.type) is str)
                assert all(type(k) is int for k in r.words)
            for k in range(len(p.src)):
                v = (p.par[k], p.line[k], p.conf[p.src[k]], p.text[p.src[k]])
                assert [type(x) for x in v] == [int, int, int, str]
            boxes = set()
            for box in [r.box for r in p.rows] + p.box:
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


TEXTS = ("alpha", "Beta", "gamma.", "—", "|", "", " ", "x", "end?", "TITLE", "wide-", "42")


def random_blocks(rng, n):
    """``n`` random ``B`` blocks: overlapping and nested boxes, zero-width,
    inverted and thin empty delimiter-aspect blocks, single words, words
    straddling their block, wide common gaps, and conf −1 and low-conf
    words, with a few blocks pre-typed."""
    blocks = []
    for bi in range(n):
        kind = rng.integers(0, 8)
        if kind == 0 and blocks:                      # nested in an earlier block
            l, r, t, b = blocks[rng.integers(0, len(blocks))][2]
            l, t = l + int(rng.integers(0, 10)), t + int(rng.integers(0, 10))
            r, b = max(l, r - int(rng.integers(0, 10))), max(t, b - int(rng.integers(0, 10)))
        else:
            l, t = (int(v) for v in rng.integers(0, 500, 2))
            w, h = (int(v) for v in rng.integers(0, 300, 2))
            if kind == 1:                             # thin: a delimiter if empty
                w, h = (w + 40, int(rng.integers(0, 6))) if rng.random() < 0.5 \
                    else (int(rng.integers(0, 6)), h + 40)
            elif kind == 2:                           # zero-width or inverted
                w = -int(rng.integers(0, 5)) if rng.random() < 0.3 else 0
            r, b = l + w, t + h
        words = []
        n_lines = int(rng.integers(0, 4)) if kind != 3 else 1
        n_words = int(rng.integers(1, 4)) + (kind == 4) if kind != 3 else 1
        for line in range(n_lines):
            wt = t + line * 25 + int(rng.integers(-5, 6))
            x = l + int(rng.integers(-10, 15))
            for wi in range(n_words):
                w = int(rng.integers(0, 50))
                conf = int(rng.choice([-1, 0, 5, 9, 10, 11, 60, 95, 95, 95]))
                words.append(W(str(rng.choice(TEXTS)), x, wt, w=w,
                               h=int(rng.integers(1, 40)), conf=conf,
                               par=int(rng.integers(0, 2)), line=line))
                # overlapping, touching and spaced words, and on kind 4 a
                # wide gap after each line's first word
                x += w + (max(r - 40 - x - w, 1) if kind == 4 and wi == 0
                          else int(rng.choice([-8, 0, 0, 4, 12, 30, 70])))
        btype = rng.choice([None] * 6 + ["text", "title", "image", "delimiter"])
        blocks.append(B(bi, (l, r, t, b), words, type=btype))
    return blocks


def random_pages(seed, count):
    """``count`` seeded random pages of 1–39 blocks, except the last one,
    which has 320 blocks."""
    rng = np.random.default_rng(seed)
    sizes = [int(rng.integers(1, 40)) for _ in range(count)]
    sizes[-1] = 320
    return [document(*random_blocks(rng, n), url=f"r{seed}-{i}") for i, n in enumerate(sizes)]


def test_clean_doc_matches_object_reference(docs):
    """The whole fix suite against the object-model reference
    (``tests/fix_reference.py``): every ``Document`` column equal on 120
    noisy, adversarial+noisy and crossed generator pages and 400 random
    block sets."""
    gens = [FAMILIES[f] for f in ("noisy", "adversarial+noisy", "crossed")]
    pages = [parse_hocr(gen(d, t.strip()), url=str(d)) for gen in gens for d, t in docs[:40]]
    pages += random_pages(7, 400)
    changed = split = 0
    for doc in pages:
        got = FX.clean_doc(doc)
        _same_document(got, ref.clean_doc(doc))
        changed += got.n_blocks() != doc.n_blocks() or not _is_same_document(got, doc)
        split += bool(got.n_blocks()) and int(got.b_id.max()) >= doc.n_blocks()
    assert len(pages) >= 500
    assert changed > 400 and split > 20, (changed, split)


def test_row_rules_match_object_reference():
    """The row rules outside ``clean_doc`` against the object-model
    reference on 150 random block sets, the last of 320 blocks: every
    ``Document`` column equal after ``unite_blocks``,
    ``remove_solo_words``, ``find_text_titles``, ``remove_blocks_inside``
    and ``split_whitespaces`` (whose lines here, unlike in ``clean_doc``,
    may hold no confident word)."""
    rules = {"unite_blocks": (), "remove_solo_words": (), "find_text_titles": (15, 5),
             "split_whitespaces": (10.0,)}
    changed = dict.fromkeys([*rules, "remove_blocks_inside"], 0)
    for doc in random_pages(11, 150):
        rules["remove_blocks_inside"] = (int(doc.b_id[len(doc.b_id) // 2]),)
        for name, args in rules.items():
            p = FX.Page(doc)
            getattr(FX, name)(p, *args)
            got = p.document()
            want = getattr(ref, name)(ref.to_mutable(doc), *args)
            _same_document(got, ref.to_document(want, doc.url))
            changed[name] += not _is_same_document(got, doc)
    assert min(changed.values()) > 10, changed
