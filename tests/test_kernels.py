"""Kernel unit tests: geometry vs a direct scalar port, smoothing vs dense
solve, golden layout-analysis values in the reference's test style
(SURVEY.md §5.1: text size within 10%, exact column count, reading order)."""

import os
import sys

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osdocr_spark.kernels import geometry as g
from osdocr_spark.kernels.emit import fix_hifenization
from osdocr_spark.kernels.smoothing import find_peaks, whittaker_smooth

sys.path.insert(0, os.path.dirname(__file__))
import doc_reference as ref  # noqa: E402
import neighbors_reference as nref  # noqa: E402

boxes = st.tuples(st.integers(0, 50), st.integers(0, 50),
                  st.integers(0, 50), st.integers(0, 50)).map(
    lambda t: np.array([min(t[0], t[1]), max(t[0], t[1]) + 1,
                        min(t[2], t[3]), max(t[2], t[3]) + 1], dtype=np.int64))


def _scalar_intersects(a, b):
    """Direct scalar port of Box.intersects_box (box.py:173-196)."""
    iv = (a[2] <= b[2] and a[3] >= b[2]) or (b[2] <= a[2] and b[3] >= a[2])
    ih = a[0] <= b[1] and a[1] >= b[0]
    return iv and ih


@settings(max_examples=300, deadline=None)
@given(boxes, boxes)
def test_intersects_matches_scalar(a, b):
    assert bool(g.intersects(a, b)) == _scalar_intersects(a, b)


# well-formed boxes (left <= right, top <= bottom) that may cross the page
# edges x = 0 and y = 0, where the reference's strips start
edge_boxes = st.tuples(st.integers(-30, 50), st.integers(-30, 50),
                       st.integers(-30, 50), st.integers(-30, 50)).map(
    lambda t: np.array([min(t[0], t[1]), max(t[0], t[1]) + 1,
                        min(t[2], t[3]), max(t[2], t[3]) + 1], dtype=np.int64))
box_sets = st.lists(edge_boxes, min_size=1, max_size=10)


def _assert_neighbors_match_reference(bb, rows):
    """``neighbor_tables`` and the package ``directly_*`` both equal the
    per-call strip+prune twins in ``tests/neighbors_reference.py``."""
    from osdocr_spark.kernels import neighbors as nb

    idxs = np.arange(len(bb), dtype=np.int64)
    tabs = nb.neighbor_tables(bb, idxs)
    for kind in ("below", "right", "above"):
        ref_fn = getattr(nref, f"directly_{kind}")
        fn = getattr(nb, f"directly_{kind}")
        for i in rows:
            cand = idxs[idxs != i]
            want = [int(x) for x in ref_fn(bb, int(i), cand)]
            assert tabs[kind][int(i)] == want, (kind, int(i), bb.tolist())
            assert [int(x) for x in fn(bb, int(i), cand)] == want, (kind, int(i), bb.tolist())
    return tabs


@settings(max_examples=150, deadline=None)
@given(box_sets)
def test_neighbor_tables_match_per_call(bxs):
    """The matrix neighbors (all-pairs tables and the per-block row reads)
    must agree with the reference's per-call strip+prune semi-joins on
    arbitrary well-formed box sets, including boxes above or left of the
    page edge."""
    bb = np.stack(bxs)
    _assert_neighbors_match_reference(bb, range(len(bxs)))


def test_neighbor_tables_wide_page_no_overflow():
    """Regression for the r2-ADVICE int8 matmul overflow: on a page with
    >127 mutually-stacked blocks the dominance-prune accumulator used to
    wrap (128 matching (hit, pair) entries → negative → prune skipped).
    A 200-block single-column stack makes every lower block a below-hit of
    block 0 with ~199 pair entries; only the adjacent block may survive."""
    n = 200
    # one column: block i spans y ∈ [10·i, 10·i+8], same x extent
    bb = np.array([[0, 100, 10 * i, 10 * i + 8] for i in range(n)], dtype=np.int64)
    tabs = _assert_neighbors_match_reference(bb, (0, 1, n // 2, n - 2, n - 1))
    # the stack's semantics: exactly the adjacent block is directly below
    assert tabs["below"][0] == [1]
    assert tabs["above"][n - 1] == [n - 2]


# boxes that may be zero-width or zero-height
flat_boxes = st.tuples(st.integers(0, 50), st.integers(0, 50),
                       st.integers(0, 50), st.integers(0, 50)).map(
    lambda t: (min(t[0], t[1]), max(t[0], t[1]), min(t[2], t[3]), max(t[2], t[3])))


@settings(max_examples=300, deadline=None)
@given(flat_boxes, flat_boxes, st.booleans())
def test_scalar_order_helpers_match_geometry(ta, tb, as_list):
    """Every pair-form function of geometry.py agrees with its broadcast
    form on plain-int tuples and lists, zero-width boxes included: booleans
    and integers exactly, distances within one ulp (math.hypot vs
    np.hypot).  ``remove_box_area`` has only the pair form; it is checked
    against the numpy reference in ``fix_reference.py``."""
    import math

    import fix_reference

    a, b = np.array(ta, np.int64), np.array(tb, np.int64)
    if as_list:
        ta, tb = list(ta), list(tb)
    assert g.pair_is_inside(ta, tb) is bool(g.is_inside(a, b))
    for ev, eh in ((False, False), (True, False), (False, True), (True, True)):
        for inside in (False, True):
            assert g.pair_intersects(ta, tb, ev, eh, inside) is bool(g.intersects(
                a, b, extend_vertical=ev, extend_horizontal=eh, inside=inside))
        want = g.intersect_area_box(a, b, extend_vertical=ev, extend_horizontal=eh)
        assert g.pair_intersect_area_box(ta, tb, ev, eh) == want.tolist()
        assert g.pair_inter_area(ta, tb, ev, eh) == int(g.area(want)), (ta, tb, ev, eh)
    for rng in (0.0, 0.05, 0.1, 0.3):
        for only_self in (False, True):
            assert g.pair_within_horizontal(ta, tb, rng, only_self) is bool(
                g.within_horizontal(a, b, rng=rng, only_self=only_self))
            assert g.pair_within_vertical(ta, tb, rng, only_self) is bool(
                g.within_vertical(a, b, rng=rng, only_self=only_self))
    for border in (None, "left", "right", "top", "bottom"):
        got = g.pair_distance_to(ta, tb, border)
        want = float(g.distance_to(a, b, border=border))
        assert abs(got - want) <= math.ulp(want), (ta, tb, border)
    cut = g.remove_box_area(ta, tb)
    assert all(type(v) is int for v in cut)
    assert cut == fix_reference.remove_box_area(a, b).tolist()


@settings(max_examples=300, deadline=None)
@given(boxes, boxes)
def test_inside_implies_intersects(a, b):
    if bool(g.is_inside(a, b)):
        assert bool(g.intersects(a, b, inside=True))


@settings(max_examples=200, deadline=None)
@given(boxes, boxes)
def test_intersect_area_box_symmetry(a, b):
    ia = g.intersect_area_box(a, b)
    ib = g.intersect_area_box(b, a)
    assert (ia == ib).all()
    if _scalar_intersects(a, b):
        assert g.width(ia) >= 0 and g.height(ia) >= 0


@settings(max_examples=200, deadline=None)
@given(boxes, boxes)
def test_remove_box_area_disjoint_or_stable(a, b):
    out = g.remove_box_area(a, b)
    # result is contained in the original
    assert g.pair_is_inside(out, a)


def test_whittaker_matches_dense_solve():
    rng = np.random.RandomState(7)
    for n, lm, d in [(50, 1e1, 3), (200, 2e4, 2), (333, 2e2, 2)]:
        y = rng.rand(n) * 10
        D = np.diff(np.eye(n), d, axis=0)
        ref = np.linalg.solve(np.eye(n) + lm * D.T @ D, y)
        got = whittaker_smooth(y, lm, d)
        assert np.abs(ref - got).max() < 1e-8


def test_find_peaks_prominence_and_width():
    x = np.array([0, 1, 3, 6, 3, 1, 0, 2, 5, 2, 0], dtype=float)
    p, props = find_peaks(x, prominence=1, width=1)
    assert list(p) == [3, 8]
    assert props["prominences"][0] == 6
    # plateau resolves to midpoint
    p2, _ = find_peaks(np.array([0, 2, 2, 2, 0], dtype=float))
    assert list(p2) == [2]


def test_fix_hifenization_cases():
    # join across newline (text.py:15)
    assert fix_hifenization("mer- \nge ") == "merge "
    # leading hyphen on continuation consumed
    assert fix_hifenization("mer-\n-ge") == "merge"
    # same-line spaced hyphen tightened, hyphen kept (text.py:16)
    assert fix_hifenization("well - known") == "well-known"
    # faithful cap: only 8 newline joins per call (reference passes
    # re.MULTILINE==8 as re.sub's count argument)
    many = "ab- \ncd " * 12
    fixed = fix_hifenization(many)
    assert fixed.count("abcd") == 8
    assert fix_hifenization(many, faithful=False).count("abcd") == 12


def _make_doc(blocks):
    """Build a Document from [(box, [(line_y, 'words …'), …]), …]."""
    from osdocr_spark.kernels.doc import Document
    wb, wc, wt, wbl, wp, wl, wlk, bb = [], [], [], [], [], [], [], []
    for bi, (box, lines) in enumerate(blocks):
        bb.append(box)
        for li, (y, text, h) in enumerate(lines):
            x = box[0]
            for w in text.split():
                wb.append((x, x + len(w) * 10, y, y + h))
                wc.append(95)
                wt.append(w)
                wbl.append(bi)
                wp.append(0)
                wl.append(li)
                wlk.append(False)
                x += len(w) * 10 + 10
    return Document(
        url="t", w_box=np.array(wb, np.int64).reshape(-1, 4), w_conf=np.array(wc, np.int64),
        w_text=np.array(wt, object), w_block=np.array(wbl, np.int64),
        w_par=np.array(wp, np.int64), w_line=np.array(wl, np.int64),
        w_link=np.array(wlk, bool), b_box=np.array(bb, np.int64).reshape(-1, 4),
        b_id=np.arange(len(bb), dtype=np.int64), b_type=np.full(len(bb), None, object),
    )


def test_golden_text_size_and_columns():
    """Reference test style: normal text size within 10% of truth
    (tests/analyze_text/test_text_size.py:37-38), exact column count
    (test_columns.py:38-75)."""
    from osdocr_spark.kernels.analyzer import get_columns, get_text_sizes
    # 3 columns x 4 blocks x 3 lines of height 20
    blocks = []
    for col in range(3):
        x0 = 100 + col * 400
        for bi in range(4):
            y0 = 100 + bi * 140
            lines = [(y0 + k * 30, "aa bb cc dd", 20) for k in range(3)]
            blocks.append(((x0, x0 + 350, y0, y0 + 80), lines))
    doc = _make_doc(blocks)
    ts = get_text_sizes(doc)
    assert abs(ts["normal_text_size"] - 20) / 20 <= 0.1
    cols = get_columns(doc)
    assert len(cols) == 2  # consecutive left-margin peak pairs (3 peaks)


def test_golden_reading_order_two_columns():
    """Pairwise-precedence check of the ordered ids
    (test_reading_order.py:73-92 style, threshold 1.0 here)."""
    from osdocr_spark.kernels.classify import categorize_blocks
    from osdocr_spark.kernels.order import sort_topologic_order, topologic_order_context
    blocks = [((100, 900, 50, 100), [(50, "Big Title", 50)])]
    for col in range(2):
        x0 = 100 + col * 450
        for bi in range(3):
            y0 = 150 + bi * 120
            blocks.append(((x0, x0 + 400, y0, y0 + 80),
                           [(y0 + k * 28, "xx yy zz ww", 20) for k in range(3)]))
    doc = _make_doc(blocks)
    categorize_blocks(doc)
    assert doc.b_type[0] == "title"
    graph = topologic_order_context(doc, list(range(doc.n_blocks())))
    order = sort_topologic_order(doc, graph, sort_weight=True)
    assert order == [0, 1, 2, 3, 4, 5, 6]


def test_savgol_polynomial_reproduction_and_text_size_parity():
    """Savitzky–Golay invariant: a degree-≤polyorder signal is reproduced
    exactly (interior AND interp edges).  Then the reference-style
    cross-check (OSDOCR tests/analyze_text/test_text_size.py:40-82):
    method='savgol_filter' must recover the same normal_text_size class as
    the Whittaker path on the generated corpus."""
    import numpy as np
    from osdocr_spark.kernels.analyzer import get_text_sizes
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr
    from osdocr_spark.kernels.smoothing import savgol_smooth

    x = np.arange(40, dtype=np.float64)
    quad = 3.0 - 0.5 * x + 0.25 * x * x
    assert np.allclose(savgol_smooth(quad, 7, 2), quad, atol=1e-8)
    assert np.allclose(savgol_smooth(quad, 8, 2), quad, atol=1e-8)  # even window

    text = "the fast key order sort table scan merge group filter " * 10
    for doc_id in (0, 1, 2, 3, 7, 10):
        doc = parse_hocr(generate_page(doc_id, text.strip()))
        w = get_text_sizes(doc, method="WhittakerSmoother")["normal_text_size"]
        s = get_text_sizes(doc, method="savgol_filter")["normal_text_size"]
        assert s == w, (doc_id, s, w)
        # unknown method falls back to Whittaker (reference :24-26)
        assert get_text_sizes(doc, method="nope")["normal_text_size"] == w


def test_explicit_id_ops():
    """id_boxes / clean_ids / change_ids port (ocr_tree.py:451-504,954-963):
    sequential assignment, delimiter/area restriction, non-override collision
    protocol, and the change_ids truthy-guard quirk (id 0 never remapped)."""
    import numpy as np
    from osdocr_spark.kernels import geometry as g
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr
    from osdocr_spark.kernels.ids import NO_ID, change_ids, clean_ids, id_boxes

    doc = parse_hocr(generate_page(1, "the fast key order sort table scan " * 12))
    from osdocr_spark.kernels.classify import categorize_blocks
    categorize_blocks(doc)
    n = doc.n_blocks()
    n_delim = sum(doc.block_is_delimiter(bi) for bi in range(n))
    assert n_delim >= 1  # 3-column page has column rules

    clean_ids(doc)
    assert (doc.b_id == NO_ID).all()

    # skip delimiters: they stay unset, everyone else sequential in pre-order
    id_boxes(doc, delimiters=False)
    unset = [bi for bi in range(n) if doc.b_id[bi] == NO_ID]
    assert all(doc.block_is_delimiter(bi) for bi in unset)
    got = [int(i) for i in doc.b_id if i != NO_ID]
    assert got == list(range(n - len(unset)))

    # area-restricted assignment only touches blocks inside the area
    clean_ids(doc)
    area = g.box(0, 400, 0, 10_000)
    id_boxes(doc, area=area)
    for bi in range(n):
        inside = bool(g.is_inside(doc.b_box[bi], area))
        assert (doc.b_id[bi] != NO_ID) == inside

    # non-override: existing ids kept, duplicates bumped past the max
    clean_ids(doc)
    doc.b_id[0] = 5
    doc.b_id[1] = 5
    id_boxes(doc, override=False)
    assert doc.b_id[0] == 5            # first holder keeps the id
    assert doc.b_id[1] != 5            # duplicate bumped
    assert len(set(int(i) for i in doc.b_id)) == n

    # change_ids: remap, clean unmapped, never touch the falsy id 0
    clean_ids(doc)
    id_boxes(doc)
    change_ids(doc, {1: 101, 2: 102}, clean=True)
    assert int(doc.b_id[0]) == 0       # id 0 untouched (truthy guard, :956)
    assert int(doc.b_id[1]) == 101 and int(doc.b_id[2]) == 102
    assert (doc.b_id[3:] == NO_ID).all()


def test_article_authors_field_and_pretty_print():
    """Article carries an authors field (article.py:25): empty from tree
    assembly (from_ocr_trees never derives it), populated via the explicit
    constructor (:142-148), rendered by pretty_print (:159)."""
    from osdocr_spark.kernels.classify import boilerplate_mask, categorize_blocks
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.emit import (article_pretty_print,
                                           assemble_article, make_article)
    from osdocr_spark.kernels.hocr import parse_hocr

    doc = parse_hocr(generate_page(2, "the fast key order sort table scan " * 8))
    categorize_blocks(doc)
    bp = boilerplate_mask(doc)
    art = assemble_article(doc, [i for i in range(doc.n_blocks()) if not bp[i]])
    assert art["authors"] == []

    a = make_article("T", ["Ada Lovelace", "Alan Turing"], "abs", [("text", "b")])
    assert a["authors"] == ["Ada Lovelace", "Alan Turing"]
    out = article_pretty_print(a)
    assert "AUTHORS: Ada Lovelace, Alan Turing" in out
    assert "TITLE: T" in out


def test_hocr_roundtrip():
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr, to_hocr
    d1 = parse_hocr(generate_page(11, "the quick brown fox jumps over the lazy dog " * 6))
    d2 = parse_hocr(to_hocr(d1))
    assert list(d1.w_text) == list(d2.w_text)
    assert (d1.w_box == d2.w_box).all()
    assert (d1.b_box == d2.b_box).all()
    assert (d1.w_link == d2.w_link).all()


def test_hocr_malformed_content_parity():
    """Span content containing a bare '<' that never forms a tag must be
    preserved (BeautifulSoup get_text() parity — ADVICE r1), while an
    unclosed word span must still yield empty text, not swallow the next
    word."""
    from osdocr_spark.kernels.hocr import parse_hocr

    def word(txt, x=10):
        return ("<span class='ocrx_word' id='w' "
                f"title='bbox {x} 10 {x + 50} 30; x_wconf 90'>{txt}</span>")

    page = ("<html><body>"
            "<div class='ocr_carea' id='b' title='bbox 0 0 500 40'>"
            + word("a &lt;ok&gt;")                    # escaped angle brackets
            + word("a < b", 70)                       # bare '<' in content
            + word("x <3 y", 140)                     # '<' before a digit
            + word("<a href='#'>link</a>", 210)       # real non-span tag
            + "<span class='ocrx_word' id='w' title='bbox 280 10 330 30; "
              "x_wconf 90'>unclosed "                 # no </span>
            + word("next", 350)
            + "</div></body></html>")
    doc = parse_hocr(page.encode())
    texts = list(doc.w_text)
    assert "a <ok>" in texts
    assert "a < b" in texts
    assert "x <3 y" in texts
    assert "link" in texts
    assert "next" in texts            # not swallowed by the unclosed span
    assert "unclosed" not in texts    # unclosed span yields empty, as before


def test_hocr_title_attr_order_tolerance():
    """x_wconf before bbox (non-Tesseract attr order) still parses — the
    combined fast regex falls back to the standalone search."""
    from osdocr_spark.kernels.hocr import parse_hocr

    page = ("<div class='ocr_carea' id='b' title='bbox 0 0 500 40'>"
            "<span class='ocrx_word' id='w' "
            "title='x_wconf 77; bbox 10 10 60 30'>hi</span></div>")
    doc = parse_hocr(page.encode())
    assert list(doc.w_conf) == [77]
    assert list(doc.w_text) == ["hi"]


def test_journal_areas_segments_header_body_footer():
    """get_journal_areas (ocr_tree_analyser.py:248-392): inverted line-top
    projection finds the dense body band between sparse header/footer."""
    from osdocr_spark.kernels.analyzer import get_journal_areas
    blocks = [((100, 400, 10, 24), [(10, "nav nav nav", 14)])]
    for bi in range(8):
        y0 = 200 + bi * 90
        blocks.append(((100, 700, y0, y0 + 80),
                       [(y0 + k * 28, "aa bb cc dd ee", 20) for k in range(3)]))
    blocks.append(((100, 400, 1100, 1114), [(1100, "footer links", 14)]))
    doc = _make_doc(blocks)
    areas = get_journal_areas(doc)
    assert areas["body"] is not None
    body = areas["body"]
    assert body[2] > 24 and body[3] >= 900  # header excluded, body spans columns band
    assert areas["header"][3] == body[2] and areas["footer"][2] == body[3]


def test_article_to_md():
    from osdocr_spark.kernels.emit import article_to_md
    art = {"title": "Big News", "subtitle": [], "abstract": None,
           "body": [("text", "mer- \nge done. # not a header"), ("image", "")]}
    md = article_to_md(art)
    assert md.startswith("# Big News")
    assert "merge done." in md
    assert "![image](image)" in md


def test_naive_reading_order_matches_graph_on_columns():
    """The legacy position-only path (ocr_tree_analyser.py:730-855) agrees
    with the graph path on a clean title + 2-column layout; the context
    variant (:993-1083) does too."""
    from osdocr_spark.kernels.classify import categorize_blocks
    from osdocr_spark.kernels.order import sort_topologic_order, topologic_order_context
    from osdocr_spark.kernels.order_naive import (reading_order_naive,
                                                  reading_order_naive_context)
    blocks = [((100, 900, 50, 100), [(50, "Big Title", 50)])]
    for col in range(2):
        x0 = 100 + col * 450
        for bi in range(3):
            y0 = 150 + bi * 120
            blocks.append(((x0, x0 + 400, y0, y0 + 80),
                           [(y0 + k * 28, "xx yy zz ww", 20) for k in range(3)]))
    doc = _make_doc(blocks)
    categorize_blocks(doc)
    graph = topologic_order_context(doc, list(range(doc.n_blocks())))
    graph_order = sort_topologic_order(doc, graph, sort_weight=True)
    assert reading_order_naive(doc, list(range(doc.n_blocks()))) == graph_order
    assert reading_order_naive_context(doc, list(range(doc.n_blocks()))) == graph_order


def test_small_operator_parity_helpers():
    """Directional selects, point distances, intersect-area selects, and the
    small tree predicates (SURVEY.md §2.2-2.4 long tail)."""
    import numpy as np
    from osdocr_spark.kernels import geometry as g
    from osdocr_spark.kernels import neighbors as nb
    bb = np.array([[0, 100, 0, 50], [0, 100, 100, 150], [200, 300, 0, 50]], np.int64)
    cand = np.array([1, 2], np.int64)
    # vertical strip extension requires x-overlap: block 2 (x 200-300) is
    # outside block 1's strip; horizontal extension requires y-overlap
    assert list(nb.above(bb, 1, np.array([0, 2]))) == [0]
    assert list(nb.left(bb, 2, np.array([0, 1]))) == [0]
    assert list(nb.below(bb, 0, cand)) == [1]
    assert g.distance_to_point(bb[0], 50, 25) == 0.0
    assert g.distance_to_point(bb[0], 150, 25) == 50.0
    assert g.closest_edge_point(bb[0], 150, 25) == (100.0, 25.0)
    assert g.closest_edge_point(bb[0], 10, 25) == (0.0, 25.0)

    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr
    doc = parse_hocr(generate_page(0, "the fast key order sort table scan " * 8))
    s, c = doc.conf_sum()
    assert c == len(doc.w_text) and s == 95 * c
    delims = doc.get_delimiters(orientation="vertical")
    assert all(doc.block_is_delimiter(d) for d in delims)
    area = np.array([0, 2000, 0, 40], np.int64)  # header band
    hits = doc.blocks_intersect_area(area)
    assert 0 in hits



def test_get_delimiters_search_area():
    """get_delimiters(search_area=...) keeps exactly the delimiter blocks
    fully inside the area (closed edges) — the per-block pair form over the
    same blocks — alone, with the orientation filter, and for an area given
    as a list."""
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr

    doc = parse_hocr(generate_page(1, "the fast key order sort table scan " * 12))
    delims = doc.get_delimiters()
    assert len(delims) == 2  # the two column rules of a 3-column page
    first, second = (doc.b_box[d].tolist() for d in delims)
    page = doc.b_box.max(axis=0)
    areas = [
        np.array([0, int(page[g.R]), 0, int(page[g.B])], np.int64),  # whole page
        np.array([0, first[g.R], 0, int(page[g.B])], np.int64),      # left part
        np.array(second, np.int64),                                   # exact box
        np.array([second[g.L], second[g.R], second[g.T] + 1, second[g.B]], np.int64),
    ]
    got = [doc.get_delimiters(search_area=a) for a in areas]
    assert got == [delims, delims[:1], delims[1:], []]
    for a, want in zip(areas, got):
        assert want == [d for d in delims
                        if g.pair_is_inside(doc.b_box[d].tolist(), a.tolist())]
        assert doc.get_delimiters(search_area=a.tolist()) == want
        assert doc.get_delimiters(search_area=a, orientation="vertical") == want
        assert doc.get_delimiters(search_area=a, orientation="horizontal") == []


def test_dgraph_transitive_reduction():
    """DGraph.transitive_reduction on a hand-built DAG: an edge implied by a
    longer path is removed, an edge no other path replaces is kept with its
    weight, and ``visit_order`` limits the reduction to the listed nodes."""
    from osdocr_spark.kernels.order import DGraph

    def build():
        gr = DGraph()
        for i in range(5):
            gr.add_node(i)
        for s, t, w in ((0, 1, 10), (1, 2, 20), (0, 2, 30),   # 0→2 implied
                        (2, 3, 40), (1, 3, 50),               # 1→3 implied
                        (0, 4, 60), (4, 3, 70)):              # both needed
            gr.add_edge(s, t, w)
        return gr

    gr = build()
    gr.transitive_reduction(visit_order=[1])
    assert sorted(gr.children[1]) == [2] and (1, 3) not in gr.cw
    assert sorted(gr.children[0]) == [1, 2, 4]  # node 0 not visited

    gr = build()
    gr.transitive_reduction()
    assert {s: sorted(c) for s, c in gr.children.items()} == {
        0: [1, 4], 1: [2], 2: [3], 3: [], 4: [3]}
    assert gr.cw == {(0, 1): 10, (1, 2): 20, (2, 3): 40, (0, 4): 60, (4, 3): 70}


def test_large_document_bounded_and_byte_identical():
    """Domain-skew robustness: a 50k-word (~1.2 MB) page — far above the
    corpus P99 — still extracts with byte parity and bounded wall (the
    Arrow-batch cap in session.py keeps such pages from stalling a worker;
    this pins the kernel side of that claim)."""
    import re
    import time

    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.pipeline import extract_html

    words = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
             "eiusmod tempor incididunt ut labore et dolore magna aliqua " * 450).split()
    text = " ".join(words[:50000])
    page = generate_page(999_999, text)
    t0 = time.time()
    r = extract_html("big", page)
    wall = time.time() - t0
    assert r["text"] == re.sub(r"\s+", " ", text).strip()
    assert r["n_blocks"] > 100
    assert wall < 60, wall  # ~2 s on an idle core; generous bound for CI noise


def test_malformed_inputs_never_raise():
    """Crawl-scale robustness: garbage, truncated, empty, and non-hOCR
    payloads must flow through the kernel without raising (one bad page must
    not kill an Arrow batch of 512 docs).  The 'None' text on degenerate
    pages is reference-faithful (``article.py:221`` stringifies the None
    title; see emit.article_to_txt)."""
    from osdocr_spark.kernels.pipeline import extract_html

    cases = {
        "empty": b"",
        "invalid_utf8_garbage": b"\xff\xfe not html \x00\x01",
        "truncated_tag": b"<div class='ocr_carea' title='bbox 0 0 100 100'>"
                         b"<span class='ocrx_word' title='bbox 1 1",
        "block_no_words": b"<div class='ocr_carea' title='bbox 0 0 100 100'></div>",
        "plain_html_not_hocr": b"<html><body><p>plain page</p></body></html>",
    }
    for name, payload in cases.items():
        r = extract_html(name, payload)
        assert r["url"] == name
        assert isinstance(r["text"], str)
        assert r["n_words"] >= 0


def test_adversarial_generator_survives_over_long_words():
    """Words wider than the headline/caption span once clamped the per-char
    width to 0 and divided by it; every family, with and without the
    planted second headline, must render — and render deterministically."""
    from osdocr_spark.kernels.corpus import generate_page_adversarial

    text = " ".join(["y" * 600] * 80)
    for doc_id in range(5):
        for multi in (False, True):
            page = generate_page_adversarial(doc_id, text, multi_article=multi)
            assert page == generate_page_adversarial(doc_id, text, multi_article=multi)


def test_categorize_vectorized_matches_loop():
    """Exact A/B parity of the vectorized classifier against the sequential
    reference loop (tests/classify_reference.py) — b_type and both
    continuation flags, over every generator family incl. all five
    adversarial layouts (the caption/vertical/dense branches live there)."""
    import duckdb

    from classify_reference import _categorize_blocks_loop
    from osdocr_spark.kernels.classify import categorize_blocks
    from osdocr_spark.kernels.corpus import (generate_page,
                                             generate_page_adversarial)
    from osdocr_spark.kernels.hocr import parse_hocr

    rows = duckdb.sql("select doc_id, text from "
                      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
    checked = 0
    for doc_id, text in rows[:120]:
        for gen, kw in ((generate_page, {}), (generate_page, {"noisy": True}),
                        (generate_page, {"multi_article": True}),
                        (generate_page_adversarial, {})):
            html = gen(doc_id, text.strip(), **kw)
            d_vec = parse_hocr(html)
            d_loop = parse_hocr(html)
            categorize_blocks(d_vec)
            _categorize_blocks_loop(d_loop)
            assert list(d_vec.b_type) == list(d_loop.b_type), (doc_id, kw)
            assert list(d_vec.b_start_text) == list(d_loop.b_start_text), (doc_id, kw)
            assert list(d_vec.b_end_text) == list(d_loop.b_end_text), (doc_id, kw)
            checked += 1
    assert checked == 480


def _parity_pages(n_docs, families):
    import duckdb

    from osdocr_spark.kernels.hocr import parse_hocr

    rows = duckdb.sql("select doc_id, text from "
                      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
    for doc_id, text in rows[:n_docs]:
        for gen, kw in families:
            yield (doc_id, kw), parse_hocr(gen(doc_id, text.strip(), **kw))


def test_block_to_text_batch_matches_loop():
    """Exact A/B parity of the whole-doc text render against the per-word
    reference walk (``tests/doc_reference.py``) — every generator family
    incl. all five adversarial layouts, at the flag conf (50), the
    emission conf with body delimiters, and conf 0."""
    from osdocr_spark.kernels.corpus import (generate_page,
                                             generate_page_adversarial)

    body_delims = {3: "\n\t", 4: "\n", 5: " "}
    families = ((generate_page, {}), (generate_page, {"noisy": True}),
                (generate_page_adversarial, {}),
                (generate_page_adversarial, {"noisy": True}))
    checked = 0
    for tag, doc in _parity_pages(40, families):
        for conf, delims in ((50, None), (10, body_delims), (0, None)):
            for bi in range(doc.n_blocks()):
                assert doc.block_to_text(bi, conf=conf, text_delimiters=delims) \
                    == ref.block_to_text(doc, bi, conf, delims), (tag, conf, bi)
        checked += 1
    assert checked == 160


def test_vertical_geom_batch_matches_impl():
    """Exact A/B parity of the whole-doc vertical-text mask against the
    per-block reference vote, over regular and all five adversarial
    families (the vertical/dense branches live there)."""
    from osdocr_spark.kernels.corpus import (generate_page,
                                             generate_page_adversarial)

    families = ((generate_page, {}), (generate_page_adversarial, {}),
                (generate_page_adversarial, {"noisy": True}))
    checked = verticals = 0
    for tag, doc in _parity_pages(40, families):
        for conf in (0, 10):
            want = [ref.is_vertical_text(doc, bi, conf)
                    for bi in range(doc.n_blocks())]
            assert doc.vertical_mask(conf).tolist() == want, (tag, conf)
            verticals += sum(want)
        checked += 1
    assert checked == 120
    assert verticals > 0


def _interleaved_doc():
    """Eight blocks whose words are interleaved in the word table: a
    two-paragraph block with a low-confidence word, a one-line block, a
    tall one-word block, a block with no words, a multi-line block whose
    lines stand side by side (vertical text), a one-line and a multi-line
    block whose verdict hangs on which of two equally wide words / tall
    lines is the first maximum, and a one-word block at exactly 2:1."""
    from osdocr_spark.kernels.doc import Document

    #        block par line text        box (l, r, t, b)          conf
    words = [(0, 0, 0, "Alpha", (10, 60, 10, 30), 95),
             (1, 0, 0, "one", (300, 340, 10, 28), 90),
             (4, 0, 0, "V", (500, 512, 100, 160), 95),
             (0, 0, 0, "beta", (70, 110, 10, 30), 5),
             (2, 0, 0, "I", (400, 410, 100, 140), 95),
             (1, 0, 0, "two-words", (350, 450, 10, 28), 90),
             (0, 0, 1, "gamma.", (10, 70, 40, 60), 95),
             (4, 0, 1, "E", (520, 532, 100, 158), 95),
             (0, 1, 0, "Delta", (10, 60, 80, 100), 95),
             (1, 0, 0, "!", (460, 464, 10, 28), 3),
             (5, 0, 0, "a", (0, 100, 500, 520), 95),
             (6, 0, 0, "p", (700, 720, 0, 100), 95),
             (5, 0, 0, "b", (200, 300, 500, 520), 95),
             (4, 0, 2, "R", (540, 552, 102, 160), 95),
             (7, 0, 0, "l", (600, 610, 200, 220), 95),
             (6, 0, 1, "q", (730, 750, 300, 400), 95),
             (5, 0, 0, "c", (205, 295, 500, 520), 95),
             (0, 1, 0, "eps", (70, 100, 80, 100), 95),
             (6, 0, 2, "r", (760, 780, 305, 395), 95),
             (5, 0, 0, "d", (210, 290, 500, 520), 95),
             (6, 0, 3, "s", (790, 810, 310, 390), 95)]
    b_box = [(10, 110, 10, 100), (300, 464, 10, 28), (400, 410, 100, 140),
             (600, 700, 0, 2), (500, 552, 100, 160), (0, 300, 500, 520),
             (700, 810, 0, 400), (600, 610, 200, 220)]
    col = lambda k, dt: np.array([w[k] for w in words], dtype=dt)
    return Document(
        url="interleaved", w_box=col(4, np.int64), w_conf=col(5, np.int64),
        w_text=col(3, object), w_block=col(0, np.int64),
        w_par=col(1, np.int64), w_line=col(2, np.int64),
        w_link=np.zeros(len(words), dtype=bool),
        b_box=np.array(b_box, dtype=np.int64),
        b_id=np.arange(len(b_box), dtype=np.int64),
        b_type=np.full(len(b_box), None, dtype=object))


def _assert_block_properties_match_reference(doc, tag):
    body_delims = {3: "\n\t", 4: "\n", 5: " "}
    for bi in range(doc.n_blocks()):
        assert doc.words_of(bi).tolist() == ref.words_of(doc, bi).tolist(), (tag, bi)
        for conf in (-1, 0, 10, 50):
            for got, want in zip(doc.line_table(bi, conf),
                                 ref.line_table(doc, bi, conf), strict=True):
                assert got.shape == want.shape and (got == want).all(), \
                    (tag, bi, conf)
            assert doc.block_mean_word_height(bi, conf) \
                == ref.mean_word_height(doc, bi, conf), (tag, bi, conf)
            assert doc.block_char_mean_width(bi, conf) \
                == ref.char_mean_width(doc, bi, conf), (tag, bi, conf)
        for conf, delims in ((50, None), (10, body_delims), (0, None)):
            assert doc.block_to_text(bi, conf, delims) \
                == ref.block_to_text(doc, bi, conf, delims), (tag, bi, conf)
    for conf in (0, 10):
        want = [ref.is_vertical_text(doc, bi, conf) for bi in range(doc.n_blocks())]
        assert doc.vertical_mask(conf).tolist() == want, (tag, conf)
        assert [doc.block_is_vertical_text(bi, conf)
                for bi in range(doc.n_blocks())] == want, (tag, conf)


def test_block_properties_on_interleaved_word_table():
    """Block properties read the same whatever the word table's block
    order: a hand-built interleaved document, and parsed pages whose
    blocks are randomly interleaved (each block's own word order kept),
    both match the per-block references."""
    import random

    from osdocr_spark.kernels.corpus import (generate_page,
                                             generate_page_adversarial)
    from osdocr_spark.kernels.doc import Document

    doc = _interleaved_doc()
    _assert_block_properties_match_reference(doc, "hand-built")
    assert doc.words_of(0).tolist() == [0, 3, 6, 8, 17]
    assert doc.words_of(3).tolist() == []
    assert doc.vertical_mask(0).tolist() == [False, False, True, False,
                                             True, False, False, True]
    assert doc.block_to_text(0, conf=10) == "\n\t\nAlpha \ngamma. \n\t\nDelta eps "

    rng = random.Random(11)
    families = ((generate_page, {}), (generate_page, {"noisy": True}),
                (generate_page_adversarial, {}))
    checked = 0
    for tag, page in _parity_pages(10, families):
        # a random merge of the per-block word runs
        runs = [list(page.words_of(bi)) for bi in range(page.n_blocks())]
        perm = []
        while any(runs):
            perm.append(rng.choice([r for r in runs if r]).pop(0))
        perm = np.array(perm, dtype=np.int64)
        assert not (np.diff(page.w_block[perm]) >= 0).all(), tag
        mixed = Document(
            url=page.url, w_box=page.w_box[perm], w_conf=page.w_conf[perm],
            w_text=page.w_text[perm], w_block=page.w_block[perm],
            w_par=page.w_par[perm], w_line=page.w_line[perm],
            w_link=page.w_link[perm], b_box=page.b_box, b_id=page.b_id,
            b_type=page.b_type)
        _assert_block_properties_match_reference(mixed, tag)
        for bi in range(page.n_blocks()):
            assert mixed.block_to_text(bi) == page.block_to_text(bi), (tag, bi)
        assert (mixed.vertical_mask(0) == page.vertical_mask(0)).all(), tag
        checked += 1
    assert checked == 30


def test_next_top_block_vec_matches_loop():
    """Exact A/B parity of the whole-array next_top_block in
    ``order_reference.py`` against the package's scalar walk — full sets,
    reversed and random candidate subsets (32+ candidates, more than any
    generated page's main blocks), two origins, over
    adversarial/noisy/multi-article pages (tie-break coverage: the
    duplicate top-blocks at the head of the leftmost pool)."""
    import random

    import duckdb
    from order_reference import _next_top_block_vec

    from osdocr_spark.kernels import order as O
    from osdocr_spark.kernels.corpus import generate_page_adversarial
    from osdocr_spark.kernels.hocr import parse_hocr

    rng = random.Random(7)
    rows = duckdb.sql("select doc_id, text from "
                      "'/root/testdata/sf0.001/documents.parquet'").fetchall()
    checked = 0
    for doc_id, text in rows[:20]:
        for kw in ({}, {"noisy": True}, {"multi_article": True}):
            d = parse_hocr(generate_page_adversarial(doc_id, text.strip(), **kw))
            n = d.n_blocks()
            idx = list(range(n))
            cands = [idx, idx[::-1]] + [
                rng.sample(idx, k=min(n, max(32, n // 2))) for _ in range(2)]
            for cand in cands:
                for origin in ((0.0, 0.0), (100.0, 50.0)):
                    assert (_next_top_block_vec(d, cand, origin)
                            == O.next_top_block(d, cand, origin)), \
                        (doc_id, kw, origin, len(cand))
                    checked += 1
    assert checked == 480
