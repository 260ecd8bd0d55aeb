"""Span contract of ``extract_document``: per-block character spans over
the normalized text.

- spans come in emission order and are adjacent: the next span starts at
  the previous end + 1;
- the last span ends at ``len(text)``;
- only the literal ``None`` a title-less article writes lies outside every
  span;
- each span holds its block's tokens: hyphens and whitespace aside, the
  span text is exactly the text tokens whose first letter comes from the
  block's confident words, so a hyphen join counts for the block of its
  first fragment.

Pages are hand-built ``Document``s (no generator), so the hyphen joins,
the per-payload cap of ``fix_hifenization`` and title-less articles are
reached on purpose.
"""

import random
import re
from unittest import mock

import numpy as np

from osdocr_spark.kernels import pipeline
from osdocr_spark.kernels.doc import Document
from osdocr_spark.kernels.emit import text_spans
from osdocr_spark.kernels.pipeline import extract_document

SIZE, CW = 20, 12          # body word height and char width
TITLE_SIZE, TITLE_CW = 50, 30
COL_X, COL_W = 40, 520


def _page(columns) -> Document:
    """One page with a column per entry of ``columns``:
    ``(title_words | None, blocks)``, where ``blocks`` is a list of
    blocks, a block a list of lines and a line a list of words.  A word is
    a string (conf 95) or a ``(text, conf)`` pair."""
    wb, wc, wt, wbl, wp, wl = [], [], [], [], [], []
    bb = []

    def block(lines, x0, y0, size, cw):
        pitch = size + size // 2
        right = x0
        for li, line in enumerate(lines):
            x = x0
            t = y0 + li * pitch
            for w in line:
                text, conf = w if isinstance(w, tuple) else (w, 95)
                r = x + max(len(text), 1) * cw
                wb.append((x, r, t, t + size))
                wc.append(conf)
                wt.append(text)
                wbl.append(len(bb))
                wp.append(li // 3)
                wl.append(li)
                x = r + CW
            right = max(right, x - CW)
        bottom = y0 + (len(lines) - 1) * pitch + size
        bb.append((x0, right, y0, bottom))
        return bottom

    for ci, (title, blocks) in enumerate(columns):
        x0 = COL_X + ci * (COL_W + 60)
        y = 60
        if title is not None:
            y = block([title], x0, y, TITLE_SIZE, TITLE_CW) + SIZE
        for lines in blocks:
            y = block(lines, x0, y, SIZE, CW) + SIZE
    n = len(bb)
    return Document(
        url="hand", w_box=np.array(wb, np.int64).reshape(-1, 4),
        w_conf=np.array(wc, np.int64), w_text=np.array(wt, object),
        w_block=np.array(wbl, np.int64), w_par=np.array(wp, np.int64),
        w_line=np.array(wl, np.int64), w_link=np.zeros(len(wt), bool),
        b_box=np.array(bb, np.int64).reshape(-1, 4),
        b_id=np.arange(n, dtype=np.int64), b_type=np.full(n, None, object))


_DROPPED = re.compile(r"[\s-]")  # what the emission may delete from a word


def _extract(page: Document) -> tuple[dict, list[dict]]:
    """``extract_document(page)`` and the assembled articles its spans were
    read from."""
    seen = []

    def spy(doc, articles, text):
        seen.append(articles)
        return text_spans(doc, articles, text)

    with mock.patch.object(pipeline, "text_spans", spy):
        r = extract_document(page)
    return r, seen[0]


def _span_contract_violations(r: dict, page: Document, articles: list[dict]) -> list[str]:
    """Every way ``r["spans"]`` breaks the span contract over ``r["text"]``,
    whose words are the ``articles``' ``text_words``."""
    text, spans = r["text"], r["spans"]
    bad = []
    pos = 0  # where the next span starts: the previous end + 1
    for bid, s, e in spans:
        gap = text[pos:s]
        if s < pos or gap.replace("None ", ""):
            bad.append(f"block {bid} starts at {s}, not {pos}; text[{pos}:{s}] = {gap!r}")
        if not s < e <= len(text) or text[s:e].strip() != text[s:e]:
            bad.append(f"block {bid}: span ({s}, {e}) is no run of tokens")
        pos = e + 1
    if spans and text[spans[-1][2]:].replace(" None", ""):
        bad.append(f"last span ends at {spans[-1][2]}, len(text) = {len(text)}")
    if not spans and set(text.split(" ")) - {"None", ""}:
        bad.append("no spans over a non-empty text")
    if len({bid for bid, _, _ in spans}) != len(spans):
        bad.append("a block has more than one span")

    # content: deal the spanned tokens' letters out of the confident word
    # stream; a token belongs to the block of its first letter
    letters, owner = [], []
    for bi, wi in (bw for a in articles for bw in a["text_words"]):
        for w in page.w_text[wi]:
            t = _DROPPED.sub("", w)
            letters.append(t)
            owner += [int(page.b_id[bi])] * len(t)
    letters = "".join(letters)
    want: dict[int, str] = {}
    k = 0
    for _, s, e in spans:
        for tok in text[s:e].split(" "):
            tok = _DROPPED.sub("", tok)
            if not tok:
                continue
            if letters[k:k + len(tok)] != tok:
                return bad + [f"token {tok!r} at letter {k} is not in the word stream"]
            want[owner[k]] = want.get(owner[k], "") + tok
            k += len(tok)
    if k != len(letters):
        bad.append(f"spans cover {k} of {len(letters)} word letters")
    for bid, s, e in spans:
        if _DROPPED.sub("", text[s:e]) != want.pop(bid, ""):
            bad.append(f"block {bid}: span text {text[s:e]!r} holds other blocks' tokens")
    if want:
        bad.append(f"blocks {sorted(want)} own tokens but have no span")
    return bad


def _lines(words, per_line):
    return [words[i:i + per_line] for i in range(0, len(words), per_line)]


def _lines_blocks(lines, per_block=5):
    return [lines[i:i + per_block] for i in range(0, len(lines), per_block)]


def _hyphen_body(n_breaks, stem):
    """Lines of plain words where ``n_breaks`` lines end in a hyphen-split
    word whose continuation starts the next line."""
    lines = []
    for k in range(n_breaks):
        lines.append([f"{stem}{k}", "alpha", "beta", "gam-"])
        lines.append(["ma", "delta"])
    return lines


def test_two_articles_hyphen_cap_is_per_payload():
    """5 line-end breaks in each of two articles: every one is joined,
    because ``fix_hifenization``'s cap of 8 counts per body payload, not
    per page."""
    page = _page([(["First", "Story"], _lines_blocks(_hyphen_body(5, "a"))),
                  (["Second", "Story"], _lines_blocks(_hyphen_body(5, "b")))])
    r, arts = _extract(page)
    assert r["n_articles"] == 2
    assert r["text"].count("gamma") == 10
    assert not _span_contract_violations(r, page, arts), _span_contract_violations(r, page, arts)


def test_one_article_hyphen_cap_keeps_two_breaks():
    """10 line-end breaks in one payload: the cap joins 8 and leaves 2."""
    page = _page([(["Only", "Story"], [sum(_lines_blocks(_hyphen_body(10, "a")), [])])])
    r, arts = _extract(page)
    assert r["n_articles"] == 1
    assert r["text"].count("gamma") == 8
    assert r["text"].count("gam- ma") == 2
    assert not _span_contract_violations(r, page, arts), _span_contract_violations(r, page, arts)


def test_title_less_article_none_lies_outside_spans():
    """An article without a title block writes the literal ``None``; no
    span covers it and the first span starts right after it."""
    words = [f"word{i}" for i in range(20)]
    page = _page([(None, [_lines(words, 5)])])
    r, arts = _extract(page)
    assert r["text"].startswith("None ")
    assert r["spans"] == [(0, len("None "), len(r["text"]))]
    assert not _span_contract_violations(r, page, arts), _span_contract_violations(r, page, arts)


def test_mid_line_hyphen_keeps_its_hyphen():
    """``well- known`` mid-line joins to ``well-known`` (the hyphen stays),
    so the span must not count a dropped hyphen."""
    line = ["the", "well-", "known", "fact"]
    page = _page([(["Head", "Line"], [[line, line], [line, line]])])
    r, arts = _extract(page)
    assert r["text"].count("well-known") == 4
    assert not _span_contract_violations(r, page, arts), _span_contract_violations(r, page, arts)


def test_whitespace_inside_a_word():
    """A word holding a no-break space, a tab and a double space is written
    as four tokens; the words after it keep their blocks."""
    page = _page([(["Head", "Line"], [[["one", "x\xa0y\tz  w", "two"]],
                                       [["three", "four"]], [["five"]]])])
    r, arts = _extract(page)
    assert r["text"] == "Head Line one x y z w two three four five"
    assert r["spans"] == [(0, 0, 9), (1, 10, 25), (2, 26, 36), (3, 37, 41)]
    assert not _span_contract_violations(r, page, arts), _span_contract_violations(r, page, arts)


_PLAIN = ["river", "stone", "Bright", "x", "lo", "ok", "table", "scan", "7days"]


def _random_word(rng):
    roll = rng.random()
    if roll < 0.15:
        return rng.choice(["inter-", "co-", "well-", "x-", "re-", "Ab-", "9-"])
    if roll < 0.22:
        return rng.choice(["-national", "-op", "-Known", "-", "--x"])
    if roll < 0.27:
        return (rng.choice(_PLAIN), -1)
    return rng.choice(_PLAIN)


def _random_page(rng):
    columns = []
    for _ in range(rng.randint(1, 3)):
        title = None
        if rng.random() < 0.7:
            title = [rng.choice(["Big", "News", "to-", "Re-", "day"])
                     for _ in range(rng.randint(1, 3))]
        blocks = [[[_random_word(rng) for _ in range(rng.randint(1, 6))]
                   for _ in range(rng.randint(1, 5))]
                  for _ in range(rng.randint(1, 4))]
        columns.append((title, blocks))
    return _page(columns)


def test_spans_random_pages():
    """Seeded random pages: hyphen-ending words at line ends and mid-line,
    leading-``-`` and uppercase continuations, titles ending in ``-``,
    ``conf -1`` words and title-less articles."""
    rng = random.Random(8)
    checked = none_pages = dash_titles = 0
    for k in range(600):
        page = _random_page(rng)
        r, arts = _extract(page)
        bad = _span_contract_violations(r, page, arts)
        assert not bad, (k, r["text"], r["spans"], bad)
        checked += 1
        none_pages += r["text"].startswith("None")
        dash_titles += any(t.endswith("-") for _, t, _ in r["article_rows"])
    assert checked == 600
    assert none_pages > 20 and dash_titles > 20
