"""Deterministic synthetic Common-Crawl-style page corpus.

Renders each ``documents`` row (``doc_id``, ``text``) into an hOCR page with
a newspaper layout (FIXTURES.md §3): masthead nav + title + 1–3 text columns
with optional hyphen-split line breaks + column-rule delimiters + footer.
The layout inverts exactly: running the extraction pipeline over the
generated page and normalizing whitespace reproduces the original document
text byte-for-byte — that invariant is the driver's oracle
(``oracle_sql()['extract_text']``).

Every layout parameter is **pure arithmetic on** ``doc_id`` (no RNG, no
hashing) so the DuckDB oracle can re-derive golden quantities in ANSI SQL:

- body size       ``SIZES[doc_id % 4]``
- title words     ``2 if n_words < 24 else 4``
- columns         ``1 if n_words < 40 else 2 + doc_id % 2``

Boilerplate (header/footer) words are drawn from a fixed nav vocabulary and
wrapped in ``<a>`` anchors → link density 1.0 → stripped by
:func:`~osdocr_spark.kernels.classify.boilerplate_mask`.
"""

from __future__ import annotations

import html as _html

__all__ = ["generate_page", "layout_params", "PAGE_W", "SIZES"]

PAGE_W = 1240
MARGIN = 40
GUTTER = 20
# Right-rail anchor (round 3): real newspaper pages carry marginalia (page
# numbers, side nav) giving the left-margin projection k+1 peaks for k text
# columns — which is exactly what the reference's get_columns acceptance
# relies on (len(columns) = n_peaks - 1 == true column count on its study
# pages, OSDOCR/tests/analyze_text/test_columns.py:38-75).  The rail is a
# stack of single-word link blocks at a fixed left margin: boilerplate
# (stripped from text, so the byte-parity oracle is untouched) whose
# histogram mass scales with the document so its peak always clears the
# reference's 0.1·max prominence threshold.
RAIL_X = 1100
SIZES = (20, 24, 28, 32)
HEADER_SIZE = 14
HEADER_CW = 9
LINES_PER_BLOCK = 5
LINES_PER_PAR = 3
MAX_HYPHEN_SPLITS = 4  # stay under fix_hifenization's faithful cap of 8

_NAV = ("home", "login", "subscribe", "menu", "search", "contact",
        "about", "privacy", "terms", "sitemap")


def layout_params(doc_id: int, n_words: int) -> dict:
    """Layout parameters as pure functions of (doc_id, n_words)."""
    s = SIZES[doc_id % 4]
    return {
        "size": s,
        "title_size": s * 5 // 2,
        "char_w": s * 3 // 5,
        "title_n": 2 if n_words < 24 else 4,
        "n_cols": 1 if n_words < 40 else 2 + (doc_id % 2),
    }


def _wrap_words(words: list[str], chars_per_line: int, doc_id: int,
                allow_hyphen: bool) -> list[list[str]]:
    """Greedy word wrap by character count; deterministically hyphen-splits
    a few long words across line breaks (exercises ``fix_hifenization``)."""
    lines: list[list[str]] = []
    cur: list[str] = []
    cur_len = 0
    splits = 0
    queue = list(words)
    wi = 0
    while queue:
        w = queue.pop(0)
        add = len(w) + (1 if cur else 0)
        if cur_len + add <= chars_per_line or not cur:
            # hyphen split: word fits but is chosen for a deterministic split
            if (allow_hyphen and splits < MAX_HYPHEN_SPLITS and len(w) >= 6
                    and (doc_id * 31 + wi) % 23 == 0 and cur):
                k = len(w) // 2
                cur.append(w[:k] + "-")
                lines.append(cur)
                cur = []
                cur_len = 0
                queue.insert(0, w[k:])
                splits += 1
            else:
                cur.append(w)
                cur_len += add
        else:
            lines.append(cur)
            cur = [w]
            cur_len = len(w)
        wi += 1
    if cur:
        lines.append(cur)
    return lines


class _Emitter:
    def __init__(self):
        self.parts = ["<!DOCTYPE html>\n<html><body>"]
        self.block_n = 0
        # one-shot bbox inflation for the next block (noisy pages: the block
        # box exceeds its word hull → text_bound_box_fix must shrink it)
        self.pad_right = 0
        self.pad_bottom = 0

    def block(self, lines: list[list[str]], x0: int, y0: int, size: int,
              char_w: int, link: bool = False, lines_per_par: int = LINES_PER_PAR,
              conf: int = 95, word_gap: int | None = None) -> tuple[int, int, int, int]:
        """Emit one carea with pars/lines/words; returns the block bbox.

        ``word_gap`` defaults to ``char_w``; title blocks pass the *body*
        char width so their inter-word gaps stay proportional to the page's
        average word distance (otherwise ``split_whitespaces`` — correctly —
        treats an all-gaps title line as splittable whitespace)."""
        self.block_n += 1
        bid = self.block_n
        pitch = size + size // 2
        word_rows = []
        max_r = x0
        for li, line in enumerate(lines):
            t = y0 + li * pitch
            b = t + size
            x = x0
            row = []
            gap = word_gap if word_gap is not None else char_w
            for w in line:
                r = x + len(w) * char_w
                row.append((w, x, r, t, b))
                x = r + gap
            max_r = max(max_r, row[-1][2] if row else x0)
            word_rows.append(row)
        bb = (x0, max_r + self.pad_right, y0,
              y0 + (len(lines) - 1) * pitch + size + self.pad_bottom)
        self.pad_right = self.pad_bottom = 0
        out = [f"<div class='ocr_carea' id='block_1_{bid}' title='bbox {bb[0]} {bb[2]} {bb[1]} {bb[3]}'>"]
        for li, row in enumerate(word_rows):
            par = li // lines_per_par
            if li % lines_per_par == 0:
                if li:
                    out.append("</span></p>")
                out.append(f"<p class='ocr_par' id='par_{bid}_{par + 1}' "
                           f"title='bbox {bb[0]} {bb[2]} {bb[1]} {bb[3]}'>")
            elif li:
                out.append("</span>")
            lt = row[0][3] if row else bb[2]
            lb = row[0][4] if row else bb[3]
            ll = row[0][1] if row else bb[0]
            lr = row[-1][2] if row else bb[1]
            out.append(f"<span class='ocr_line' id='line_{bid}_{li + 1}' "
                       f"title='bbox {ll} {lt} {lr} {lb}'>")
            for w, x, r, t, b in row:
                word = _html.escape(w)
                if link:
                    word = f"<a href='#'>{word}</a>"
                out.append(f"<span class='ocrx_word' id='word_{bid}_{li + 1}' "
                           f"title='bbox {x} {t} {r} {b}; x_wconf {conf}'>{word}</span>")
        out.append("</span></p></div>")
        self.parts.append("\n".join(out))
        return bb

    def empty_block(self, l: int, r: int, t: int, b: int):
        """Word-less carea (rendered rule → classified 'delimiter')."""
        self.block_n += 1
        self.parts.append(
            f"<div class='ocr_carea' id='block_1_{self.block_n}' "
            f"title='bbox {l} {t} {r} {b}'></div>"
        )

    def finish(self) -> bytes:
        self.parts.append("</body></html>")
        return "\n".join(self.parts).encode("utf-8")


def generate_page(doc_id: int, text: str, noisy: bool = False,
                  multi_article: bool = False, adversarial: bool = False) -> bytes:
    """Render one document into hOCR bytes (see module docstring).

    ``noisy=True`` additionally injects OCR-like defects that the fix suite
    (:mod:`osdocr_spark.kernels.fix`) must repair for the extraction oracle
    to still hold byte-for-byte:

    - a low-confidence garbage block (conf 5 → ``remove_nodes_conf`` +
      ``remove_empty_boxes``)
    - an empty box covering >80% of the page (the size rule in
      ``remove_empty_boxes``)
    - an empty box nested inside the first body block
      (``block_bound_box_fix`` containment removal)
    - the first body block's bbox inflated past its word hull, overlapping
      the column gutter (``text_bound_box_fix`` shrink-to-hull)

    ``adversarial=True`` renders irregular layouts with derivable truth
    (round-4 gauntlet — see :func:`generate_page_adversarial`); it composes
    with ``noisy`` and ``multi_article`` (round-5 crossed gauntlets).
    """
    if adversarial:
        return generate_page_adversarial(doc_id, text, noisy=noisy,
                                         multi_article=multi_article)
    words = text.split(" ")
    p = layout_params(doc_id, len(words))
    s, cw = p["size"], p["char_w"]
    em = _Emitter()

    # masthead nav (boilerplate: pure links)
    nav = [_NAV[(doc_id + i) % len(_NAV)] for i in range(3)]
    em.block([nav], MARGIN, 10, HEADER_SIZE, HEADER_CW, link=True)

    # title
    title_words = words[: p["title_n"]]
    body_words = words[p["title_n"]:]
    tcw = p["title_size"] * 3 // 5
    title_chars = (PAGE_W - 2 * MARGIN) // tcw
    tlines = _wrap_words(title_words, title_chars, doc_id, allow_hyphen=False)
    tb = em.block(tlines, MARGIN, 60, p["title_size"], tcw, word_gap=cw)

    # body columns — spanning MARGIN .. RAIL_X - GUTTER (the right rail owns
    # the remaining strip)
    n_cols = p["n_cols"]
    col_w = (RAIL_X - GUTTER - MARGIN - (n_cols - 1) * GUTTER) // n_cols
    chars_per_line = max(col_w // cw, 8)
    y_body = tb[3] + 40
    body_bottom = y_body
    if body_words:
        def _chunk(ws, hyphen):
            ls = _wrap_words(ws, chars_per_line, doc_id, allow_hyphen=hyphen)
            return [ls[i: i + LINES_PER_BLOCK] for i in range(0, len(ls), LINES_PER_BLOCK)]

        # multi-article: the second article starts at the top of column 2 —
        # its headline takes the next 3 words of the stream at that point, so
        # column-major reading order still reproduces the source text and
        # graph_isolate_articles must cut exactly there
        titles_at: dict[int, list[str]] = {}
        col_plan: list[list]
        if multi_article and n_cols >= 2:
            blocks_all = _chunk(body_words, hyphen=False)
            per_col0 = -(-len(blocks_all) // n_cols)
            n_col1 = sum(len(ln) for blk in blocks_all[:per_col0] for ln in blk)
            if len(body_words) - n_col1 >= 6:
                titles_at[1] = body_words[n_col1:n_col1 + 3]
                art1_blocks = _chunk(body_words[:n_col1], hyphen=False)
                art2_blocks = _chunk(body_words[n_col1 + 3:], hyphen=False)
                per_col2 = -(-len(art2_blocks) // (n_cols - 1))
                col_plan = [art1_blocks] + [
                    art2_blocks[i * per_col2: (i + 1) * per_col2]
                    for i in range(n_cols - 1)
                ]
            else:
                multi_article = False
        if not titles_at:
            # lines-balanced column fill (round 3): distribute LINES as evenly
            # as possible across columns (col ci gets q+1 lines if ci < r else
            # q, q = nl // n_cols, r = nl % n_cols — contiguous ranges, so
            # column-major emission still reproduces the source text), then
            # chunk each column into blocks of LINES_PER_BLOCK.  The previous
            # ceil-by-blocks split could leave the last column a single tiny
            # remnant block (or empty) whose left-margin histogram mass fell
            # below the reference's 0.1·max peak prominence — making the true
            # column count unrecoverable by ANY projection method.  nw >= 40
            # for multi-column layouts guarantees nl >= n_cols, so every
            # declared column materializes with near-equal mass.
            all_lines = _wrap_words(body_words, chars_per_line, doc_id, allow_hyphen=True)
            q, r = divmod(len(all_lines), n_cols)
            col_plan = []
            pos = 0
            for ci in range(n_cols):
                lc = q + (1 if ci < r else 0)
                cl = all_lines[pos: pos + lc]
                pos += lc
                col_plan.append([cl[i: i + LINES_PER_BLOCK]
                                 for i in range(0, len(cl), LINES_PER_BLOCK)])

        pitch = s + s // 2
        t2_box = None
        for ci in range(n_cols):
            x0 = MARGIN + ci * (col_w + GUTTER)
            y = y_body
            # a planted article-2 headline renders at title size and can span
            # into the NEXT column's x-range; real newspaper layout starts
            # that column's content below the headline (without this, the
            # title and the neighbor column's first block physically overlap
            # and reading order on the broken geometry is undefined — caught
            # as 7/5000 byte-parity failures at sf0.1)
            if (t2_box is not None and x0 < t2_box[1]
                    and x0 + col_w > t2_box[0]):
                y = max(y, t2_box[3] + s)
            if ci in titles_at:
                t2 = em.block([titles_at[ci]], x0, y, p["title_size"],
                              p["title_size"] * 3 // 5, word_gap=cw)
                t2_box = t2
                y = t2[3] + s
                body_bottom = max(body_bottom, t2[3])
            if noisy and ci == 0:
                em.pad_right, em.pad_bottom = GUTTER + 5, s // 2
            for blines in col_plan[ci]:
                bb = em.block(blines, x0, y, s, cw)
                y = bb[3] + s
                body_bottom = max(body_bottom, bb[3])
        # column-rule delimiters
        for ci in range(n_cols - 1):
            xm = MARGIN + (ci + 1) * (col_w + GUTTER) - GUTTER // 2
            em.empty_block(xm - 1, xm + 1, y_body, body_bottom)

    # footer (boilerplate links)
    foot = [_NAV[(doc_id + 5 + i) % len(_NAV)] for i in range(3)]
    em.block([foot], MARGIN, body_bottom + 60, HEADER_SIZE, HEADER_CW, link=True)

    # right rail: marginalia anchor blocks (see RAIL_X).  Single-word link
    # blocks at body text size (so the size histogram is reinforced at the
    # normal size, never shifted), mass 2·n_rail scaling with the document so
    # the rail peak survives smoothing prominence against the heaviest
    # column.  Emitted AFTER the footer so every other block keeps its id.
    if body_words:
        n_rail = 3 + len(words) // 12
        for i in range(n_rail):
            em.block([[_NAV[(doc_id + 3 + i) % len(_NAV)]]], RAIL_X,
                     y_body + i * 2 * s, s, cw, link=True)

    if noisy and body_words:
        pitch = s + s // 2
        x0 = MARGIN
        # low-confidence garbage words (dropped by remove_nodes_conf)
        em.block([["zq", "xv"]], PAGE_W - 150, 12, HEADER_SIZE, HEADER_CW, conf=5)
        # empty box covering >80% of the page (size rule in remove_empty_boxes)
        em.empty_block(5, PAGE_W - 5, 5, body_bottom + 100)
        # empty non-delimiter box nested in the first body block
        em.empty_block(x0 + 5, x0 + 30, y_body + 2, y_body + 2 + s // 2)
        # fake horizontal rule through the first body block's 2nd line gap
        # (delimiters_fix must split the block without losing words; the gap
        # after line 2 keeps both fragments multi-line so the reference's
        # text-continuation attraction (+50, needs >1 line) preserves
        # column-major reading order)
        # first body block size under the lines-balanced column fill:
        # col 0 holds the first q(+1) wrapped lines, chunked at 5
        nl = len(_wrap_words(body_words, chars_per_line, doc_id, allow_hyphen=True))
        q, r = divmod(nl, n_cols)
        first_lines = min(q + (1 if r else 0), LINES_PER_BLOCK)
        if first_lines >= 4:
            em.empty_block(x0 + 2, x0 + col_w // 2,
                           y_body + 2 * pitch - s // 2 + 2, y_body + 2 * pitch - 2)
    return em.finish()


def generate_page_adversarial(doc_id: int, text: str, noisy: bool = False,
                              multi_article: bool = False) -> bytes:
    """Irregular-layout gauntlet (round 4): five deterministic layout
    families, by ``doc_id % 5``, each still an exact inverse of the source
    text (the driver oracle stays the byte-parity ``_O_TEXT``) while
    exercising geometry/attraction branches the regular generator never
    reaches (r3 VERDICT item 1):

    - **0 ragged** — unequal column widths (weights n_cols..1), words split
      contiguously by count and wrapped per-column at that column's own
      chars-per-line; column heights and line widths diverge.
    - **1 figure** — an image block (word-less, non-delimiter aspect, height
      > 3·text size) at the bottom of the last column with a CAPTION block
      (smaller-than-normal text) directly below it holding the last 3 body
      words: exercises the ``image → caption`` +50 attraction rule
      (``ocr_tree_analyser.py:1618-1625``) and the caption type branch of
      ``categorize_boxes`` (``:1087-1231``) end-to-end under byte parity.
    - **2 vertical** — the first body word rendered as a vertical-text
      block (single word, height ≥ 2·width, ``ocr_tree.py:613-657``) at the
      top of column 0; must classify as text via the vertical branch and
      order first among body blocks.
    - **3 dense** — regular layout plus a 130-block marginalia rail: total
      block count exceeds 127, locking in the int32 dominance-matmul path
      (``neighbors.py:147``) that smaller fixtures never reach.
    - **4 composed** — everything at once (round-4 robustness insurance):
      ragged column widths AND a vertical-text block at the top of column 0
      AND an image+caption at the bottom of the last column AND a 260-block
      rail (>255 total blocks, past any uint8 wrap) — the adversities are
      proven independently by variants 0–3; this family proves they don't
      interact.

    Fallbacks (too few words for a variant's reservation) degrade to the
    regular lines-balanced fill — still byte-exact, just less adversarial.

    Round-5 crosses (VERDICT r4 item 5):

    - ``noisy=True`` injects the fix-suite defects INTO the irregular
      layouts: the low-conf garbage block, the >80%-page empty box, the
      empty box nested in column 0's first body block, the first-block
      bbox inflation past its word hull (applied to the first REGULAR
      block — never the vertical block, whose 2:1 aspect is itself under
      test), and — when column 0 opens with a ≥4-line text block (no
      vertical reservation) — the fake rule through its second line gap.
    - ``multi_article=True`` plants a second-article headline at the top
      of column 1 on the ragged-fill variants (0 and 4): columns split by
      WORD COUNT, so the article boundary is word-exact; the 3 headline
      words come from the stream at that point and columns whose x-range
      the headline spans start below it (the generate_page overlap rule).
      Non-ragged variants degrade to their plain layout (documented
      fallback, same doctrine as the reservation fallbacks).
    """
    variant = doc_id % 5
    words = text.split(" ")
    p = layout_params(doc_id, len(words))
    s, cw = p["size"], p["char_w"]
    em = _Emitter()

    # UNIFORM gaps (round 5): every word gap on an adversarial page — nav,
    # title, body, headline, caption — is the body char width cw, so the
    # page's average word distance EQUALS every gap and split_whitespaces'
    # criterion (gap >= 3*((line_avg*0.3 + avg*0.7)/2)) clears with >= 19%
    # margin on every line shape (2-word title lines are the tightest:
    # split iff avg <= 0.81*gap).  The regular generator's mixed gaps
    # (HEADER_CW nav) sit within ~3% of the threshold on low-word-count
    # pages — pinned green for three rounds but too fragile to cross with
    # noisy defects.  Only the byte-parity oracle covers adversarial
    # geometry, so no blocks-table oracle shifts.
    ogap = cw

    nav = [_NAV[(doc_id + i) % len(_NAV)] for i in range(3)]
    em.block([nav], MARGIN, 10, HEADER_SIZE, HEADER_CW, link=True,
             word_gap=ogap)

    title_words = words[: p["title_n"]]
    body_words = words[p["title_n"]:]
    tcw = p["title_size"] * 3 // 5
    title_chars = (PAGE_W - 2 * MARGIN) // tcw
    tlines = _wrap_words(title_words, title_chars, doc_id, allow_hyphen=False)
    tb = em.block(tlines, MARGIN, 60, p["title_size"], tcw, word_gap=ogap)

    n_cols = p["n_cols"]
    span = RAIL_X - GUTTER - MARGIN  # body strip (rail owns the rest)
    y_body = tb[3] + 40
    body_bottom = y_body

    caption_words: list[str] = []
    vertical_word: str | None = None
    fill_words = body_words
    eq_col_w = (span - (n_cols - 1) * GUTTER) // n_cols
    # composed (v4) takes BOTH reservations; the vertical fit check uses the
    # equal width even under ragged columns — col 0 is the WIDEST ragged
    # column (weights n_cols..1), so the check is conservative
    if variant in (2, 4) and len(fill_words) >= 2 \
            and len(fill_words[0]) * cw * 3 <= eq_col_w:
        vertical_word, fill_words = fill_words[0], fill_words[1:]
    if variant in (1, 4) and len(fill_words) >= 6:
        fill_words, caption_words = fill_words[:-3], fill_words[-3:]

    headline2: list[str] | None = None
    if variant in (0, 4) and n_cols >= 2:
        # ragged: integer widths by weight n_cols..1, last takes remainder
        wsum = n_cols * (n_cols + 1) // 2
        usable = span - (n_cols - 1) * GUTTER
        widths = [usable * (n_cols - ci) // wsum for ci in range(n_cols - 1)]
        widths.append(usable - sum(widths))
        q, r = divmod(len(fill_words), n_cols)
        col_words, pos = [], 0
        for ci in range(n_cols):
            k = q + (1 if ci < r else 0)
            col_words.append(fill_words[pos: pos + k])
            pos += k
        if multi_article:
            # article 2 starts at the top of column 1: its headline takes
            # the next 3 words of the stream there (word-count split ⇒ the
            # boundary is word-exact; hyphen wraps stay within a column)
            rest = [w for cws in col_words[1:] for w in cws]
            if len(rest) >= 6:
                headline2, rest = rest[:3], rest[3:]
                q2, r2 = divmod(len(rest), n_cols - 1)
                col_words = col_words[:1]
                pos = 0
                for ci in range(n_cols - 1):
                    k = q2 + (1 if ci < r2 else 0)
                    col_words.append(rest[pos: pos + k])
                    pos += k
        col_plan = []
        for ci in range(n_cols):
            cpl = max(widths[ci] // cw, 8)
            ls = _wrap_words(col_words[ci], cpl, doc_id, allow_hyphen=True)
            col_plan.append([ls[i: i + LINES_PER_BLOCK]
                             for i in range(0, len(ls), LINES_PER_BLOCK)])
    else:
        widths = [eq_col_w] * n_cols
        cpl = max(eq_col_w // cw, 8)
        all_lines = _wrap_words(fill_words, cpl, doc_id, allow_hyphen=True)
        q, r = divmod(len(all_lines), n_cols)
        col_plan, pos = [], 0
        for ci in range(n_cols):
            lc = q + (1 if ci < r else 0)
            cl = all_lines[pos: pos + lc]
            pos += lc
            col_plan.append([cl[i: i + LINES_PER_BLOCK]
                             for i in range(0, len(cl), LINES_PER_BLOCK)])

    x0s = [MARGIN + sum(widths[:ci]) + ci * GUTTER for ci in range(n_cols)]
    last_col_bottom = y_body
    first_body_top: int | None = None
    pitch = s + s // 2
    if fill_words:
        t2_box = None
        for ci in range(n_cols):
            y = y_body
            # a planted headline can span into later columns' x-ranges;
            # their content starts below it (generate_page's overlap rule)
            if (t2_box is not None and x0s[ci] < t2_box[1]
                    and x0s[ci] + widths[ci] > t2_box[0]):
                y = max(y, t2_box[3] + s)
            if ci == 0 and vertical_word is not None:
                # vertical-text block: single word, box height ≥ 2× width
                w = vertical_word
                wwidth = len(w) * cw
                em.block([[w]], x0s[0], y, 2 * wwidth + s, cw)
                # _Emitter renders word height = size param ⇒ tall word box
                y = y + 2 * wwidth + s + s
                body_bottom = max(body_bottom, y - s)
            if ci == 1 and headline2 is not None:
                # the headline must stay clear of the marginalia rail: wrap
                # it to the span left of the rail and clamp its char width
                # so even the longest word fits (otherwise the fix path's
                # 70%-overlap merge swallows rail words into the headline
                # and scrambles the derivable truth)
                avail = RAIL_X - GUTTER - x0s[1]
                h_tcw = max(min(p["title_size"] * 3 // 5,
                                avail // max(len(w) for w in headline2)), 1)
                h_lines = _wrap_words(headline2, max(avail // h_tcw, 4),
                                      doc_id, allow_hyphen=False)
                t2 = em.block(h_lines, x0s[1], y, p["title_size"], h_tcw,
                              word_gap=ogap)
                t2_box = t2
                y = t2[3] + s
                body_bottom = max(body_bottom, t2[3])
            if noisy and ci == 0 and col_plan[0]:
                # one-shot bbox inflation applies to the first REGULAR
                # block (set after any vertical emission: the vertical
                # block's 2:1 aspect is itself under test)
                em.pad_right, em.pad_bottom = GUTTER + 5, s // 2
            for blines in col_plan[ci]:
                bb = em.block(blines, x0s[ci], y, s, cw)
                if ci == 0 and first_body_top is None:
                    first_body_top = int(bb[2])
                y = bb[3] + s
                body_bottom = max(body_bottom, bb[3])
            if ci == n_cols - 1:
                last_col_bottom = y
        if caption_words:
            # image block: aspect 2:1 (never delimiter), height > 3·s
            x0 = x0s[-1]
            img_h = max(widths[-1] // 2, 4 * s)
            em.empty_block(x0, x0 + widths[-1], last_col_bottom,
                           last_col_bottom + img_h)
            cs = s * 7 // 10  # caption: below normal size, outside ±10% band
            # like the headline: the caption must not overflow its (possibly
            # narrow ragged) column into the rail, else the fix path merges
            # rail boilerplate into it and words vanish from the truth
            avail_c = RAIL_X - GUTTER - x0
            ccw = max(min(cs * 3 // 5,
                          avail_c // max(len(w) for w in caption_words)), 1)
            c_lines = _wrap_words(caption_words, max(avail_c // ccw, 4),
                                  doc_id, allow_hyphen=False)
            cb = em.block(c_lines, x0, last_col_bottom + img_h + s // 2,
                          cs, ccw, word_gap=ogap)
            body_bottom = max(body_bottom, cb[3])
        for ci in range(n_cols - 1):
            xm = x0s[ci + 1] - GUTTER // 2
            y_top = y_body
            # a planted headline spans column boundaries; a real layout's
            # column rule starts BELOW it (running the rule through the
            # headline would make delimiters_fix split it — correctly —
            # and scramble the derivable truth)
            if t2_box is not None and t2_box[0] <= xm <= t2_box[1]:
                y_top = max(y_top, t2_box[3] + 1)
            em.empty_block(xm - 1, xm + 1, y_top, body_bottom)

    foot = [_NAV[(doc_id + 5 + i) % len(_NAV)] for i in range(3)]
    em.block([foot], MARGIN, body_bottom + 60, HEADER_SIZE, HEADER_CW,
             link=True, word_gap=ogap)

    if fill_words:
        # dense rail: 130 blocks pins >127 (int8 wrap, neighbors.py int32
        # fix); composed goes past 255 to also pin beyond any uint8 wrap —
        # cheap insurance, the dominance matmul is int32 to 2^31
        n_rail = {3: 130, 4: 260}.get(variant, 3 + len(words) // 12)
        for i in range(n_rail):
            em.block([[_NAV[(doc_id + 3 + i) % len(_NAV)]]], RAIL_X,
                     y_body + i * 2 * s, s, cw, link=True)

    if noisy and fill_words:
        # fix-suite defects under the irregular layout (round-5 cross):
        # same defect set as generate_page(noisy=True), geometry re-derived
        # for the adversarial coordinates
        em.block([["zq", "xv"]], PAGE_W - 150, 12, HEADER_SIZE, HEADER_CW,
                 conf=5)
        em.empty_block(5, PAGE_W - 5, 5, body_bottom + 100)
        if first_body_top is not None:
            # empty non-delimiter box nested in column 0's first body block
            em.empty_block(x0s[0] + 5, x0s[0] + 30,
                           first_body_top + 2, first_body_top + 2 + s // 2)
        # fake horizontal rule through the first body block's 2nd line gap —
        # only when column 0 OPENS with a ≥4-line text block (no vertical
        # reservation), so both fragments stay multi-line and the reference's
        # text-continuation attraction preserves column-major order
        if (vertical_word is None and col_plan and col_plan[0]
                and len(col_plan[0][0]) >= 4):
            em.empty_block(x0s[0] + 2, x0s[0] + widths[0] // 2,
                           y_body + 2 * pitch - s // 2 + 2,
                           y_body + 2 * pitch - 2)
    return em.finish()
