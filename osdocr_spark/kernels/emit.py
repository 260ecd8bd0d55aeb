"""Text emission: article assembly, hyphenization fix, final text bytes.

Re-implements ``O/output_module/journal/article.py:45-229`` (Article
assembly + ``to_txt``) and ``O/output_module/text.py:6-18``
(``fix_hifenization``) over ordered block lists.

Byte-parity notes:

- ``fix_hifenization`` in the reference passes ``re.MULTILINE`` as
  ``re.sub``'s positional *count* argument (``text.py:15``), silently capping
  each substitution pass at 8 replacements.  ``faithful=True`` (default)
  replicates that cap byte-for-byte; ``faithful=False`` applies the intended
  unlimited substitution.
- ``Article.from_ocr_trees`` unconditionally re-runs ``analyze_text`` on the
  article subtree (``article.py:56-57``) but only consumes it on *untyped*
  blocks; our pipeline always types blocks first, so the recomputation is
  skipped (pure performance, no byte effect).
"""

from __future__ import annotations

import re

from .doc import Document

__all__ = ["fix_hifenization", "assemble_article", "make_article",
           "article_to_txt", "article_pretty_print", "document_text", "normalize_text",
           "text_spans"]

_HYPHen_NL = r"(\w)[\r\t\f\v ]*-(\s*\n\s*-*)([a-z0-9_])"
_HYPHen_WS = r"(\w)[\r\t\f\v ]*-[\r\t\f\v ]*([a-z0-9_])"

#: body text delimiters used by Article assembly (``article.py:108-112``)
BODY_DELIMS = {5: " ", 4: " \n", 3: "\n\t"}


def fix_hifenization(text: str, faithful: bool = True) -> str:
    """Join line-broken hyphenated words (``text.py:6-18``)."""
    if text.strip() == "":
        return text
    count = re.MULTILINE if faithful else 0  # reference passes flags as count
    text = re.sub(_HYPHen_NL, r"\1\3", text, count)
    text = re.sub(_HYPHen_WS, r"\1-\2", text, count)
    return text


def assemble_article(doc: Document, block_order: list[int], conf: int = 0) -> dict:
    """Build an article dict from ordered blocks
    (``Article.from_ocr_trees``, ``article.py:45-139``).

    Returns ``{title, subtitle: [..], abstract, body: [(kind, text), ...],
    text_words}``.
    Title = highest-mean-word-height block among the leading title-typed
    blocks (scan stops at the first 'text' block once a candidate exists);
    other leading non-text blocks become abstract candidates; everything but
    the title block becomes the body, consecutive text items joined by ' '.
    ``text_words`` lists the blocks whose words :func:`article_to_txt`
    writes, in its order (the title block, then the non-image body blocks),
    each as ``(block, indices of its words confident at conf)``.
    """
    potential_titles: list[int] = []
    abstract_blocks: list[int] = []
    for bi in block_order:
        if doc.block_is_empty(bi, conf=conf):
            continue
        btype = doc.b_type[bi]
        if btype == "title":
            potential_titles.append(bi)
        elif btype == "text" and potential_titles:
            break
        else:
            abstract_blocks.append(bi)

    title = None
    title_block = None
    if potential_titles:
        title_block = max(potential_titles, key=lambda b: doc.block_mean_word_height(b))
        title = doc.block_to_text(title_block, conf=conf)
    subtitle = [doc.block_to_text(b, conf=conf) for b in potential_titles if b != title_block]
    abstract = None
    if abstract_blocks and title:
        abstract = " ".join(doc.block_to_text(b, conf=conf) for b in abstract_blocks)

    body_blocks = [b for b in block_order if b != title_block] if title else list(block_order)
    body: list[tuple[str, str]] = []
    item: tuple[str, str] | None = None
    for bi in body_blocks:
        if doc.b_type[bi] == "image":
            new_item = ("image", "")
        else:
            new_item = ("text", doc.block_to_text(bi, conf=conf, text_delimiters=BODY_DELIMS))
        if item:
            if item[0] == new_item[0] == "text":
                item = ("text", item[1] + " " + new_item[1])
            else:
                body.append(item)
                item = new_item
        else:
            item = new_item
    if item:
        body.append(item)
    # ``authors`` stays [] here, faithful to the reference: Article carries
    # the field (``article.py:25``) but ``from_ocr_trees`` never derives it —
    # it is only populated via the explicit constructor (``:142-148``,
    # mirrored by :func:`make_article`) and consumed by pretty-print/str.
    text_blocks = [title_block] if title else []
    text_blocks += [b for b in body_blocks if doc.b_type[b] != "image"]
    text_words = []
    for bi in text_blocks:
        wi = doc.words_of(bi)
        text_words.append((bi, wi[doc.w_conf[wi] >= conf]))
    return {"title": title, "subtitle": subtitle, "authors": [],
            "abstract": abstract, "body": body, "text_words": text_words}


def make_article(title: str | None, authors: list[str], abstract: str | None,
                 body: list[tuple[str, str]]) -> dict:
    """Explicit-field article constructor (``Article.init``,
    ``article.py:142-148``) — the only path that sets ``authors``."""
    return {"title": title, "subtitle": [], "authors": list(authors),
            "abstract": abstract, "body": body}


def article_pretty_print(article: dict) -> str:
    """``Article.pretty_print`` (``article.py:151-170``): the banner dump —
    and the reference's only ``authors`` consumer (``:159``)."""
    rule = "-" * 34
    return (f"TITLE: {article['title']}\n{rule}\n{rule}\n"
            f"        AUTHORS: {', '.join(article.get('authors', []))}\n{rule}\n{rule}\n"
            f"        ABSTRACT: \n        {article['abstract']}\n{rule}\n{rule}\n"
            f"        BODY: \n{article['body']}\n\n{rule}")


def article_to_txt(article: dict, fix: bool = True, faithful: bool = True) -> str:
    """``Article.to_txt`` (``article.py:216-229``): ``'{title}\\n'`` +
    hyphen-fixed text body items + ``'\\n'``.  Image items are skipped.

    Reference-faithful quirk: a title-less article stringifies its ``None``
    title (``article.py:221``: ``f'{self.title}\\n'`` with the ``None``
    default from ``:23``), so degenerate pages emit the literal ``'None'``
    — replicated because the emitted bytes are the parity contract."""
    text = f"{article['title']}\n"
    for kind, payload in article["body"]:
        if kind == "text":
            if fix:
                payload = fix_hifenization(payload, faithful=faithful)
            text += payload
    text += "\n"
    return text


_MD_ESCAPE = re.compile(r"(^|\n) *([\#\*\-])\s")


def article_to_md(article: dict, fix: bool = True, faithful: bool = True) -> str:
    """``Article.to_md`` (``article.py:177-214``): ``# title`` header,
    hyphen-fixed text body with markdown-control escaping, ``![image]``
    placeholders for image items, rule-delimited."""
    title = "Default Title"
    if article["title"]:
        title = fix_hifenization(article["title"], faithful=faithful) if fix else article["title"]
        title = re.sub(r"\s\s+", " ", article["title"])
        title = re.sub(r"\n", " ", title)
    rule = "-" * 66
    out = [f"# {title}\n", "\n\n", rule]
    for kind, payload in article["body"]:
        if kind == "text":
            if fix:
                payload = fix_hifenization(payload, faithful=faithful)
            out.append(_MD_ESCAPE.sub(r"\1\\\2 ", payload))
        else:
            out.append("\n\n![image](image)\n\n")
    out.append(f"\n\n{rule}")
    return "".join(out)


_WS = re.compile(r"\s+")


def normalize_text(raw: str) -> str:
    """Collapse all whitespace runs to single spaces and strip — the
    canonical form compared against the DuckDB oracle (the raw form is the
    byte-parity artifact asserted in the golden pytest suite)."""
    return _WS.sub(" ", raw).strip()


def text_spans(doc: Document, articles: list[dict], text: str) -> list[tuple[int, int, int]]:
    """Per-block character spans ``(block_id, start, end)`` over ``text``,
    the :func:`normalize_text` form of the ``articles``.
    ``text[start:end]`` holds the block's words; the next span starts at
    ``end + 1`` and the last ends at ``len(text)``.

    Reads the emitted text instead of re-deriving it.  The articles'
    ``text_words`` (in emission order) are split into whitespace-free
    pieces, as :func:`normalize_text` splits them, and walked along
    ``text``: a piece character either matches the next text character or
    was dropped by the emission, which only deletes hyphens and whitespace
    (``fix_hifenization``'s joins, whitespace collapsing).  A text token
    belongs to the block whose piece supplied its first character, so a
    hyphen-joined word counts for the block of its first fragment.  The
    literal ``None`` a title-less article writes belongs to no block and
    lies outside every span."""
    stream: list[tuple[int | None, str]] = []
    for a in articles:
        if a["title"] is None:
            stream.append((None, "None"))
        for bi, wi in a["text_words"]:
            bid = int(doc.b_id[bi])
            stream.extend((bid, piece) for w in doc.w_text[wi] for piece in w.split())
    n = len(text)
    starts: list[int] = []        # token start offsets, in text order
    owners: list[int | None] = []  # the block id owning each token
    pos = 0
    for bid, piece in stream:
        if pos < n and text[pos] == " ":
            pos += 1
        for c in piece:
            if pos < n and text[pos] == c:
                if pos == 0 or text[pos - 1] == " ":
                    starts.append(pos)
                    owners.append(bid)
                pos += 1
    spans: list[tuple[int, int, int]] = []
    for k, bid in enumerate(owners):
        if bid is None:
            continue
        end = starts[k + 1] - 1 if k + 1 < len(starts) else n
        if k and owners[k - 1] == bid:
            spans[-1] = (bid, spans[-1][1], end)
        else:
            spans.append((bid, starts[k], end))
    return spans


def document_text(doc: Document, articles: list[list[int]], conf: int = 0,
                  normalize: bool = False) -> str:
    """Final per-document text: concatenated article ``to_txt`` outputs,
    passed through :func:`normalize_text` when ``normalize``."""
    raw = "".join(
        article_to_txt(assemble_article(doc, art, conf=conf)) for art in articles
    )
    return normalize_text(raw) if normalize else raw
