"""Seeded inputs and the byte-parity oracle.

The engine reads a ``documents(doc_id, text, lang)`` parquet table.  The
benchmark builds its own copy of that table so that it needs nothing outside
the checkout:

- a fixed *base corpus* of 5000 documents shaped like the sf0.1 ``documents``
  table (30-word vocabulary, 10-100 words per document, the same language
  mix), made from a constant seed so every run and every commit sees it;
- per job, a *replica sample* of that corpus chosen by the workload seed:
  ``doc_id = replica * 5000 + base_index``, so a doc id keeps its base text
  and its layout family (``doc_id % 5``) but gets a fresh url and page
  geometry.

The oracle is the one the ``extract_text`` query is checked against: the
source text with every whitespace run collapsed to one space, then trimmed.
RE2's ``\\s`` is ASCII-only, so the class is spelled out.
"""

from __future__ import annotations

import functools
import os
import random
import re

BASE_DOCS = 5000          # the sf0.1 documents table size
WARM_DOCS = 500           # the sf0.001 documents table size
REPLICAS = 8              # replica offsets a sample may draw from
STRATA = 20               # doc_id residues that fix a page's layout
_BASE_SEED = 20240101

_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3

_WS = re.compile(r"[\t\n\f\r ]+")


def normalize(text: str) -> str:
    """The ``extract_text`` oracle: collapse ASCII whitespace runs, trim."""
    return _WS.sub(" ", text).strip(" ")


@functools.cache
def base_corpus() -> tuple[tuple[str, str], ...]:
    """(text, lang) for base indices 0..BASE_DOCS-1; identical on every run."""
    rng = random.Random(_BASE_SEED)
    return tuple((" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))),
                  rng.choice(_LANGS))
                 for _ in range(BASE_DOCS))


def sample_ids(rng: random.Random, n: int) -> list[int]:
    """n distinct doc ids drawn from the replicated corpus, the same number
    from each residue of ``doc_id % 20``: the page generator picks type
    size, column count and layout family from ``doc_id`` mod 4, 2 and 5, so
    every sample has the same layout mix and only the texts vary."""
    ids = [d for c in range(STRATA)
           for d in rng.sample(range(c, BASE_DOCS * REPLICAS, STRATA), n // STRATA)]
    rng.shuffle(ids)
    return ids


def warm_ids() -> list[int]:
    """The set-up pass input: the first sf0.001-sized slice of the corpus."""
    return list(range(WARM_DOCS))


def text_of(doc_id: int) -> str:
    return base_corpus()[doc_id % BASE_DOCS][0]


def write_documents(sf_dir: str, doc_ids: list[int]) -> None:
    """Write ``sf_dir/documents.parquet`` for the given ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    base = base_corpus()
    os.makedirs(sf_dir, exist_ok=True)
    rows = [base[d % BASE_DOCS] for d in doc_ids]
    table = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array([t for t, _ in rows], pa.string()),
        "lang": pa.array([lang for _, lang in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))


def expected_texts(doc_ids: list[int]) -> dict[str, str]:
    """url → oracle text for the given ids."""
    from osdocr_spark.spark.stages import url_for_doc
    return {url_for_doc(d): normalize(text_of(d)) for d in doc_ids}


def count_failures(expected: dict[str, str], got: list[tuple[str, str]]) -> int:
    """urls missing from ``got`` plus urls whose text differs from the
    oracle (a duplicated or unexpected url counts as a mismatch)."""
    seen: dict[str, str] = {}
    bad = 0
    for url, text in got:
        if url in seen or expected.get(url) != text:
            bad += 1
        seen[url] = text
    return bad + sum(1 for u in expected if u not in seen)
