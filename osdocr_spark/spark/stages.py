"""Arrow-batched DataFrame stages of the extraction pipeline.

Every per-document stage runs on one batch driver, :func:`map_docs`: a
``mapInPandas`` transformation, one Python invocation per Arrow batch (never
per row), numpy kernels inside — the execution layout the driver's
input_hint mandates (SURVEY.md §1.3).  :func:`extract_docs` builds the
``extracted`` row on top of it; the extraction stages differ only in the
loader that turns an input row into a ``Document`` (html bytes, the layout
generator, or checkpoint JSON).  Stages are *narrow* (no shuffle); the only
shuffles in the end-to-end job are the optional salted repartition up front
and the metrics aggregation at the end.

Plan hygiene at scale (checked in tests via ``explain``): the pages scan
prunes to exactly the columns a stage needs — the extraction stage reads
``url, html`` only, so the (dominant) ``text`` column is never moved for it;
filters on ``url``/``lang`` push down into the parquet scan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.classify import categorize_blocks
from ..kernels.corpus import generate_page
from ..kernels.doc import Document
from ..kernels.hocr import parse_hocr
from ..kernels.pipeline import extract_document, extract_html
from ..kernels.serialize import from_json, to_json

__all__ = [
    "PAGES_SCHEMA", "EXTRACTED_SCHEMA", "BLOCKS_SCHEMA", "PARSED_SCHEMA",
    "map_docs", "extract_docs",
    "pages_from_documents", "extract_pages", "blocks_from_pages",
    "parse_pages", "extract_parsed",
    "salted_repartition", "url_for_doc",
]

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("raw_text", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_main_blocks", T.IntegerType()),
    T.StructField("n_articles", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("normal_text_size", T.IntegerType()),
    T.StructField("detected_columns", T.IntegerType()),
    T.StructField("reading_order", T.ArrayType(T.IntegerType())),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("block_id", T.IntegerType()),
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
    ]))),
    T.StructField("partition_id", T.IntegerType()),
])

BLOCKS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("block_id", T.IntegerType()),
    T.StructField("type", T.StringType()),
    T.StructField("left", T.IntegerType()),
    T.StructField("right", T.IntegerType()),
    T.StructField("top", T.IntegerType()),
    T.StructField("bottom", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("link_density", T.DoubleType()),
    T.StructField("mean_word_height", T.DoubleType()),
])

#: url scheme — pure arithmetic on doc_id so the DuckDB oracle can rebuild it
URL_FMT = "https://news-{dom}.example.com/a/{doc_id}"
URL_DOMAINS = 23  # Zipf-ish domain-key skew lever for salting demos
_WARC_EPOCH = datetime(2024, 1, 1)


def url_for_doc(doc_id: int) -> str:
    return URL_FMT.format(dom=doc_id % URL_DOMAINS, doc_id=doc_id)


def pages_from_documents(documents: DataFrame, noisy: bool = False,
                         multi_article: bool = False,
                         adversarial: bool = False) -> DataFrame:
    """``documents(doc_id, text, lang)`` → Common-Crawl-shaped ``pages``
    table (BASELINE.json input_hint schema).  Deterministic: html rendered by
    the seedless arithmetic layout generator; ``warc_ts`` = epoch 2024-01-01
    + doc_id seconds.  ``noisy=True`` injects the OCR-like defects the fix
    suite must repair; ``adversarial=True`` renders the irregular-layout
    gauntlet (see ``kernels.corpus.generate_page``)."""

    def per_doc(doc_id, text, lang, pid):
        doc_id = int(doc_id)
        html = generate_page(doc_id, text, noisy=noisy, multi_article=multi_article,
                             adversarial=adversarial)
        return [(url_for_doc(doc_id), _WARC_EPOCH + timedelta(seconds=doc_id), html, text, lang)]

    return map_docs(documents.select("doc_id", "text", "lang"), per_doc, PAGES_SCHEMA)


def map_docs(df: DataFrame, per_doc: Callable[..., Iterable[tuple]],
             schema: T.StructType) -> DataFrame:
    """The per-document batch driver every extraction stage runs on.

    ``per_doc(*row, pid)`` receives one input row (the columns of ``df`` in
    order) plus the task's partition id and returns that row's output rows
    as tuples in ``schema`` order — zero, one or many (UDTF shape)."""
    columns = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            rows = []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                rows.extend(per_doc(*row, pid))
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema)


def extract_docs(df: DataFrame, load: Callable[..., Document],
                 clean: bool = False) -> DataFrame:
    """Rows of ``df`` → ``extracted``: ``load(*row)`` builds each row's
    :class:`Document` and :func:`~osdocr_spark.kernels.pipeline.extract_document`
    runs stages 2–6 over it (after the §2.9 fix suite when ``clean``).  The
    columns before ``spans`` are the kernel result's keys of the same name."""
    keys = [f.name for f in EXTRACTED_SCHEMA.fields[:-2]]

    def per_doc(*row_pid):
        *row, pid = row_pid
        r = extract_document(load(*row), clean=clean)
        spans = [{"block_id": b, "start": s, "end": e} for b, s, e in r["spans"]]
        return [(*(r[k] for k in keys), spans, pid)]

    return map_docs(df, per_doc, EXTRACTED_SCHEMA)


def extract_pages(pages: DataFrame, clean: bool = False) -> DataFrame:
    """The flagship stage: ``pages`` → ``extracted`` (normalized text +
    byte-parity raw text + spans + layout stats + partition lineage id).
    ``clean=True`` runs the §2.9 fix suite (``kernels.fix.clean_doc``)
    between parse and analysis.

    Column pruning: selects only ``url, html`` from the input, so Catalyst
    prunes the scan to those columns regardless of the pages schema width.
    """
    return extract_docs(pages.select("url", "html"),
                        lambda url, html: parse_hocr(bytes(html), url=url), clean)


def extract_documents_fused(documents: DataFrame) -> DataFrame:
    """Scan-fused extraction: synthesize the page and extract it inside ONE
    Python stage (single Arrow hop).

    In production the html bytes come straight off the Iceberg/parquet scan
    and extraction is the only Python stage in the job; in this sandbox the
    deterministic generator plays the role of that scan, so fusing it into
    the extraction stage reproduces the production plan shape (and is what
    the scaling benchmark measures).  ``extract_pages`` remains the
    general-purpose stage for pre-materialized pages tables.
    """

    def load(doc_id, text):
        doc_id = int(doc_id)
        return parse_hocr(generate_page(doc_id, text), url=url_for_doc(doc_id))

    return extract_docs(documents.select("doc_id", "text"), load)


ARTICLES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("article_idx", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("body", T.StringType()),
])


def articles_from_pages(pages: DataFrame, clean: bool = False) -> DataFrame:
    """UDTF-shaped article table: one page row -> N article rows (title +
    joined text body), the ``articles`` output table of SURVEY.md §1.5
    (``Article`` assembly, ``article.py:45-139``)."""

    def per_doc(url, html, pid):
        r = extract_html(url, bytes(html), clean=clean)
        return [(url, idx, title, body) for idx, title, body in r["article_rows"]]

    return map_docs(pages.select("url", "html"), per_doc, ARTICLES_SCHEMA)


PARSED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("doc_json", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
])


def parse_pages(pages: DataFrame) -> DataFrame:
    """Stage 1 alone: parse each page into the reference's flat JSON wire
    format (``OCR_Tree.to_json``, ``ocr_tree.py:270-290``) — the per-stage
    checkpoint artifact.  The reference checkpoints every pipeline stage as
    result JSON (``O/pipeline.py:803-817``); this is its table-shaped analog:
    a resumable ``parsed`` table so a failed downstream stage never re-pays
    the parse."""

    def per_doc(url, html, pid):
        return [(url, to_json(parse_hocr(bytes(html), url=url)), pid)]

    return map_docs(pages.select("url", "html"), per_doc, PARSED_SCHEMA)


def extract_parsed(parsed: DataFrame, clean: bool = False) -> DataFrame:
    """Stages 2–6 over a checkpointed ``parsed`` table: deserialize the JSON
    wire format and run analysis → categorize → boilerplate → order →
    articles → emit.  Same output contract as :func:`extract_pages`."""
    return extract_docs(parsed.select("url", "doc_json"),
                        lambda url, dj: from_json(dj, url=url), clean)


def blocks_from_pages(pages: DataFrame, categorize: bool = True) -> DataFrame:
    """UDTF-shaped parse stage: one page row → N block rows with geometry +
    density features (the ``blocks`` intermediate table of SURVEY.md §1.5)."""

    def per_doc(url, html, pid):
        doc = parse_hocr(bytes(html), url=url)
        if categorize and doc.n_blocks():
            categorize_blocks(doc)
        rows = []
        for bi in range(doc.n_blocks()):
            wi = doc.words_of(bi)
            keys, _, _ = doc.line_table(bi)
            l, r, t, b = (int(v) for v in doc.b_box[bi])
            rows.append((
                url, int(doc.b_id[bi]),
                str(doc.b_type[bi]) if doc.b_type[bi] is not None else None,
                l, r, t, b, int(len(wi)), int(len(keys)),
                float(doc.w_link[wi].mean()) if len(wi) else 0.0,
                doc.block_mean_word_height(bi),
            ))
        return rows

    return map_docs(pages.select("url", "html"), per_doc, BLOCKS_SCHEMA)


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0,
                       key: str = "url") -> DataFrame:
    """Spread skewed domain keys uniformly before the per-document kernels
    (SURVEY.md §4.2): partition on a salted 64-bit hash of the row key, so a
    hot domain's pages scatter across all partitions instead of hot-spotting
    one executor."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key), F.lit(salt)))
