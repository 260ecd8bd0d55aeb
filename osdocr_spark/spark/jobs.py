"""End-to-end extraction job: skew-safe partitioning, lineage metrics,
checkpoint/resume.

Scale design (BASELINE.json north_rule, SURVEY.md §4.2), exercised here on
local parquet and mapped 1:1 onto Iceberg for a real cluster:

- **partitioning / skew** — one salted repartition up front
  (:func:`salted_repartition`); after that every stage is narrow and
  embarrassingly parallel per url.
- **lineage + metrics** — the extraction stage stamps each output row with
  its task partition id; :func:`run_extract_job` aggregates a per-partition
  ``metrics`` table (:func:`partition_metrics`: url, word, character and
  article counts) in the same pass.
  On Iceberg this table is appended per snapshot commit.
- **checkpoint / resume** — the output table is the checkpoint: on restart
  the job anti-joins already-committed urls and processes only the
  remainder (`resume=True`).  With Iceberg this is "read the last committed
  snapshot"; on plain parquet we read the directory if present.  The write
  itself is atomic per task file; a torn job re-runs only missing urls.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stages import extract_pages, pages_from_documents, salted_repartition

__all__ = ["run_extract_job", "partition_metrics", "load_pages",
           "load_pages_from_hocr_dir", "load_parsed_from_json_dir"]


def load_pages_from_hocr_dir(spark: SparkSession, hocr_dir: str,
                             pattern: str = "*.hocr") -> DataFrame:
    """Source connector for a directory of raw hOCR files — the artifact a
    reference user already has on disk (Tesseract/OSDOCR output).  Reads via
    the ``binaryFile`` format (path-pruned, splittable listing; on a real
    cluster the same shape reads an object-store prefix) into the
    Common-Crawl-shaped pages schema: url = file path, html = raw bytes.
    Feed straight into :func:`~osdocr_spark.spark.stages.extract_pages`."""
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", pattern).load(hocr_dir))
    return df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def load_parsed_from_json_dir(spark: SparkSession, json_dir: str,
                              pattern: str = "*.json") -> DataFrame:
    """Source connector for a directory of saved result JSONs — the
    reference's per-target checkpoint artifact (``OCR_Tree.to_json`` flat
    node lists, ``ocr_tree.py:270-290``), which :mod:`kernels.serialize`
    reads.  Returns the ``parsed`` table shape (url, doc_json), ready for
    :func:`~osdocr_spark.spark.stages.extract_parsed` — a reference user can
    point this at their existing results tree and run stages 2–6 without
    re-OCRing anything."""
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", pattern).load(json_dir))
    return df.select(
        F.col("path").alias("url"),
        F.decode(F.col("content"), "utf-8").alias("doc_json"),
    )


def load_pages(spark: SparkSession, sf_dir: str, num_partitions: int | None = None,
               salt: int = 0, noisy: bool = False, multi_article: bool = False,
               adversarial: bool = False) -> DataFrame:
    """Synthesize the Common-Crawl-shaped ``pages`` table from the driver's
    ``documents`` parquet (no external data), salted-repartitioned for the
    per-document kernels."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if num_partitions is None:
        # a small single-file parquet scans as ONE partition — without this
        # the Arrow kernels run on one core regardless of cluster size.
        # 1× cores: the round-1 4× straggler overcommit was re-measured after
        # the round-2 kernel vectorization — with per-doc cost halved, task
        # overhead dominates and 1× wins (3840 vs 3119 docs/s at
        # sf0.1/local[32]); the salted hash keeps partitions uniform
        num_partitions = spark.sparkContext.defaultParallelism
    docs = salted_repartition(docs, num_partitions, salt=salt, key="doc_id")
    return pages_from_documents(docs, noisy=noisy, multi_article=multi_article,
                                adversarial=adversarial)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """The lineage metrics row: per extraction task partition, its url,
    word, character and article counts.  Written by
    :func:`run_extract_job` and, per micro-batch, by
    :func:`~osdocr_spark.spark.streaming.stream_extract`."""
    return extracted.groupBy("partition_id").agg(
        F.count("*").alias("url_count"),
        F.sum("n_words").alias("word_count"),
        F.sum(F.length("text")).alias("char_count"),
        F.sum("n_articles").alias("article_count"),
    )


def _resume_done(spark: SparkSession, path: str, resume: bool) -> DataFrame | None:
    """urls already committed at ``path`` (the last snapshot on Iceberg),
    or None when starting fresh."""
    if resume and os.path.isdir(path):
        try:
            return spark.read.parquet(path).select("url").distinct()
        except Exception:
            return None
    return None


def run_extract_job(spark: SparkSession, sf_dir: str, out_dir: str,
                    num_partitions: int | None = None, resume: bool = True,
                    noisy: bool = False, clean: bool = False,
                    per_stage: bool = False) -> dict:
    """Extract every page; write ``extracted`` + per-partition ``metrics``
    parquet tables under ``out_dir``.  Returns summary counters.

    Resume semantics: if ``out_dir/extracted`` exists and ``resume``, urls
    already present are skipped via a broadcast-friendly left-anti join on
    the committed checkpoint (Iceberg: the last committed snapshot).

    ``per_stage=True`` additionally checkpoints the parse stage as a
    ``parsed`` table (the reference's per-stage result-JSON discipline,
    ``O/pipeline.py:803-817``, in table form): stage 1 parses only urls
    missing from ``out_dir/parsed``; stage 2 extracts — from the checkpoint,
    never re-parsing — only urls missing from ``out_dir/extracted``.  A job
    killed between the stages resumes with zero re-parses.  At 10^12 docs
    this is the difference between re-running a failed categorize stage and
    re-running the whole corpus parse."""
    pages = load_pages(spark, sf_dir, num_partitions=num_partitions, noisy=noisy)
    extracted_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "metrics")

    if per_stage:
        from .stages import extract_parsed, parse_pages
        parsed_path = os.path.join(out_dir, "parsed")
        done_parsed = _resume_done(spark, parsed_path, resume)
        todo = pages
        if done_parsed is not None:
            todo = todo.join(done_parsed, on="url", how="left_anti")
        parse_pages(todo).write.mode(
            "append" if done_parsed is not None else "overwrite"
        ).parquet(parsed_path)

        parsed = spark.read.parquet(parsed_path)
        done_urls = _resume_done(spark, extracted_path, resume)
        if done_urls is not None:
            parsed = parsed.join(done_urls, on="url", how="left_anti")
        extracted = extract_parsed(parsed, clean=clean)
    else:
        done_urls = _resume_done(spark, extracted_path, resume)
        if done_urls is not None:
            pages = pages.join(done_urls, on="url", how="left_anti")
        extracted = extract_pages(pages, clean=clean)

    mode = "append" if done_urls is not None else "overwrite"
    extracted.write.mode(mode).parquet(extracted_path)

    result = spark.read.parquet(extracted_path)
    partition_metrics(result).write.mode("overwrite").parquet(metrics_path)
    summary = result.agg(
        F.count("*").alias("urls"),
        F.sum("n_words").alias("words"),
    ).collect()[0]
    out = {"urls": int(summary["urls"]), "words": int(summary["words"]),
           "extracted_path": extracted_path, "metrics_path": metrics_path}
    if per_stage:
        out["parsed_path"] = os.path.join(out_dir, "parsed")
    return out
