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
  article counts) once per run over the committed ``extracted`` table, and
  sums its returned counters from those rows.
  On Iceberg this table is appended per snapshot commit.
- **checkpoint / resume** — each stage's output table is its checkpoint: on
  restart the stage anti-joins already-committed urls and processes only the
  remainder (`resume=True`).  With Iceberg this is "read the last committed
  snapshot"; on plain parquet we read the directory, if present, with the
  schema the stage writes.  The write itself is atomic per task file; a torn
  job re-runs only missing urls, and an unreadable table fails the job.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .stages import (EXTRACTED_SCHEMA, PARSED_SCHEMA, extract_pages, extract_parsed,
                     pages_from_documents, parse_pages, salted_repartition)

__all__ = ["run_extract_job", "partition_metrics", "read_documents", "load_pages",
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


def read_documents(spark: SparkSession, sf_dir: str, num_partitions: int | None = None,
                   salt: int = 0) -> DataFrame:
    """The driver's ``documents`` table, scanned with its declared columns
    (no schema-inference job) and salted-repartitioned for the
    per-document kernels."""
    docs = spark.read.schema("doc_id bigint, text string, lang string").parquet(
        os.path.join(sf_dir, "documents.parquet"))
    if num_partitions is None:
        # a small single-file parquet scans as ONE partition; 1× cores beat
        # the old 4× overcommit once task overhead dominated (3840 vs 3119
        # docs/s at sf0.1/local[32]), and the salted hash keeps them uniform
        num_partitions = spark.sparkContext.defaultParallelism
    return salted_repartition(docs, num_partitions, salt=salt, key="doc_id")


def load_pages(spark: SparkSession, sf_dir: str, num_partitions: int | None = None,
               salt: int = 0, noisy: bool = False, multi_article: bool = False,
               adversarial: bool = False) -> DataFrame:
    """Synthesize the Common-Crawl-shaped ``pages`` table from the driver's
    ``documents`` parquet (no external data), salted-repartitioned for the
    per-document kernels."""
    return pages_from_documents(read_documents(spark, sf_dir, num_partitions, salt),
                                noisy=noisy, multi_article=multi_article,
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


def _commit(stage: Callable[[DataFrame], DataFrame], todo: DataFrame, path: str,
            schema: T.StructType, resume: bool) -> DataFrame:
    """One checkpointed stage: run ``stage`` over the rows of ``todo`` whose
    url is not committed at ``path`` yet, append them (overwrite when
    nothing is committed), and return the whole committed table.  Both reads
    use the ``schema`` the stage writes, so a directory without part files
    (a killed job's ``_temporary/``) reads as empty, and any other read
    error fails the job instead of replacing committed output."""
    spark = todo.sparkSession
    if resume and os.path.isdir(path):
        done = spark.read.schema(schema).parquet(path).select("url")
        stage(todo.join(done, on="url", how="left_anti")).write.mode("append").parquet(path)
    else:
        stage(todo).write.mode("overwrite").parquet(path)
    return spark.read.schema(schema).parquet(path)


def run_extract_job(spark: SparkSession, sf_dir: str, out_dir: str,
                    num_partitions: int | None = None, resume: bool = True,
                    noisy: bool = False, clean: bool = False,
                    per_stage: bool = False) -> dict:
    """Extract every page; write ``extracted`` + per-partition ``metrics``
    parquet tables under ``out_dir``.  Returns summary counters: ``urls``
    and ``words`` over the whole committed ``extracted`` table, summed from
    its ``metrics`` rows.

    Resume semantics: if ``out_dir/extracted`` exists and ``resume``, urls
    already present are skipped via a left-anti join on the committed
    checkpoint (Iceberg: the last committed snapshot); a committed table
    that cannot be read fails the job instead of being overwritten.

    ``per_stage=True`` additionally checkpoints the parse stage as a
    ``parsed`` table (the reference's per-stage result-JSON discipline,
    ``O/pipeline.py:803-817``, in table form): stage 1 parses only urls
    missing from ``out_dir/parsed``; stage 2 extracts — from the checkpoint,
    never re-parsing — only urls missing from ``out_dir/extracted``.  Both
    stages commit by the same rule.  A job killed between the stages
    resumes with zero re-parses.  At 10^12 docs this is the difference
    between re-running a failed categorize stage and re-running the whole
    corpus parse."""
    source = load_pages(spark, sf_dir, num_partitions=num_partitions, noisy=noisy)
    paths = {"extracted_path": os.path.join(out_dir, "extracted"),
             "metrics_path": os.path.join(out_dir, "metrics")}
    extract = extract_pages
    if per_stage:
        paths["parsed_path"] = os.path.join(out_dir, "parsed")
        source = _commit(parse_pages, source, paths["parsed_path"], PARSED_SCHEMA, resume)
        extract = extract_parsed
    extracted = _commit(lambda df: extract(df, clean=clean), source,
                        paths["extracted_path"], EXTRACTED_SCHEMA, resume)

    metrics = partition_metrics(extracted)
    metrics.write.mode("overwrite").parquet(paths["metrics_path"])
    rows = spark.read.schema(metrics.schema).parquet(paths["metrics_path"]).collect()
    return {"urls": sum(r["url_count"] for r in rows),
            "words": sum(r["word_count"] for r in rows), **paths}
