"""The three timed plan shapes, each one closed-loop Spark job.

Every job reads the ``documents.parquet`` the benchmark wrote into
``sf_dir`` and returns the (url, text) pairs the oracle checks, plus the
checkpoint bytes for ``checkpoint``.  Only the call that runs the job is
timed; reading the checkpoint back for the oracle happens after the clock
stops.
"""

from __future__ import annotations

import os
import time

WORKLOADS = ("plain", "crossed", "checkpoint")


def _plain(spark, sf_dir: str, salt: int):
    """The ``extract_text`` query's plan: generate + extract fused in one
    Python stage over regular pages, no fix suite."""
    from osdocr_spark.spark.stages import extract_documents_fused, salted_repartition
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = salted_repartition(docs, spark.sparkContext.defaultParallelism,
                              salt=salt, key="doc_id")
    return extract_documents_fused(docs).select("url", "text")


def _crossed(spark, sf_dir: str, salt: int):
    """The ``extract_text_crossed`` query's plan: a pages table
    (noisy × adversarial × multi-article) feeding ``extract_pages`` with the
    fix suite on."""
    from osdocr_spark.spark.jobs import load_pages
    from osdocr_spark.spark.stages import extract_pages
    pages = load_pages(spark, sf_dir, salt=salt, noisy=True, adversarial=True,
                       multi_article=True)
    return extract_pages(pages, clean=True).select("url", "text")


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def run_job(spark, workload: str, sf_dir: str, out_dir: str, salt: int) -> dict:
    """Run one job; returns ``wall_s`` (the timed part), ``rows`` as
    (url, text) pairs and, on ``checkpoint``, ``ckpt_bytes``."""
    t0 = time.perf_counter()
    if workload == "checkpoint":
        # run_extract_job takes no salt: the seed moves only the sample here
        from osdocr_spark.spark.jobs import run_extract_job
        out = run_extract_job(spark, sf_dir, out_dir, per_stage=True)
    else:
        got = (_plain if workload == "plain" else _crossed)(spark, sf_dir, salt).collect()
    r = {"wall_s": time.perf_counter() - t0}
    if workload == "checkpoint":
        import pyarrow.parquet as pq
        table = pq.read_table(out["extracted_path"], columns=["url", "text"])
        r["rows"] = list(zip(table.column("url").to_pylist(), table.column("text").to_pylist()))
        r["ckpt_bytes"] = (_parquet_bytes(out["parsed_path"])
                           + _parquet_bytes(out["extracted_path"]))
    else:
        r["rows"] = [(row["url"], row["text"]) for row in got]
    return r
