"""Structured Streaming wrapper around the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.11 — one document at a time,
``O/pipeline.py:971-1093``); since every kernel here is per-document pure,
a streaming deployment is just ``readStream`` → the same batch plans →
``writeStream``, and this module adds only what is streaming-specific:

- **source**: one file-arrival stream over a parquet directory of pages
  (:func:`_pages`; on a real cluster: an Iceberg/Kafka stream of WARC
  records).
- **transform**: the batch builders, unchanged —
  :func:`~osdocr_spark.spark.stages.extract_pages` (narrow, stateless,
  Arrow-batched; no watermark needed) and the per-row signature
  projections :func:`~osdocr_spark.ops.dedup.minhash_signatures` and
  :func:`~osdocr_spark.ops.dedup.simhash_signatures`, so a streamed page
  hashes to the bytes ``d_minhash``/``d_simhash`` give it.  Stateful
  companions: :func:`stream_domain_stats` (watermarked windowed
  aggregation), :func:`stream_first_seen` (crawl dedup on the native
  streaming ``dropDuplicates``) and two ``applyInPandasWithState``
  operators, :func:`stream_minhash_candidates` and
  :func:`stream_simhash_dups` (near-dup pairing by LSH bucket).
- **sink**: parquet append with checkpointing (:func:`_append`) —
  exactly-once per file via the streaming file-source log, which *is* the
  resume story for the streaming deployment (batch resume lives in
  :func:`~osdocr_spark.spark.jobs.run_extract_job`).
- **metrics**: per micro-batch, the batch job's
  :func:`~osdocr_spark.spark.jobs.partition_metrics` row plus ``batch_id``
  via ``foreachBatch``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.dedup import minhash_bands, minhash_signatures, simhash_signatures
from .jobs import partition_metrics
from .stages import PAGES_SCHEMA, extract_pages

__all__ = ["stream_extract", "stream_domain_stats", "stream_first_seen",
           "stream_minhash_candidates", "stream_simhash_dups"]


def _pages(spark: SparkSession, pages_dir: str, max_files_per_trigger: int) -> DataFrame:
    """The page source: new parquet files under ``pages_dir``, at most
    ``max_files_per_trigger`` per micro-batch."""
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(pages_dir))


def _domain() -> Column:
    return F.regexp_extract("url", r"https://([^/]+)/", 1)


def _append(df: DataFrame, out_dir: str, name: str, checkpoint: str):
    """Start a drain of ``df`` appending to parquet ``out_dir/name``,
    checkpointed at ``out_dir/checkpoint``."""
    return (df.writeStream
            .outputMode("append")
            .format("parquet")
            .option("path", os.path.join(out_dir, name))
            .option("checkpointLocation", os.path.join(out_dir, checkpoint))
            .trigger(availableNow=True)
            .start())


def stream_extract(spark: SparkSession, pages_dir: str, out_dir: str,
                   clean: bool = False, max_files_per_trigger: int = 8):
    """Start (and return) a streaming query extracting newly-arrived page
    files; call ``.processAllAvailable()`` / ``.stop()`` on the handle, or
    run with ``trigger(availableNow=True)`` semantics by letting it drain.
    """
    extracted = extract_pages(_pages(spark, pages_dir, max_files_per_trigger),
                              clean=clean)
    metrics_path = os.path.join(out_dir, "stream_metrics")

    def sink(batch_df, batch_id: int):
        batch_df.persist()
        batch_df.write.mode("append").parquet(os.path.join(out_dir, "extracted"))
        (partition_metrics(batch_df).withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(metrics_path))
        batch_df.unpersist()

    return (
        extracted.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def stream_domain_stats(spark: SparkSession, pages_dir: str, out_dir: str,
                        window: str = "1 hour", watermark: str = "10 minutes",
                        max_files_per_trigger: int = 8):
    """Watermarked windowed aggregation over the page stream: per
    (event-time window, domain) page counts and html byte volume.

    The late-data story for a crawl feed: ``warc_ts`` is event time, rows
    arriving ≤ ``watermark`` late still land in their window, older state is
    finalized and evicted — bounded state at 10^12-doc scale.  Append mode:
    a window emits exactly once, when the watermark passes it."""
    agg = (
        _pages(spark, pages_dir, max_files_per_trigger)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), _domain().alias("domain"))
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.octet_length("html")).alias("html_bytes"))
        .select(F.col("win.start").alias("win_start"), "domain",
                "n_pages", "html_bytes")
    )
    return _append(agg, out_dir, "domain_stats", "_stats_checkpoint")


def stream_first_seen(spark: SparkSession, pages_dir: str, out_dir: str,
                      max_files_per_trigger: int = 8):
    """Streaming first-seen url dedup (the online form of ``d_exact`` — a
    crawl feed re-delivers urls; only the first sighting passes), on Spark's
    native streaming ``dropDuplicates``.

    A url fixes its domain and duplicate rows are identical, so keying the
    state by url emits the same ``(domain, url)`` rows a per-domain url set
    would. The state store shards by url hash across the shuffle partitions,
    so no domain grows one hot state row, and no Python worker runs.  No
    event-time eviction: crawl dedup state is permanent by design (a TTL
    would be ``dropDuplicatesWithinWatermark``).
    """
    firsts = (_pages(spark, pages_dir, max_files_per_trigger)
              .select(_domain().alias("domain"), "url")
              .dropDuplicates(["url"]))
    return _append(firsts, out_dir, "first_seen", "_dedup_checkpoint")


def stream_minhash_candidates(spark: SparkSession, pages_dir: str, out_dir: str,
                              max_files_per_trigger: int = 8,
                              bucket_cap: int = 100):
    """Streaming MinHash LSH: near-dup CANDIDATE pairs online — the
    streaming form of the batch ``d_minhash_pairs`` operator
    (``osdocr_spark.ops.dedup``), for a crawl feed where duplicates must be
    flagged as they arrive rather than in a nightly batch.

    Shape: the batch builders
    :func:`~osdocr_spark.ops.dedup.minhash_signatures` and
    :func:`~osdocr_spark.ops.dedup.minhash_bands` give each page its 4-band
    signature as (band, sig) keys — the projection ``d_minhash`` runs, so
    the hashes are the batch bytes — and ``applyInPandasWithState`` keyed
    by the LSH bucket holds the bucket's seen urls: the first url becomes the
    bucket anchor, every later arrival emits an (url, anchor, band)
    candidate.  State per bucket is capped at ``bucket_cap`` urls (the same
    degenerate-shingle-flood guard as the batch cap — beyond it the bucket
    stops emitting, a documented coverage bound).  At scale the state store
    shards by bucket key, so a bucket's set never leaves its executor.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = _pages(spark, pages_dir, max_files_per_trigger).select("url", "text")
    keyed = minhash_bands(minhash_signatures(pages, "url"), "url")

    out_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("anchor", T.StringType()),
        T.StructField("band", T.IntegerType()),
    ])
    state_schema = T.StructType([
        T.StructField("seen", T.ArrayType(T.StringType())),
    ])

    def pair_up(key, pdfs, state: GroupState):
        band = int(key[0])
        seen = list(state.get[0]) if state.exists else []
        have = set(seen)
        fresh = []
        for pdf in pdfs:
            for url in pdf["url"]:
                if url in have or len(seen) >= bucket_cap:
                    continue
                have.add(url)
                seen.append(url)
                if len(seen) > 1:
                    fresh.append(url)
        state.update((seen,))
        yield pd.DataFrame({"url": fresh,
                            "anchor": [seen[0]] * len(fresh),
                            "band": [band] * len(fresh)})

    cands = keyed.groupBy("band", "sig").applyInPandasWithState(
        pair_up, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)
    return _append(cands, out_dir, "minhash_candidates", "_minhash_checkpoint")


def stream_simhash_dups(spark: SparkSession, pages_dir: str, out_dir: str,
                        max_files_per_trigger: int = 8, max_hamming: int = 3,
                        bucket_cap: int = 100):
    """Streaming SimHash near-dup PAIRS: the online companion to the batch
    ``d_simhash`` signatures — emits (url, other, hamming) as pages arrive.

    The signature is the batch operator's own projection,
    :func:`~osdocr_spark.ops.dedup.simhash_signatures` (per token, bit b
    votes ±1 by the parity of the b-th md5 hex digit; signature bit = sign
    of the vote sum).  Candidate routing is the pigeonhole banding of the
    16-bit signature into 4×4-bit chunks: Hamming distance ≤ 3 forces at
    least one identical chunk, so keying the state store by (band, chunk)
    finds every qualifying pair while each bucket holds only ~1/16 of the
    corpus.  Every arrival compares against all stored bucket members
    (exact Hamming check), so below the cap the emitted pair set is
    arrival-order independent.  A pair whose signatures agree on SEVERAL
    chunks would match in several band buckets; each bucket emits only if
    no LOWER band's chunks also agree — BELOW the cap both full signatures
    are in that lower bucket's state, so every qualifying pair is emitted
    EXACTLY once, from its lowest matching band (ADVICE r3 item 1: the old
    per-band multiplicity made a pair-counting consumer over-count).

    Flood-cap semantics (ADVICE r4): state per bucket is capped at
    ``bucket_cap`` members; a full bucket stops ADMITTING but keeps
    COMPARING — an overflow arrival is still checked against every admitted
    member and emits its pairs here when this is the pair's lowest agreeing
    band (compare-but-not-store).  Exactly-once thus degrades under flood
    to at-most-once, never duplicated: a pair is silently dropped only when
    BOTH members overflowed their lowest agreeing band's bucket (neither is
    in that state, and every higher agreeing band defers to the lower band
    by the ownership rule, which cannot locally observe the lower bucket's
    rejection).  Duplicate emission needs the same url delivered twice to
    a bucket that could not store it the first time: the bucket keeps no
    record of refused urls, so the second arrival re-compares and re-emits
    its pairs.  That happens when a url reappears in a later input file
    (another micro-batch), and when a source replays a batch; the
    Structured Streaming file source replays only after a failure, which
    re-emits its whole output anyway.  The stream therefore assumes urls
    are unique across input files.  At scale the state store shards by
    bucket key."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = _pages(spark, pages_dir, max_files_per_trigger).select("url", "text")
    keyed = (simhash_signatures(pages, "url")
             .select("url", F.col("simhash").cast("int").alias("sig"),
                     F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"))
             .select("band", F.expr("shiftright(sig, 4 * band) & 15").alias("chunk"),
                     "url", "sig"))

    out_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("other", T.StringType()),
        T.StructField("hamming", T.IntegerType()),
        T.StructField("band", T.IntegerType()),
    ])
    state_schema = T.StructType([
        T.StructField("urls", T.ArrayType(T.StringType())),
        T.StructField("sigs", T.ArrayType(T.IntegerType())),
    ])

    def pair_up(key, pdfs, state: GroupState):
        band = int(key[0])
        if state.exists:
            urls, sigs = list(state.get[0]), list(state.get[1])
        else:
            urls, sigs = [], []
        have = set(urls)
        out_u, out_o, out_h = [], [], []
        for pdf in pdfs:
            for url, sig in zip(pdf["url"], pdf["sig"]):
                if url in have:
                    continue
                sig = int(sig)
                for u2, s2 in zip(urls, sigs):
                    ham = bin(sig ^ s2).count("1")
                    if ham <= max_hamming:
                        # lowest-matching-band ownership: a lower band whose
                        # 4-bit chunks also agree owns this pair; emitting
                        # here would duplicate it (one emit per pair, global)
                        agree = sig ^ s2
                        if any((agree >> (4 * b2)) & 0xF == 0
                               for b2 in range(band)):
                            continue
                        out_u.append(url)
                        out_o.append(u2)
                        out_h.append(ham)
                have.add(url)
                # compare-but-not-store flood cap (ADVICE r4): a full
                # bucket still emitted this arrival's pairs above; only
                # its MEMBERSHIP is refused, bounding state while keeping
                # every pair with >=1 admitted member in its owner band.
                if len(urls) < bucket_cap:
                    urls.append(url)
                    sigs.append(sig)
        state.update((urls, sigs))
        yield pd.DataFrame({"url": out_u, "other": out_o, "hamming": out_h,
                            "band": [band] * len(out_u)})

    dups = keyed.groupBy("band", "chunk").applyInPandasWithState(
        pair_up, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)
    return _append(dups, out_dir, "simhash_dups", "_simhash_checkpoint")
