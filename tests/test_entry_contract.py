"""Driver-contract tests: entry() smoke + Spark↔DuckDB oracle parity on a
fast subset at sf0.001, plan-hygiene checks (pushdown/pruning), and the
extraction job's checkpoint/resume semantics.

The driver runs the *full* oracle comparison (46 oracles) at sf0.01; here we
pin a representative slice so `python -m pytest -x -q` stays green and fast.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
from harness import compare, duck_con  # noqa: E402

SF = "/root/testdata/sf0.001"

# EVERY registered query gets a standing cross-engine parity check at
# sf0.001 (ADVICE r3 item 2: the driver's correctness report caps at the
# first 50 registry entries, so queries past the cap would otherwise rely
# on stale rounds for evidence; and a hand-curated list lets a future query
# dodge the check).  Collection-time import only touches the registry
# dicts — no SparkSession is created until the fixture runs.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from osdocr_spark.ops import all_queries as _all_queries  # noqa: E402

SUBSET = sorted(_all_queries())


@pytest.fixture(scope="module")
def spark():
    from osdocr_spark.spark.session import get_spark
    s = get_spark(cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def entry_mod():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    return E


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "text"}


def test_every_query_has_callable_and_oracle_keys_align(entry_mod):
    qs = entry_mod.queries()
    orc = entry_mod.oracle_sql()
    assert len(qs) >= 30
    assert set(orc) <= set(qs)
    # round 2 closed the last gap: every query has an exact DuckDB oracle
    assert set(qs) - set(orc) == set()


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity_subset(spark, entry_mod, name):
    con = duck_con(SF)
    res = compare(entry_mod.queries()[name](spark, SF),
                  con.execute(entry_mod.oracle_sql()[name]).df())
    assert res["cols_match"] and res["count_match"] and res["values_match"], res


def test_plan_pushdown_and_pruning(spark):
    """Scale hygiene: filters reach the parquet scan; the extraction stage
    reads only (url, html)."""
    from osdocr_spark.ops.relational import q_filter_project
    from osdocr_spark.spark.jobs import load_pages
    from osdocr_spark.spark.stages import extract_pages

    plan = q_filter_project(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan

    ex_plan = extract_pages(load_pages(spark, SF))._jdf.queryExecution() \
        .executedPlan().toString()
    # the physical documents scan feeding page synthesis must prune to the
    # columns the generator needs (doc_id, text, lang)
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in ex_plan


def test_plan_broadcast_joins(spark):
    """Scale hygiene: the small side of dimension/probe joins must broadcast
    — a shuffled hash join on these shapes becomes the 100 TB bottleneck."""
    from osdocr_spark.ops.relational import q_broadcast_join
    from osdocr_spark.ops.simsearch import s_ann_bruteforce, s_ann_ivf

    for q in (q_broadcast_join, s_ann_bruteforce, s_ann_ivf):
        plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, \
            f"{q.__name__} lost its broadcast:\n{plan[:2000]}"
    # and the probe side never becomes a cartesian product
    plan = s_ann_ivf(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_plan_topk_is_take_ordered(spark):
    """Scale hygiene: global top-k must plan TakeOrderedAndProject
    (per-partition heap top-k + driver merge) — never an unpartitioned
    window funnelling the whole table through one task."""
    from osdocr_spark.ops.relational import q_join_topk, q_topk_global
    from osdocr_spark.ops.textstats import t_ngram_topk

    for q in (q_topk_global, q_join_topk, t_ngram_topk):
        plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, \
            f"{q.__name__} lost TakeOrderedAndProject:\n{plan[:2000]}"


# Queries whose plan legitimately carries a BroadcastNestedLoopJoin: a
# BOUNDED probe set (the %50 query sample / the tiny config table / the
# tf-idf top-terms vector) broadcast against the corpus — the broadcast side
# is O(queries), never O(corpus), so the shape survives scale.  Everything
# else asserting a BNLJ is an all-pairs bug.
_BNLJ_ALLOWED = {"s_ann_bruteforce", "s_ann_lsh", "s_ann_lsh_multiprobe",
                 "s_ann_ivf", "s_ann_pq", "s_ann_ivfpq", "v_tfidf_pairs",
                 "v_calibrate"}

_PAIRISH = sorted(k for k in _all_queries()
                  if k.startswith(("d_", "s_")) or k == "v_tfidf_pairs")


@pytest.mark.parametrize("name", _PAIRISH)
def test_plan_no_cartesian_in_pair_generators(spark, entry_mod, name):
    """Scale hygiene: every dedup/similarity operator must route through a
    bucket/candidate key — an all-pairs cartesian or nested-loop join is the
    O(n²) shape that dies at corpus scale (round-1 verdict items 4-7).
    Parameterized over EVERY registered d_*/s_* query (VERDICT r3 item 3),
    so a future pair operator cannot dodge the check by not being named."""
    plan = entry_mod.queries()[name](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    if name not in _BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_plan_winnow_is_narrow(spark):
    """Scale hygiene (r2 verdict item 4): winnowing fingerprints must come
    from the per-doc Arrow kernel — no per-character-position row explode
    shuffled through a per-doc window.  The only allowed exchange is the
    test-scale repartition of the single-file documents scan."""
    from osdocr_spark.ops.dedup import d_winnow

    plan = d_winnow(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 1, plan[:2000]


def test_salted_partitions_balanced(spark):
    """Scale hygiene: the domain key is Zipf-skewed by construction
    (URL_DOMAINS buckets), but after the salted repartition no partition
    holds more than ~3× the mean — the skew never reaches the kernels."""
    from pyspark.sql import functions as F
    from osdocr_spark.spark.jobs import load_pages

    pages = load_pages(spark, SF, num_partitions=16)
    sizes = (pages.select(F.spark_partition_id().alias("pid"))
             .groupBy("pid").count().collect())
    counts = [r["count"] for r in sizes]
    assert len(counts) == 16
    mean = sum(counts) / len(counts)
    assert max(counts) <= 3 * mean, counts
    assert min(counts) > 0, counts


def test_job_resume(spark, tmp_path):
    from osdocr_spark.spark.jobs import run_extract_job
    out = str(tmp_path / "out")
    r1 = run_extract_job(spark, SF, out, num_partitions=8)
    assert r1["urls"] == 500
    # second run: everything checkpointed, nothing reprocessed, count stable
    r2 = run_extract_job(spark, SF, out, num_partitions=8)
    assert r2["urls"] == 500
    # metrics lineage table exists and covers all urls
    m = spark.read.parquet(r1["metrics_path"])
    total = m.groupBy().sum("url_count").collect()[0][0]
    assert total == 500


def test_job_resume_per_stage_no_reparse(spark, tmp_path):
    """A job killed after the parse stage resumes from the parsed checkpoint
    without re-parsing a single page (SURVEY §4.2 per-stage snapshots; the
    reference's per-stage result-JSON discipline, O/pipeline.py:803-817)."""
    import os as _os
    from osdocr_spark.spark.jobs import load_pages, run_extract_job
    from osdocr_spark.spark.stages import parse_pages

    out = str(tmp_path / "out")
    parsed_path = _os.path.join(out, "parsed")
    # simulate the kill: stage 1 committed, stage 2 never ran
    parse_pages(load_pages(spark, SF, num_partitions=8)) \
        .write.mode("overwrite").parquet(parsed_path)
    before = sorted(f for f in _os.listdir(parsed_path) if f.endswith(".parquet"))

    r = run_extract_job(spark, SF, out, num_partitions=8, per_stage=True)
    assert r["urls"] == 500
    # the parsed checkpoint was reused verbatim: every original part file
    # survives and not one row was re-parsed (a re-parse would append
    # duplicate urls; the empty append may add zero-row part files)
    after = sorted(f for f in _os.listdir(parsed_path) if f.endswith(".parquet"))
    assert set(before) <= set(after)
    parsed = spark.read.parquet(parsed_path)
    assert parsed.count() == 500
    assert parsed.select("url").distinct().count() == 500
    # and the per-stage path produces the same text as the fused path
    from pyspark.sql import functions as F
    from osdocr_spark.spark.stages import extract_pages
    a = spark.read.parquet(r["extracted_path"]).select("url", "text")
    b = extract_pages(load_pages(spark, SF, num_partitions=8)).select("url", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_job_per_stage_spark_job_count(spark, tmp_path):
    """A fresh per-stage run costs the salted shuffle, the two stage writes
    and one metrics aggregation: no schema-inference read of a table whose
    schema the package declares, and no second scan for the summary."""
    from osdocr_spark.spark.jobs import run_extract_job

    sc = spark.sparkContext
    tag = "test_job_per_stage_spark_job_count"
    sc.setJobGroup(tag, tag)
    try:
        r = run_extract_job(spark, SF, str(tmp_path / "out"), num_partitions=8,
                            per_stage=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r["urls"] == 500
    jobs = sc.statusTracker().getJobIdsForGroup(tag)
    assert len(jobs) <= 6, sorted(jobs)


def test_job_resume_fails_on_unreadable_checkpoint(spark, tmp_path):
    """Committed output that cannot be read fails the resume; it is never
    silently overwritten."""
    from py4j.protocol import Py4JJavaError
    from osdocr_spark.spark.jobs import run_extract_job

    out = str(tmp_path / "out")
    extracted = run_extract_job(spark, SF, out, num_partitions=8)["extracted_path"]
    parts = sorted(f for f in os.listdir(extracted) if f.endswith(".parquet"))
    assert parts
    for f in parts:
        with open(os.path.join(extracted, f), "wb") as fh:
            fh.write(b"not parquet")
    with pytest.raises(Py4JJavaError):
        run_extract_job(spark, SF, out, num_partitions=8)
    assert sorted(f for f in os.listdir(extracted) if f.endswith(".parquet")) == parts
    for f in parts:
        with open(os.path.join(extracted, f), "rb") as fh:
            assert fh.read() == b"not parquet"


def test_job_resume_over_torn_checkpoint(spark, tmp_path):
    """A checkpoint directory a killed job left with only ``_temporary/``
    holds no committed url: the resume commits every page."""
    from osdocr_spark.spark.jobs import run_extract_job

    out = tmp_path / "out"
    torn = out / "extracted" / "_temporary" / "0" / "_temporary" / "attempt_0"
    torn.mkdir(parents=True)
    (torn / "part-00000.snappy.parquet").write_bytes(b"torn write")
    r = run_extract_job(spark, SF, str(out), num_partitions=8)
    assert r["urls"] == 500
    got = spark.read.parquet(r["extracted_path"])
    assert got.count() == 500 and got.select("url").distinct().count() == 500


@pytest.mark.parametrize("clean", [False, True])
def test_document_sources_agree_on_every_column(spark, clean):
    """The document sources feeding the one extraction driver — html bytes
    (``extract_pages``), the fused generator (``extract_documents_fused``)
    and checkpoint JSON (``extract_parsed``) — must yield the same
    ``extracted`` row per url in every column but the partition lineage id,
    with and without the fix suite."""
    from osdocr_spark.spark.jobs import load_pages
    from osdocr_spark.spark.stages import (EXTRACTED_SCHEMA, extract_documents_fused,
                                           extract_pages, extract_parsed, parse_pages)

    cols = [f.name for f in EXTRACTED_SCHEMA.fields if f.name != "partition_id"]
    pages = load_pages(spark, SF, noisy=clean)
    sources = {
        "pages": extract_pages(pages, clean=clean),
        "parsed": extract_parsed(parse_pages(pages), clean=clean),
    }
    if not clean:
        docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
        sources["fused"] = extract_documents_fused(docs)
    got = {name: {r["url"]: r for r in
                  (r.asDict(recursive=True) for r in df.select(*cols).collect())}
           for name, df in sources.items()}
    want = got.pop("pages")
    assert len(want) == 500
    for name, rows in got.items():
        assert rows.keys() == want.keys(), name
        bad = [u for u in want if rows[u] != want[u]]
        assert not bad, (name, bad[:5])


def test_parallelism_invariance(spark, entry_mod):
    """Same results regardless of partitioning (guards the scaling run)."""
    from pyspark.sql import functions as F
    from osdocr_spark.spark.jobs import load_pages
    from osdocr_spark.spark.stages import extract_pages
    a = extract_pages(load_pages(spark, SF, num_partitions=2)) \
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list(F.concat_ws("§", "url", "text"))))).alias("h")) \
        .collect()[0]["h"]
    b = extract_pages(load_pages(spark, SF, num_partitions=13, salt=5)) \
        .agg(F.md5(F.concat_ws("|", F.sort_array(F.collect_list(F.concat_ws("§", "url", "text"))))).alias("h")) \
        .collect()[0]["h"]
    assert a == b


def test_aqe_splits_skewed_join(spark):
    """Scale hygiene: a 90%-hot-key join must trigger AQE's skew-join split
    (the runtime answer to domain-key skew when salting isn't in the plan).
    Thresholds are lowered to make the 200k-row fixture look like a skewed
    100 TB shuffle; restored afterwards."""
    from pyspark.sql import functions as F

    keys = ["spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold"]
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "64KB")
        spark.conf.set(keys[1], "32KB")
        spark.conf.set(keys[2], "2")
        spark.conf.set(keys[3], "false")
        spark.conf.set(keys[4], "-1")
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("v" * 64), F.col("id").cast("string")).alias("payload"))
        dim = spark.range(0, 97).select(F.col("id").alias("k"),
                                        F.col("id").alias("dval"))
        j = fact.join(dim, "k").select(F.sum(F.length("payload")).alias("s"))
        [row] = j.collect()
        assert row["s"] > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hocr_dir_and_json_dir_sources(spark, tmp_path):
    """File-based source connectors (§2.1): a directory of raw .hocr files
    and a directory of reference-format result JSONs both load and extract
    byte-identically to the in-memory path."""
    import re as _re
    import duckdb
    from osdocr_spark.kernels.corpus import generate_page
    from osdocr_spark.kernels.hocr import parse_hocr
    from osdocr_spark.kernels.serialize import to_json
    from osdocr_spark.spark.jobs import (load_pages_from_hocr_dir,
                                         load_parsed_from_json_dir)
    from osdocr_spark.spark.stages import extract_pages, extract_parsed

    rows = duckdb.sql(
        f"select doc_id, text from '{SF}/documents.parquet' "
        "order by doc_id limit 40").fetchall()
    hocr_dir = tmp_path / "hocr"
    json_dir = tmp_path / "json"
    hocr_dir.mkdir(); json_dir.mkdir()
    want = {}
    for doc_id, text in rows:
        page = generate_page(doc_id, text)
        (hocr_dir / f"{doc_id}.hocr").write_bytes(page)
        (json_dir / f"{doc_id}.json").write_text(
            to_json(parse_hocr(page, url=str(doc_id))))
        want[str(doc_id)] = _re.sub(r"\s+", " ", text).strip()

    got_h = {r["url"]: r["text"] for r in
             extract_pages(load_pages_from_hocr_dir(spark, str(hocr_dir)))
             .select("url", "text").collect()}
    assert len(got_h) == len(rows)
    for url, text in got_h.items():
        doc_id = url.rsplit("/", 1)[1].removesuffix(".hocr")
        assert text == want[doc_id], url

    got_j = {r["url"]: r["text"] for r in
             extract_parsed(load_parsed_from_json_dir(spark, str(json_dir)))
             .select("url", "text").collect()}
    assert len(got_j) == len(rows)
    for url, text in got_j.items():
        doc_id = url.rsplit("/", 1)[1].removesuffix(".json")
        assert text == want[doc_id], url


def test_corpus_respects_oracle_bounds():
    """ADVICE r3 item 4: several DuckDB oracles expand per-position rows
    bounded by the shared constants in ``osdocr_spark.ops._bounds``.  Assert
    every driver corpus stays inside those bounds (and the all-ASCII
    assumption some byte-offset oracles rely on) at EVERY scale factor, so a
    longer-document fixture fails loudly here instead of silently truncating
    an oracle."""
    import duckdb
    from osdocr_spark.ops._bounds import MAX_DOC_CHARS, MAX_DOC_TOKENS

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        mx_tok, mx_chars, non_ascii = duckdb.sql(
            f"SELECT MAX(len(string_split(text, ' '))), MAX(strlen(text)), "
            f"SUM(CASE WHEN strlen(text) <> octet_length(encode(text)) "
            f"THEN 1 ELSE 0 END) FROM '{path}'").fetchone()
        # strict: leave headroom so +1/-1 window arithmetic in oracles
        # (shingles, bigrams, winnow grams) can never graze the bound
        assert mx_tok + 8 < MAX_DOC_TOKENS, (sf, mx_tok)
        assert mx_chars + 64 < MAX_DOC_CHARS, (sf, mx_chars)
        assert non_ascii == 0, (sf, non_ascii)
