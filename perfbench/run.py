#!/usr/bin/env python3
"""Extraction benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload plain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics of untraced Spark jobs; ``--trace 1`` runs the same jobs and then a
traced single-process pass and prints the per-layer metrics.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a readable summary.  The run exits
non-zero if any url is missing or its text differs from the oracle.
``--smoke`` runs every workload in both modes on inputs a tenth of the
usual size and checks that every metric named in ``BENCHMARK.json`` is
printed with its unit.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: documents per timed job: a job is one closed-loop request
JOB_DOCS = {"plain": 1000, "crossed": 200, "checkpoint": 800}
#: full-size jobs after the sf0.001 pass, before the clock starts: the
#: first jobs of a session run slower until the JVM and the Python workers
#: are warm (on ``checkpoint`` the ramp lasts about 2400 documents; the
#: sf0.001 pass alone warms ``crossed``)
WARM_JOBS = {"plain": 2, "crossed": 0, "checkpoint": 2}
MIN_JOBS = 3


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="all workloads, both modes, small inputs")
    p.add_argument("--spans-out", help="write the traced spans here as JSON")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke")
    return args


def _hygiene(work: str) -> None:
    """Every scratch path under ``work``; one BLAS/OMP thread per process;
    workers import the package from this checkout."""
    for sub in ("factors", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "OSDOCR_FACTOR_CACHE": os.path.join(work, "factors"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote("-Djava.io.tmpdir=" + os.path.join(work, "tmp")),
            "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"]),
        "SPARK_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        env[var] = "1"
    os.environ.update(env)
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]


def _cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


# -- processes ---------------------------------------------------------------

def _stat(pid: int) -> list[str]:
    """The fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or none if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return []
    return stat[stat.rindex(")") + 2:].split()


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        fields = _stat(int(name)) if name.isdigit() else []
        if fields:
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_rss_peak_mb() -> float:
    """Max VmHWM over this run's pyspark Python worker processes."""
    peak_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process it started."""
    procs = _descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# -- one workload ------------------------------------------------------------

def _job(spark, workload: str, work: str, tag: str, ids: list[int], salt: int) -> dict:
    """Write the job's input, run it, check it against the oracle."""
    from inputs import count_failures, expected_texts, write_documents
    from workloads import run_job
    sf_dir = os.path.join(work, f"in-{tag}")
    out_dir = os.path.join(work, f"out-{tag}")
    write_documents(sf_dir, ids)
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        r = run_job(spark, workload, sf_dir, out_dir, salt)
        r["failed"] = min(len(ids), count_failures(expected_texts(ids), r.pop("rows")))
    except Exception:  # a failed job fails all of its urls
        print(f"perfbench: job {tag} failed\n{traceback.format_exc()}", file=sys.stderr)
        r = {"wall_s": 0.0, "failed": len(ids)}
    tracker = sc.statusTracker()
    tasks = failures = 0
    for jid in tracker.getJobIdsForGroup(tag):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failures += st.numFailedTasks
    r.update(docs=len(ids), tasks=tasks, task_failures=failures)
    shutil.rmtree(sf_dir, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return r


def salt_of(seed: int) -> int:
    """The ``salted_repartition`` salt a seed chooses."""
    return random.Random(seed).randrange(1 << 31)


def warm(spark, workload: str, work: str, seed: int, smoke: bool = False) -> dict:
    """Set-up passes: the workload's plan, salt included, over the sf0.001
    slice (on ``checkpoint`` this includes a parquet write), then
    ``WARM_JOBS`` full-size jobs.  Returns their docs and failed urls."""
    from inputs import sample_ids, warm_ids
    salt = salt_of(seed)
    jobs = [_job(spark, workload, work, f"warm-{workload}",
                 warm_ids()[: 50 if smoke else None], salt)]
    rng = random.Random(-1 - seed)
    for i in range(0 if smoke else WARM_JOBS[workload]):
        jobs.append(_job(spark, workload, work, f"warm-{workload}-{i}",
                         sample_ids(rng, JOB_DOCS[workload]), salt))
    return {"docs": sum(j["docs"] for j in jobs), "failed": sum(j["failed"] for j in jobs)}


def measure(spark, workload: str, seed: int, seconds: float, trace: bool,
            work: str, cores: int, smoke: bool = False, spans_out: str | None = None) -> dict:
    """The timed closed loop on a warm session: jobs until ``seconds`` of
    job wall time (at least ``MIN_JOBS``), then, with ``trace``, the traced
    pass.  Returns the readable summary, the counts and the layer metrics."""
    from inputs import sample_ids
    rng = random.Random(seed)
    salt = salt_of(seed)
    size = JOB_DOCS[workload] // (10 if smoke else 1)
    jobs = []
    while sum(j["wall_s"] for j in jobs) < seconds or len(jobs) < MIN_JOBS:
        jobs.append(_job(spark, workload, work, f"{workload}-{trace:d}-{len(jobs)}",
                         sample_ids(rng, size), salt))
    attempted = sum(j["docs"] for j in jobs)
    failed = sum(j["failed"] for j in jobs)
    wall = sum(j["wall_s"] for j in jobs)
    summary = {
        "workload": workload, "seed": seed, "cores": cores, "jobs": len(jobs),
        "docs_per_s": [attempted / wall if wall else 0.0, "docs/s"],
        "job_docs_per_s": [round(j["docs"] / j["wall_s"], 2) for j in jobs if j["wall_s"]],
        "worker_rss_peak_mb": [worker_rss_peak_mb(), "MB"],
    }
    if workload == "checkpoint":
        summary["ckpt_bytes_per_doc"] = [
            sum(j.get("ckpt_bytes", 0) for j in jobs) / attempted, "bytes/doc"]
    metrics = {}
    if trace:
        import layers
        t = layers.run(workload, smoke=smoke)
        metrics = dict(t["metrics"])
        metrics["spark.overhead_share"] = 1.0 - attempted * t["kernel_s_per_doc"] / (wall * cores)
        metrics["spark.tasks"] = sum(j["tasks"] for j in jobs) / len(jobs)
        metrics["spark.task_failures"] = sum(j["task_failures"] for j in jobs)
        summary["spans"] = len(t["spans"])
        if spans_out:
            with open(spans_out, "w") as f:
                json.dump(t["spans"], f)
    return {"summary": summary, "attempted": attempted, "failed": failed,
            "metrics": metrics}


# -- output ------------------------------------------------------------------

def _units(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _result_line(res: dict, trace: bool, setup: dict, setup_s: float) -> dict:
    """The last stdout line: the run's end-to-end or per-layer metrics."""
    if trace:
        values, units = res["metrics"], _units("per_layer")
    else:
        s = res["summary"]
        values = {"docs_per_s": s["docs_per_s"][0], "setup_s": setup_s,
                  "worker_rss_peak_mb": s["worker_rss_peak_mb"][0]}
        units = _units("end_to_end")
    failed = res["failed"] + setup["failed"]
    return {"correct": failed == 0, "attempted": res["attempted"] + setup["docs"],
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def _summary(res: dict, line: dict) -> dict:
    """The readable line: the run's summary plus ``fail_share`` over every
    url the run attempted, set-up passes included."""
    return dict(res["summary"], fail_share=[line["failed"] / line["attempted"], "share"])


def _missing(line: dict, kind: str) -> list[str]:
    """Metrics of ``kind`` the line lacks or prints without their unit."""
    return [f"{kind} metric {name} missing or without unit {unit}"
            for name, unit in _units(kind).items()
            if not isinstance(line["metrics"].get(name, {}).get("value"), (int, float))
            or line["metrics"][name].get("unit") != unit]


def _smoke(spark, work: str, cores: int) -> int:
    """Every workload in both modes at a tenth of the job sizes and the
    traced samples: every metric present with its unit, every url right,
    the split chain equal to the one-call chain (``layers.run`` raises)."""
    errs = []
    for workload in WORKLOADS:
        setup = warm(spark, workload, work, 0, smoke=True)
        for trace in (False, True):
            res = measure(spark, workload, 0, 0, trace, work, cores, smoke=True)
            line = _result_line(res, trace, setup, time.perf_counter() - _T_START)
            print(json.dumps(_summary(res, line)), flush=True)
            errs += [f"{workload}: {e}" for e in
                     _missing(line, "per_layer" if trace else "end_to_end")]
            if not line["correct"]:
                errs.append(f"{workload}: {line['failed']} urls wrong")
    for e in errs:
        print("perfbench smoke:", e, file=sys.stderr)
    print(json.dumps({"smoke": "failed" if errs else "ok", "workloads": list(WORKLOADS)}))
    return 1 if errs else 0


def main(argv=None) -> int:
    args = _parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _hygiene(work)
    spark = None
    try:
        from osdocr_spark.spark.session import get_spark
        cores = _cores()
        spark = get_spark(app="perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        if args.smoke:
            return _smoke(spark, work, cores)
        setup = warm(spark, args.workload, work, args.seed)
        setup_s = time.perf_counter() - _T_START
        res = measure(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                      work, cores, spans_out=args.spans_out)
        line = _result_line(res, bool(args.trace), setup, setup_s)
        print(json.dumps(dict(_summary(res, line), setup_s=[setup_s, "s"])), flush=True)
        print(json.dumps(line), flush=True)
        return 0 if line["correct"] else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
