"""Registry cap-window hygiene (VERDICT r4 item 6).

The driver's CORRECTNESS report checks only the FIRST 50 entries of
``all_queries()``.  A query past that cap relies on a PRIOR round's green
row — valid evidence only while its implementing code is untouched since.
This test mechanizes the policy: every query whose implementing module (or
a kernel/stage dependency of it) changed since the last ``round N:`` tag
commit must sit inside the first-50 window, else the current round ships
changed code with only stale driver evidence.

Mutation check (documented, manually verified at introduction): pretending
``ops/relational.py`` is touched makes this fail — the whole q_* family
sits past the cap by design (untouched since r2).
"""

import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_CAP = 50


def _touched_since_round_tag() -> set[str]:
    """Repo-relative paths changed (committed or working tree) since the
    most recent commit whose subject starts with ``round N:`` — the driver's
    end-of-round snapshot, i.e. the baseline the current round builds on."""
    log = subprocess.run(
        ["git", "log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H"],
        cwd=REPO, capture_output=True, text=True)
    if "not a git repository" in log.stderr:
        pytest.skip("not a git checkout (e.g. a `git archive` export)")
    log.check_returncode()
    base = log.stdout.strip()
    if not base:
        pytest.skip("no round tag commit found (fresh repo)")
    diff = subprocess.run(
        ["git", "diff", "--name-only", base, "--", "osdocr_spark"],
        cwd=REPO, capture_output=True, text=True, check=True).stdout
    return {p.strip() for p in diff.splitlines() if p.strip()}


def _query_to_files() -> dict[str, set[str]]:
    """query name → repo-relative source files whose change invalidates its
    prior-round evidence: the ops module holding it, plus the kernel/stage
    trees the extraction family executes and the media seam the m_* plumbing
    calls into."""
    from osdocr_spark.ops import ALL_MODULES
    out = {}
    for m in ALL_MODULES:
        mod_file = os.path.relpath(m.__file__, REPO)
        short = m.__name__.rsplit(".", 1)[-1]
        deps = {mod_file}
        if short == "extraction":
            # extraction queries execute the whole kernel + stage stack
            for d in ("osdocr_spark/kernels", "osdocr_spark/spark"):
                for f in os.listdir(os.path.join(REPO, d)):
                    if f.endswith(".py"):
                        deps.add(f"{d}/{f}")
        if short == "textstats":
            deps.add("osdocr_spark/kernels/media.py")
        if short == "validation":
            deps.add("osdocr_spark/kernels/corpus.py")
        for name in m.QUERIES:
            out[name] = deps
    return out


def test_touched_queries_sit_inside_driver_cap():
    from osdocr_spark.ops import all_queries
    order = list(all_queries())
    window = set(order[:DRIVER_CAP])
    touched = _touched_since_round_tag()
    offenders = sorted(
        name for name, deps in _query_to_files().items()
        if name not in window and deps & touched)
    assert not offenders, (
        f"queries with code touched since the last round tag but past the "
        f"driver's first-{DRIVER_CAP} window (stale evidence): {offenders}; "
        f"touched files: {sorted(touched)} — reorder ALL_MODULES in "
        f"osdocr_spark/ops/__init__.py so they get a fresh driver row")


def test_mutation_relational_touch_would_fail():
    """The tripwire actually trips: if relational.py WERE touched, the q_*
    family (past-cap by design) must be flagged."""
    from osdocr_spark.ops import all_queries
    order = list(all_queries())
    window = set(order[:DRIVER_CAP])
    fake_touch = {"osdocr_spark/ops/relational.py"}
    offenders = [name for name, deps in _query_to_files().items()
                 if name not in window and deps & fake_touch]
    assert offenders, "mutation check: a touched relational.py must offend"
