"""The benchmark's own test: ``run.py --smoke`` on small inputs.

    python3 -m pytest perfbench -q
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_prints_every_metric_and_matches_the_one_call_chain():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
    assert lines[-1] == {"smoke": "ok", "workloads": ["plain", "crossed", "checkpoint"]}
    assert {s["workload"] for s in lines[:-1]} == {"plain", "crossed", "checkpoint"}
    assert all(s["fail_share"] == [0.0, "share"] for s in lines[:-1])
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
