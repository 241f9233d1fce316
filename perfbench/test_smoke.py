"""The benchmark's own test: every workload at a tiny size, untraced and
traced, must match the golden oracle.  Run: python -m pytest perfbench"""

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def test_smoke_all_workloads_match_golden():
    proc = subprocess.run([sys.executable, RUN, "--smoke"],
                          capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    layers = {w: r["layers"] for w, r in result["workloads"].items()}
    assert layers["factory_lexicon"]["extract.rows"] == 0
    assert layers["factory_html"]["extract.rows"] > 0
    assert layers["factory_lexicon"]["components.edges"] > 0
