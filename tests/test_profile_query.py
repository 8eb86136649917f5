"""Smoke test for scripts/profile_query.py: one cheap gate, one run."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_query_reports_jobs_and_stages(sf_dir):
    env = dict(os.environ, SF=sf_dir, WARM=sf_dir, RUNS="1")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "profile_query.py"),
         "histogram_lineitem_price"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (line,) = out.stdout.splitlines()
    rec = json.loads(line)
    assert rec["query"] == "histogram_lineitem_price"
    assert rec["build.jobs"] + rec["exec.jobs"] >= 1
    assert rec["exec.stages"] >= 1
