"""Each argparse tool imports its bench.py helpers and parses ``--help``
without starting Spark, so a renamed helper fails here rather than an
hour into a drill."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "tool", ["sf1_rehearsal", "ann_rehearsal", "bm25_rehearsal", "job_scaling_rehearsal"]
)
def test_tool_help_exits_0(tool):
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", f"{tool}.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert "usage:" in r.stdout
