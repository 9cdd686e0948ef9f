"""docs/api.md stays executable: every code block in it is replayed by
``scripts/run_docs_examples.py``, which asserts the documented behavior.
It runs in a process of its own, because it starts (and stops) its own
Spark session."""

import os
import subprocess
import sys

import pytest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts", "run_docs_examples.py")


@pytest.mark.slow
def test_docs_examples_run():
    proc = subprocess.run([sys.executable, SCRIPT], capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, (
        f"{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")
    assert "ALL DOC EXAMPLES PASS" in proc.stdout, proc.stdout[-2000:]
