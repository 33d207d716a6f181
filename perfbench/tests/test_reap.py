"""The run waits for every process it started, adopted orphans included."""

import os
import subprocess
import sys

import pytest

CODE = """
import subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench import run
run._become_subreaper()
# the shell exits at once; its background sleep is orphaned and adopted
subprocess.run(["sh", "-c", "sleep 60 & echo $!"], stdout=open(sys.argv[2], "w"))
t0 = time.time()
run._reap(grace=0.2)
print(len(run._children()), round(time.time() - t0, 1))
"""


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="Linux subreaper")
def test_reap_ends_adopted_orphans(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pidfile = tmp_path / "pid"
    out = subprocess.run([sys.executable, "-c", CODE, root, str(pidfile)],
                         check=True, capture_output=True, text=True, timeout=60)
    left, took = out.stdout.split()
    assert left == "0"
    assert float(took) < 10
    assert not os.path.exists(f"/proc/{pidfile.read_text().strip()}")
