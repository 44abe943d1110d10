"""The runner's CPU accounting."""

import os
import subprocess
import sys

from run import Recorder, tree_cpu_s

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"


def test_tree_cpu_counts_a_child_process():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BUSY], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_recorder_keeps_wall_and_cpu_per_op():
    rec = Recorder()
    with rec.timed("op"):
        subprocess.run([sys.executable, "-c", BUSY], check=True)
    assert rec.ok and rec.failed == 0
    assert rec.samples["op"][0] >= 0.25 and rec.cpu["op"][0] >= 0.25
