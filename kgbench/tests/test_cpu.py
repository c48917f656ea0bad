"""The process-tree CPU time behind cpu_s counts the work of child
processes, also after they exit, and not time spent waiting."""

import os
import subprocess
import sys
import time

from kgbench.run import tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"


def test_exited_child_work_is_counted():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.4


def test_live_child_work_is_counted_and_sleep_is_not():
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(30)\n"])
    try:
        time.sleep(1.5)
        assert tree_cpu_s(os.getpid()) - before >= 0.4
        mid = tree_cpu_s(os.getpid())
        time.sleep(1.0)
        assert tree_cpu_s(os.getpid()) - mid < 0.2
    finally:
        child.kill()
        child.wait()
