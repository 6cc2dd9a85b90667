"""/proc readings of the benchmark's own process tree."""

import subprocess
import sys

import proctree


def test_tree_includes_children_and_their_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\ntime.sleep(30)"])
    try:
        before = proctree.tree_cpu_s()
        with proctree.PeakRss(interval_s=0.01) as rss:
            deadline = before + 0.25
            while proctree.tree_cpu_s() < deadline:
                pass
        assert child.pid in proctree.tree_pids()
        assert proctree.tree_cpu_s() - before >= 0.25
        assert rss.peak_mb >= proctree.tree_rss_mb() * 0.5 > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in proctree.tree_pids()
