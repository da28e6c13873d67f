"""The process-tree CPU and RSS sampler, on real child processes."""

import os
import subprocess
import sys
import time

from perfbench.procstat import (
    TreeSampler,
    descendants,
    snapshot,
    summed_rss,
    tree_cpu_seconds,
)

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"
HOLD = (
    "import sys, time\nb = bytearray({n})\nb[::4096] = b'x' * len(b[::4096])\n"
    "sys.stdout.write('ready\\n'); sys.stdout.flush(); time.sleep({s})\n"
)


def test_reaped_child_cpu_is_counted():
    me = os.getpid()
    before = tree_cpu_seconds(me)
    subprocess.run([sys.executable, "-c", BURN.format(s=0.4)], check=True, timeout=60)
    # the child has exited and was reaped: its CPU now sits in our cutime
    assert tree_cpu_seconds(me) - before >= 0.35


def test_live_grandchild_is_in_the_tree():
    me = os.getpid()
    # child starts a grandchild that keeps running, then waits for it
    code = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=1.0)!r}])\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 30
        while len(descendants(me)) < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert len(descendants(me)) >= 2
        assert child.pid in snapshot(me)
    finally:
        child.wait(timeout=60)
    assert descendants(me) == []


def test_sampler_sees_child_peak_rss():
    n = 200 * 2**20
    sampler = TreeSampler(os.getpid(), interval=0.02).start()
    child = subprocess.Popen(
        [sys.executable, "-c", HOLD.format(n=n, s=0.5)], stdout=subprocess.PIPE
    )
    try:
        assert child.stdout.readline() == b"ready\n"
        time.sleep(0.2)
    finally:
        child.wait(timeout=60)
        child.stdout.close()
    peak = sampler.stop()
    assert sampler.samples >= 2
    assert peak >= n


def test_a_child_sharing_its_parents_memory_counts_once():
    tree = {
        1: (0, b"python3", 1.0, 100),
        2: (1, b"java", 5.0, 2000),
        3: (2, b"Executor task l", 0.0, 2000),  # vfork spawn before exec
        4: (2, b"python3", 0.5, 300),  # a real child: its own memory
        5: (4, b"python3", 0.5, 310),  # a forked worker: its own counter
    }
    assert summed_rss(tree) == 100 + 2000 + 300 + 310
