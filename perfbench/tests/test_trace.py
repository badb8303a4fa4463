"""CPU time is charged to the benchmark process for the work of its children."""

import os
import subprocess
import sys

from perfbench.trace import cpu_seconds

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"


def _own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def test_cpu_seconds_counts_a_running_child():
    before, own = cpu_seconds(), _own_cpu()
    child = subprocess.Popen(
        [sys.executable, "-c", BURN + "print('burnt', flush=True)\nimport sys; sys.stdin.read()"],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline() == b"burnt\n"
        assert child.poll() is None
        assert cpu_seconds() - before - (_own_cpu() - own) >= 0.4
    finally:
        child.communicate(b"")


def test_cpu_seconds_keeps_a_reaped_child():
    before, own = cpu_seconds(), _own_cpu()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert cpu_seconds() - before - (_own_cpu() - own) >= 0.4
