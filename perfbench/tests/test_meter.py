"""The process-tree meter on a toy parent/child/grandchild tree.

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import textwrap
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from meter import TreeMeter, tree_cpu_s, tree_pids  # noqa: E402

# burns 0.3 s of CPU, touches 64 MiB, then holds until stdin closes
CHILD = textwrap.dedent("""
    import sys, time
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    buf = bytearray(64 << 20)
    for i in range(0, len(buf), 4096):
        buf[i] = 1
    print("ready", flush=True)
    sys.stdin.read()
""")

# starts CHILD, reports its pid, reaps it on request, then holds
MIDDLE = textwrap.dedent(f"""
    import subprocess, sys
    c = subprocess.Popen([sys.executable, "-c", {CHILD!r}],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    print(c.pid, flush=True)
    c.stdout.readline()
    print("ready", flush=True)
    sys.stdin.readline()
    c.stdin.close()
    c.wait()
    print("reaped", flush=True)
    sys.stdin.read()
""")


def _popen(code):
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True)


def test_child_cpu_and_memory_are_seen_and_cpu_survives_reaping():
    with TreeMeter(interval=0.02) as meter:
        cpu0 = meter.cpu_s()
        meter.reset_peak()
        base = meter.peak_pss_bytes
        child = _popen(CHILD)
        try:
            assert child.stdout.readline().strip() == "ready"
            assert child.pid in tree_pids(os.getpid())
            time.sleep(0.2)  # a few sampling intervals
            assert meter.peak_pss_bytes - base >= 60 << 20
        finally:
            child.stdin.close()
            child.wait(timeout=10)
        assert child.pid not in tree_pids(os.getpid())
        # the child is gone; its CPU now sits in this process's cutime
        assert meter.cpu_s() - cpu0 >= 0.25


def test_grandchild_is_in_the_tree_and_counted_after_its_parent_reaps_it():
    middle = _popen(MIDDLE)
    try:
        grandchild = int(middle.stdout.readline())
        assert middle.stdout.readline().strip() == "ready"
        assert grandchild in tree_pids(middle.pid)
        live = tree_cpu_s(middle.pid)
        assert live >= 0.25
        middle.stdin.write("\n")
        middle.stdin.flush()
        assert middle.stdout.readline().strip() == "reaped"
        assert grandchild not in tree_pids(middle.pid)
        assert tree_cpu_s(middle.pid) >= live
    finally:
        middle.stdin.close()
        middle.wait(timeout=10)
    assert middle.returncode == 0
