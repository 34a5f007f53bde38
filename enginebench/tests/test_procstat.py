"""/proc readings against busy loops of known length."""

import subprocess
import sys
import time

import harness


def _spin(seconds: float) -> None:
    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_own_cpu_of_a_busy_loop():
    before = harness.cpu_by_group()["python"]
    _spin(0.6)
    got = harness.cpu_by_group()["python"] - before
    assert 0.5 <= got <= 0.9


def test_exited_child_cpu_is_counted_through_the_parent():
    before = harness.cpu_by_group()["python"]
    code = ("import time\nend = time.process_time() + 0.6\n"
            "while time.process_time() < end: pass\n")
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    # the child has exited and was waited for: only cutime holds its CPU
    got = harness.cpu_by_group()["python"] - before
    assert 0.5 <= got <= 1.2


def test_peak_rss_and_steal_are_readable():
    assert harness.peak_rss_mb() > 1.0
    assert harness.host_steal_s() >= 0.0
