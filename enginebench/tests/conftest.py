import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


def pytest_configure(config):
    # keep test scratch inside the checkout (git-ignored)
    if not config.option.basetemp:
        work = os.path.join(os.path.dirname(BENCH), ".bench_work")
        os.makedirs(work, exist_ok=True)  # pytest creates only the last level
        config.option.basetemp = os.path.join(work, "pytest")
