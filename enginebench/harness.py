"""Process, session and bookkeeping helpers shared by the workloads.

Everything here reads the operating system or the JVM from outside the
engine: CPU and peak RSS come from ``/proc``, Spark job counts from the
status tracker, GC time from the JVM's management beans. Nothing in
``cds_spark`` is patched here (the traced run's wrappers live in
``layers.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
#: the checkout root: the benchmark reads and writes only below it
ROOT = os.path.dirname(BENCH_DIR)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def ncpus() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- /proc
def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_times(pid: int) -> tuple[int, float, float]:
    """``(ppid, own_cpu_s, reaped_children_cpu_s)`` of one process. The
    second figure covers all its threads; the third is ``cutime+cstime``,
    where the CPU of children that already exited (and were waited for)
    ends up."""
    f = _stat_fields(pid)
    # fields 4, 14-17 of proc(5); f[0] is field 3 (state)
    ppid = int(f[1])
    own = (int(f[11]) + int(f[12])) / CLK_TCK
    reaped = (int(f[13]) + int(f[14])) / CLK_TCK
    return ppid, own, reaped


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
    except OSError:
        return []


def descendants(root: int) -> dict[int, int]:
    """pid -> ppid for ``root`` and every live process below it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            parent[int(name)] = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    tree = {root: parent.get(root, 0)}
    grew = True
    while grew:
        grew = False
        for pid, pp in parent.items():
            if pp in tree and pid not in tree:
                tree[pid] = pp
                grew = True
    return tree


def _is_java(pid: int) -> bool:
    cmd = _cmdline(pid)
    return bool(cmd) and os.path.basename(cmd[0]) == "java"


def classify_tree(root: int) -> dict[int, str]:
    """Label every process of the tree: ``python`` (the benchmark process
    and helpers it spawned itself), ``jvm`` (the Spark driver JVM) or
    ``pyworker`` (anything the JVM started: the PySpark daemon and its
    Arrow/Python workers)."""
    tree = descendants(root)
    labels: dict[int, str] = {}

    def label(pid: int) -> str:
        if pid in labels:
            return labels[pid]
        if pid == root:
            out = "python"
        elif _is_java(pid):
            out = "jvm"
        else:
            up = label(tree[pid]) if tree.get(pid) in tree else "python"
            out = "pyworker" if up in ("jvm", "pyworker") else "python"
        labels[pid] = out
        return out

    for pid in tree:
        label(pid)
    return labels


def cpu_by_group() -> dict[str, float]:
    """Cumulative CPU seconds of this process's tree, split by
    :func:`classify_tree` label. Each live process contributes its own
    CPU plus that of its exited, reaped children, so short-lived workers
    are not lost; take the difference of two readings for an interval."""
    out = {"python": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, grp in classify_tree(os.getpid()).items():
        try:
            _, own, reaped = proc_times(pid)
        except (OSError, ValueError, IndexError):
            continue
        out[grp] += own + reaped
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process's live tree."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_steal_s() -> float:
    """Machine-wide steal time so far (``/proc/stat``), in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0


# ------------------------------------------------------------- session
def start_session(work: str, cores: int):
    """A SparkSession through the engine's own factory, with the
    parallelism pinned to ``local[cores]`` / ``cores`` shuffle partitions
    and every scratch path kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import cds_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    from cds_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("enginebench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_conf(spark) -> dict:
    keep = ("spark.master", "spark.sql.shuffle.partitions",
            "spark.driver.memory", "spark.sql.adaptive.enabled",
            "spark.driver.extraJavaOptions", "spark.hadoop.fs.file.impl")
    conf = dict(spark.sparkContext.getConf().getAll())
    return {k: conf.get(k) for k in keep}


def jvm_gc_s(spark) -> float:
    """Total GC time of the driver JVM so far (management beans)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


#: how long stop_session waits for the session's processes before SIGKILL
STOP_TIMEOUT_S = 60.0


def stop_session(spark) -> None:
    """Stop Spark, close the gateway JVM and wait until every process the
    session started has ended (SIGKILL after :data:`STOP_TIMEOUT_S`)."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and _stat_fields(p)[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


# ---------------------------------------------------------- job counts
class JobCounter:
    """Spark jobs launched by one job group in an interval.

    ``statusTracker().getJobIdsForGroup(None)`` returns only jobs without
    a group; every job of a streaming micro-batch runs under the query's
    group (its run id), so per-batch counts must name that group. Job ids
    are global and increase, so a span counts the ids of its group at or
    above the id the scheduler would hand out when the span began. The
    status store is fed by the listener bus, which is drained first."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._sc = self.sc._jsc.sc()

    def next_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def group(self) -> str | None:
        """The calling thread's job group (None when it has none)."""
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def count(self, group: str | None, since_id: int) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return sum(1 for i in ids if i >= since_id)


# ------------------------------------------------------------ numbers
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------- run record
class Ops:
    """Attempted / failed operations per operation type."""

    def __init__(self):
        self._lock = threading.Lock()
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}

    def add(self, op: str, ok: bool = True) -> None:
        with self._lock:
            self.attempted[op] = self.attempted.get(op, 0) + 1
            if not ok:
                self.failed[op] = self.failed.get(op, 0) + 1

    def totals(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def write_record(record: dict, spans: list | None) -> str:
    """Persist the run record (and the traced run's spans) under
    ``.bench_runs/`` in the checkout; returns the record path."""
    out = os.path.join(ROOT, ".bench_runs")
    os.makedirs(out, exist_ok=True)
    stem = (f"{record['workload']}-seed{record['seed']}-trace{record['trace']}"
            f"-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    path = os.path.join(out, stem + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    if spans is not None:
        with open(os.path.join(out, stem + "-spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s, default=str) + "\n")
    return path


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
