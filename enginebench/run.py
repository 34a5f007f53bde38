"""Engine benchmark: one command, one named workload, one seed.

    python3 enginebench/run.py --workload catchup_append --seed 1 \\
        --seconds 10 --trace 0

Runs the workload against the engine's public API (``IncrementalSync``,
``LakeTable``, ``dedup_sync``, ``ann_index_sync``), checks every result
against the benchmark's own oracles, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of the
traced run with ``--trace 1``). Progress and the run-record path go to
stderr. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("catchup_append", "index_tick")


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json at
    the checkout root. A traced run reports every per-layer metric (0
    where the workload does not exercise the layer — see README)."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    start_ticks = int(harness._stat_fields(os.getpid())[19])
    return up - start_ticks / harness.CLK_TCK


class Context:
    """What a workload needs: arguments, scratch dir, the session, the
    optional tracer, operation counts and the measured-phase bookkeeping."""

    def __init__(self, args, t0: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.t0 = t0  # perf_counter value at process start
        self.cores = harness.ncpus()
        self.work = harness.fresh_dir(os.path.join(
            harness.ROOT, ".bench_work", f"{args.workload}-{os.getpid()}"))
        self.ops = harness.Ops()
        self.spark = None
        self.conf: dict = {}
        self.jobs = None
        self.tracer = None
        self.setup_s = None
        self.notes: dict = {}
        self._m0 = None
        self.measured: dict = {}

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {msg}",
              file=sys.stderr, flush=True)

    def begin_measure(self) -> None:
        """Marks the first measured operation: set-up ends here."""
        now = time.perf_counter()
        if self.setup_s is None:
            self.setup_s = now - self.t0
        self._m0 = (now, harness.cpu_by_group(), harness.jvm_gc_s(self.spark),
                    harness.host_steal_s())

    def end_measure(self) -> dict:
        now = time.perf_counter()
        t, cpu0, gc0, st0 = self._m0
        cpu1 = harness.cpu_by_group()
        self.measured = {
            "t_start": t, "t_end": now, "wall_s": now - t,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "gc_s": harness.jvm_gc_s(self.spark) - gc0,
            "steal_s": harness.host_steal_s() - st0,
        }
        self.measured["cpu_s"] = sum(self.measured["cpu"].values())
        return self.measured


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    e2e_units, layer_units = metric_units()
    t0 = time.perf_counter() - _process_age_s()
    try:
        import cds_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError:
        sys.path.insert(0, harness.ROOT)
        try:
            import cds_spark  # noqa: F401,F811
            import pyspark  # noqa: F401,F811
        except ImportError as e:
            print(f"enginebench: cannot import the engine ({e}); run from "
                  "the root of a checkout", file=sys.stderr)
            return 2

    ctx = Context(args, t0)
    wl = importlib.import_module(args.workload)
    # input generation overlaps the session start (the JVM boots in its
    # own process while this thread writes the seeded inputs)
    inputs: dict = {}
    gen_err: list = []

    def _gen():
        try:
            inputs.update(wl.make_inputs(ctx))
        except BaseException as e:  # re-raised on the main thread below
            gen_err.append(e)

    gen = threading.Thread(target=_gen, name="inputgen")
    gen.start()
    t_s = time.perf_counter()
    ctx.spark = harness.start_session(ctx.work, ctx.cores)
    session_s = time.perf_counter() - t_s
    ctx.conf = harness.session_conf(ctx.spark)
    ctx.jobs = harness.JobCounter(ctx.spark)
    ctx.spark.sparkContext.setJobGroup("bench-main", "benchmark main thread")
    gen.join()
    if gen_err:
        raise gen_err[0]
    ctx.log(f"session up in {session_s:.2f}s on local[{ctx.cores}]")
    if ctx.trace:
        import spans

        ctx.tracer = spans.Tracer(ctx.jobs)
        ctx.tracer.spans.append({"id": 0, "name": "session.start",
                                 "parent": None, "op_id": None,
                                 "start": t_s, "end": t_s + session_s})
        import layers

        layers.install(ctx)
    result = None
    try:
        result = wl.run(ctx, inputs)
        rss = harness.peak_rss_mb()
        ctx.log("checks done")
    finally:
        steal_end = harness.host_steal_s()
        harness.stop_session(ctx.spark)
        shutil.rmtree(ctx.work, ignore_errors=True)
    if ctx.trace:
        import layers

        metrics = layers.summarize(ctx, result)
        units = layer_units
    else:
        metrics = dict(result["e2e"])
        metrics["setup_s"] = ctx.setup_s
        metrics["peak_rss_mb"] = rss
        units = e2e_units
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not report {sorted(missing)}")
    attempted, failed = ctx.ops.totals()
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": harness.git_commit(), "nproc": ctx.cores,
        "session_conf": ctx.conf,
        "host_steal_s_measured": ctx.measured.get("steal_s"),
        "host_steal_s_total": steal_end,
        "measured": ctx.measured,
        "ops_attempted": ctx.ops.attempted, "ops_failed": ctx.ops.failed,
        "correct": result["correct"], "problems": result["problems"][:50],
        "metrics": metrics, "notes": ctx.notes,
    }
    path = harness.write_record(
        record, ctx.tracer.spans if ctx.tracer is not None else None)
    ctx.log(f"run record: {os.path.relpath(path, harness.ROOT)}")
    for p in result["problems"][:20]:
        ctx.log(f"CHECK FAILED: {p}")
    out = {
        "correct": bool(result["correct"]),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
