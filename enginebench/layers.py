"""The traced run: wrappers around each layer's public functions, and the
per-layer metrics derived from the spans they record."""

from __future__ import annotations

import cds_spark.streaming.pipeline as pipeline_mod
from cds_spark.lake.table import LakeTable
from cds_spark.streaming.pipeline import IncrementalSync

import serving
from harness import median
from spans import duration, self_time


def _paths(table) -> set:
    return {f["path"] for f in table.manifest["files"]}


def _before_write(rec, args, kwargs):
    rec["root"] = args[0].root
    rec["_paths"] = _paths(args[0])


def _after_write(rec, out, args, kwargs):
    table = args[0]
    before = rec.pop("_paths")
    rec["bytes_added"] = sum(int(f.get("bytes") or 0)
                             for f in table.manifest["files"]
                             if f["path"] not in before)
    if hasattr(out, "touched_buckets"):
        rec["touched_buckets"] = out.touched_buckets
        rec["skipped"] = out.skipped
    elif isinstance(out, list):
        rec["buckets_rewritten"] = len(out)


def _after_batch(rec, out, args, kwargs):
    rec["skipped"] = bool(out.get("skipped"))


def install(ctx) -> None:
    tr = ctx.tracer
    tr.wrap(IncrementalSync, "process_batch", "pipeline.process_batch",
            after=_after_batch, op_id=lambda a: a[2])
    tr.wrap(pipeline_mod, "discover_and_evolve", "pipeline.evolve")
    tr.wrap(LakeTable, "merge", "lake.merge", before=_before_write,
            after=_after_write)
    tr.wrap(LakeTable, "compact", "lake.compact", before=_before_write,
            after=_after_write)
    tr.wrap(LakeTable, "load", "lake.load")
    tr.wrap(LakeTable, "lookup", "serve.lookup.plan")


def summarize(ctx, result: dict) -> dict:
    tr = ctx.tracer
    tr.unwrap_all()
    t_meas = ctx.t0 + ctx.setup_s
    all_spans = tr.spans
    spans = [s for s in all_spans if s["start"] >= t_meas]
    by_id = {s["id"]: s for s in all_spans}

    def named(name):
        return [s for s in spans if s["name"] == name]

    main_root = result.get("main_table")
    batches = [s for s in named("pipeline.process_batch") if not s.get("skipped")]
    batches.sort(key=lambda s: s["start"])
    ready = result.get("batch_ready") or {}
    waits, prev_end = [], None
    for s in batches:
        t_ready = ready.get(s["op_id"])
        if t_ready is not None:
            lo = t_ready if prev_end is None else max(t_ready, prev_end)
            waits.append(max(0.0, s["start"] - lo))
        prev_end = s["end"]
    merges = [s for s in named("lake.merge") if s.get("root") == main_root
              and not s.get("skipped")]
    compacts = [s for s in named("lake.compact") if s.get("root") == main_root]

    def serve(kind):
        return [s for s in named(f"serve.{kind}") if not s.get("warm")]

    def children(parents, name):
        ids = {p["id"] for p in parents}
        return [s for s in spans if s["name"] == name and s.get("parent") in ids]

    events = result.get("events_applied") or 0
    st = result.get("stats") or {}
    m = ctx.measured
    out = {
        "session.start_s": duration(by_id[0]),
        "pipeline.batch_s": median(duration(s) for s in batches),
        "pipeline.jobs_per_batch": median(s["jobs"] for s in batches),
        "pipeline.evolve_s": median(duration(s) for s in named("pipeline.evolve")),
        "pipeline.self_s": median(self_time(s, all_spans) for s in batches),
        "pipeline.source_wait_s": median(waits),
        "lake.merge_s": median(duration(s) for s in merges),
        "lake.merge_jobs": median(s["jobs"] for s in merges),
        "lake.merge_touched_buckets": median(s.get("touched_buckets", 0)
                                             for s in merges),
        "lake.write_bytes_per_event": (
            sum(s.get("bytes_added", 0) for s in merges) / events
            if events else 0.0),
        "lake.compact_s": median(duration(s) for s in compacts),
        "lake.compact_jobs": median(s["jobs"] for s in compacts),
        "lake.compact_bytes_rewritten": sum(s.get("bytes_added", 0)
                                            for s in compacts),
        "lake.load_s": median(duration(s) for s in children(
            serve("lookup") + serve("page") + serve("changed"), "lake.load")),
        "lake.files": st.get("n_files", 0),
        "lake.max_generations": st.get("max_generations", 0),
        "serve.lookup_ms": serving.p50_ms(result["reads"], "lookup"),
        "serve.page_ms": serving.p50_ms(result["reads"], "page"),
        "serve.changed_ms": serving.p50_ms(result["reads"], "changed"),
        "serve.lookup_plan_ms": 1000 * median(
            duration(s) for s in children(serve("lookup"), "serve.lookup.plan")),
        "serve.lookup_exec_ms": 1000 * median(
            duration(s) for s in children(serve("lookup"), "serve.lookup.exec")),
        "serve.lookup_jobs": median(s["jobs"] for s in serve("lookup")),
        "serve.lookup_files_read": median(s.get("files_read", 0)
                                          for s in serve("lookup")),
        "serve.page_jobs": median(s["jobs"] for s in serve("page")),
        "serve.page_files_read": median(s.get("files_read", 0)
                                        for s in serve("page")),
        "serve.changed_jobs": median(s["jobs"] for s in serve("changed")),
        "serve.changed_files_read": median(s.get("files_read", 0)
                                           for s in serve("changed")),
        "incdedup.tick_s": median(duration(s) for s in named("incdedup.tick")),
        "incdedup.tick_jobs": median(s["jobs"] for s in named("incdedup.tick")),
        "annindex.tick_s": median(duration(s) for s in named("annindex.tick")),
        "annindex.tick_jobs": median(s["jobs"] for s in named("annindex.tick")),
        "jvm.gc_s": m.get("gc_s", 0.0),
        "cpu.jvm_s": m.get("cpu", {}).get("jvm", 0.0),
        "cpu.pyworker_s": m.get("cpu", {}).get("pyworker", 0.0),
        "cpu.python_s": m.get("cpu", {}).get("python", 0.0),
    }
    return out
