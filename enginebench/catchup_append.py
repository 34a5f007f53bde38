"""catchup_append: drain a fixed backlog into a merge-on-read table.

A backlog of feed files is drained by ``IncrementalSync.run_available()``
into an ``append``-mode table, with a DLQ dir and an in-loop maintenance
tick (a ``compact``) after every batch. Batch 0 of the same stream, from
four small files, is the untimed warm-up. A payload column appears half
way through the backlog; a small share of events is malformed. Per-row
work dominates: decode, the evolution probe, append merge, compaction and
the post-ALTER merge. After the drain, the traced run times a fixed set
of serving reads on the idle table.

The feed is the repo's ``repositories`` change feed (PK ``(repo, path)``,
hot-repo skew; see ``inputs.py``), so the composite-PK bucketing and the
writer's hot-key salting are on the measured path.

Checks: ``current()`` equals the LWW replay row for row, the DLQ holds
exactly the malformed deliveries, ``validate()`` is clean, each measured
batch committed exactly one compaction, and every serving read equals the
replay.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import types as T

import checks
import inputs as gen
import serving
from oracles import LwwReplay

EVENTS_PER_FILE = 3_000
FILES_PER_BATCH = 4
WARM_EVENTS_PER_FILE = 250
N_BUCKETS = 8
#: backlog files per second of --seconds, calibrated on a 4-core machine
#: so the drain takes about --seconds. Always a whole, odd number of
#: batches: with an even number the event-weighted median can fall on a
#: batch boundary and flip between two batches' commit times by seed
FILES_PER_SECOND = 0.4

SCHEMA = T.StructType([T.StructField(c, T.StringType())
                       for c in gen.FEED_COLUMNS])
COLUMNS = gen.FEED_COLUMNS + [gen.LATE_COLUMN]


def n_files(seconds: int) -> int:
    batches = max(1, round(seconds * FILES_PER_SECOND / FILES_PER_BATCH))
    return (batches | 1) * FILES_PER_BATCH


def _write_files(d: str, feed: gen.ChangeFeed, sizes: list[int], first: int,
                 oracle: LwwReplay, base: float) -> list[int]:
    """Write one feed file per entry of ``sizes``; returns delivered
    event counts (duplicates included)."""
    os.makedirs(d, exist_ok=True)
    out = []
    for i, n in enumerate(sizes, start=first):
        evs = feed.events(n)
        oracle.apply_all(evs)
        # pinned mtimes fix the file source's arrival order
        gen.write_feed_file(os.path.join(d, f"part-{i:05d}.json"), evs,
                            mtime=base + 10 * i)
        out.append(len(evs))
    return out


def make_inputs(ctx) -> dict:
    files = n_files(ctx.seconds)
    per = EVENTS_PER_FILE
    warm = [WARM_EVENTS_PER_FILE] * FILES_PER_BATCH
    # the column appears half way through the measured backlog
    late_from = sum(warm) + (files // 2) * per
    feed = gen.ChangeFeed(ctx.seed, late_from)
    oracle = LwwReplay(gen.PK, COLUMNS)
    src = os.path.join(ctx.work, "src")
    # the warm-up batch's files land first; the backlog is staged aside
    # and moved into the source dir when the measured drain starts
    base = time.time() - 10 * (len(warm) + files + 1)
    _write_files(src, feed, warm, 0, oracle, base)
    sizes = _write_files(os.path.join(ctx.work, "backlog"), feed,
                         [per] * files, len(warm), oracle, base)
    return {"oracle": oracle, "sizes": sizes, "files": files,
            "last_commit": feed.commit_of(feed.offset - per // 2)}


def _sync(ctx, name: str, src: str):
    from cds_spark.lake.table import LakeTable
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec

    root = os.path.join(ctx.work, name)
    LakeTable.create(ctx.spark, root, SCHEMA, pk=gen.PK,
                     version_cols=["commit", "_offset"], n_buckets=N_BUCKETS,
                     properties={"merge_mode": "append"})
    spec = JobSpec(job_id=name, table_root=root, source_dir=src,
                   checkpoint_dir=os.path.join(ctx.work, name + "-ckpt"),
                   max_files_per_trigger=FILES_PER_BATCH,
                   dlq_dir=os.path.join(ctx.work, name + "-dlq"),
                   merge_mode="append", maintenance_every_batches=1,
                   compact_max_generations=1)
    return root, spec, IncrementalSync(ctx.spark, spec)


class VersionPoller:
    """Polls a table's committed manifests (a directory listing; no Spark
    job) and records when each version first became visible."""

    #: seconds between two listings
    PERIOD_S = 0.01

    def __init__(self, root: str):
        self.meta = os.path.join(root, "_meta")
        self.seen: dict[int, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="poller")

    def _run(self):
        while not self._stop.is_set():
            now = time.perf_counter()
            for n in os.listdir(self.meta):
                if n.startswith("version-") and n.endswith(".json"):
                    v = int(n[8:-5])
                    self.seen.setdefault(v, now)
            time.sleep(self.PERIOD_S)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def run(ctx, inp: dict) -> dict:
    from cds_spark.lake.table import LakeTable

    spark = ctx.spark
    problems: list[str] = []
    src = os.path.join(ctx.work, "src")
    root, spec, sync = _sync(ctx, "t", src)
    # untimed warm-up: batch 0 of the same stream, from four small files
    # (decode, DLQ split, append merge, commit, compact)
    sync.run_available()
    v_warm = LakeTable.load(spark, root).version
    ctx.log("warm-up batch done")
    staged = os.path.join(ctx.work, "backlog")
    ctx.notes["backlog_files"] = inp["files"]
    ctx.begin_measure()
    with VersionPoller(root) as poll:
        t_start = time.perf_counter()
        for name in sorted(os.listdir(staged)):
            os.rename(os.path.join(staged, name), os.path.join(src, name))
        sync.run_available()
        t_end = time.perf_counter()
    meas = ctx.end_measure()
    events = sum(inp["sizes"])
    drain_s = t_end - t_start
    ctx.log(f"drained {events} events in {drain_s:.2f}s")

    # batch -> first visible time, from the fence each manifest carries
    fence_key = f"fence.{spec.job_id}"
    batch_seen: dict[int, float] = {}
    for v, t in sorted(poll.seen.items()):
        b = LakeTable.load(spark, root, version=v).properties.get(fence_key)
        if b is not None and int(b) not in batch_seen:
            batch_seen[int(b)] = t
    n_batches = inp["files"] // FILES_PER_BATCH
    measured = range(1, n_batches + 1)   # batch 0 was the warm-up
    for b in measured:
        ctx.ops.add("batch", ok=b in batch_seen)
    # catch-up freshness: every backlog event landed when the drain
    # started; its wait is the time until its batch's snapshot is visible
    per_event = []
    for b in measured:
        n = sum(inp["sizes"][(b - 1) * FILES_PER_BATCH:b * FILES_PER_BATCH])
        t = batch_seen.get(b)
        if t is not None:
            per_event.append((t - t_start, n))
    per_event.sort()
    half, acc, fresh = events / 2, 0, 0.0
    for t, n in per_event:
        acc += n
        if acc >= half:
            fresh = t
            break
    table = LakeTable.load(spark, root)
    stats = table.stats()
    ticks = sum(1 for h in table.history() if h["version"] > v_warm
                and h["summary"].get("operation", "").startswith("compact"))
    ctx.notes["compact_commits"] = ticks

    # serving reads on the idle table
    oracle: LwwReplay = inp["oracle"]
    live = oracle.live()
    serve_t0 = time.perf_counter()
    reads = serving.read_rounds(ctx, root, sorted(live), inp["last_commit"])
    ctx.notes["serve_s"] = time.perf_counter() - serve_t0
    ctx.log(f"{len(reads)} serving reads in {ctx.notes['serve_s']:.2f}s")
    for r in reads:
        problems += checks.read_matches(r, live, gen.PK, "commit")

    # outputs vs the oracle
    got = {tuple(r[c] for c in gen.PK): r.asDict()
           for r in table.current().collect()}
    problems += checks.rows_equal(got, live, COLUMNS, "current()")
    dlq = sorted(r["_offset"] for r in
                 spark.read.parquet(spec.dlq_dir).select("_offset").collect())
    if dlq != sorted(oracle.dlq):
        problems.append(f"DLQ holds {len(dlq)} events, expected "
                        f"{len(oracle.dlq)} malformed deliveries")
    v = table.validate()
    if not v["ok"]:
        problems.append(f"validate() not clean: {v}")
    if ticks != n_batches:
        problems.append(f"expected {n_batches} in-loop compaction commits "
                        f"after the warm-up, saw {ticks}")

    return {
        "correct": not problems, "problems": problems,
        "e2e": {
            "ingest_events_per_s": events / drain_s,
            "cpu_s_per_mevent": meas["cpu_s"] / (events / 1e6),
            "stored_bytes_per_live_row": stats["bytes"] / max(1, len(got)),
            "freshness_p50_s": fresh,
        },
        "reads": reads,
        "main_table": root, "stats": stats, "events_applied": events,
        "batch_ready": {b: t_start for b in measured},
    }
