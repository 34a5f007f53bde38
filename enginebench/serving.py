"""The three serving reads, each timed as a user sees it: load the current
snapshot, call the read, collect. Each returns a :class:`Read` that keeps
the rows and the snapshot it read, so the caller can check it against the
oracle state at that snapshot.

The reads run in the traced run only, and their latencies are per-layer
metrics: timed on an idle table after a cold session, their medians
spread more from run to run on a shared 4-vCPU host than an end-to-end
bound allows, and a serving phase long enough to steady them does not
fit a run's time budget (see README.md)."""

from __future__ import annotations

import random
import time
from contextlib import nullcontext
from dataclasses import dataclass

from cds_spark.lake.table import LakeTable
from harness import median

#: keys per lookup, rows per page
LOOKUP_KEYS = 4
PAGE_LIMIT = 50
#: untimed warm-up rounds, then timed rounds; a lookup (five Spark jobs,
#: about four times the cost of the other reads) runs in every second one
WARM_ROUNDS = 2
ROUNDS = 5


@dataclass
class Read:
    kind: str           # lookup | page | changed
    arg: object
    ms: float
    rows: list          # list of dicts
    version: int
    warm: bool          # an untimed warm-up read


def _files_read(table: LakeTable, df) -> int:
    n = len(df.inputFiles())
    if n == 0:
        # keyset_page collects internally and returns a local DataFrame;
        # the table records how many files the served page read
        n = int(getattr(table, "_last_page_files", 0) or 0)
    return n


def read(ctx, kind: str, root: str, arg, warm: bool) -> Read:
    """One serving read. ``arg``: the PK tuples (lookup), the PK tuple of
    the cursor (page) or the version bound (changed)."""
    spark = ctx.spark
    tr = ctx.tracer
    outer = (tr.span(f"serve.{kind}", warm=warm) if tr is not None
             else nullcontext({}))
    t0 = time.perf_counter()
    with outer as rec:
        table = LakeTable.load(spark, root)
        if kind == "lookup":
            df = table.lookup(arg)
        elif kind == "page":
            df = table.keyset_page(arg, PAGE_LIMIT)
        elif kind == "changed":
            df = table.changed_since(arg)
        else:
            raise ValueError(kind)
        inner = tr.span(f"serve.{kind}.exec") if tr is not None else nullcontext()
        with inner:
            rows = [r.asDict() for r in df.collect()]
        t1 = time.perf_counter()
        if tr is not None:
            rec["files_read"] = _files_read(table, df)
    return Read(kind, arg, (t1 - t0) * 1000.0, rows, table.version, warm)


def read_rounds(ctx, root: str, keys: list, since) -> list[Read]:
    """In the traced run (none otherwise): :data:`WARM_ROUNDS` untimed
    warm-up rounds (a kind's first reads in a session compile its plan
    shapes; its latency keeps falling for several reads), then
    :data:`ROUNDS` timed rounds of: a lookup of :data:`LOOKUP_KEYS` seeded
    live keys (even rounds only), a page after the live key at quantile
    ``i / ROUNDS`` and ``changed_since(since)``. The kinds interleave, so
    each kind's reads spread over the whole serving phase. ``keys``: the
    sorted PK tuples of the live rows. Every read, the warm-up ones too,
    is returned."""
    if not ctx.trace:
        return []
    rng = random.Random(ctx.seed + 17)
    reads = []
    for i in range(-WARM_ROUNDS, ROUNDS):
        plan = [("page", keys[len(keys) * max(i, 0) // ROUNDS]),
                ("changed", since)]
        if i % 2 == 0:
            plan.insert(0, ("lookup", rng.sample(keys, LOOKUP_KEYS)))
        for kind, arg in plan:
            reads.append(read(ctx, kind, root, arg, warm=i < 0))
            ctx.ops.add(kind)
    ctx.notes["read_ms"] = {k: [round(r.ms, 1) for r in reads if r.kind == k]
                            for k in ("lookup", "page", "changed")}
    return reads


def p50_ms(reads: list[Read], kind: str) -> float:
    """Median latency of the timed reads of one kind."""
    return median(r.ms for r in reads if r.kind == kind and not r.warm)
