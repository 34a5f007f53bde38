"""index_tick: incremental dedup and ANN index maintenance ticks.

Set-up builds a seeded corpus with planted exact and near duplicates and
64-dim vectors, bootstraps it into an upsert table and builds the
``dedup_sync`` / ``ann_index_sync`` indexes. The measured phase is a fixed
sequence of ~5 % change batches; each is merged, then followed by one
dedup tick and one ANN tick. The bootstrap is the warm-up: no change
round runs untimed before the measured one (a run cannot afford one; see
README.md). The streaming layer is bypassed. After the ticks the traced
run times a fixed set of serving reads on the idle corpus table.

Checks: every live pair's Jaccard, recomputed here, is at or above the
threshold and matches the reported value; every planted exact pair is
found; every ANN neighbour's cosine matches brute force; the index holds
every live vector exactly once with its current embedding; every serving
read and the final table equal the corpus state.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

import numpy as np
from pyspark.sql import types as T

import checks
import inputs as gen
import oracles
import serving
from harness import median

N_DOCS = 150
EXACT_PAIRS = 5
NEAR_PAIRS = 5
DIM = 64
CHANGE_SHARE = 0.05
N_BUCKETS = 8
#: change rounds per second of --seconds, calibrated on a 4-core machine
ROUNDS_PER_SECOND = 0.05
N_QUERIES = 6
TOP_K = 10

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("ver", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])
ROW_DDL = ("doc_id long, ver long, text string, embedding array<float>, "
           "_is_delete boolean, _offset long")


def n_rounds(seconds: int) -> int:
    return max(1, round(seconds * ROUNDS_PER_SECOND))


def make_inputs(ctx) -> dict:
    corpus = gen.Corpus(ctx.seed, N_DOCS, EXACT_PAIRS, NEAR_PAIRS, DIM)
    boot = [(d, 1, t, v, False) for d, (t, v) in sorted(corpus.docs.items())]
    rounds, vers = [], {d: 1 for d in corpus.docs}
    for _ in range(n_rounds(ctx.seconds)):
        rows = corpus.change_batch(CHANGE_SHARE)
        rounds.append(rows)
        for d, ver, _t, _v, dead in rows:
            if dead:
                vers.pop(d, None)
            else:
                vers[d] = ver
    return {"corpus": corpus, "boot": boot, "rounds": rounds, "vers": vers}


def _frame(spark, rows, first_offset: int):
    return spark.createDataFrame(
        [(d, ver, t, v, dead, first_offset + i)
         for i, (d, ver, t, v, dead) in enumerate(rows)], ROW_DDL)


def run(ctx, inp: dict) -> dict:
    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.annindex import ann_index_sync, ann_topk
    from cds_spark.operators.incdedup import dedup_sync, live_pairs
    from cds_spark.operators.textdedup import JACCARD_THRESHOLD

    spark = ctx.spark
    tr = ctx.tracer
    problems: list[str] = []
    root = os.path.join(ctx.work, "docs")
    dd_root = os.path.join(ctx.work, "dedup")
    ann_root = os.path.join(ctx.work, "ann")
    LakeTable.create(spark, root, SCHEMA, pk=["doc_id"], version_cols=["ver"],
                     n_buckets=N_BUCKETS)
    table = LakeTable.load(spark, root)
    table.merge(_frame(spark, inp["boot"], 0))
    dedup_sync(spark, root, dd_root, "dedup", text_col="text")
    ann_index_sync(spark, root, ann_root, "ann", vec_col="embedding", dim=DIM)
    ctx.log("bootstrap + index builds done")

    def span(name, op):
        return tr.span(name, op_id=op) if tr is not None else nullcontext()

    fresh, dedup_s, ann_s, merge_s = [], [], [], []
    events = sum(len(r) for r in inp["rounds"])
    offset = len(inp["boot"])
    ctx.begin_measure()
    for i, rows in enumerate(inp["rounds"]):
        df = _frame(spark, rows, offset)
        offset += len(rows)
        t0 = time.perf_counter()
        LakeTable.load(spark, root).merge(df, fence=("changes", i))
        t1 = time.perf_counter()
        with span("incdedup.tick", i):
            dd = dedup_sync(spark, root, dd_root, "dedup", text_col="text")
        t2 = time.perf_counter()
        with span("annindex.tick", i):
            an = ann_index_sync(spark, root, ann_root, "ann",
                                vec_col="embedding", dim=DIM)
        t3 = time.perf_counter()
        ctx.ops.add("merge")
        ctx.ops.add("dedup_tick", ok=not dd.get("skipped"))
        ctx.ops.add("ann_tick", ok=not an.get("skipped"))
        merge_s.append(t1 - t0)
        dedup_s.append(t2 - t1)
        ann_s.append(t3 - t2)
        fresh.append(t3 - t0)
    meas = ctx.end_measure()
    ctx.notes.update(merge_s=merge_s, dedup_tick_s=dedup_s, ann_tick_s=ann_s)
    ctx.log(f"{len(fresh)} rounds: merge {merge_s} dedup {dedup_s} ann {ann_s}")

    corpus: gen.Corpus = inp["corpus"]
    vers = inp["vers"]
    state = {d: {"doc_id": d, "ver": vers[d], "text": t, "embedding": v}
             for d, (t, v) in corpus.docs.items()}
    table = LakeTable.load(spark, root)
    stats = table.stats()

    # serving reads on the idle corpus table
    keyed = {(d,): row for d, row in state.items()}
    serve_t0 = time.perf_counter()
    reads = serving.read_rounds(ctx, root, sorted(keyed), max(vers.values()))
    ctx.notes["serve_s"] = time.perf_counter() - serve_t0
    ctx.log(f"{len(reads)} serving reads in {ctx.notes['serve_s']:.2f}s")
    for r in reads:
        problems += checks.read_matches(r, keyed, ["doc_id"], "ver")

    # the table itself
    got = {r["doc_id"]: r.asDict() for r in table.current().collect()}
    problems += checks.rows_equal(got, state, ["doc_id", "ver", "text",
                                               "embedding"], "current()")

    ctx.log("table checked")
    # dedup: recompute every live pair's Jaccard
    sigs = LakeTable.load(spark, os.path.join(dd_root, "sigs"))
    pairs_t = LakeTable.load(spark, os.path.join(dd_root, "pairs"))
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in live_pairs(sigs, pairs_t).collect()}
    for (a, b), jac in pairs.items():
        if a not in state or b not in state:
            problems.append(f"pair {(a, b)} names a deleted doc")
            continue
        exact, union = oracles.jaccard(state[a]["text"], state[b]["text"])
        # the engine hashes shingles to 31-bit values; a collision moves
        # a pair's Jaccard by at most 1/|union|
        if exact < JACCARD_THRESHOLD or abs(exact - jac) > 1.0 / union + 1e-6:
            problems.append(f"pair {(a, b)}: reported {jac}, exact {exact:.6f}")
    missed = [p for p in corpus.live_exact_pairs() if p not in pairs]
    if missed:
        problems.append(f"{len(missed)} planted exact pairs not found, "
                        f"e.g. {missed[:3]}")
    ctx.notes["live_pairs"] = len(pairs)
    ctx.notes["planted_exact_live"] = len(corpus.live_exact_pairs())

    ctx.log("pairs checked")
    # ANN: coverage and brute-force cosines
    index = LakeTable.load(spark, os.path.join(ann_root, "index"))
    posted = [r.asDict() for r in index.current().collect()]
    seen = {}
    for r in posted:
        seen[r["vec_id"]] = seen.get(r["vec_id"], 0) + 1
    if set(seen) != set(state) or any(n != 1 for n in seen.values()):
        problems.append(f"index covers {len(seen)} vectors, corpus has "
                        f"{len(state)} (dups: "
                        f"{sum(1 for n in seen.values() if n > 1)})")
    bad_vec = [r["vec_id"] for r in posted if r["vec_id"] in state
               and not checks.same_value(r["embedding"],
                                         state[r["vec_id"]]["embedding"])]
    if bad_vec:
        problems.append(f"{len(bad_vec)} index postings hold a stale vector")
    ctx.log("index coverage checked")
    qids = random.Random(ctx.seed + 29).sample(sorted(state), N_QUERIES)
    q = spark.createDataFrame(
        [(d, state[d]["embedding"]) for d in qids],
        "query_id long, qv array<float>")
    hits = ann_topk(spark, ann_root, q, k=TOP_K, probes=2).collect()
    vec32 = {d: np.asarray(s["embedding"], dtype=np.float32)
             for d, s in state.items()}
    for h in hits:
        n = h["neighbor_id"]
        if n not in state:
            problems.append(f"ANN neighbour {n} is not live")
            continue
        want = round(oracles.cosine(vec32[h["query_id"]], vec32[n]), 6)
        if abs(want - h["cos_sim"]) > 2e-6:
            problems.append(f"ANN ({h['query_id']},{n}): cos {h['cos_sim']} "
                            f"!= brute force {want}")
    brute = oracles.cosine_topk(sorted(vec32), [vec32[d] for d in sorted(vec32)],
                                qids, TOP_K)
    got_nb = {}
    for h in hits:
        got_nb.setdefault(h["query_id"], set()).add(h["neighbor_id"])
    recall = [len(got_nb.get(qq, set()) & {n for n, _ in brute[qq]}) / TOP_K
              for qq in qids]
    ctx.notes["ann_recall_at_10"] = median(recall)

    return {
        "correct": not problems, "problems": problems,
        "e2e": {
            "ingest_events_per_s": events / meas["wall_s"],
            "cpu_s_per_mevent": meas["cpu_s"] / (events / 1e6),
            "stored_bytes_per_live_row": stats["bytes"] / max(1, len(got)),
            "freshness_p50_s": median(fresh),
        },
        "reads": reads,
        "main_table": root, "stats": stats, "events_applied": events,
        "batch_ready": {},
    }
