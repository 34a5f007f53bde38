"""Stateful model check of the lake table.

Random interleavings of the FULL operation surface — merge batches (with
tombstones and at-least-once replays), incremental compaction, predicate
purge/update mutations, metadata-only schema evolution, online rebucket,
snapshot expiry — are replayed against an independent python dict oracle,
and the engine's live state must match the oracle after EVERY step.

This is the interaction coverage the per-operation tests can't give: each
operation is individually tested elsewhere; here a purge can land between
two merges of the same key, an update can precede a compact that makes the
mutation physical, a rebucket can run mid-history, an expiry can drop the
snapshots a replayed batch was fenced against — any pairwise or deeper
interaction a 10^10-event deployment will eventually hit.

Modeled semantics (the contract, mirroring the reference):
- LWW by strictly-increasing version: a row (k, ver) wins iff ver > the
  key's current version; deletes tombstone; replays are absorbed
  (at-least-once). Versions are globally unique so no tie rule is needed.
- purge_where removes every matching CURRENT LIVE key physically; the key
  may reappear via a later (higher-version) event.
- update_where mutates matching CURRENT LIVE rows in place, versions kept.
- Batch replays are only generated from batches merged SINCE the last
  mutation: replaying an older batch after a purge would resurrect the
  purged generations by design (LWW cannot distinguish a replay from a new
  event — the reference has the same property; mutations are owner-driven,
  not feed-driven).
- compact / rebucket / expire_snapshots never change the live state.
"""

import random

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cds_spark.lake.table import LakeTable

KEYS = [f"k{i:02d}" for i in range(25)]

BASE_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ver", T.LongType()),
    T.StructField("val", T.LongType()),
])


def _mk_batch(rng: random.Random, next_ver: int, with_extra: bool):
    """1-40 events; ~15% deletes; same key may repeat inside a batch."""
    rows = []
    for _ in range(rng.randint(1, 40)):
        k = rng.choice(KEYS)
        ver = next_ver
        next_ver += 1
        is_del = rng.random() < 0.15
        val = rng.randint(0, 10**6)
        extra = rng.randint(0, 99) if (with_extra and rng.random() < 0.7) else None
        rows.append((k, ver, val, extra, is_del))
    return rows, next_ver


def _apply_to_oracle(state: dict, rows, has_extra: bool):
    """state: k -> {"ver", "val", "extra", "deleted"}; LWW by ver."""
    for k, ver, val, extra, is_del in rows:
        cur = state.get(k)
        if cur is not None and cur["ver"] >= ver:
            continue
        state[k] = {
            "ver": ver, "val": val,
            "extra": extra if has_extra else None,
            "deleted": is_del,
        }


def _merge_batch(spark, table, rows, has_extra: bool):
    if has_extra:
        schema = T.StructType(
            list(BASE_SCHEMA.fields)
            + [T.StructField("extra", T.LongType()),
               T.StructField("_is_delete", T.BooleanType())]
        )
        data = [(k, v, val, ex, d) for (k, v, val, ex, d) in rows]
    else:
        schema = T.StructType(
            list(BASE_SCHEMA.fields) + [T.StructField("_is_delete", T.BooleanType())]
        )
        data = [(k, v, val, d) for (k, v, val, _ex, d) in rows]
    table.merge(spark.createDataFrame(data, schema))
    # an upsert runs the per-bucket Arrow merge, or classic with the
    # reason recorded
    summary = table.history()[-1]["summary"]
    if summary.get("operation") == "merge":
        assert summary["strategy"] == "local" or "fallback" in summary, summary


def _check(table, state, has_extra: bool, step: str):
    cols = ["k", "ver", "val"] + (["extra"] if has_extra else [])
    got = {
        r["k"]: tuple(r[c] for c in cols[1:])
        for r in table.current().select(*cols).collect()
    }
    want = {
        k: ((v["ver"], v["val"], v["extra"]) if has_extra else (v["ver"], v["val"]))
        for k, v in state.items()
        if not v["deleted"]
    }
    assert got == want, f"divergence after {step}: {got} != {want}"


@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
# seed 44799 found a real bug on its first full-suite run: a pre-alter
# batch REPLAYED after alter_add_columns crashed merge with an unresolved
# column instead of aligning-with-NULL (parse.go:137-166 semantics); keep
# it as a permanent regression example
@example(seed=44799)
# seed 9129 exposed the tombstone/replay-horizon contract: an UNFENCED
# replay of a pre-purge batch after compact(purge_tombstones=True)
# resurrects the deleted key (LWW has nothing newer left). The fenced
# pipeline path is immune (test_purged_tombstone_not_resurrected_by_
# fenced_replay); the model now clears its replay pool on purge, exactly
# like the documented operator contract requires of real callers.
@example(seed=9129)
def test_lake_model_random_operation_interleavings(spark, tmp_path_factory, seed):
    rng = random.Random(seed)
    root = str(tmp_path_factory.mktemp("lakemodel") / f"t{seed}")
    mode = rng.choice(["append", "upsert"])
    table = LakeTable.create(
        spark, root, BASE_SCHEMA, pk=["k"], version_cols=["ver"],
        n_buckets=rng.choice([4, 8]),
        properties={"merge_mode": mode, "stats_cols": ["ver"]},
    )
    state: dict = {}
    next_ver = 1
    has_extra = False
    replayable: list = []  # batches merged since the last mutation

    ops = ["merge", "merge", "merge", "replay", "compact", "purge",
           "update", "alter_add", "rebucket", "expire"]
    n_steps = rng.randint(8, 14)
    for i in range(n_steps):
        op = rng.choice(ops)
        if op == "merge":
            rows, next_ver = _mk_batch(rng, next_ver, has_extra)
            _merge_batch(spark, table, rows, has_extra)
            _apply_to_oracle(state, rows, has_extra)
            replayable.append((rows, has_extra))
        elif op == "replay" and replayable:
            rows, batch_had_extra = rng.choice(replayable)
            # at-least-once duplicate delivery; only batches since the last
            # mutation (see module docstring) — LWW absorbs, oracle already
            # holds the result
            _merge_batch(spark, table, rows, batch_had_extra)
        elif op == "compact":
            purge = rng.random() < 0.5
            table.compact(purge_tombstones=purge)
            if purge:
                # tombstone purge is only sound behind the replay horizon
                # (compact docstring; the pipeline's fence enforces it —
                # test_purged_tombstone_not_resurrected_by_fenced_replay):
                # an UNFENCED replay of a pre-purge batch would resurrect
                # deleted keys by design (model-check find, seed 9129)
                replayable = []
        elif op == "purge":
            targets = rng.sample(KEYS, rng.randint(1, 5))
            table.purge_where(F.col("k").isin(targets))
            for k in targets:
                if k in state and not state[k]["deleted"]:
                    del state[k]
            replayable = []
        elif op == "update":
            targets = rng.sample(KEYS, rng.randint(1, 5))
            table.update_where(
                F.col("k").isin(targets), {"val": F.col("val") + 1000}
            )
            for k in targets:
                if k in state and not state[k]["deleted"]:
                    state[k]["val"] += 1000
            replayable = []
        elif op == "alter_add":
            if not has_extra:
                table.alter_add_columns([T.StructField("extra", T.LongType())])
                has_extra = True
                for v in state.values():
                    v["extra"] = None
        elif op == "rebucket":
            table.rebucket(rng.choice([2, 4, 16]))
        elif op == "expire":
            table.expire_snapshots(keep_last=2)
        _check(table, state, has_extra, f"step {i}: {op} (seed {seed})")

    # read-path probes against the same oracle, once per example (every
    # serving surface must agree with the model over the SAME mixed
    # history of merges/replays/mutations/evolution/rebuckets):
    live = {k: v for k, v in state.items() if not v["deleted"]}
    # 1) bucket-pruned point lookup
    probe_keys = rng.sample(KEYS, 5)
    got = {r["k"]: r["val"]
           for r in table.lookup([{"k": k} for k in probe_keys]).collect()}
    want = {k: live[k]["val"] for k in probe_keys if k in live}
    assert got == want, f"lookup divergence (seed {seed}): {got} != {want}"
    # 2) keyset page: WHERE k > cursor ORDER BY k LIMIT n
    cursor = rng.choice(KEYS)
    page = [r["k"] for r in table.keyset_page(cursor, 7).collect()]
    expect = sorted(k for k in live if k > cursor)[:7]
    assert page == expect, f"keyset_page divergence (seed {seed}): {page} != {expect}"
    # 3) changed_since on the leading version column
    if next_ver > 1:
        since = rng.randint(1, next_ver)
        got_cs = {r["k"]: r["ver"]
                  for r in table.changed_since(since).collect()}
        want_cs = {k: v["ver"] for k, v in live.items() if v["ver"] >= since}
        assert got_cs == want_cs, (
            f"changed_since({since}) divergence (seed {seed}): "
            f"{got_cs} != {want_cs}")
