"""Online re-bucketing: modulus change as a sequence of CAS commits with
readers and concurrent ingest consistent throughout — the operation a
sharded ClickHouse cluster cannot do online (resharding
pkg/ckgroup/ckgroup.go:12-47 is manual copy + cutover)."""

import json
import os
import sys
from pathlib import Path

import pyspark.sql.types as T
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cds_spark.lake.table import LakeTable  # noqa: E402
from cds_spark.operators.decode import decode_feed_rows  # noqa: E402
from cds_spark.sources.feed import (  # noqa: E402
    REPO_SCHEMA,
    change_feed,
    reference_replay_pandas,
)


def _digest(t: LakeTable) -> list[tuple]:
    return sorted(tuple(r) for r in t.current().collect())


def _mk(spark, root, n_buckets, feed, lo, hi, fence_from=0):
    if LakeTable.exists(root):
        t = LakeTable.load(spark, root)
    else:
        t = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=n_buckets,
            properties={"merge_mode": "append"},
        )
    batch = feed.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
    rows, _ = decode_feed_rows(batch, t.schema, t.pk, inject={"commit": "commit"})
    t.merge(rows, fence=("rb", fence_from))
    return t


def test_rebucket_grow_preserves_state_and_pruning(spark, tmp_path):
    feed = change_feed(spark, 2400, n_repos=8, paths_per_repo=12, seed=71)
    root = str(tmp_path / "grow")
    t = _mk(spark, root, 16, feed, 0, 2400)
    before = _digest(t)
    assert t.n_buckets == 16

    out = t.rebucket(64, group=5)
    assert out["n_buckets"] == 64 and out["rewritten_files"] > 0
    t2 = LakeTable.load(spark, root)
    assert t2.n_buckets == 64
    # every file now carries the new modulus
    assert all(t2._file_mod(f) == 64 for f in t2.manifest["files"])
    assert _digest(t2) == before
    # lookup routes through the NEW modulus and still prunes: the scan
    # must touch a strict subset of the table's files
    key = before[0][:2]
    got = t2.lookup([key]).collect()
    assert len(got) == 1 and (got[0].repo, got[0].path) == key
    touched = t2.lookup([key]).inputFiles()
    assert 0 < len(touched) < len(t2.manifest["files"])
    v = t2.validate()
    assert v["misplaced_rows"] == 0 and v["null_pk_rows"] == 0


def test_rebucket_shrink(spark, tmp_path):
    feed = change_feed(spark, 1200, n_repos=6, paths_per_repo=10, seed=72)
    root = str(tmp_path / "shrink")
    t = _mk(spark, root, 16, feed, 0, 1200)
    before = _digest(t)
    t.rebucket(4, group=7)
    t2 = LakeTable.load(spark, root)
    assert t2.n_buckets == 4
    assert all(t2._file_mod(f) == 4 for f in t2.manifest["files"])
    assert _digest(t2) == before


def test_rebucket_mixed_state_reads_are_correct(spark, tmp_path):
    """Mid-rebucket (modulus flipped, legacy files not yet rewritten) every
    read path must stay correct: current(), lookup(), compact."""
    feed = change_feed(spark, 1600, n_repos=8, paths_per_repo=10, seed=73)
    root = str(tmp_path / "mixed")
    t = _mk(spark, root, 16, feed, 0, 1600)
    before = _digest(t)

    # phase-1 flip only (reproduce rebucket-begin without the rewrite loop)
    m = t._next_manifest({"operation": "rebucket-begin",
                          "from_buckets": 16, "to_buckets": 64})
    for f in m["files"]:
        f.setdefault("mod", 16)
    m["n_buckets"] = 64
    t._commit(m)
    t2 = LakeTable.load(spark, root)
    assert t2.n_buckets == 64
    assert _digest(t2) == before
    key = before[3][:2]
    got = t2.lookup([key]).collect()
    assert len(got) == 1 and (got[0].repo, got[0].path) == key
    # compact in the mixed state absorbs legacy files (local path refuses
    # mixed moduli and falls back to the plan-based collapse)
    t2.compact(purge_tombstones=True)
    t3 = LakeTable.load(spark, root)
    assert _digest(t3) == [r for r in before]
    # after a full compact everything has been rewritten under 64
    assert all(t3._file_mod(f) == 64 for f in t3.manifest["files"])


def test_rebucket_under_concurrent_ingest(spark, tmp_path):
    """An ingest merge committed BETWEEN rebucket commits must neither be
    lost nor block; the final state equals the pandas reference replay of
    the full event log."""
    feed = change_feed(spark, 2400, n_repos=8, paths_per_repo=12, seed=74).persist()
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    root = str(tmp_path / "conc")
    t = _mk(spark, root, 16, feed, 0, 1600)

    writer = LakeTable.load(spark, root)  # separate handle = separate "job"
    orig = type(t)._commit_with_rebase
    fired = {"n": 0}

    def inject(self, *a, **kw):
        # land a concurrent ingest commit right before the FIRST rewrite
        # commit: the rewrite must rebase over it
        if fired["n"] == 0 and a[0].get("operation") == "rebucket":
            fired["n"] = 1
            batch = feed.filter((F.col("offset") >= 1600) & (F.col("offset") < 2400))
            rows, _ = decode_feed_rows(
                batch, writer.schema, writer.pk, inject={"commit": "commit"}
            )
            writer.merge(rows, fence=("rb", 1))
        return orig(self, *a, **kw)

    type(t)._commit_with_rebase = inject
    try:
        t.rebucket(64, group=4)
    finally:
        type(t)._commit_with_rebase = orig
    assert fired["n"] == 1

    t2 = LakeTable.load(spark, root)
    t2.compact(purge_tombstones=True)
    t2 = LakeTable.load(spark, root)
    live = {(r.repo, r.path): r.content for r in t2.current().collect()}
    assert len(live) == len(oracle)
    assert all(live[k] == v["content"] for k, v in oracle.items())
    v = t2.validate()
    assert v["misplaced_rows"] == 0 and v["null_pk_rows"] == 0
    feed.unpersist()


def test_stats_flags_over_cap_bucket(spark, tmp_path):
    """Verdict #6: an over-cap bucket must surface in stats() with a
    rebucket hint (power-of-two suggestion)."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "cap")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "append",
                    "local_compact_max_bucket_bytes": 1024},
    )
    t.merge(spark.range(0, 5000).selectExpr(
        "id AS k", "concat(uuid(), uuid()) AS v", "id AS ver"))
    st = LakeTable.load(spark, root).stats()
    assert st["n_over_cap_buckets"] >= 1
    assert st["over_cap_buckets"]
    assert "rebucket(" in st["rebucket_hint"]
    n = st["rebucket_suggested_n"]
    assert n > 2 and n % 2 == 0 and (n // 2 & (n // 2 - 1)) == 0


def test_validate_ok_right_after_rebucket_begin(spark, tmp_path):
    """ADVICE r4 (medium): after rebucket-begin every file carries ONE
    legacy modulus != n_buckets; validate() must judge placement under the
    per-file modulus, not the new one."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "vb")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    t.merge(spark.range(0, 800).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    assert t.validate()["ok"]
    # replicate exactly phase 1 of rebucket(): stamp mods, flip n_buckets
    m = t._next_manifest({"operation": "rebucket-begin",
                          "from_buckets": 4, "to_buckets": 8})
    for f in m["files"]:
        f.setdefault("mod", 4)
    m["n_buckets"] = 8
    t._commit(m)
    t2 = LakeTable.load(spark, root)
    res = t2.validate()
    assert res["misplaced_rows"] == 0 and res["ok"], res


def test_rebucket_survives_concurrent_schema_evolution(spark, tmp_path):
    """ADVICE r4: an ALTER landing mid-rebucket must not stamp new-schema
    ids over old-column files — phys/schema_id are recomputed per
    iteration from the reloaded manifest."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "rse")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=8,
        properties={"merge_mode": "append"},
    )
    t.merge(spark.range(0, 2000).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))

    calls = {"n": 0}
    orig_reload = t._reload_latest

    def reload_with_race():
        calls["n"] += 1
        if calls["n"] == 2:  # between rewrite groups
            other = LakeTable.load(spark, root)
            other.alter_add_columns([T.StructField("extra", T.StringType())])
        orig_reload()

    t._reload_latest = reload_with_race
    out = t.rebucket(16, group=3)
    assert out["n_buckets"] == 16
    t2 = LakeTable.load(spark, root)
    # every entry's stamped schema must contain the columns its file holds
    for f in t2.manifest["files"]:
        sid = str(f["schema_id"])
        assert sid in t2.manifest["schemas"]
    df = t2.current()
    assert df.count() == 2000
    assert "extra" in df.columns
    assert t2.validate()["ok"]


def test_stats_over_cap_is_per_modulus_mid_rebucket(spark, tmp_path):
    """Round-5 review: mid-rebucket the manifest holds files under TWO
    moduli; summing bucket bytes by bare bucket id would add bucket b
    (mod old) to bucket b (mod new) — two healthy buckets reading as one
    over-cap bucket, plus a rebucket_suggested_n fighting the rebucket
    already in progress. Accounting must key on (mod, bucket) and the
    hint must stand down while moduli are mixed."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "capmix")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "append"},
    )
    t.merge(spark.range(0, 3000).selectExpr(
        "id AS k", "concat(uuid(), uuid()) AS v", "id AS ver"))
    per_bucket = {}
    for f in t.manifest["files"]:
        per_bucket[f["bucket"]] = (
            per_bucket.get(f["bucket"], 0) + int(f["bytes"])
        )
    # cap chosen so every bucket is healthy under its own modulus but the
    # cross-modulus sum of a shared bucket id would breach it
    cap = max(per_bucket.values()) + 1
    # enter rebucket-begin (phase 1): stamp legacy mods, flip n_buckets
    m = t._next_manifest({"operation": "rebucket-begin",
                          "from_buckets": 2, "to_buckets": 4})
    for f in m["files"]:
        f.setdefault("mod", 2)
    m["n_buckets"] = 4
    m["properties"]["local_compact_max_bucket_bytes"] = str(cap)
    t._commit(m)
    t2 = LakeTable.load(spark, root)
    # new-modulus ingest lands alongside the legacy files
    t2.merge(spark.range(3000, 6000).selectExpr(
        "id AS k", "concat(uuid(), uuid()) AS v", "id AS ver"))
    t3 = LakeTable.load(spark, root)
    mods = {t3._file_mod(f) for f in t3.manifest["files"]}
    assert mods == {2, 4}, "test precondition: mixed moduli present"
    st = t3.stats()
    assert st["n_over_cap_buckets"] == 0, st
    assert "rebucket_suggested_n" not in st, st


def _kv_table(spark, tmp_path, name, **props):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    return LakeTable.create(
        spark, str(tmp_path / name), schema, pk=["k"], version_cols=["ver"],
        n_buckets=4, properties=props)


def test_stats_withholds_hint_right_after_rebucket_begin(spark, tmp_path):
    """After rebucket-begin (or a crash before the first rewrite) EVERY
    file carries one legacy modulus != n_buckets; stats() must treat that
    as an in-flight rebucket and withhold rebucket_suggested_n — emitting
    it would make auto_rebucket escalate the modulus on every resume."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "mb")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "append",
                    "local_compact_max_bucket_bytes": 1_000},
    )
    t.merge(spark.range(0, 2000).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    st = t.stats()
    assert st["n_over_cap_buckets"] > 0 and st.get("rebucket_suggested_n")
    # replicate exactly phase 1 of rebucket(): stamp mods, flip n_buckets
    m = t._next_manifest({"operation": "rebucket-begin",
                          "from_buckets": 2, "to_buckets": 8})
    for f in m["files"]:
        f.setdefault("mod", 2)
    m["n_buckets"] = 8
    t._commit(m)
    st2 = LakeTable.load(spark, root).stats()
    assert "rebucket_suggested_n" not in st2, st2
    assert "in progress" in (st2.get("rebucket_hint") or "")


def test_bucket_overlap_empty_want_matches_nothing():
    from cds_spark.lake.table import _bucket_overlap

    # unrelated moduli used to fall through to the conservative True,
    # turning a read of ZERO buckets into a full-table scan mid-rebucket
    assert _bucket_overlap(3, 4, set(), 6) is False
    assert _bucket_overlap(3, 4, set(), 4) is False
    assert _bucket_overlap(3, 4, set(), 8) is False


def test_read_empty_bucket_list_is_empty_mid_rebucket(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "er", merge_mode="append")
    t.merge(spark.range(0, 200).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    m = t._next_manifest({"operation": "rebucket-begin"})
    for f in m["files"]:
        f.setdefault("mod", 4)
    m["n_buckets"] = 6  # non-dividing vs 4: the conservative-overlap case
    t._commit(m)
    t2 = LakeTable.load(spark, t.root)
    assert t2.read(buckets=[]).count() == 0


def test_validate_no_false_dups_mid_rebucket_nondividing(spark, tmp_path):
    """Mid-rebucket between non-dividing moduli, the clean-bucket dup audit
    used to pull dirty legacy files in through the conservative overlap and
    report duplicate keys on a healthy table."""
    t = _kv_table(spark, tmp_path, "vdup", merge_mode="append",
                  append_inbatch_collapse=True)
    batch = spark.range(0, 400).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver")
    t.merge(batch)
    # a second generation for bucket 0 ONLY -> bucket 0 dirty, others clean
    t.merge(batch.filter(F.pmod(F.xxhash64("k"), F.lit(4)) == 0)
            .selectExpr("k", "concat('w', k) AS v", "ver + 1000 AS ver"))
    m = t._next_manifest({"operation": "rebucket-begin"})
    for f in m["files"]:
        f.setdefault("mod", 4)
    m["n_buckets"] = 6  # 4 vs 6: neither divides the other
    t._commit(m)
    res = LakeTable.load(spark, t.root).validate()
    assert res["dup_collapsed_keys"] == 0, res
    assert res["ok"], res


def _begin_crash_state(spark, t, to_n):
    """Replicate a crash right after rebucket-begin: mods stamped,
    n_buckets flipped, zero rewrites done."""
    m = t._next_manifest({"operation": "rebucket-begin",
                          "from_buckets": t.n_buckets, "to_buckets": to_n})
    old = t.n_buckets
    m["files"] = [f if "mod" in f else {**f, "mod": old} for f in m["files"]]
    m["n_buckets"] = to_n
    t._commit(m)
    return LakeTable.load(spark, t.root)


def test_rebucket_same_target_resumes_after_begin_crash(spark, tmp_path):
    """rebucket(current n_buckets) with legacy files left must RESUME the
    interrupted migration, not early-return as a no-op (the documented
    crash remedy was broken)."""
    t = _kv_table(spark, tmp_path, "resume", merge_mode="upsert")
    t.merge(spark.range(0, 400).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    before = {r.k: r.v for r in t.current().collect()}
    t = _begin_crash_state(spark, t, 16)
    assert t.stats()["rebucket_in_progress"]
    res = t.rebucket(16)  # same target: resume
    assert res["done"] and res["rewritten_files"] > 0
    t = LakeTable.load(spark, t.root)
    assert {t._file_mod(f) for f in t.manifest["files"]} == {16}
    assert {r.k: r.v for r in t.current().collect()} == before
    assert not t.stats()["rebucket_in_progress"]
    # and a true no-op stays a no-op
    assert t.rebucket(16) == {"rewritten_files": 0, "commits": 0,
                              "done": True, "n_buckets": 16,
                              "version": t.version}


def test_rebucket_max_groups_bounds_one_call(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "bounded", merge_mode="upsert")
    t.merge(spark.range(0, 400).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    before = {r.k: r.v for r in t.current().collect()}
    res = t.rebucket(16, group=1, max_groups=1)
    assert not res["done"]  # 4 old buckets, only 1 rewritten
    t = LakeTable.load(spark, t.root)
    assert t.stats()["rebucket_in_progress"]
    assert {r.k: r.v for r in t.current().collect()} == before  # mid-state reads exact
    rounds = 0
    while not t.rebucket(16, group=1, max_groups=1)["done"]:
        rounds += 1
        assert rounds < 10
    t = LakeTable.load(spark, t.root)
    assert {t._file_mod(f) for f in t.manifest["files"]} == {16}
    assert {r.k: r.v for r in t.current().collect()} == before


def test_pipeline_auto_rebucket_resumes_interrupted(spark, tmp_path):
    """A sync job pointed at a table left mid-rebucket by a crashed driver
    must finish the migration from its maintenance ticks."""
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec
    from cds_spark.sources.feed import (REPO_SCHEMA, change_feed,
                                        write_feed_files,
                                        reference_replay_pandas)

    feed = change_feed(spark, 1200, n_repos=10, paths_per_repo=20, seed=9)
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 3)
    t = LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2)
    # pre-crash data written under the OLD modulus — these are the legacy
    # files the interrupted migration must finish rewriting
    seed = spark.range(0, 80).selectExpr(
        "'seedrepo' AS repo", "concat('f', id) AS path",
        "'c0' AS commit", "'py' AS lang", "concat('body', id) AS content",
        "cast(id AS long) AS _offset")
    t.merge(seed)
    t = _begin_crash_state(spark, t, 8)  # crashed mid-migration
    assert t.stats()["rebucket_in_progress"]
    # compact_max_generations high: the tick's compact must NOT be what
    # drains the legacy files (at scale cold buckets never trip it) — the
    # resume branch has to do it
    spec = JobSpec(job_id="rz", table_root=t.root, source_dir=topic,
                   checkpoint_dir=str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, merge_mode="append",
                   maintenance_every_batches=1, compact_max_generations=100,
                   auto_rebucket=True)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, t.root)
    assert {t._file_mod(f) for f in t.manifest["files"]} <= {t.n_buckets}
    live = {(r.repo, r.path): r.content for r in t.current().collect()}
    seed_keys = {("seedrepo", f"f{i}") for i in range(80)}
    assert len(live) == len(oracle) + len(seed_keys)
    assert all(live[k] == v["content"] for k, v in oracle.items())
    assert all(k in live for k in seed_keys)
    recs = [json.loads(l) for l in open(
        os.path.join(t.root, "_lineage", "rz.jsonl"))]
    rbs = [r["maintenance"]["rebucket"] for r in recs
           if r.get("maintenance") and r["maintenance"].get("rebucket")]
    assert any(rb.get("resumed") for rb in rbs), rbs
