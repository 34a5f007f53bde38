"""Round-5 review fixes.

- stats() withholds the rebucket suggestion in the ALL-legacy state right
  after rebucket-begin (previously only when two moduli coexisted), so
  auto_rebucket resumes the in-flight migration instead of escalating.
- keyset_page on a temporal leading PK: the stats-derived cutoff decodes
  back into the column domain before the row filter (encoded int vs
  timestamp column would not resolve), and the served page is not left
  cached (no persist leak per page).
- auto_rebucket clamps by halving so the target stays a power-of-two
  multiple of the current modulus (min() could land on a modulus sharing
  no factor with n_buckets, degrading every mid-migration read).
- dedup_sync / ann_index_sync bootstrap is create-if-missing per table: a
  crash between the two creates no longer bricks every later tick.
"""
import datetime
import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from cds_spark.lake.table import LakeTable, _stat_decode_lit, _stat_encode


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


def test_keyset_page_timestamp_pk_bounded_slice(spark, tmp_path):
    """A timestamp leading PK must survive the bounded-slice page path:
    the cutoff comes from the encoded stats domain (UTC microseconds) and
    must be decoded back before the row filter. Also: the served page
    must not be left cached."""
    schema = T.StructType([
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("payload", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "tspage")
    t = LakeTable.create(
        spark, root, schema, pk=["ts"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "upsert", "target_file_bytes": 4_000},
    )
    rows = spark.range(0, 4000).selectExpr(
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        "repeat(concat('p', id), 5) AS payload",
        "id AS ver",
    )
    t.merge(rows)
    t.compact()
    t = LakeTable.load(spark, root)
    after = datetime.datetime(2024, 3, 1, 0, 10, 0)
    # the bounded-slice path must actually engage for this layout
    sl = t._page_file_slice(t.manifest["files"], "ts", after, 150)
    assert sl is not None, "layout did not produce a bounded slice; test is vacuous"
    page = t.keyset_page(after, 50)
    got = [(r.ts, r.payload) for r in page.collect()]
    exp = [(r.ts, r.payload) for r in
           t.current().filter(F.col("ts") > F.lit(after))
            .orderBy("ts").limit(50).collect()]
    assert got == exp and len(got) == 50
    assert not page.storageLevel.useMemory, "served page left cached"


def test_stat_decode_lit_roundtrips_temporal(spark):
    d = datetime.date(2024, 1, 5)
    ts = datetime.datetime(2024, 1, 5, 6, 7, 8, 123456,
                           tzinfo=datetime.timezone.utc)
    row = spark.range(1).select(
        _stat_decode_lit(T.DateType(), _stat_encode(d)).alias("d"),
        _stat_decode_lit(T.TimestampType(), _stat_encode(ts)).alias("ts"),
        _stat_decode_lit(T.LongType(), _stat_encode(7)).alias("i"),
    ).first()
    assert row.d == d
    assert row.ts.replace(tzinfo=datetime.timezone.utc) == ts
    assert row.i == 7


def test_cli_cursor_parser_temporal():
    from cds_spark.cli import _parse_into_column_domain

    assert _parse_into_column_domain("timestamp", "2024-03-01T00:10:00") == \
        datetime.datetime(2024, 3, 1, 0, 10, 0)
    assert _parse_into_column_domain("date", "2024-03-01") == \
        datetime.date(2024, 3, 1)
    assert _parse_into_column_domain("long", "42") == 42
    assert _parse_into_column_domain("string", "abc") == "abc"


def test_auto_rebucket_clamp_stays_power_of_two_multiple(spark, tmp_path):
    """When the suggested modulus exceeds auto_rebucket_max_n, the clamp
    must HALVE (staying n_buckets * 2^k) rather than min() to the cap —
    with n_buckets=3 and max_n=8 the target must land on 6, never 8."""
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec
    from cds_spark.sources.feed import (REPO_SCHEMA, change_feed,
                                        write_feed_files)

    feed = change_feed(spark, 1500, n_repos=10, paths_per_repo=20, seed=7)
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 2)
    LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=3,
        properties={"local_compact_max_bucket_bytes": 2_000},
    )
    spec = JobSpec(job_id="cl", table_root=str(tmp_path / "repos"),
                   source_dir=topic, checkpoint_dir=str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, merge_mode="append",
                   maintenance_every_batches=1, compact_max_generations=1,
                   auto_rebucket=True, auto_rebucket_max_n=8)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    assert t.n_buckets == 6, t.n_buckets
    assert t.n_buckets % 3 == 0


# ---- table.py deep-review fixes ------------------------------------------

def _kv_table(spark, tmp_path, name, **props):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    return LakeTable.create(
        spark, str(tmp_path / name), schema, pk=["k"], version_cols=["ver"],
        n_buckets=4, properties=props)


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


def test_changes_from_zero_is_full_history(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "ch0", merge_mode="append")
    t.merge(spark.range(0, 50).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    t.merge(spark.range(50, 80).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    got = {r.k for r in t.changes(0).collect()}
    assert got == set(range(80))


def test_exists_true_without_current_pointer(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "ex")
    cur = os.path.join(t.root, "_meta", "_current")
    os.remove(cur)  # crash window between manifest write and pointer write
    assert LakeTable.exists(t.root)
    assert LakeTable.load(spark, t.root).version >= 1
    assert not LakeTable.exists(str(tmp_path / "never_created"))


def test_compact_purge_keeps_null_is_delete_rows(spark, tmp_path):
    """read() serves _is_delete=NULL rows as live; purge compaction must
    not silently drop them (non-null-safe ~NULL used to)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = _kv_table(spark, tmp_path, "nulldel", merge_mode="append")
    t.merge(spark.range(0, 120).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    live_before = t.current().count()
    # rewrite one data file with _is_delete := NULL (legacy/external writer)
    f0 = t.manifest["files"][0]
    path = os.path.join(t.root, f0["path"])
    tbl = pq.read_table(path)
    i = tbl.schema.get_field_index("_is_delete")
    tbl = tbl.set_column(i, tbl.schema.field(i),
                         pa.nulls(len(tbl), pa.bool_()))
    pq.write_table(tbl, path)
    t = LakeTable.load(spark, t.root)
    assert t.current().count() == live_before  # read() coalesces NULL->live
    t.compact(purge_tombstones=True, strategy="classic")
    t = LakeTable.load(spark, t.root)
    assert t.current().count() == live_before, "purge dropped NULL-flag rows"


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


def test_keyset_page_composite_pk_tuple_cursor(spark, tmp_path):
    """Composite-PK pages take the full PK tuple as the cursor and apply
    the lexicographic comparison — a page boundary mid-leading-value must
    not skip the remaining rows that share it."""
    schema = T.StructType([
        T.StructField("region", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "cp")
    t = LakeTable.create(spark, root, schema, pk=["region", "id"],
                         version_cols=["ver"], n_buckets=2,
                         properties={"merge_mode": "upsert"})
    t.merge(spark.range(0, 900).selectExpr(
        "concat('r', id % 3) AS region", "id AS id",
        "concat('v', id) AS v", "id AS ver"))
    expected = [(r.region, r.id) for r in
                t.current().orderBy("region", "id").collect()]
    got, cursor = [], None
    while True:
        page = [(r.region, r.id) for r in t.keyset_page(cursor, 100).collect()]
        if not page:
            break
        got.extend(page)
        cursor = page[-1]
    assert got == expected and len(got) == 900
    with pytest.raises(ValueError, match="full PK tuple"):
        t.keyset_page("r1", 10)
    with pytest.raises(ValueError, match="does not match pk"):
        t.keyset_page(("r1",), 10)


# ---- rebucket resume + per-tick bounding ----------------------------------

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


def test_auto_rebucket_negative_max_n_does_not_hang(spark, tmp_path):
    """auto_rebucket_max_n=-1 (a jobs.json 'disable' guess) used to spin
    the clamp loop forever inside foreachBatch."""
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec
    from cds_spark.sources.feed import REPO_SCHEMA, change_feed, write_feed_files

    feed = change_feed(spark, 600, n_repos=5, paths_per_repo=10, seed=3)
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 2)
    LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"local_compact_max_bucket_bytes": 1_000})
    spec = JobSpec(job_id="ng", table_root=str(tmp_path / "repos"),
                   source_dir=topic, checkpoint_dir=str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, merge_mode="append",
                   maintenance_every_batches=1, compact_max_generations=1,
                   auto_rebucket=True, auto_rebucket_max_n=-1)
    IncrementalSync(spark, spec).run_available()  # completes = no hang
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    assert t.n_buckets == 2  # heal blocked by the cap, recorded not executed
    recs = [json.loads(l) for l in open(
        os.path.join(t.root, "_lineage", "ng.jsonl"))]
    blocked = [r["maintenance"]["rebucket"] for r in recs
               if r.get("maintenance") and r["maintenance"].get("rebucket")]
    assert blocked and all(b.get("blocked") for b in blocked)
