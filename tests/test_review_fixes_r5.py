"""Round-5 review fixes not yet folded into the feature test files.

- test_cli_cursor_parser_temporal: the CLI parses a keyset cursor into the
  leading PK column's domain (timestamp, date, long, string).
- auto_rebucket clamps by halving so the target stays a power-of-two
  multiple of the current modulus (min() could land on a modulus sharing
  no factor with n_buckets, degrading every mid-migration read), and a
  negative cap does not hang the clamp loop.
- changes(0) is the full history; exists() holds without the _current
  pointer; purge compaction keeps _is_delete=NULL rows.
"""
import datetime
import json
import os

import pyspark.sql.types as T

from cds_spark.lake.table import LakeTable


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


def _kv_table(spark, tmp_path, name, **props):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    return LakeTable.create(
        spark, str(tmp_path / name), schema, pk=["k"], version_cols=["ver"],
        n_buckets=4, properties=props)


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
