"""Streaming resume, schema evolution, type coercion, and lake maintenance."""

import json
import os
import re

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from cds_spark.lake.table import LakeTable
from cds_spark.operators.decode import decode_feed, events_to_rows
from cds_spark.sources.feed import REPO_SCHEMA, change_feed, reference_replay_pandas, write_feed_files
from cds_spark.streaming.pipeline import IncrementalSync, JobSpec


def _mk_table(spark, tmp_path, name="t", n_buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=n_buckets,
    )


def test_streaming_kill_resume_exactly_once(spark, tmp_path):
    feed = change_feed(spark, 2000, n_repos=10, paths_per_repo=20, seed=3).persist()
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    topic = str(tmp_path / "topic")
    write_feed_files(feed.filter("offset < 1200"), topic, 4)
    _mk_table(spark, tmp_path, "repos")
    spec = JobSpec(job_id="j1", table_root=str(tmp_path / "repos"), source_dir=topic,
                   checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=2)
    IncrementalSync(spark, spec).run_available()
    # "crash" then more data arrives; new driver instance resumes
    write_feed_files(feed.filter("offset >= 1200"), topic, 2)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    live = {(r.repo, r.path): r.content for r in t.current().collect()}
    assert len(live) == len(oracle)
    assert all(live[k] == v["content"] for k, v in oracle.items())
    # lineage recorded per batch with per-partition offsets
    lines = [json.loads(l) for l in open(t.root + "/_lineage/j1.jsonl")]
    batch_lines = [l for l in lines if not l.get("skipped") and not l.get("job_start")]
    assert len(lines) >= 3 and all("partitions" in l for l in batch_lines)
    feed.unpersist()


def test_schema_evolution_new_column(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    base = change_feed(spark, 200, n_repos=5, paths_per_repo=10, seed=9)
    spec = JobSpec(job_id="evo", table_root=table.root, source_dir="unused",
                   checkpoint_dir="unused")
    sync = IncrementalSync(spark, spec)
    sync.process_batch(base, 0)
    # events arrive with a brand-new column `stars` (long-typed JSON value)
    evolved = base.filter("op != 'd'").withColumn(
        "payload",
        F.to_json(
            F.struct(
                F.col("repo"), F.col("path"), F.col("commit"), F.lit("py").alias("lang"),
                F.lit("new-content").alias("content"),
                (F.col("offset") % 100).alias("stars"),
            )
        ),
    ).withColumn("offset", F.col("offset") + 10_000)
    sync.process_batch(evolved, 1)
    t2 = LakeTable.load(spark, table.root)
    assert "stars" in [f.name for f in t2.schema.fields]
    assert dict((f.name, f.dataType.typeName()) for f in t2.schema.fields)["stars"] == "long"
    rows = t2.current().filter(F.col("stars").isNotNull()).count()
    assert rows > 0
    # old rows (deleted keys' tombstones etc.) read back with NULL stars
    assert t2.read(live_only=False).count() >= rows


def test_schema_evolution_missing_columns_null(spark, tmp_path):
    """Events omitting known columns leave NULL (parse.go:150-157 analog)."""
    table = _mk_table(spark, tmp_path)
    ev = spark.createDataFrame(
        [("c", "r1", "p1", "000001", 0, '{"repo":"r1","path":"p1","commit":"000001"}', 0)],
        "op string, repo string, path string, commit string, offset long, payload string, partition int",
    )
    events = decode_feed(ev, inject={"commit": "commit"})
    rows, dlq = events_to_rows(events, table.schema, table.pk)
    table.merge(rows)
    out = table.current().collect()[0]
    assert out.lang is None and out.content is None


def test_dlq_missing_pk(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    ev = spark.createDataFrame(
        [
            ("c", "000001", 0, '{"repo":"r1","commit":"000001","lang":"py","content":"x"}', 0),
            ("c", "000001", 1, '{"repo":"r1","path":"p","commit":"000001","lang":"py","content":"y"}', 0),
            ("u", "000002", 2, "not-json{{", 0),
        ],
        "op string, commit string, offset long, payload string, partition int",
    )
    events = decode_feed(ev, inject={"commit": "commit"})
    rows, dlq = events_to_rows(events, table.schema, table.pk)
    assert rows.count() == 1
    assert dlq.count() == 2  # missing path + unparseable payload


def test_type_widening_alter(spark, tmp_path):
    import pyspark.sql.types as T

    table = _mk_table(spark, tmp_path)
    table.alter_add_columns([T.StructField("stars", T.IntegerType(), True)])
    table.alter_widen_column("stars", T.LongType())
    assert [f.dataType.typeName() for f in table.schema.fields if f.name == "stars"] == ["long"]
    with pytest.raises(ValueError):
        table.alter_widen_column("stars", T.IntegerType())  # narrowing refused


def test_lenient_coercion_matrix(spark):
    """cds's never-fail coercions (canalsyncmodel.go:100-146,
    debeziumsyncdatatype.go:156-170): bad int -> 0, bad time -> epoch,
    epoch-ms ints -> timestamps."""
    from cds_spark.schema import coerce
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        [("abc", "2024-01-02 03:04:05", "1700000000000", "xyz")],
        "bad_int string, good_ts string, ms_ts string, bad_ts string",
    )
    out = df.select(
        coerce(F.col("bad_int"), T.LongType()).alias("i"),
        coerce(F.col("good_ts"), T.TimestampType()).alias("t1"),
        coerce(F.col("ms_ts"), T.TimestampType()).alias("t2"),
        coerce(F.col("bad_ts"), T.TimestampType()).alias("t3"),
    ).collect()[0]
    assert out.i == 0
    assert str(out.t1) == "2024-01-02 03:04:05"
    assert out.t2.year == 2023
    assert str(out.t3) == "1970-01-01 00:00:00"


def test_mongo_extended_json_coercion(spark):
    """Mongo extended-JSON value unwrapping during coercion
    (connectormongomodel.go:127-167): {"$date": ms} (always epoch-MS,
    numeric or $numberLong-wrapped), {"$numberLong"/"$numberInt": "n"},
    {"$oid": hex} for strings. Without this, a $date object would coerce
    to the epoch default — silently wrong timestamps for Mongo sources."""
    import pyspark.sql.types as T

    from cds_spark.schema import coerce

    df = spark.createDataFrame(
        [
            (
                '{"$date": 1592906230494}',
                '{"$date": {"$numberLong": "1592906230494"}}',
                '{"$date": "2020-06-23T09:57:10"}',
                '{"$numberLong": "1594655999000"}',
                '{"$numberInt": "42"}',
                '{"$oid": "5f0e4ecbcaf9e53e0c9d5a42"}',
                '{"$numberDouble": "1.5"}',
            )
        ],
        "d1 string, d2 string, d3 string, nl string, ni string, oid string, nd string",
    )
    out = df.select(
        coerce(F.col("d1"), T.TimestampType()).alias("t1"),
        coerce(F.col("d2"), T.TimestampType()).alias("t2"),
        coerce(F.col("d3"), T.TimestampType()).alias("t3"),
        coerce(F.col("nl"), T.LongType()).alias("l1"),
        coerce(F.col("nl"), T.TimestampType()).alias("lt"),
        coerce(F.col("ni"), T.LongType()).alias("l2"),
        coerce(F.col("oid"), T.StringType()).alias("s1"),
        coerce(F.col("nl"), T.StringType()).alias("s2"),
        coerce(F.col("nd"), T.DoubleType()).alias("f1"),
        coerce(F.col("nd"), T.LongType()).alias("l3"),
    ).collect()[0]
    assert str(out.t1) == "2020-06-23 09:57:10.494000"  # $date is epoch-MS
    assert str(out.t2) == "2020-06-23 09:57:10.494000"
    assert str(out.t3) == "2020-06-23 09:57:10"
    assert out.l1 == 1594655999000
    assert out.lt.year == 2020  # $numberLong into a time column: epoch-ms
    assert out.l2 == 42
    assert out.s1 == "5f0e4ecbcaf9e53e0c9d5a42"
    assert out.s2 == "1594655999000"
    assert out.f1 == 1.5
    assert out.l3 == 1  # atoi fails -> float path truncates


def test_compact_purges_tombstones(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    feed = change_feed(spark, 500, n_repos=5, paths_per_repo=10, seed=4)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows)
    with_tomb = table.read(live_only=False).count()
    live = table.current().count()
    assert with_tomb > live  # some deletes happened
    table.compact(purge_tombstones=True)
    assert table.read(live_only=False).count() == live
    assert table.current().count() == live


def test_jdbc_bootstrap_contract(spark, tmp_path, monkeypatch):
    """JDBC full sync without a driver jar: fake DataFrameReader.jdbc
    records the calls — the bounds probe must run first, then the data
    read must be range-partitioned on the PK with the probed bounds
    (exclusive upper), and the rows must land in the lake table."""
    from pyspark.sql.readwriter import DataFrameReader

    from cds_spark.streaming.pipeline import bootstrap_jdbc

    snapshot = spark.createDataFrame(
        [(i, f"name-{i}", float(i)) for i in range(1, 51)],
        "id long, name string, val double",
    )
    bounds = spark.createDataFrame([(1, 50)], "lo long, hi long")
    calls = []

    def fake_jdbc(self, url, table, column=None, lowerBound=None,
                  upperBound=None, numPartitions=None, properties=None):
        calls.append({"url": url, "table": table, "column": column,
                      "lowerBound": lowerBound, "upperBound": upperBound,
                      "numPartitions": numPartitions})
        return bounds if "cds_bounds" in table else snapshot

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    table = bootstrap_jdbc(
        spark, "jdbc:mysql://db:3306/sit", "example_mysql",
        str(tmp_path / "jt"), pk=["id"], version_cols=["_offset"],
        n_buckets=8, num_partitions=4,
    )
    assert len(calls) == 2
    assert "SELECT MIN(id) AS lo, MAX(id) AS hi FROM example_mysql" in calls[0]["table"]
    assert calls[1] == {"url": "jdbc:mysql://db:3306/sit", "table": "example_mysql",
                        "column": "id", "lowerBound": 1, "upperBound": 51,
                        "numPartitions": 4}
    assert table.current().count() == 50


def test_jdbc_introspect_contract(spark, tmp_path, monkeypatch):
    """Live source introspection without a driver jar: the DESC-equivalent
    information_schema probe (mysqltypeconv.go:44-72) must map the
    reference's type lattice (int->long, decimal/double/float->double,
    date/time->timestamp, else string), order fields by source ordinal,
    pick PRI columns as PK, and feed bootstrap_jdbc(pk=None)."""
    from pyspark.sql import types as T
    from pyspark.sql.readwriter import DataFrameReader

    from cds_spark.streaming.pipeline import bootstrap_jdbc, introspect_jdbc

    # deliberately out of ordinal order, composite PRI, vendor type variants
    desc = spark.createDataFrame(
        [
            ("val", "decimal(10,2)", "", 4),
            ("id", "bigint unsigned", "PRI", 1),
            ("note", "tinytext", "", 5),
            ("seen_at", "datetime(6)", "", 3),
            ("shard", "int", "PRI", 2),
        ],
        "col string, typ string, pri string, pos int",
    )
    snapshot = spark.createDataFrame(
        [(i, i % 3, f"n-{i}") for i in range(1, 21)], "id long, shard long, note string"
    )
    bounds = spark.createDataFrame([(1, 20)], "lo long, hi long")
    calls = []

    def fake_jdbc(self, url, table, column=None, lowerBound=None,
                  upperBound=None, numPartitions=None, properties=None):
        calls.append(table)
        if "information_schema.columns" in table:
            return desc
        return bounds if "cds_bounds" in table else snapshot

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    schema, pk = introspect_jdbc(spark, "jdbc:mysql://db:3306/sit", "example_mysql")
    assert pk == ["id", "shard"]  # PRI columns in source ordinal order
    assert [(f.name, f.dataType) for f in schema.fields] == [
        ("id", T.LongType()),
        ("shard", T.LongType()),
        ("seen_at", T.TimestampType()),
        ("val", T.DoubleType()),
        ("note", T.StringType()),
    ]
    assert "table_name = 'example_mysql'" in calls[0]

    # pk=None end-to-end: introspect -> keyset scan on first PRI -> lake
    table = bootstrap_jdbc(
        spark, "jdbc:mysql://db:3306/sit", "example_mysql",
        str(tmp_path / "jt2"), pk=None, version_cols=["_offset"],
        n_buckets=4, num_partitions=2,
    )
    assert any("MIN(id)" in c for c in calls)  # first PRI drives the stride
    assert table.current().count() == 20
    assert table.pk == ["id", "shard"]


def test_kafka_envelope_contract(spark):
    """Recorded wire records through the kafka->feed mapping (no broker):
    Kafka's OWN partition/offset must become the lineage/LWW coordinates
    (pkg/tube/kfks.go:97-181) — the envelope's are producer-side and may
    repeat — and the mapped feed must flow through decode_feed unchanged."""

    from cds_spark.streaming.pipeline import parse_kafka_envelope

    def wire(op, path, commit, kafka_part, kafka_off, payload):
        env = {"op": op, "repo": "org/a", "path": path, "commit": commit,
               "offset": 999_999, "partition": 77,  # envelope coords: must LOSE
               "payload": json.dumps(payload)}
        return (b"k", json.dumps(env).encode(), "t", kafka_part, kafka_off)

    rows = [
        wire("c", "f.py", "000001", 2, 1000,
             {"repo": "org/a", "path": "f.py", "lang": "py", "content": "x"}),
        wire("d", "g.py", "000002", 0, 17, {"repo": "org/a", "path": "g.py"}),
    ]
    raw = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    )
    feed = {r.offset: r for r in parse_kafka_envelope(raw).collect()}
    assert sorted(feed) == [17, 1000]  # kafka offsets, not 999999
    assert feed[1000].partition == 2 and feed[17].partition == 0
    assert feed[1000].op == "c" and feed[1000].commit == "000001"
    # and the mapped feed is a valid decode_feed input end-to-end
    events = {e._offset: e for e in decode_feed(
        parse_kafka_envelope(raw), inject={"commit": "commit"}
    ).collect()}
    assert events[1000].data["content"] == "x" and events[1000].data["commit"] == "000001"
    assert events[17].op == "d" and events[17]._partition == 0


def test_incremental_compact_rewrites_only_touched_buckets(spark, tmp_path):
    """compact(max_generations=N) must rewrite ONLY multi-generation
    buckets: a batch touching one bucket leads to a one-bucket compact —
    at 100TB a whole-table rewrite is not runnable."""
    table = _mk_table(spark, tmp_path, n_buckets=8)
    # in-batch collapse on: batch-1 buckets land collapsed (clean), so the
    # incremental selector has a meaningful clean/dirty split to preserve
    table.set_properties({"merge_mode": "append", "append_inbatch_collapse": True})
    feed = change_feed(spark, 400, n_repos=5, paths_per_repo=10, seed=13)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows)
    assert set(table.bucket_generations().values()) == {1}
    # a second tiny batch touching ONE key -> exactly one bucket gains a gen
    one = rows.orderBy("_offset").limit(1).withColumn(
        "_offset", F.col("_offset") + 100_000
    )
    table.merge(one)
    gens = table.bucket_generations()
    multi = [b for b, g in gens.items() if g > 1]
    assert len(multi) == 1
    before = sorted(
        (r.repo, r.path, r.content or "") for r in table.read(live_only=False).collect()
    )
    untouched_paths = {
        f["path"] for f in table.manifest["files"] if f["bucket"] not in multi
    }
    done = table.compact(max_generations=1)
    assert done == multi
    assert table.manifest["summary"]["buckets"] == 1
    # untouched buckets carried forward by reference, not rewritten
    assert {
        f["path"] for f in table.manifest["files"] if f["bucket"] not in multi
    } == untouched_paths
    assert set(table.bucket_generations().values()) == {1}
    assert not table.properties["needs_collapse"]
    after = sorted(
        (r.repo, r.path, r.content or "") for r in table.read(live_only=False).collect()
    )
    assert after == before
    assert table.compact(max_generations=1) == []  # steady state: no-op


def test_time_travel_and_history(spark, tmp_path):
    table = _mk_table(spark, tmp_path)
    f1 = change_feed(spark, 300, n_repos=5, paths_per_repo=10, seed=5)
    f2 = change_feed(spark, 300, n_repos=5, paths_per_repo=10, seed=5, start_offset=300)
    for i, f in enumerate([f1, f2]):
        ev = decode_feed(f, inject={"commit": "commit"})
        rows, _ = events_to_rows(ev, table.schema, table.pk)
        table.merge(rows, fence=("tt", i))
    v2 = LakeTable.load(spark, table.root, version=2)
    v3 = LakeTable.load(spark, table.root, version=3)
    assert v2.current().count() <= v3.read(live_only=False).count()
    ops = [h["summary"].get("operation") for h in table.history()]
    assert ops == ["create", "merge", "merge"]


def test_kafka_source_config_surface(spark, tmp_path):
    """Kafka source: config validation + a clear error when the connector
    jar is absent (this sandbox). The file source remains the tested path;
    the kafka branch maps Kafka partition/offset into the envelope."""
    import pytest

    from cds_spark.lake.table import LakeTable
    from cds_spark.sources.feed import REPO_SCHEMA
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec

    root = str(tmp_path / "t")
    LakeTable.create(spark, root, REPO_SCHEMA, pk=["repo", "path"],
                     version_cols=["commit", "_offset"], n_buckets=4)
    spec = JobSpec(job_id="k", table_root=root, source_dir="",
                   checkpoint_dir=str(tmp_path / "ck"), source_format="kafka")
    with pytest.raises(ValueError, match="kafka_bootstrap_servers"):
        IncrementalSync(spark, spec)._reader()
    spec.kafka_bootstrap_servers = "localhost:9092"
    spec.kafka_topic = "repos"
    with pytest.raises((RuntimeError, Exception)):
        # no connector jar in the sandbox: either our helpful RuntimeError
        # or Spark's DATA_SOURCE_NOT_FOUND — both must mention kafka
        try:
            IncrementalSync(spark, spec)._reader()
        except Exception as e:
            assert "kafka" in str(e).lower() or "KAFKA" in str(e)
            raise


def _matrix_batch(spark, schema, rows):
    """rows: (k, ver, is_delete, value...) -> a merge batch of ``schema``
    plus the ``_is_delete`` meta column."""
    full = T.StructType(list(schema.fields) + [T.StructField("_is_delete", T.BooleanType())])
    return spark.createDataFrame(
        [(k, ver, *vals, dele) for k, ver, dele, *vals in rows], full)


def _matrix_rows(lo, hi, ver, value):
    """Keys k-lo..k-hi at version ``ver``: every 5th is a delete, every 4th
    is delivered twice (at-least-once duplicates the collapse absorbs)."""
    out = []
    for i in range(lo, hi):
        row = (f"k-{i:03d}", ver, i % 5 == 0, *value(i))
        out += [row] * (2 if i % 4 == 0 else 1)
    return out


def _build_matrix_table(spark, root, scenario):
    """A merge-on-read table with three overlapping generations whose
    history exercises ``scenario``'s schema evolution between them."""
    import datetime

    base = [T.StructField("k", T.StringType()), T.StructField("ver", T.LongType())]
    if scenario == "timestamp":
        cols = [T.StructField("ts", T.TimestampType()), T.StructField("d", T.DateType())]

        def value(i):
            return (datetime.datetime(2024, 3, 1) + datetime.timedelta(seconds=i * 3601,
                                                                       microseconds=i),
                    datetime.date(2024, 3, 1) + datetime.timedelta(days=i % 11))
    else:
        cols = [T.StructField("n", T.IntegerType()), T.StructField("s", T.StringType())]

        def value(i):
            return (i * 7, f"s{i}")
    schema = T.StructType(base + cols)
    t = LakeTable.create(spark, root, schema, pk=["k"], version_cols=["ver"],
                         n_buckets=4, properties={"merge_mode": "append"})
    t.merge(_matrix_batch(spark, schema, _matrix_rows(0, 60, 1, value)))
    if scenario == "add_columns":
        t.alter_add_columns([T.StructField("extra", T.LongType())])
        schema = t.schema

        def value(i):
            return (i * 7, f"s{i}", i * 1000)
    elif scenario == "widen":
        t.alter_widen_column("n", T.LongType())
        schema = t.schema

        def value(i):
            return ((1 << 33) + i, f"s{i}")
    elif scenario == "drop_readd":
        t.alter_drop_column("s")
        t.alter_add_columns([T.StructField("s", T.StringType())])
        schema = t.schema

        def value(i):
            return (i * 7, f"new{i}")
    t.merge(_matrix_batch(spark, schema, _matrix_rows(40, 100, 2, value)))
    t.merge(_matrix_batch(spark, schema, _matrix_rows(20, 50, 3, value)))
    return t


@pytest.mark.parametrize(
    "scenario", ["plain", "add_columns", "widen", "drop_readd", "timestamp"])
def test_compact_strategy_matrix_matches_classic(spark, tmp_path, scenario):
    """compact() under classic / local / auto, with and without tombstone
    purge, over a table whose older generations predate an
    alter_add_columns, an int->long widen or a drop-then-re-add (or that
    carries timestamp/date columns): every strategy leaves the same
    physical rows as classic, and auto commits the per-bucket Arrow path."""
    import shutil

    src = str(tmp_path / "src")
    t0 = _build_matrix_table(spark, src, scenario)
    assert t0.properties.get("needs_collapse")
    before = sorted(tuple(r) for r in t0.current().collect())
    for purge in (False, True):
        states = {}
        for strategy in ("classic", "local", "auto"):
            root = str(tmp_path / f"{strategy}-{purge}")
            shutil.copytree(src, root)
            LakeTable.load(spark, root).compact(purge_tombstones=purge, strategy=strategy)
            t = LakeTable.load(spark, root)
            summary = t.history()[-1]["summary"]
            assert summary["operation"] == "compact"
            assert summary["strategy"] == ("classic" if strategy == "classic" else "local")
            assert "fallback" not in summary
            # physical rows, uncollapsed: every bucket is one generation now
            states[strategy] = sorted(
                tuple(r) for r in
                t.read(live_only=False, with_meta=True, collapse=False).collect())
            assert sorted(tuple(r) for r in t.current().collect()) == before
        assert states["classic"] == states["local"] == states["auto"]
        n_dead = sum(1 for r in states["classic"] if r[-2])
        assert (n_dead == 0) == purge


def test_compact_and_merge_record_fallback_reason(spark, tmp_path):
    """Each reason the per-bucket Arrow path declines a compact is recorded
    in the commit summary (``strategy: classic`` + ``fallback``), the
    result still matches the dict state, and strategy='local' refuses with
    the same reason. Upsert merges record their path the same way."""
    def table(name, fields, vcol="ver", props=None):
        schema = T.StructType([T.StructField("k", T.StringType())] + fields)
        t = LakeTable.create(spark, str(tmp_path / name), schema, pk=["k"],
                             version_cols=[vcol], n_buckets=4,
                             properties={"merge_mode": "append", **(props or {})})
        return t, schema

    def two_gens(t, schema, row):
        for v in (1, 2):
            t.merge(spark.createDataFrame([row(i, v) for i in range(12)], schema))

    cases = {}
    t, sc = table("fv", [T.StructField("ver", T.DoubleType())])
    two_gens(t, sc, lambda i, v: (f"k{i}", v + i / 10))
    cases["float_version"] = t
    t, sc = table("arr", [T.StructField("ver", T.LongType()),
                          T.StructField("v", T.ArrayType(T.FloatType()))])
    two_gens(t, sc, lambda i, v: (f"k{i}", v, [float(i), float(v)]))
    cases["type:array"] = t
    t, sc = table("cap", [T.StructField("ver", T.LongType())],
                  props={"local_compact_max_bucket_bytes": 1})
    two_gens(t, sc, lambda i, v: (f"k{i}", v))
    cases["bucket_over_cap"] = t
    t, sc = table("mod", [T.StructField("ver", T.LongType())])
    two_gens(t, sc, lambda i, v: (f"k{i}", v))
    t.rebucket(8, max_groups=0)  # begin only: every file keeps modulus 4
    cases["mixed_moduli"] = t
    t, sc = table("wstr", [T.StructField("ver", T.LongType()),
                           T.StructField("n", T.DoubleType())])
    two_gens(t, sc, lambda i, v: (f"k{i}", v, i * 1.5e20))
    t.alter_widen_column("n", T.StringType())
    cases["widen:double->string"] = t

    for reason, t in cases.items():
        want = sorted(tuple(r) for r in t.current().collect())
        with pytest.raises(ValueError, match=re.escape(reason)):
            t.compact(strategy="local")
        t.compact()
        summary = t.history()[-1]["summary"]
        assert (summary["strategy"], summary["fallback"]) == ("classic", reason)
        t2 = LakeTable.load(spark, t.root)
        assert sorted(tuple(r) for r in t2.current().collect()) == want

    # upsert merges: the per-bucket Arrow path unless a column has no
    # Arrow mapping, which takes classic with the type as the reason
    for name, fields, row, want in (
        ("m_local", [T.StructField("ver", T.LongType())],
         lambda i, v: (f"k{i}", v), {"strategy": "local"}),
        ("m_arr", [T.StructField("ver", T.LongType()),
                   T.StructField("v", T.ArrayType(T.FloatType()))],
         lambda i, v: (f"k{i}", v, [float(v)]),
         {"strategy": "classic", "fallback": "type:array"}),
    ):
        t, sc = table(name, fields, props={"merge_mode": "upsert"})
        two_gens(t, sc, row)
        summary = t.history()[-1]["summary"]
        assert summary["operation"] == "merge"
        assert {k: summary.get(k) for k in want} == want
        assert ("fallback" in summary) == ("fallback" in want)
    batch = spark.createDataFrame([("k0", 9, [1.0])], sc)
    with pytest.raises(ValueError, match=re.escape("type:array")):
        t.merge(batch, strategy="local")
    with pytest.raises(ValueError, match="unknown merge strategy"):
        t.merge(batch, strategy="plan")
    t.merge(batch, strategy="classic")
    summary = t.history()[-1]["summary"]
    assert summary["strategy"] == "classic" and "fallback" not in summary
    assert {h["summary"].get("strategy") for h in t.history()
            if h["summary"].get("operation") == "merge"} == {"classic"}


def test_manifest_records_file_rows(spark, tmp_path):
    """_write_txn records per-file parquet row counts (Iceberg-style
    stats) and they sum to the written row count."""
    from cds_spark.sources.feed import REPO_SCHEMA

    root = str(tmp_path / "rows_meta")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
    )
    df = spark.createDataFrame(
        [(f"r{i%3}", f"p{i}", f"{i:06d}", "py", "x") for i in range(50)],
        "repo string, path string, commit string, lang string, content string",
    )
    t.overwrite(df)
    t2 = LakeTable.load(spark, root)
    rows = [f.get("rows") for f in t2.manifest["files"]]
    assert all(isinstance(r, int) for r in rows)
    assert sum(rows) == 50


def test_expire_snapshots_and_orphans(spark, tmp_path):
    """expire_snapshots deletes ONLY files no retained snapshot references:
    after a subset compact, the new manifest carries untouched buckets
    forward by reference to files written in now-expired versions — those
    must survive; the compacted buckets' superseded generations must go."""
    import time as _time

    import pytest

    table = _mk_table(spark, tmp_path)
    for i in range(3):
        f = change_feed(spark, 300, n_repos=5, paths_per_repo=10,
                        seed=6 + i, start_offset=300 * i)
        ev = decode_feed(f, inject={"commit": "commit"})
        rows, _ = events_to_rows(ev, table.schema, table.pk)
        table.merge(rows, fence=("ex", i))
    dirty = sorted(table.bucket_generations())
    table.compact(buckets=dirty[: len(dirty) // 2])
    before = sorted(
        (r.repo, r.path, r.content or "") for r in table.current().collect()
    )
    stats = table.expire_snapshots(keep_last=1)
    assert stats["expired_snapshots"] == 4
    assert stats["deleted_files"] > 0
    t = LakeTable.load(spark, table.root)
    # every retained-manifest file still on disk; current state unchanged
    for e in t.manifest["files"]:
        assert os.path.exists(os.path.join(t.root, e["path"]))
    after = sorted(
        (r.repo, r.path, r.content or "") for r in t.current().collect()
    )
    assert after == before
    with pytest.raises(FileNotFoundError):
        LakeTable.load(spark, table.root, version=2)
    assert [h["version"] for h in t.history()] == [t.version]
    # second call: nothing left to expire
    assert t.expire_snapshots(keep_last=1) == {
        "expired_snapshots": 0, "deleted_files": 0}

    # orphan sweep: old unreferenced txn dir goes, fresh one stays
    old = os.path.join(t.root, "data", "txn-99999999-aborted")
    fresh = os.path.join(t.root, "data", "txn-99999999-inflight")
    os.makedirs(old)
    os.makedirs(fresh)
    os.utime(old, (_time.time() - 100_000,) * 2)
    assert t.remove_orphans(older_than_s=3600) == 1
    assert not os.path.exists(old)
    assert os.path.exists(fresh)


def test_pipeline_auto_maintenance(spark, tmp_path):
    """Background-merge analog: the sync loop itself compacts dirty buckets
    (and optionally expires old snapshots) every N batches — generations
    stay bounded under continuous ingest and the state is untouched."""
    feed = change_feed(spark, 2000, n_repos=10, paths_per_repo=20, seed=21).persist()
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 6)
    _mk_table(spark, tmp_path, "repos")
    spec = JobSpec(job_id="m", table_root=str(tmp_path / "repos"),
                   source_dir=topic, checkpoint_dir=str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, merge_mode="append",
                   maintenance_every_batches=2, compact_max_generations=1,
                   expire_keep_last=2)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    assert t.current().count() == len(oracle)
    recs = [json.loads(l) for l in open(
        str(tmp_path / "repos" / "_lineage" / "m.jsonl"))]
    ticks = [r["maintenance"] for r in recs if r.get("maintenance")]
    assert ticks and any(m["compacted_buckets"] > 0 for m in ticks)
    assert any(m.get("expired_snapshots", 0) > 0 for m in ticks)
    # generations bounded: after the last tick no bucket is deeper than
    # the threshold + batches since that tick
    assert max(t.bucket_generations().values()) <= 1 + 2


def test_pipeline_auto_rebucket(spark, tmp_path):
    """Layout self-heal: the sync loop detects over-cap buckets mid-stream
    (stats() rebucket hint) and re-shards the table ONLINE, replayed state
    untouched and no legacy-modulus file left behind at the end."""
    feed = change_feed(spark, 2000, n_repos=10, paths_per_repo=20, seed=22).persist()
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 6)
    LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"local_compact_max_bucket_bytes": 5_000},
    )
    spec = JobSpec(job_id="ar", table_root=str(tmp_path / "repos"),
                   source_dir=topic, checkpoint_dir=str(tmp_path / "ckpt"),
                   max_files_per_trigger=1, merge_mode="append",
                   maintenance_every_batches=2, compact_max_generations=1,
                   auto_rebucket=True)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    assert t.n_buckets > 2
    # the migration ran to completion inside the tick: every live file sits
    # under the current modulus
    assert {t._file_mod(f) for f in t.manifest["files"]} <= {t.n_buckets}
    live = {(r.repo, r.path): r.content for r in t.current().collect()}
    assert len(live) == len(oracle)
    assert all(live[k] == v["content"] for k, v in oracle.items())
    recs = [json.loads(l) for l in open(
        str(tmp_path / "repos" / "_lineage" / "ar.jsonl"))]
    rbs = [r["maintenance"]["rebucket"] for r in recs
           if r.get("maintenance") and r["maintenance"].get("rebucket")]
    assert rbs and rbs[-1]["to"] == t.n_buckets
    assert rbs[-1]["rewritten_files"] > 0
    feed.unpersist()


def test_cascade_sync_lake_to_lake(spark, tmp_path):
    """Downstream table tails the upstream via changes(): bootstrap, O(delta)
    increments, idempotent re-run, schema-evolution propagation, and the
    full-refresh fallback when the cursor falls off the retained window."""
    from cds_spark.streaming.pipeline import cascade_sync

    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = LakeTable.create(
        spark, src_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )

    def push(lo, hi, fence_n):
        feed = change_feed(spark, hi - lo, n_repos=6, paths_per_repo=8, seed=5,
                           start_offset=lo)
        events = decode_feed(feed, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, src.schema, src.pk)
        src.merge(rows, fence=("up", fence_n))

    def states_equal():
        cols = ["repo", "path", "commit", "lang", "content"]
        s = sorted(tuple(r) for r in src.current().select(*cols).collect())
        d = sorted(tuple(r) for r in LakeTable.load(spark, dst_root)
                   .current().select(*cols).collect())
        assert s == d and len(s) > 0

    push(0, 800, 0)
    r = cascade_sync(spark, src_root, dst_root, "cas")
    assert r["applied"] == "bootstrap"
    states_equal()

    push(800, 1400, 1)
    push(1400, 1800, 2)
    r = cascade_sync(spark, src_root, dst_root, "cas")
    assert isinstance(r["applied"], int) and r["applied"] > 0 and not r["skipped"]
    states_equal()

    r = cascade_sync(spark, src_root, dst_root, "cas")
    assert r["skipped"]
    states_equal()

    # upstream schema evolution propagates
    import pyspark.sql.types as T
    src.alter_add_columns([T.StructField("stars", T.LongType(), True)])
    push(1800, 2000, 3)
    r = cascade_sync(spark, src_root, dst_root, "cas")
    assert not r["skipped"]
    dst = LakeTable.load(spark, dst_root)
    assert "stars" in [f.name for f in dst.schema.fields]
    states_equal()

    # retained window lost -> full refresh
    push(2000, 2300, 4)
    push(2300, 2600, 5)
    src.expire_snapshots(keep_last=1)
    r = cascade_sync(spark, src_root, dst_root, "cas")
    assert r["applied"] == "full-refresh"
    states_equal()


def test_compact_bounds_output_file_size(spark, tmp_path):
    """Size-aware compact: output width scales with selected bytes /
    target_file_bytes, so a big bucket is rewritten as several
    target-sized files, not one unbounded file."""
    root = str(tmp_path / "szc")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"merge_mode": "append", "target_file_bytes": 65_536},
    )
    for i in range(3):
        feed = change_feed(spark, 1500, n_repos=4, paths_per_repo=50, seed=31 + i,
                           start_offset=1500 * i)
        rows, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
        )
        t.merge(rows, fence=("szc", i))
    before = sorted(tuple(r) for r in t.current().collect())
    # the premise: EVERY bucket's selected input exceeds one target file
    # (the local compact chunks per bucket by that bucket's input bytes —
    # a tiny collapsed bucket must NOT be split just because the table
    # total is large)
    per_in = {}
    for f in t.manifest["files"]:
        per_in[f["bucket"]] = per_in.get(f["bucket"], 0) + int(f["bytes"])
    assert all(b > 65_536 for b in per_in.values()), per_in
    t.compact()
    per_bucket = {}
    for f in t.manifest["files"]:
        per_bucket.setdefault(f["bucket"], []).append(f)
    assert all(len(fs) > 1 for fs in per_bucket.values()), per_bucket
    assert all(int(f["bytes"]) > 0 for fs in per_bucket.values() for f in fs)
    after = sorted(tuple(r) for r in t.current().collect())
    assert before == after


def test_table_stats_manifest_only(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "st"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 400, n_repos=4, paths_per_repo=10, seed=41)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
    )
    t.merge(rows, fence=("st", 0))
    s = t.stats()
    assert s["rows"] == t.read(live_only=False, with_meta=True, collapse=False).count()
    assert s["bytes"] > 0 and s["n_files"] > 0
    assert s["needs_collapse"] and s["dirty_buckets"] >= 0
    t.compact()
    s2 = t.stats()
    assert not s2["needs_collapse"] and s2["max_generations"] == 1


def test_compact_survives_concurrent_ingest_commit(spark, tmp_path):
    """Background-merge contract: a compact that loses the manifest CAS to
    a concurrent ingest commit rebases and retries — the final table keeps
    BOTH the compacted rewrite and the concurrently-landed batch, and LWW
    still resolves the true winners."""
    root = str(tmp_path / "ccomp")
    t_ing = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )

    def rows_for(lo, hi, seed):
        feed = change_feed(spark, hi - lo, n_repos=4, paths_per_repo=8,
                           seed=seed, start_offset=lo)
        r, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t_ing.schema, t_ing.pk
        )
        return r

    t_ing.merge(rows_for(0, 600, 13), fence=("ing", 0))
    t_ing.merge(rows_for(600, 1200, 13), fence=("ing", 1))

    # compactor handle loads the v3 manifest...
    t_cmp = LakeTable.load(spark, root)
    # ...then the ingest writer lands another batch, advancing the manifest
    t_ing = LakeTable.load(spark, root)
    t_ing.merge(rows_for(1200, 1800, 13), fence=("ing", 2))

    done = t_cmp.compact()  # CAS conflict -> rebase-retry
    assert done  # did not abort

    final = LakeTable.load(spark, root)
    # the concurrent batch's files survived the compact commit
    assert final.stats()["needs_collapse"]
    # state equality vs a straight-line replay of all 1800 events
    ref_root = str(tmp_path / "ref")
    t_ref = LakeTable.create(
        spark, ref_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    t_ref.merge(rows_for(0, 1800, 13), fence=("ref", 0))
    cols = ["repo", "path", "commit", "lang", "content"]
    got = sorted(tuple(r) for r in final.current().select(*cols).collect())
    exp = sorted(tuple(r) for r in t_ref.current().select(*cols).collect())
    assert got == exp and len(got) > 0


def test_cascade_writes_lineage(spark, tmp_path):
    from cds_spark.streaming.pipeline import cascade_sync

    src_root, dst_root = str(tmp_path / "ls"), str(tmp_path / "ld")
    t = LakeTable.create(
        spark, src_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 300, n_repos=3, paths_per_repo=6, seed=61)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
    )
    t.merge(rows, fence=("u", 0))
    cascade_sync(spark, src_root, dst_root, "casl")
    feed = change_feed(spark, 200, n_repos=3, paths_per_repo=6, seed=61, start_offset=300)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
    )
    t.merge(rows, fence=("u", 1))
    cascade_sync(spark, src_root, dst_root, "casl")
    path = os.path.join(dst_root, "_lineage", "casl.jsonl")
    recs = [json.loads(x) for x in open(path)]
    assert len(recs) == 2
    assert recs[0]["applied"] == "bootstrap" and isinstance(recs[1]["applied"], int)
    assert all("duration_s" in r and r["job_id"] == "casl" for r in recs)


def test_run_many_syncs_two_tables_one_session(spark, tmp_path):
    """Two sync jobs (distinct topics, tables, checkpoints) hosted in one
    Spark app: both final states match their own pandas oracles, fences and
    lineage stay per-job."""
    from cds_spark.sources.feed import reference_replay_pandas, write_feed_files
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec, run_many

    specs, oracles = [], {}
    for i, seed in enumerate((101, 202)):
        feed = change_feed(spark, 1200, n_repos=6, paths_per_repo=10, seed=seed)
        oracles[i] = reference_replay_pandas([r.asDict() for r in feed.collect()])
        topic = str(tmp_path / f"topic{i}")
        write_feed_files(feed, topic, 3)
        root = str(tmp_path / f"tbl{i}")
        LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=8,
            properties={"merge_mode": "append"},
        )
        specs.append(JobSpec(job_id=f"m{i}", table_root=root, source_dir=topic,
                             checkpoint_dir=str(tmp_path / f"ck{i}"),
                             max_files_per_trigger=2))
    run_many(spark, specs)
    for i in range(2):
        t = LakeTable.load(spark, str(tmp_path / f"tbl{i}"))
        live = {(r["repo"], r["path"]): r["content"] for r in t.current().collect()}
        assert live == {k: v["content"] for k, v in oracles[i].items()}
        assert f"fence.m{i}" in t.properties
        assert os.path.exists(os.path.join(str(tmp_path / f"tbl{i}"), "_lineage", f"m{i}.jsonl"))
    # distinct-target guard
    import pytest as _pytest
    with _pytest.raises(ValueError):
        run_many(spark, [specs[0], specs[0]])


def test_run_many_once_isolates_failures_and_reports(spark, tmp_path):
    """One job's mid-batch failure (unknown merge_mode raises inside
    foreachBatch) must not kill the sibling's drain: run_many returns
    {failed_job_id: error} and the healthy table is fully synced."""
    from cds_spark.streaming.pipeline import run_many

    specs = []
    for i, mode in enumerate(("append", "bogus-mode")):
        feed = change_feed(spark, 300, n_repos=4, paths_per_repo=6,
                           seed=40 + i)
        topic = str(tmp_path / f"topic{i}")
        write_feed_files(feed, topic, 2)
        root = str(tmp_path / f"tbl{i}")
        LakeTable.create(spark, root, REPO_SCHEMA, pk=["repo", "path"],
                         version_cols=["commit", "_offset"], n_buckets=4,
                         properties={"merge_mode": "append"})
        specs.append(JobSpec(job_id=f"f{i}", table_root=root,
                             source_dir=topic,
                             checkpoint_dir=str(tmp_path / f"ck{i}"),
                             merge_mode=mode, max_files_per_trigger=1))
    failures = run_many(spark, specs)
    assert set(failures) == {"f1"}, failures
    assert "bogus-mode" in failures["f1"]
    healthy = LakeTable.load(spark, str(tmp_path / "tbl0"))
    assert healthy.current().count() > 0
    assert "fence.f0" in healthy.properties


def test_run_many_guard_normalizes_roots(spark, tmp_path):
    from cds_spark.streaming.pipeline import run_many

    root = str(tmp_path / "t")
    LakeTable.create(spark, root, REPO_SCHEMA, pk=["repo", "path"],
                     version_cols=["commit", "_offset"], n_buckets=2)
    mk = lambda r, j: JobSpec(job_id=j, table_root=r,
                              source_dir=str(tmp_path / "topic"),
                              checkpoint_dir=str(tmp_path / f"ck-{j}"))
    # trailing slash
    with pytest.raises(ValueError, match="distinct table_root"):
        run_many(spark, [mk(root, "a"), mk(root + "/", "b")])
    # ${ENV} expansion
    os.environ["CDS_TEST_ROOT_R5"] = str(tmp_path)
    try:
        with pytest.raises(ValueError, match="distinct table_root"):
            run_many(spark, [mk(root, "a"),
                             mk("${CDS_TEST_ROOT_R5}/t", "b")])
    finally:
        del os.environ["CDS_TEST_ROOT_R5"]


def test_validate_invariants(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "val"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 600, n_repos=4, paths_per_repo=8, seed=91)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
    )
    t.merge(rows, fence=("val", 0))
    v = t.validate()
    assert v["ok"] and v["misplaced_rows"] == 0 and v["null_pk_rows"] == 0
    assert v["dirty_buckets"] > 0          # uncollapsed append batch
    t.compact(purge_tombstones=True)
    v = t.validate()
    assert v["ok"] and v["dirty_buckets"] == 0 and v["dup_collapsed_keys"] == 0
    # bucket-subset audit works
    b = t.manifest["files"][0]["bucket"]
    assert t.validate(buckets=[b])["ok"]


def test_merge_survives_concurrent_compact_commit(spark, tmp_path):
    """The other half of the non-blocking-maintenance contract: an ingest
    merge that loses the manifest CAS to a concurrent compact rebases and
    commits; no event is lost and LWW absorbs the duplicated rewrite."""
    root = str(tmp_path / "mrace")
    t_ing = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )

    def rows_for(lo, hi):
        feed = change_feed(spark, hi - lo, n_repos=4, paths_per_repo=8,
                           seed=17, start_offset=lo)
        r, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t_ing.schema, t_ing.pk
        )
        return r

    t_ing.merge(rows_for(0, 600), fence=("mr", 0))
    t_ing.merge(rows_for(600, 1200), fence=("mr", 1))
    # ingest handle goes "stale": a maintenance process compacts first
    t_mnt = LakeTable.load(spark, root)
    t_mnt.compact()
    # the stale ingest writer commits its next batch -> CAS loss -> rebase
    s = t_ing.merge(rows_for(1200, 1800), fence=("mr", 2))
    assert not s.skipped

    final = LakeTable.load(spark, root)
    ref_root = str(tmp_path / "mref")
    t_ref = LakeTable.create(
        spark, ref_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    t_ref.merge(rows_for(0, 1800), fence=("ref", 0))
    cols = ["repo", "path", "commit", "lang", "content"]
    got = sorted(tuple(r) for r in final.current().select(*cols).collect())
    exp = sorted(tuple(r) for r in t_ref.current().select(*cols).collect())
    assert got == exp and len(got) > 0
    # the compacted rewrite survived alongside the rebased batch
    assert final.stats()["needs_collapse"]


def test_pipeline_arrow_decoder_matches_jvm(spark, tmp_path):
    """The fused decode (evolve_schema off) drives the full sync loop to
    the dict-replay oracle's state. (The test name predates the single
    decoder.)"""
    feed = change_feed(spark, 900, n_repos=6, paths_per_repo=10, seed=77).persist()
    oracle = reference_replay_pandas([r.asDict() for r in feed.collect()])
    topic = str(tmp_path / "atopic")
    write_feed_files(feed, topic, 3)
    root = str(tmp_path / "adec")
    LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
    )
    spec = JobSpec(job_id="ad", table_root=root, source_dir=topic,
                   checkpoint_dir=str(tmp_path / "ack"), evolve_schema=False)
    IncrementalSync(spark, spec).run_available()
    cols = ["repo", "path", "commit", "lang", "content"]
    got = sorted(tuple(r) for r in
                 LakeTable.load(spark, root).current().select(*cols).collect())
    exp = sorted(tuple(d[c] for c in cols) for d in oracle.values())
    assert got == exp and len(got) > 0


def test_arrow_decoder_with_schema_evolution(spark, tmp_path):
    """The map-form decode passes the raw payload through (keep_cols) so
    the evolution probe samples types for unknown keys: a numeric key that
    appears mid-feed lands as a numeric column whose values equal the
    dict-replay oracle's (NULL where the winning event lacks the key).
    (The test name predates the single decoder.)"""
    base = change_feed(spark, 300, n_repos=5, paths_per_repo=10, seed=21)
    # append a new key 'stars' (numeric) to half the payloads
    evolved = base.withColumn(
        "payload",
        F.when(
            F.col("offset") % 2 == 0,
            F.expr(
                "concat(substring(payload, 1, length(payload)-1), "
                "',\"stars\":', cast(offset % 50 as string), '}')"
            ),
        ).otherwise(F.col("payload")),
    ).persist()
    oracle = reference_replay_pandas([r.asDict() for r in evolved.collect()])
    topic = str(tmp_path / "evo_topic")
    write_feed_files(evolved, topic, 2)
    root = str(tmp_path / "evo")
    LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
    )
    spec = JobSpec(job_id="evo", table_root=root, source_dir=topic,
                   checkpoint_dir=str(tmp_path / "evo_ck"), evolve_schema=True)
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, root)
    # numeric type inferred (not stuck string), values landed
    stars_f = [f for f in t.schema.fields if f.name == "stars"][0]
    assert stars_f.dataType.typeName() in ("long", "double")
    cols = ["repo", "path", "commit", "lang", "content", "stars"]
    got = sorted(tuple(r) for r in t.current().select(*cols).collect())
    exp = sorted(tuple(d.get(c) for c in cols) for d in oracle.values())
    assert got == exp
    assert any(r[-1] is not None for r in got)  # some stars set


def test_purge_where_removes_keys_all_generations(spark, tmp_path):
    """ALTER TABLE ... DELETE analog: keys whose current row matches the
    predicate vanish from every generation (no resurrection at the next
    collapse); untouched buckets' files are carried by reference."""
    root = str(tmp_path / "purge")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )
    for i in range(3):  # several generations so resurrection is possible
        feed = change_feed(spark, 500, n_repos=5, paths_per_repo=8,
                           seed=33, start_offset=500 * i)
        rows, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
        )
        t.merge(rows, fence=("pg", i))
    before = {(r["repo"], r["path"]): r for r in t.current().collect()}
    victims = {k for k in before if k[0] == "org/repo-0"}
    assert victims and len(victims) < len(before)

    pre_files = {f["path"] for f in t.manifest["files"]}
    res = t.purge_where("repo = 'org/repo-0'")
    assert res["keys_purged"] == len(victims)
    assert 0 < res["buckets_rewritten"] <= 8

    after = {(r["repo"], r["path"]): r for r in t.current().collect()}
    assert set(after) == set(before) - victims
    for k in after:  # survivors untouched
        assert after[k]["content"] == before[k]["content"]
    # no generation of a purged key remains anywhere
    raw = t.read(live_only=False, with_meta=True, collapse=False)
    assert raw.filter(F.col("repo") == "org/repo-0").count() == 0
    # untouched buckets carried by reference (same file paths)
    touched_b = {f["bucket"] for f in t.manifest["files"]
                 if f["path"] not in pre_files}
    untouched_kept = [f["path"] for f in t.manifest["files"]
                      if f["bucket"] not in touched_b]
    assert all(p in pre_files for p in untouched_kept)
    assert t.validate()["ok"]
    # no-match predicate is a no-op commit-free
    v = t.version
    assert t.purge_where("repo = 'nope'")["keys_purged"] == 0
    assert t.version == v


def test_update_where_mutates_matching_rows(spark, tmp_path):
    """ALTER TABLE ... UPDATE analog: RHS sees OLD values, versions are
    untouched, non-matching rows and other buckets are byte-identical."""
    root = str(tmp_path / "upd")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )
    for i in range(2):
        feed = change_feed(spark, 500, n_repos=5, paths_per_repo=8,
                           seed=55, start_offset=500 * i)
        rows, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
        )
        t.merge(rows, fence=("up", i))
    before = {(r["repo"], r["path"]): r for r in t.current().collect()}
    n_match = sum(1 for k in before if k[0] == "org/repo-0")
    assert n_match > 0

    res = t.update_where(
        "repo = 'org/repo-0'",
        # lang references OLD content; content references OLD lang —
        # both must see pre-update values
        {"lang": "concat('x-', lang)", "content": "concat(lang, ':', content)"},
    )
    assert res["rows_updated"] == n_match
    after = {(r["repo"], r["path"]): r for r in t.current().collect()}
    assert set(after) == set(before)
    for k, r in after.items():
        b = before[k]
        if k[0] == "org/repo-0":
            assert r["lang"] == f"x-{b['lang']}"
            assert r["content"] == f"{b['lang']}:{b['content']}"  # OLD lang
            assert r["commit"] == b["commit"]  # version untouched
        else:
            assert tuple(r) == tuple(b)
    assert t.validate()["ok"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="PK"):
        t.update_where("true", {"repo": "'nope'"})
    with _pytest.raises(ValueError, match="unknown"):
        t.update_where("true", {"bogus": "'x'"})


def test_mutations_are_race_safe(spark, tmp_path):
    """Mutations never rebase: a purge losing the CAS to an ingest commit
    re-runs against fresh state (new matching rows also purged); a stale
    MERGE racing a committed purge aborts instead of resurrecting keys;
    changes() refuses mutation windows; cascade full-refreshes through
    an upstream purge."""
    import pytest as _pytest

    from cds_spark.streaming.pipeline import cascade_sync

    root = str(tmp_path / "msafe")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )

    def rows_for(lo, hi):
        feed = change_feed(spark, hi - lo, n_repos=4, paths_per_repo=6,
                           seed=7, start_offset=lo)
        r, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
        )
        return r

    t.merge(rows_for(0, 600), fence=("ms", 0))
    dst = str(tmp_path / "msafe_dst")
    cascade_sync(spark, root, dst, "msc")  # bootstrap cursor pre-purge
    v_pre = t.version

    # (1) purge loses CAS to a concurrent ingest commit -> whole-op retry
    t_stale = LakeTable.load(spark, root)
    t.merge(rows_for(600, 1200), fence=("ms", 1))  # advances the manifest
    res = t_stale.purge_where("repo = 'org/repo-0'")
    final = LakeTable.load(spark, root)
    # recomputed on fresh state: batch-2 rows for repo-0 purged too
    assert final.current().filter("repo = 'org/repo-0'").count() == 0
    assert res["keys_purged"] > 0

    # (2) stale merge racing the committed purge ABORTS (no resurrection)
    t_stale2 = LakeTable.load(spark, root)
    LakeTable.load(spark, root).purge_where("repo = 'org/repo-1'")
    from cds_spark.lake.table import CommitConflict
    with _pytest.raises(CommitConflict, match="mutation"):
        t_stale2.merge(rows_for(1200, 1400), fence=("ms", 2))
    assert LakeTable.load(spark, root).current() \
        .filter("repo = 'org/repo-1'").count() == 0

    # (3) changes() refuses a window containing the purge
    with _pytest.raises(ValueError, match="mutation"):
        LakeTable.load(spark, root).changes(v_pre)

    # (4) cascade crosses the purge via full refresh; downstream loses keys
    r = cascade_sync(spark, root, dst, "msc")
    assert r["applied"] == "full-refresh"
    d = LakeTable.load(spark, dst)
    assert d.current().filter("repo = 'org/repo-0'").count() == 0
    cols = ["repo", "path", "commit", "content"]
    assert sorted(map(tuple, d.current().select(*cols).collect())) == \
           sorted(map(tuple, LakeTable.load(spark, root).current().select(*cols).collect()))


def test_update_where_refuses_uncastable_assignment(spark, tmp_path):
    """A typo'd RHS that would silently NULL a column must fail the
    mutation, and the table must be unchanged."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "updguard"), schema, pk=["id"],
        version_cols=["_offset"], n_buckets=4,
    )
    src = spark.createDataFrame(
        [(i, i * 10, f"v{i}", False, i) for i in range(30)],
        "id long, n long, v string, _is_delete boolean, _offset long",
    )
    t.merge(src, fence=("ug", 0))
    before = sorted(map(tuple, t.current().collect()))
    v = t.version
    with pytest.raises(ValueError, match="cast"):
        # long column assigned a non-numeric string: try_cast -> NULL,
        # which the guard must refuse before any rewrite
        t.update_where("true", {"n": "'abc'"})
    t2 = LakeTable.load(spark, t.root)
    assert t2.version == v
    assert sorted(map(tuple, t2.current().collect())) == before
    # a legitimate update through the same path still works
    t2.update_where("id = 3", {"n": "n + 1"})
    assert t2.lookup([(3,)]).first()["n"] == 31


def test_fence_never_regresses_through_rebase(spark, tmp_path):
    """A zombie driver of the SAME job whose batch was already applied by
    its replacement must come back 'skipped' — not re-commit old rows and
    roll the fence backwards."""
    root = str(tmp_path / "zombie")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )

    def rows_for(lo, hi):
        feed = change_feed(spark, hi - lo, n_repos=3, paths_per_repo=5,
                           seed=11, start_offset=lo)
        r, _ = events_to_rows(
            decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
        )
        return r

    t.merge(rows_for(0, 300), fence=("J", 0))
    zombie = LakeTable.load(spark, root)      # stalls holding this snapshot
    fresh = LakeTable.load(spark, root)       # restarted driver races ahead
    fresh.merge(rows_for(300, 600), fence=("J", 1))
    fresh.merge(rows_for(600, 900), fence=("J", 2))
    s = zombie.merge(rows_for(300, 600), fence=("J", 1))  # duplicate batch 1
    assert s.skipped, "zombie's already-applied batch must be dropped"
    final = LakeTable.load(spark, root)
    assert int(final.properties["fence.J"]) == 2          # never regressed
    # state equals the straight-line replay
    ref = LakeTable.create(
        spark, str(tmp_path / "zref"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    ref.merge(rows_for(0, 900), fence=("r", 0))
    cols = ["repo", "path", "commit", "content"]
    assert sorted(map(tuple, final.current().select(*cols).collect())) == \
           sorted(map(tuple, ref.current().select(*cols).collect()))


def test_jdbc_keyset_scan_nonnumeric_pk_falls_back(spark, monkeypatch):
    """String/UUID keyset columns can't range-partition: fall back to a
    single-reader snapshot instead of crashing on int()."""
    from pyspark.sql.readwriter import DataFrameReader

    from cds_spark.streaming.pipeline import jdbc_keyset_scan

    bounds = spark.createDataFrame([("000a-1", "fff9-2")], "lo string, hi string")
    snapshot = spark.createDataFrame([(f"{i:04x}-x", i) for i in range(10)],
                                     "id string, v long")
    calls = []

    def fake_jdbc(self, url, table, column=None, lowerBound=None,
                  upperBound=None, numPartitions=None, properties=None):
        calls.append({"table": table, "column": column})
        return bounds if "cds_bounds" in table else snapshot

    monkeypatch.setattr(DataFrameReader, "jdbc", fake_jdbc)
    out = jdbc_keyset_scan(spark, "jdbc:mysql://db/x", "t", "id")
    assert out.count() == 10
    # second call must be the UNPARTITIONED read (no column/bounds)
    assert calls[-1]["column"] is None


TAIL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("ver", T.LongType()),
])


@pytest.mark.parametrize(
    "tailer", ["cascade_sync", "dedup_sync", "ann_index_sync"])
def test_tailer_bootstraps_empty_destination_refuses_unfenced_data(
        spark, tmp_path, monkeypatch, tailer):
    """The lake-to-lake tailers share one cursor rule
    (``LakeTable.fence(job_id, tail=True)``): a first run that crashed
    between create() and its first merge leaves an empty destination,
    which the next run bootstraps (to the state of an unbroken run); a
    destination that holds data without the job's fence is refused."""
    from cds_spark.operators.annindex import ann_index_sync
    from cds_spark.operators.incdedup import dedup_sync
    from cds_spark.streaming.pipeline import cascade_sync

    sync, cursor = {
        "cascade_sync": (cascade_sync, ""),
        "dedup_sync": (dedup_sync, "sigs"),
        "ann_index_sync": (ann_index_sync, "vecs"),
    }[tailer]
    src = LakeTable.create(spark, str(tmp_path / "src"), TAIL_SCHEMA,
                           pk=["doc_id"], version_cols=["ver"], n_buckets=4)
    src.merge(spark.createDataFrame([
        (i, f"document {i % 4} about bucketed lake tables and their zone "
            f"maps, revision {i}",
         [float((i * 7 + j) % 11 - 5) for j in range(64)], 1)
        for i in range(12)], TAIL_SCHEMA), fence=("up", 1))
    src = LakeTable.load(spark, src.root)

    half = str(tmp_path / "half")

    def crash(*a, **k):
        raise RuntimeError("crash before the first merge")

    monkeypatch.setattr(LakeTable, "merge", crash)
    with pytest.raises(RuntimeError, match="crash"):
        sync(spark, src.root, half, "j")
    monkeypatch.undo()
    assert not LakeTable.load(spark, os.path.join(half, cursor)).manifest["files"]
    res = sync(spark, src.root, half, "j")
    assert not res["skipped"] and res["from"] == 0 and res["to"] == src.version

    clean = str(tmp_path / "clean")
    sync(spark, src.root, clean, "j")
    got, want = (LakeTable.load(spark, os.path.join(r, cursor))
                 for r in (half, clean))
    assert got.fence("j") == want.fence("j") == src.version
    assert sorted(map(tuple, got.current().collect())) == sorted(
        map(tuple, want.current().collect())) != []

    # data without this job's fence: refused, not guessed
    with pytest.raises(ValueError, match="refusing"):
        sync(spark, src.root, half, "other")


def test_schema_evolution_null_first_occurrence_infers_value_type(spark, tmp_path):
    """The first event carrying a new key may hold JSON null; the sampler
    must infer from an event with a non-null VALUE (ALTER ADD is sticky)."""
    table = _mk_table(spark, tmp_path, "nullsample")
    ev = spark.createDataFrame(
        [
            ("c", "r1", "p1", "000001", 0,
             '{"repo":"r1","path":"p1","commit":"000001","stars":null}', 0),
            ("c", "r1", "p2", "000001", 1,
             '{"repo":"r1","path":"p2","commit":"000001","stars":7}', 0),
        ],
        "op string, repo string, path string, commit string, offset long, payload string, partition int",
    )
    spec = JobSpec(job_id="ns", table_root=table.root, source_dir="unused",
                   checkpoint_dir="unused")
    IncrementalSync(spark, spec).process_batch(ev, 0)
    t2 = LakeTable.load(spark, table.root)
    types = {f.name: f.dataType.typeName() for f in t2.schema.fields}
    assert types["stars"] == "long", types


#: (op, repo, path, payload, partition) of one micro-batch: partitions 0
#: and 1 hold valid events and dead letters, partition 2 only dead letters
#: (missing / JSON-null / empty PK, malformed and non-object payloads); the
#: new column ``stars`` first occurs as JSON null; 'r' (a snapshot read)
#: is not a change and is dropped before anything counts it.
SUMMARY_EVENTS = [
    ("c", "r1", "p1", '{"repo":"r1","path":"p1","lang":"py","stars":null}', 0),
    ("c", "r1", "p2", '{"repo":"r1","path":"p2","content":"a","stars":7}', 0),
    ("u", "r1", "p1", '{"repo":"r1","path":"p1","content":"b"}', 0),
    ("c", "r1", "p3", '{"repo":"r1","content":"no path"}', 0),
    ("d", "r1", "p2", '{"repo":"r1","path":"p2"}', 0),
    ("c", "r2", "p1", '{"repo":"r2","path":"p1","lang":"go"}', 1),
    ("c", "r2", "p2", '{"repo":"r2","path":"","stars":1}', 1),
    ("u", "r2", "p1", "not-json{{", 1),
    ("r", "r2", "p9", '{"repo":"r2","path":"p9"}', 1),
    ("c", "r2", "p3", '{"repo":"r2","path":"p3","stars":3}', 1),
    ("c", "r3", "p1", '{"repo":"r3"}', 2),
    ("u", "r3", "p2", '{"repo":null,"path":"p2"}', 2),
    ("c", "r3", "p3", "[1,2]", 2),
]


def _summary_batch(spark, events=SUMMARY_EVENTS):
    return spark.createDataFrame(
        [(op, repo, path, f"{i:06d}", 100 + i, payload, part)
         for i, (op, repo, path, payload, part) in enumerate(events)],
        "op string, repo string, path string, commit string, offset long, "
        "payload string, partition int",
    )


def _summary_oracle(events, known, pk=("repo", "path")):
    """Pure-Python replay of one batch's summary: per-partition counts and
    offset range over PK-valid events, dead letters, and each new key's
    first non-null value."""
    parts, n_dlq, first_value = {}, 0, {}
    for i, (op, _repo, _path, payload, part) in enumerate(events):
        if op not in ("c", "u", "d"):
            continue
        try:
            data = json.loads(payload)
        except ValueError:
            data = None
        if not isinstance(data, dict):
            n_dlq += 1
            continue
        for k, v in data.items():
            if k not in known and first_value.get(k) is None:
                first_value[k] = v
        if any(data.get(k) in (None, "") for k in pk):
            n_dlq += 1
            continue
        n, lo, hi = parts.get(part, (0, 100 + i, 100 + i))
        parts[part] = (n + 1, min(lo, 100 + i), max(hi, 100 + i))
    partitions = [{"_partition": p, "n_events": n, "min_offset": lo, "max_offset": hi}
                  for p, (n, lo, hi) in sorted(parts.items())]
    return partitions, n_dlq, first_value


def _summary_sync(spark, tmp_path, name, evolve):
    table = _mk_table(spark, tmp_path, name)
    spec = JobSpec(job_id=name, table_root=table.root, source_dir="unused",
                   checkpoint_dir="unused", evolve_schema=evolve,
                   dlq_dir=str(tmp_path / f"{name}_dlq"),
                   maintenance_every_batches=0)
    return IncrementalSync(spark, spec)


@pytest.mark.parametrize("evolve", [True, False], ids=["evolve", "fused"])
def test_batch_summary_matches_python_replay(spark, tmp_path, evolve):
    """The lineage partitions, the dead-letter count and the evolved
    schema of one micro-batch equal a pure-Python replay of its events: a
    partition of dead letters only is absent from ``partitions``, and a
    new column whose first occurrence is JSON null is still typed by its
    first non-null value."""
    sync = _summary_sync(spark, tmp_path, "summ", evolve)
    known = [f.name for f in sync.table.schema.fields]
    rec = sync.process_batch(_summary_batch(spark), 0)
    partitions, n_dlq, first_value = _summary_oracle(SUMMARY_EVENTS, known)
    assert [p["_partition"] for p in partitions] == [0, 1]
    assert sorted(rec["partitions"], key=lambda p: p["_partition"]) == partitions
    assert rec["n_dlq"] == n_dlq == 6
    dlq = spark.read.parquet(sync.spec.dlq_dir)
    assert dlq.count() == n_dlq
    assert {r["_batch_id"] for r in dlq.select("_batch_id").collect()} == {0}
    types = {f.name: f.dataType.typeName()
             for f in LakeTable.load(spark, sync.table.root).schema.fields}
    if evolve:
        assert first_value == {"stars": 7}
        assert rec["schema_added"] == ["stars"]
        assert types["stars"] == "long", types
    else:
        assert rec["schema_added"] == []
        assert "stars" not in types


#: Spark jobs / py4j commands of one micro-batch, maintenance off, on the
#: SUMMARY_EVENTS batch (a new column, dead letters written): the batch
#: summary (cache build + one aggregation), the DLQ write and the merge
#: (the batch persisted, its touched buckets from one single-task
#: aggregation, then the per-bucket merge's exchange and collect).
#: Measured 7 / 7 jobs and 1 178 / 831 commands (evolve / fused).
BATCH_JOBS = {True: 7, False: 7}
BATCH_GATEWAY_CALLS = {True: 1195, False: 845}


def _budget_batch(spark, tmp_path, name, evolve, counter):
    batch = _summary_batch(spark)
    sync = _summary_sync(spark, tmp_path, name, evolve)
    n, rec = counter(lambda: sync.process_batch(batch, 0))
    assert not rec["skipped"] and rec["n_dlq"] == 6
    assert rec["partitions"] == sorted(rec["partitions"], key=lambda p: p["_partition"])
    return n


@pytest.mark.parametrize("evolve", [True, False], ids=["evolve", "fused"])
def test_micro_batch_job_budget(spark, tmp_path, evolve, count_jobs):
    """One micro-batch runs its evolution probe, lineage and dead-letter
    count as ONE aggregation over the persisted decode, writes the dead
    letters straight from the cache, and merges: no job per question."""
    n = _budget_batch(spark, tmp_path, "jobs", evolve, count_jobs)
    assert n <= BATCH_JOBS[evolve], n


@pytest.mark.parametrize("evolve", [True, False], ids=["evolve", "fused"])
def test_micro_batch_gateway_budget(spark, tmp_path, evolve, count_gateway_calls):
    n = _budget_batch(spark, tmp_path, "calls", evolve, count_gateway_calls)
    assert n <= BATCH_GATEWAY_CALLS[evolve], n


def test_upsert_local_merge_matches_plan_merge(spark, tmp_path):
    """The per-bucket Arrow upsert merge must produce byte-identical state
    (including tombstones and meta columns) to the classic plan merge
    across multiple batches, and auto must actually take the local path."""
    from cds_spark.operators.decode import decode_feed_rows

    feed = change_feed(spark, 3000, n_repos=10, paths_per_repo=15, seed=55)
    states = {}
    for label, strat in (("classic", "classic"), ("local", "auto")):
        root = str(tmp_path / f"um_{label}")
        t = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=8,
            properties={"merge_mode": "upsert"},
        )
        for i in range(3):
            batch = feed.filter(
                (F.col("offset") >= i * 1000) & (F.col("offset") < (i + 1) * 1000)
            )
            rows, _ = decode_feed_rows(batch, t.schema, t.pk, inject={"commit": "commit"})
            t.merge(rows, fence=("um", i), strategy=strat)
        t2 = LakeTable.load(spark, root)
        states[label] = sorted(
            tuple(r) for r in t2.read(live_only=False, with_meta=True).collect()
        )
        if label == "local":
            assert any("-merge" in f["path"] for f in t2.manifest["files"]), \
                "local merge path was not taken"
    assert states["classic"] == states["local"]


@pytest.mark.parametrize("evolve", [True, False], ids=["evolve", "fused"])
def test_dead_letters_one_file_per_batch(spark, tmp_path, evolve):
    """Each micro-batch writes its dead letters as ONE file, however many
    partitions of the decode hold them."""
    sync = _summary_sync(spark, tmp_path, "dlq1", evolve)
    batch = _summary_batch(spark)
    dead = {3, 6, 7, 10, 11, 12}  # SUMMARY_EVENTS indexes routed to the DLQ
    pids = {r["pid"] for r in batch.select(
        F.col("offset"), F.spark_partition_id().alias("pid")).collect()
        if r["offset"] - 100 in dead}
    assert len(pids) > 1, pids  # the premise: they span partitions
    for batch_id in (0, 1):
        assert sync.process_batch(batch, batch_id)["n_dlq"] == len(dead)
    files = sorted(f for f in os.listdir(sync.spec.dlq_dir) if f.endswith(".parquet"))
    assert len(files) == 2, files
    per_file = sorted(
        sorted({r["_batch_id"] for r in spark.read.parquet(
            os.path.join(sync.spec.dlq_dir, f)).collect()}) for f in files)
    assert per_file == [[0], [1]]
    assert spark.read.parquet(sync.spec.dlq_dir).count() == 2 * len(dead)


#: Spark jobs of an upsert merge of a small batch, by plan: the batch
#: summary (the persisted batch's cache build, then touched buckets and
#: distinct keys from one single-task aggregation), then the local plan's
#: per-bucket Arrow merge (its exchange's map stage, the collect) or the
#: classic plan's collapsed write (its one exchange's map stage, the
#: write). With an in-batch collapse and a salted write they ran 6 and 7.
UPSERT_MERGE_JOBS = {"local": 4, "classic": 4}


@pytest.mark.parametrize("strategy", ["local", "classic"])
def test_upsert_merge_job_budget(spark, tmp_path, strategy, count_jobs):
    """An upsert merge takes its touched buckets and distinct keys from
    one aggregation and has no in-batch collapse: the plan collapses
    target ∪ batch once. In-batch duplicates still resolve by version."""
    t = _kv_table(spark, tmp_path, f"ub_{strategy}", merge_mode="upsert")
    t.merge(spark.range(0, 200).selectExpr(
        "id AS k", "concat('v', id) AS v", "1L AS ver"))
    t = LakeTable.load(spark, t.root)
    # 30 events over 10 keys: three versions each, the middle one newest
    batch = spark.range(0, 30).selectExpr(
        "id % 10 * 17 AS k", "concat('w', id) AS v",
        "CAST(2 + (id DIV 10 + 1) % 3 AS long) AS ver")
    n, st = count_jobs(lambda: t.merge(batch, strategy=strategy))
    assert n <= UPSERT_MERGE_JOBS[strategy], n
    assert st.source_rows == 10 and st.touched_buckets > 0
    t = LakeTable.load(spark, t.root)
    assert t.manifest["summary"]["strategy"] == strategy
    want = {k: f"v{k}" for k in range(200)}
    want.update({i % 10 * 17: f"w{i}" for i in range(30) if i // 10 == 1})
    assert {r["k"]: r["v"] for r in t.current().collect()} == want


#: Spark jobs of a compaction of a two-generation table of 42 files, by
#: plan: the local plan's per-bucket rewrite (one task per bucket, no
#: shuffle), or the classic plan's file listing (Spark lists more than 32
#: read paths in a job), its exchange's map stage and its write. Launched
#: as a pandas UDF behind a round-robin repartition, the local plan ran 2.
COMPACT_JOBS = {"local": 1, "classic": 3}


@pytest.mark.parametrize("strategy", ["local", "classic"])
def test_compact_job_budget(spark, tmp_path, strategy, count_jobs):
    """A local compaction launches one task per bucket in one Spark job;
    either plan leaves one generation per bucket holding the newest rows."""
    t = _kv_table(spark, tmp_path, f"cb_{strategy}", merge_mode="append")
    for ver in (1, 2):
        t.merge(spark.range(0, 200).selectExpr(
            "id AS k", f"concat('v{ver}-', id) AS v", f"{ver}L AS ver"))
    t = LakeTable.load(spark, t.root)
    n, done = count_jobs(lambda: t.compact(strategy=strategy))
    assert n <= COMPACT_JOBS[strategy], n
    t = LakeTable.load(spark, t.root)
    assert done == [0, 1, 2, 3]
    assert t.manifest["summary"]["strategy"] == strategy
    assert set(t.bucket_generations().values()) == {1}
    assert {r["k"]: r["v"] for r in t.current().collect()} == {
        k: f"v2-{k}" for k in range(200)}


@pytest.mark.parametrize("strategy", ["auto", "classic"])
def test_compact_of_empty_buckets_commits_nothing(spark, tmp_path, strategy):
    """compact(buckets=...) over buckets that hold no files rewrites
    nothing: no snapshot is committed and no bucket is reported."""
    t = _kv_table(spark, tmp_path, f"ce_{strategy}", merge_mode="append")
    t.merge(spark.range(0, 1).selectExpr("id AS k", "'v' AS v", "1L AS ver"))
    t = LakeTable.load(spark, t.root)
    (held,) = {f["bucket"] for f in t.manifest["files"]}
    empty = [b for b in range(t.n_buckets) if b != held]
    v = t.version
    assert t.compact(buckets=empty, strategy=strategy) == []
    assert LakeTable.load(spark, t.root).version == v


def _one_per_key(df) -> bool:
    return "Aggregate" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_latest_changes_equals_collapsed_changes(spark, tmp_path):
    """``latest_changes`` equals ``lww_collapse(changes())`` on every kind
    of window, and skips the collapse exactly where the window already
    holds one row per key: one data snapshot written collapsed."""
    from cds_spark.operators.dedup import lww_collapse

    def batch(lo, hi, ver, dup=False):
        rows = spark.range(lo, hi).selectExpr(
            "id AS k", f"concat('v{ver}-', id) AS v", f"{ver}L AS ver")
        if dup:  # each key twice in the batch, the later offset wins
            rows = rows.unionByName(rows.withColumn("v", F.concat("v", F.lit("+"))))
        return rows.withColumn("_offset", F.monotonically_increasing_id())

    def check(t, v0, skips):
        t = LakeTable.load(spark, t.root)
        got = t.latest_changes(v0)
        want = lww_collapse(t.changes(v0), t.pk,
                            ["_change_version", "ver", "_offset"])
        rows = lambda df: sorted(  # noqa: E731
            tuple(r) for r in df.select(*sorted(df.columns)).collect())
        assert rows(got) == rows(want) and rows(got)
        assert _one_per_key(got) == skips

    up = _kv_table(spark, tmp_path, "lc_up", merge_mode="upsert")
    up.merge(batch(0, 40, 1))
    up = LakeTable.load(spark, up.root)
    v0 = up.version
    up.merge(batch(20, 30, 2, dup=True))
    check(up, v0, True)  # one copy-on-write merge
    up = LakeTable.load(spark, up.root)
    up.merge(batch(25, 35, 3))
    check(up, v0, False)  # two data snapshots
    up = LakeTable.load(spark, up.root)
    v1 = up.version
    up.merge(batch(30, 45, 4))
    LakeTable.load(spark, up.root).compact(buckets=[0, 1])
    check(up, v1, True)  # a merge, then a compact

    ca = _kv_table(spark, tmp_path, "lc_ca", merge_mode="append",
                   append_inbatch_collapse=True)
    ca.merge(batch(0, 30, 1, dup=True))
    check(ca, 1, True)  # one collapsed append

    ua = _kv_table(spark, tmp_path, "lc_ua", merge_mode="append")
    ua.merge(batch(0, 30, 1, dup=True))
    ua = LakeTable.load(spark, ua.root)
    assert ua.changes(1).count() == 60
    check(ua, 1, False)  # in-batch duplicates: still collapsed
    ua.compact()
    check(ua, 1, False)  # the compact adds no rows


TS_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("updated_at", T.TimestampType()),
    T.StructField("day", T.DateType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("ver", T.LongType()),
])


def _ts_batch(spark, lo, hi, ver_base):
    """Deterministic batch over keys k-(lo..hi) with timestamp/date/double
    columns; ver encodes recency."""
    return spark.range(lo, hi).selectExpr(
        "concat('k-', id % 40) AS k",
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS updated_at",
        "date_add(date'2024-03-01', cast(id % 11 AS int)) AS day",
        "CASE WHEN id % 7 = 3 THEN double('NaN') ELSE id * 0.5 END AS score",
        f"id + {ver_base} AS ver",
    )


ARR_SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("ver", T.LongType()),
    T.StructField("emb", T.ArrayType(T.FloatType())),
    T.StructField("_is_delete", T.BooleanType()),
])


def _merge_matrix_case(spark, scenario):
    """(create kwargs, batches, oracle) for one merge-matrix scenario.
    Batches are merged in order, each under its own fence; ``oracle`` maps
    each live key to its expected content, or is None."""
    if scenario == "repo_feed":
        from cds_spark.operators.decode import decode_feed_rows

        feed = change_feed(spark, 3000, n_repos=10, paths_per_repo=15, seed=55)
        feed = feed.persist()
        batches = [
            decode_feed_rows(
                feed.filter((F.col("offset") >= i * 1000) & (F.col("offset") < (i + 1) * 1000)),
                REPO_SCHEMA, ["repo", "path"], inject={"commit": "commit"})[0]
            for i in range(3)
        ]
        # at-least-once redelivery of batch 0: every stored version ties
        # or beats it, and a tie must converge to the same row
        batches.append(batches[0])
        oracle = {k: v["content"] for k, v in
                  reference_replay_pandas([r.asDict() for r in feed.collect()]).items()}
        kw = dict(schema=REPO_SCHEMA, pk=["repo", "path"],
                  version_cols=["commit", "_offset"], n_buckets=8)
        return kw, batches, oracle
    if scenario == "timestamp":
        # timestamp/date columns and NaN in a double data column; the last
        # two batches touch half the keys, the last one with stale versions
        batches = [_ts_batch(spark, lo, hi, 0)
                   for lo, hi in ((0, 200), (200, 400), (400, 420), (100, 120))]
        kw = dict(schema=TS_SCHEMA, pk=["k"], version_cols=["ver"], n_buckets=4)
        return kw, batches, None
    rows = [
        [(f"k{i}", 1, [float(i), 0.5], False) for i in range(24)],
        [(f"k{i}", 2, [float(i), 2.5], i % 5 == 0) for i in range(12, 36)],
        [(f"k{i}", 0, [9.0], False) for i in range(0, 30, 3)],  # stale
    ]
    batches = [spark.createDataFrame(r, ARR_SCHEMA) for r in rows]
    kw = dict(schema=T.StructType(ARR_SCHEMA.fields[:3]), pk=["k"],
              version_cols=["ver"], n_buckets=4)
    return kw, batches, None


@pytest.mark.parametrize("scenario", ["repo_feed", "timestamp", "array"])
def test_merge_strategy_matrix_matches_classic(spark, tmp_path, scenario):
    """Upsert merge under classic / local / auto over several batches
    (updates, deletes, stale rows, an at-least-once redelivery): every
    strategy leaves the same rows, tombstones and meta columns as classic,
    each commit records the plan it ran, and a column with no Arrow
    mapping sends auto to classic with the type as the reason while
    strategy='local' refuses."""
    kw, batches, oracle = _merge_matrix_case(spark, scenario)
    arr = scenario == "array"
    states = {}
    for strategy in ("classic", "local", "auto"):
        root = str(tmp_path / strategy)
        t = LakeTable.create(spark, root, properties={"merge_mode": "upsert"}, **kw)
        if arr and strategy == "local":
            with pytest.raises(ValueError, match=re.escape("type:array")):
                t.merge(batches[0], fence=("m", 0), strategy=strategy)
            continue
        for i, batch in enumerate(batches):
            t.merge(batch, fence=(f"m{i}", 0), strategy=strategy)
        t = LakeTable.load(spark, root)
        merges = [h["summary"] for h in t.history()
                  if h["summary"].get("operation") == "merge"]
        assert len(merges) == len(batches)
        if strategy == "classic":
            want = {"strategy": "classic"}
        elif arr:
            want = {"strategy": "classic", "fallback": "type:array"}
        else:
            want = {"strategy": "local"}
        for summary in merges:
            assert {k: summary.get(k) for k in ("strategy", "fallback")
                    if k in summary} == want
        # str(): NaN != NaN would fail a tuple compare of equal rows
        states[strategy] = sorted(
            str(tuple(r)) for r in t.read(live_only=False, with_meta=True).collect())
        if oracle is not None:
            assert {(r.repo, r.path): r.content for r in t.current().collect()} == oracle
    assert states["auto"] == states["classic"]
    assert states.get("local", states["classic"]) == states["classic"]


def _kv_table(spark, tmp_path, name, **props):
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    return LakeTable.create(
        spark, str(tmp_path / name), schema, pk=["k"], version_cols=["ver"],
        n_buckets=4, properties=props)


def test_merge_stats_rows_written_counts_rows(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "rw", merge_mode="append")
    st = t.merge(spark.range(0, 500).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    assert st.rows_written == 500
    t2 = _kv_table(spark, tmp_path, "rw2", merge_mode="upsert")
    st2 = t2.merge(spark.range(0, 300).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver"))
    assert st2.rows_written == 300


def test_merge_rejects_unknown_mode(spark, tmp_path):
    t = _kv_table(spark, tmp_path, "badmode")
    batch = spark.range(0, 5).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver")
    with pytest.raises(ValueError, match="unknown merge mode"):
        t.merge(batch, mode="appned")
    t2 = _kv_table(spark, tmp_path, "badprop", merge_mode="Append")
    with pytest.raises(ValueError, match="unknown merge mode"):
        t2.merge(batch)


@pytest.mark.parametrize("mode", ["append", "upsert"])
def test_merge_records_null_filled_columns(spark, tmp_path, mode):
    """A batch that lacks a column — here a replay from before an
    alter_add_columns — is NULL-filled, and the commit summary names the
    filled columns; a batch carrying every column records none."""
    t = _kv_table(spark, tmp_path, "nf", merge_mode=mode)
    old = spark.range(0, 20).selectExpr(
        "id AS k", "concat('v', id) AS v", "id AS ver")
    t.merge(old, fence=("a", 0))
    assert "null_filled" not in t.history()[-1]["summary"]
    t.alter_add_columns([T.StructField("extra", T.LongType())])
    t.merge(old, fence=("replay", 0))
    assert t.history()[-1]["summary"]["null_filled"] == ["extra"]
    t.merge(old.withColumn("extra", F.col("k") * 10), fence=("b", 1))
    assert "null_filled" not in t.history()[-1]["summary"]
    t.overwrite(old.drop("v"))
    assert t.history()[-1]["summary"]["null_filled"] == ["v", "extra"]
    assert LakeTable.load(spark, t.root).current().filter("v IS NULL").count() == 20


def test_local_merge_preserves_nan_in_data_column(spark, tmp_path):
    """ADVICE r4: the old pandas round-trip silently converted NaN to NULL
    in float/double data columns; applyInArrow must preserve it."""
    root = str(tmp_path / "nan")
    t = LakeTable.create(
        spark, root, TS_SCHEMA, pk=["k"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "upsert"},
    )
    t.merge(_ts_batch(spark, 0, 100, 0), fence=("n", 0))
    t.merge(_ts_batch(spark, 100, 200, 0), fence=("n", 1))
    t2 = LakeTable.load(spark, root)
    assert any("-merge" in f["path"] for f in t2.manifest["files"])
    cur = t2.current()
    n_nan = cur.filter(F.isnan("score")).count()
    n_null = cur.filter(F.col("score").isNull()).count()
    # winners are ids 160..199 -> k-(0..39); NaN at id%7==3
    assert n_nan == cur.filter(F.expr("(ver % 7) = 3")).count() and n_nan > 0
    assert n_null == 0


def test_float_version_col_falls_back_but_stays_correct(spark, tmp_path):
    """Float/double VERSION columns order NaN differently in Arrow vs Spark:
    both local paths must decline (fall back to plan) and results stay
    correct."""
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("fver", T.DoubleType()),
    ])
    root = str(tmp_path / "fv")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["fver"], n_buckets=2,
        properties={"merge_mode": "upsert"},
    )
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "concat('k-', id % 20) AS k", "concat('v', id) AS v",
        "cast(id AS double) AS fver",
    )
    t.merge(mk(0, 100), fence=("f", 0))
    t.merge(mk(100, 200), fence=("f", 1))
    t2 = LakeTable.load(spark, root)
    assert not any("-merge" in f["path"] for f in t2.manifest["files"]), \
        "float version col must not take the Arrow-local merge"
    rows = {r["k"]: r["v"] for r in t2.current().collect()}
    assert rows == {f"k-{i}": f"v{180 + i}" for i in range(20)}
    # local compact must decline too (plan path still compacts correctly)
    t2.compact()
    t3 = LakeTable.load(spark, root)
    assert {r["k"]: r["v"] for r in t3.current().collect()} == rows


def test_local_merge_chunking_counts_batch_bytes(spark, tmp_path):
    """ADVICE r4: a large batch merged into an EMPTY bucket must still be
    chunked near target_file_bytes, not written as one oversized file."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "chunk")
    t = LakeTable.create(
        spark, root, schema, pk=["k"], version_cols=["ver"], n_buckets=1,
        properties={"merge_mode": "upsert", "target_file_bytes": 64 * 1024},
    )
    # seed one tiny file so the bucket exists, then merge a much larger batch
    t.merge(spark.range(0, 10).selectExpr(
        "id AS k", "repeat('x', 10) AS payload", "id AS ver"))
    big = spark.range(0, 20000).selectExpr(
        "id AS k", "concat(uuid(), uuid(), uuid()) AS payload", "id AS ver")
    t.merge(big, fence=("c", 1))
    t2 = LakeTable.load(spark, root)
    merged = [f for f in t2.manifest["files"] if "-merge" in f["path"]]
    assert merged, "local merge path was not taken"
    assert len(merged) > 1, "oversized batch written as a single file"
    # and no file grossly past the target (4x slack for estimate error)
    assert max(f["bytes"] for f in merged) < 4 * 64 * 1024


def _mk_drop_table(spark, tmp_path):
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "drops"), schema, pk=["repo", "path"],
        version_cols=["ver"], n_buckets=4, properties={"merge_mode": "upsert"},
    )
    df = spark.createDataFrame(
        [("r1", "a", "go", "x", 1), ("r1", "b", "py", "y", 1)], schema)
    t.merge(df, fence=("j", 0))
    return t, schema


def test_alter_drop_column_projects_away_immediately(spark, tmp_path):
    """DROP COLUMN is metadata-only (ClickHouse lazy-drop analog): reads
    lose the column at once, data files are untouched until compact, PK /
    version columns are protected, and time travel to a pre-drop snapshot
    still shows the values."""
    t, _ = _mk_drop_table(spark, tmp_path)
    pre_drop_version = t.version
    t.alter_drop_column("lang")
    assert "lang" not in t.current().columns
    assert t.current().count() == 2
    with pytest.raises(ValueError):
        t.alter_drop_column("repo")     # PK
    with pytest.raises(ValueError):
        t.alter_drop_column("ver")      # version col
    with pytest.raises(KeyError):
        t.alter_drop_column("nope")
    old = LakeTable.load(spark, t.root, version=pre_drop_version)
    assert {r.lang for r in old.current().collect()} == {"go", "py"}
    # the drop commit touched zero files: O(1) metadata, eligible as a delta
    assert t.manifest["files"] == old.manifest["files"]


def test_drop_then_readd_reads_null_not_old_values(spark, tmp_path):
    """Re-adding a dropped column must yield NULL for rows written before
    the re-add (ClickHouse drop-then-add semantics), never resurrect the
    old bytes still sitting in pre-drop parquet files; rows written after
    the re-add carry their values; compact makes the NULLs physical."""
    import pyspark.sql.types as T
    t, schema = _mk_drop_table(spark, tmp_path)
    t.alter_drop_column("lang")
    t.alter_add_columns([T.StructField("lang", T.StringType(), True)])
    cur = {(r.repo, r.path): r.lang for r in t.current().collect()}
    assert cur == {("r1", "a"): None, ("r1", "b"): None}
    # post-re-add write: a new key and an LWW update of an old key
    df2 = spark.createDataFrame(
        [("r2", "a", "rust", "z", 2), ("r1", "a", "zig", "x2", 2)], schema)
    t.merge(df2, fence=("j", 1))
    want = {("r1", "a"): "zig", ("r1", "b"): None, ("r2", "a"): "rust"}
    got = {(r.repo, r.path): r.lang for r in t.current().collect()}
    assert got == want
    # compact rewrites every bucket to the current schema generation;
    # results identical and the old-generation bytes are gone
    t.compact()
    got2 = {(r.repo, r.path): r.lang for r in t.current().collect()}
    assert got2 == want
    sid = str(t.manifest["schema_id"])
    assert all(str(f["schema_id"]) == sid for f in t.manifest["files"])
    # physically re-read one rewritten file without the manifest: the
    # column exists (current schema) and old values did not leak back
    got3 = {(r.repo, r.path): r.lang
            for r in LakeTable.load(spark, t.root).current().collect()}
    assert got3 == want


def test_cascade_sync_transform_derived_view(spark, tmp_path):
    """cascade_sync(transform=...): a derived VIEW (here: token counts +
    content projection) maintained incrementally — bootstrap, O(delta)
    increments, update/delete propagation, full-refresh fallback — always
    equal to recomputing the transform over the upstream's current state."""
    from cds_spark.streaming.pipeline import cascade_sync

    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    src = LakeTable.create(
        spark, src_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )

    def push(lo, hi, fence_n):
        feed = change_feed(spark, hi - lo, n_repos=6, paths_per_repo=8, seed=7,
                           start_offset=lo)
        events = decode_feed(feed, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, src.schema, src.pk)
        src.merge(rows, fence=("up", fence_n))

    def tf(df):
        # row-wise derived view: drop content, add a token count + a
        # language flag; preserves pk/version/meta columns
        return df.select(
            "repo", "path", "commit", "_offset", "_is_delete",
            F.size(F.split(F.coalesce(F.col("content"), F.lit("")), " "))
             .cast("long").alias("n_tokens"),
            (F.col("lang") == "python").alias("is_python"),
        )

    def states_equal():
        want = sorted(
            tuple(r) for r in
            tf(src.current()
               .withColumn("_is_delete", F.lit(False))
               .withColumn("_offset", F.lit(0).cast("long")))
            .drop("_is_delete", "_offset").collect())
        got = sorted(
            tuple(r) for r in LakeTable.load(spark, dst_root).current()
            .select("repo", "path", "commit", "n_tokens", "is_python")
            .collect())
        assert got == want and len(got) > 0

    push(0, 700, 0)
    r = cascade_sync(spark, src_root, dst_root, "tv", transform=tf)
    assert r["applied"] == "bootstrap"
    dst = LakeTable.load(spark, dst_root)
    assert [f.name for f in dst.schema.fields] == [
        "repo", "path", "commit", "n_tokens", "is_python"]
    states_equal()

    # increments with updates + deletes flow through the transform
    push(700, 1500, 1)
    r = cascade_sync(spark, src_root, dst_root, "tv", transform=tf)
    assert isinstance(r["applied"], int) and r["applied"] > 0
    states_equal()

    # full-refresh fallback keeps the transform
    push(1500, 1900, 2)
    push(1900, 2200, 3)
    src.expire_snapshots(keep_last=1)
    r = cascade_sync(spark, src_root, dst_root, "tv", transform=tf)
    assert r["applied"] == "full-refresh"
    states_equal()

    # a transform dropping a PK column is refused
    import pytest
    with pytest.raises(ValueError):
        cascade_sync(spark, src_root, str(tmp_path / "bad"), "tv2",
                     transform=lambda df: df.drop("path"))


KV_SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ver", T.LongType()),
])


def test_cascade_rejects_transform_dropping_meta_columns(spark, tmp_path):
    """A --select list that forgets _is_delete must fail LOUDLY at
    validation, not silently turn upstream deletes into resurrected
    rows via the meta-default fill."""
    from cds_spark.streaming.pipeline import cascade_sync

    src_root = str(tmp_path / "src")
    src = LakeTable.create(spark, src_root, KV_SCHEMA, pk=["k"],
                           version_cols=["ver"], n_buckets=2,
                           properties={"merge_mode": "upsert"})
    src.merge(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], KV_SCHEMA)
              .withColumn("_is_delete", F.lit(False)))

    def bad_tf(df):
        keep = [c for c in df.columns if c not in ("_is_delete", "_offset")]
        return df.select(*keep)

    with pytest.raises(ValueError, match="_is_delete"):
        cascade_sync(spark, src_root, str(tmp_path / "dst"), "cj",
                     transform=bad_tf)


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
