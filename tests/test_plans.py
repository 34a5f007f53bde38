"""Physical-plan regression guards: the properties PLANS.md records must
survive refactors — filters reach the parquet scan, scans are
column-pruned, small dims broadcast, LWW queries don't drag unused wide
columns through the collapse shuffle."""

import io
import contextlib

from cds_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    assert "l_comment" not in plan  # untouched wide column pruned


def test_snapshot_asof_bound_pushed(spark):
    plan = _plan(spark, "cdc_snapshot_asof")
    assert "LessThan(ts" in plan


def test_revenue_by_nation_broadcasts_dim(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # scans read only the join/agg columns
    assert "o_comment" not in plan and "c_comment" not in plan


def test_lww_current_state_prunes_props(spark):
    # the collapse struct must not carry the wide unused props JSON column
    plan = _plan(spark, "cdc_lww_current_state")
    assert "props" not in plan


def test_dedup_exact_reads_two_columns(spark):
    plan = _plan(spark, "dedup_exact")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_pipeline_decodes_feed_once_per_batch(spark):
    """process_batch persists the decoded events; every downstream job
    (evolution probe, lineage agg, DLQ, merge) must plan against the cache
    (InMemoryTableScan), never re-scan + re-decode the feed."""
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import REPO_SCHEMA, change_feed

    feed = change_feed(spark, 60, n_repos=2, paths_per_repo=3, seed=1)
    events = decode_feed(feed, inject={"commit": "commit"}).persist()
    try:
        events.count()  # materialize the cache
        rows, dlq = events_to_rows(events, REPO_SCHEMA, ["repo", "path"])
        for df in (rows, dlq):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            # the leaf is the materialized cache: Spark serves rows from it
            # and never re-runs the decode child plan (which explain still
            # PRINTS as the cache's definition — that text is not execution)
            assert "InMemoryTableScan" in plan
    finally:
        events.unpersist()


def test_lsh_near_dup_has_no_allpairs_join(spark):
    """The embedding near-dup SCALE path must generate candidates by
    equi-join on band keys — never a cartesian / nested-loop all-pairs
    join (which the exact baseline near_dup_pairs deliberately is)."""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the exact baseline IS all-pairs (vec_a < vec_b non-equi condition)
    baseline = _plan(spark, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin" in baseline or "CartesianProduct" in baseline


def test_dialect_decoders_parse_each_payload_once(spark):
    """from_json is CodegenFallback: without the Generate barrier,
    CollapseProject inlines it into every downstream reference and one
    envelope gets parsed N times (measured 13x on the feed path). Each
    decoder's physical plan must contain exactly as many from_json nodes
    as there are distinct things to parse — one evaluation each — and at
    least one Generate barrier."""
    from pyspark.sql import functions as F

    from cds_spark.operators import decode as D

    feed = spark.range(10).select(
        F.lit('{"x":1}').alias("value"),
        F.col("id").alias("off"),
        F.lit(0).alias("part"),
    )
    # decoder -> expected from_json count: envelope + (debezium-mongo only)
    # 3 member maps + 3x2 nested $set/_id parses (+1 constant empty_map
    # foldable literal that Catalyst keeps as a from_json of '{}')
    cases = {
        "decode_canal": (D.decode_canal, 1),
        "decode_debezium_mysql": (D.decode_debezium_mysql, 1),
        "decode_connector_mongo": (D.decode_connector_mongo, 2),  # +empty_map literal
        "decode_debezium_mongo": (D.decode_debezium_mongo, 11),  # 1+3+6+empty_map
    }
    for name, (fn, max_parses) in cases.items():
        df = fn(feed, value_col="value", partition_col="part", offset_col="off")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_parse = plan.count("from_json")
        assert n_parse <= max_parses, f"{name}: {n_parse} from_json nodes (cap {max_parses})"
        assert "Generate" in plan, f"{name}: missing the Generate barrier"


def test_decontaminate_broadcasts_benchmark(spark):
    # benchmark shingle set is broadcast; the corpus side must stay a
    # linear scan (no sort-merge / cartesian join at 100 TB)
    plan = _plan(spark, "dedup_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lookup_plan_literal_key_filter_no_join(spark, tmp_path):
    """lookup(): the key set reaches the pruned scan as a literal key
    predicate — no join of any kind, no exchange on the table side."""
    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import REPO_SCHEMA, change_feed

    t = LakeTable.create(
        spark, str(tmp_path / "lkp"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
    )
    feed = change_feed(spark, 300, n_repos=4, paths_per_repo=6, seed=2)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), t.schema, t.pk
    )
    t.merge(rows, fence=("p", 0))
    ks = t.current().select("repo", "path").limit(2).collect()
    df = t.lookup([{"repo": k["repo"], "path": k["path"]} for k in ks])
    import io as _io, contextlib as _ctx
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    cond = next(ln for ln in plan.splitlines() if ln.startswith("Condition"))
    assert "struct(repo, repo#" in cond and "path#" in cond and " IN (" in cond, cond
    for k in ks:
        assert k["repo"] in cond and k["path"] in cond, cond
    assert "Join" not in plan and "Exchange" not in plan
    assert sorted((r["repo"], r["path"]) for r in df.collect()) == sorted(
        (k["repo"], k["path"]) for k in ks)


# ---- lookup: one bounded key collect plus the read --------------------------

def _kv_lookup_table(spark, tmp_path, n=64):
    from cds_spark.lake.table import LakeTable
    import pyspark.sql.types as T

    t = LakeTable.create(
        spark, str(tmp_path / "kv"),
        T.StructType([T.StructField("id", T.LongType(), False),
                      T.StructField("v", T.StringType()),
                      T.StructField("ver", T.LongType())]),
        pk=["id"], version_cols=["ver"], n_buckets=8)
    t.merge(spark.range(n).selectExpr("id", "concat('v', id) AS v", "1L AS ver"))
    return t


def _semi_join(t, keys_df):
    """The reference answer: the current view semi-joined to the cast keys."""
    import pyspark.sql.functions as F

    pk_fields = [f for f in t.schema.fields if f.name in t.pk]
    k = keys_df.select(*[F.col(f.name).try_cast(f.dataType).alias(f.name)
                         for f in pk_fields])
    return sorted(tuple(r) for r in t.current().join(k, t.pk, "left_semi").collect())


def test_lookup_list_keys_launch_at_most_two_jobs(spark, tmp_path, count_jobs):
    t = _kv_lookup_table(spark, tmp_path)
    keys = [(3,), (17,), (40,), (63,)]
    n, rows = count_jobs(lambda: t.lookup(keys).collect())
    assert n <= 2, n
    assert sorted(r["id"] for r in rows) == [3, 17, 40, 63]


def test_lookup_dataframe_keys_run_their_lineage_once(spark, tmp_path, count_jobs):
    """A DataFrame key set is executed once, in the bounded key collect:
    the lookup costs at most one job beyond collecting the keys."""
    import pyspark.sql.functions as F

    t = _kv_lookup_table(spark, tmp_path)
    keys = (spark.range(200).select((F.col("id") % 9 * 7).alias("id"))
            .groupBy("id").count().select("id"))
    n_keys, key_rows = count_jobs(keys.collect)
    n, rows = count_jobs(lambda: t.lookup(keys).collect())
    assert n <= n_keys + 1, (n, n_keys)
    assert sorted(r["id"] for r in rows) == sorted(
        r["id"] for r in key_rows if r["id"] < 64)


def test_lookup_matches_semi_join_on_duplicate_and_uncastable_keys(spark, tmp_path):
    import pytest

    t = _kv_lookup_table(spark, tmp_path)
    dup = [(5,), (5,), {"id": 5}, (9,), (1000,)]
    got = sorted(tuple(r) for r in t.lookup(dup).collect())
    want = _semi_join(t, spark.createDataFrame([(5,), (9,), (1000,)], ["id"]))
    assert got == want and [r[0] for r in got] == [5, 9]
    # string keys (the CLI form) cast to the PK type
    got = sorted(tuple(r) for r in t.lookup([("9",), ("9",), ("12",)]).collect())
    assert [r[0] for r in got] == [9, 12]
    with pytest.raises(ValueError, match="not castable"):
        t.lookup([("abc",)])
    with pytest.raises(ValueError, match="not castable"):
        t.lookup(spark.createDataFrame([("7",), ("x",)], ["id"]))
    assert t.lookup([]).collect() == []
    assert t.lookup(spark.createDataFrame([], "id long")).collect() == []


def test_lookup_matches_semi_join_on_composite_and_temporal_pks(spark, tmp_path):
    import datetime

    import pyspark.sql.types as T

    from cds_spark.lake.table import LakeTable

    # composite (repo, path) PK
    rp = LakeTable.create(
        spark, str(tmp_path / "rp"),
        T.StructType([T.StructField("repo", T.StringType(), False),
                      T.StructField("path", T.StringType(), False),
                      T.StructField("ver", T.LongType())]),
        pk=["repo", "path"], version_cols=["ver"], n_buckets=8)
    rp.merge(spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", 1) for i in range(30)], "repo string, path string, ver long"))
    keys = [("r0", "p0"), {"repo": "r1", "path": "p4"}, ("r1", "p4"),
            ("r2", "p0"), ("r2", "p5")]
    got = sorted(tuple(r) for r in rp.lookup(keys).collect())
    assert got == _semi_join(rp, spark.createDataFrame(
        [("r0", "p0"), ("r1", "p4"), ("r2", "p5")], ["repo", "path"]))
    assert [(r[0], r[1]) for r in got] == [("r0", "p0"), ("r1", "p4"), ("r2", "p5")]

    # timestamp PK; keys as datetimes and as strings (the CLI form)
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    ts = LakeTable.create(
        spark, str(tmp_path / "ts"),
        T.StructType([T.StructField("ts", T.TimestampType(), False),
                      T.StructField("ver", T.LongType())]),
        pk=["ts"], version_cols=["ver"], n_buckets=8)
    ts.merge(spark.createDataFrame(
        [(base + datetime.timedelta(minutes=7 * i, microseconds=i), 1)
         for i in range(40)], "ts timestamp, ver long"))
    want_ts = [base + datetime.timedelta(minutes=7 * i, microseconds=i)
               for i in (2, 11, 39)]
    keys = [(k,) for k in want_ts] + [(want_ts[0],),
                                      (base + datetime.timedelta(seconds=1),)]
    got = sorted(tuple(r) for r in ts.lookup(keys).collect())
    assert got == _semi_join(ts, spark.createDataFrame(
        [(k,) for k in want_ts], "ts timestamp"))
    assert [r[0] for r in got] == want_ts
    got = sorted(r[0] for r in ts.lookup([(str(k),) for k in want_ts]).collect())
    assert got == want_ts

    # (date, long) PK
    dn = LakeTable.create(
        spark, str(tmp_path / "dn"),
        T.StructType([T.StructField("d", T.DateType(), False),
                      T.StructField("n", T.LongType(), False),
                      T.StructField("ver", T.LongType())]),
        pk=["d", "n"], version_cols=["ver"], n_buckets=8)
    day = datetime.date(2024, 1, 1)
    dn.merge(spark.createDataFrame(
        [(day + datetime.timedelta(days=i % 5), i, 1) for i in range(25)],
        "d date, n long, ver long"))
    keys = [(day, 0), (day + datetime.timedelta(days=1), 1),
            (day + datetime.timedelta(days=4), 24), (day, 0), (day, 1)]
    got = sorted(tuple(r) for r in dn.lookup(keys).collect())
    assert got == _semi_join(dn, spark.createDataFrame(
        [(day, 0), (day + datetime.timedelta(days=1), 1),
         (day + datetime.timedelta(days=4), 24)], "d date, n long"))
    assert [(r[0], r[1]) for r in got] == [
        (day, 0), (day + datetime.timedelta(days=1), 1),
        (day + datetime.timedelta(days=4), 24)]
    got = sorted((r[0], r[1]) for r in dn.lookup([("2024-01-02", "1")]).collect())
    assert got == [(day + datetime.timedelta(days=1), 1)]
