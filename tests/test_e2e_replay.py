"""End-to-end CDC replay vs the independent pandas oracle.

The invariant (BASELINE.json input_hint): after replaying the change feed,
the live rows of the lake table match the oracle state under per-row
sha256(content) equality — the Spark analog of the reference's dbtesttool
round-trip verification (pkg/ckgroup/dbtesttool/dbtool/select.go:113-160).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from cds_spark.functions import content_sha256
from cds_spark.lake.table import LakeTable
from cds_spark.operators.decode import decode_feed, events_to_rows
from cds_spark.operators.dedup import lww_collapse
from cds_spark.sources.feed import REPO_SCHEMA, change_feed, reference_replay_pandas

N_EVENTS = 5000


@pytest.fixture(scope="module")
def feed(spark):
    return change_feed(spark, N_EVENTS, n_repos=20, paths_per_repo=30, seed=7).persist()


@pytest.fixture(scope="module")
def oracle_state(feed):
    return reference_replay_pandas([r.asDict() for r in feed.collect()])


def _engine_state(spark, feed, tmp_path, n_batches=1):
    root = str(tmp_path / "repos_table")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"], version_cols=["commit", "_offset"],
        n_buckets=16,
    )
    per = (N_EVENTS + n_batches - 1) // n_batches
    for i in range(n_batches):
        batch = feed.filter(
            (F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per)
        )
        events = decode_feed(batch, inject={"commit": "commit"})
        rows, dlq = events_to_rows(events, table.schema, table.pk)
        assert dlq.count() == 0
        table.merge(rows, fence=("e2e", i))
    return table


def _assert_matches_oracle(table, oracle_state):
    live = table.current().select("repo", "path", "commit", "lang", "content").collect()
    assert len(live) == len(oracle_state)
    for r in live:
        key = (r["repo"], r["path"])
        assert key in oracle_state, f"unexpected live row {key}"
        o = oracle_state[key]
        assert r["commit"] == o["commit"]
        assert r["lang"] == o["lang"]
        # the per-row content invariant
        assert (
            hashlib.sha256(r["content"].encode()).hexdigest()
            == hashlib.sha256(o["content"].encode()).hexdigest()
        )


def test_single_batch_replay(spark, feed, oracle_state, tmp_path):
    table = _engine_state(spark, feed, tmp_path, n_batches=1)
    _assert_matches_oracle(table, oracle_state)


def test_multi_batch_replay_converges(spark, feed, oracle_state, tmp_path):
    """Same feed split into micro-batches -> identical final state."""
    table = _engine_state(spark, feed, tmp_path, n_batches=7)
    _assert_matches_oracle(table, oracle_state)


def test_replay_is_idempotent(spark, feed, oracle_state, tmp_path):
    """Applying the whole feed twice (at-least-once) converges (LWW) —
    doc/CDS中ClickHouse使用的建表方案.md:87 semantics."""
    table = _engine_state(spark, feed, tmp_path, n_batches=2)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows, fence=("e2e-replay", 0))
    _assert_matches_oracle(table, oracle_state)


def test_fence_skips_applied_batch(spark, feed, tmp_path):
    root = str(tmp_path / "fence_table")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"], version_cols=["commit", "_offset"],
        n_buckets=8,
    )
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    s1 = table.merge(rows, fence=("job1", 5))
    assert not s1.skipped
    s2 = table.merge(rows, fence=("job1", 5))
    assert s2.skipped
    s3 = table.merge(rows, fence=("job1", 4))  # older batch replayed
    assert s3.skipped


def test_empty_upsert_batch_still_records_fence(spark, feed, tmp_path):
    """An all-filtered-out (zero-row) upsert batch must still advance the
    fence with a properties-only snapshot — otherwise cascade_sync on an
    upsert destination re-reads the same upstream window forever across
    compact-only ticks."""
    root = str(tmp_path / "empty_fence_table")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
    )
    empty = spark.createDataFrame([], REPO_SCHEMA)
    v0 = table.version
    s = table.merge(empty, fence=("jobx", 7), mode="upsert")
    assert not s.skipped
    assert table.properties.get("fence.jobx") == 7
    assert table.version == v0 + 1  # exactly one properties-only snapshot
    assert table.current().count() == 0
    # replay of the same batch is now fenced out
    s2 = table.merge(empty, fence=("jobx", 7), mode="upsert")
    assert s2.skipped


def test_lww_collapse_in_batch(spark):
    """c+u on the same PK collapses to one row keeping the newer value —
    mirrors cmd/rtu/handle/parse_test.go:96-134."""
    df = spark.createDataFrame(
        [
            ("r", "p", "000001", 1, "old"),
            ("r", "p", "000002", 2, "new"),
            ("r", "q", "000001", 3, "only"),
        ],
        "repo string, path string, commit string, _offset long, content string",
    )
    out = lww_collapse(df, ["repo", "path"], ["commit", "_offset"]).collect()
    state = {(r["repo"], r["path"]): r["content"] for r in out}
    assert state == {("r", "p"): "new", ("r", "q"): "only"}


def test_append_mode_replay_matches_oracle(spark, feed, oracle_state, tmp_path):
    """Merge-on-read mode (ReplacingMergeTree analog): append versioned
    rows per batch, collapse at read; compact() preserves the state."""
    root = str(tmp_path / "repos_append")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"], version_cols=["commit", "_offset"],
        n_buckets=16, properties={"merge_mode": "append"},
    )
    per = N_EVENTS // 4
    for i in range(4):
        batch = feed.filter(
            (F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per)
        )
        events = decode_feed(batch, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, table.schema, table.pk)
        table.merge(rows, fence=("ap", i))
    _assert_matches_oracle(table, oracle_state)
    table.compact(purge_tombstones=True)
    _assert_matches_oracle(table, oracle_state)
    # after full compact reads skip the LWW window
    assert table.properties.get("needs_collapse") is False


def test_fused_decode_replay_matches_oracle(spark, feed, oracle_state, tmp_path):
    """The fused struct-parse hot path (decode_feed_rows, what bench.py and
    the non-evolving pipeline run) must converge to the same final state as
    the two-stage path — sha256(content) invariant vs the pandas oracle."""
    from cds_spark.operators.decode import decode_feed_rows

    root = str(tmp_path / "fused_table")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"], version_cols=["commit", "_offset"],
        n_buckets=16,
    )
    per = (N_EVENTS + 1) // 2
    for i in range(2):
        batch = feed.filter(
            (F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per)
        )
        rows, dlq = decode_feed_rows(batch, table.schema, table.pk, inject={"commit": "commit"})
        assert dlq.count() == 0
        table.merge(rows, fence=("fused", i))
    _assert_matches_oracle(table, oracle_state)


def test_pipeline_fused_path_matches_evolving_path(spark, feed, tmp_path):
    """IncrementalSync with evolve_schema=False (fused decode) produces the
    same final table state as the default evolving pipeline on the same
    batches."""
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec

    states = {}
    for label, evolve in (("ev", True), ("nf", False)):
        root = str(tmp_path / f"pipe_{label}")
        LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=8,
        )
        sync = IncrementalSync(
            spark,
            JobSpec(job_id=f"job-{label}", table_root=root, source_dir="unused",
                    checkpoint_dir=str(tmp_path / f"ckpt_{label}"),
                    evolve_schema=evolve, dlq_dir=str(tmp_path / f"dlq_{label}")),
        )
        per = (N_EVENTS + 1) // 2
        for i in range(2):
            batch = feed.filter(
                (F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per)
            )
            rec = sync.process_batch(batch, i)
            assert not rec.get("skipped")
        t = LakeTable.load(spark, root)
        states[label] = sorted(
            tuple(r) for r in t.current().select("repo", "path", "commit", "lang", "content").collect()
        )
    assert states["ev"] == states["nf"]


def test_upsert_broadcast_merge_matches_classic(spark, feed, oracle_state, tmp_path):
    """The default upsert merge (which replaced the broadcast upsert plan)
    must converge to the same state as the classic plan across multi-batch
    replay with duplicate delivery, including the redelivery tie (batch
    wins on equal versions = idempotent)."""
    states = {}
    for label, strategy in (("classic", "classic"), ("auto", "auto")):
        root = str(tmp_path / f"up_{label}")
        t = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=16,
        )
        per = (N_EVENTS + 2) // 3
        for i in range(3):
            batch = feed.filter(
                (F.col("offset") >= i * per) & (F.col("offset") < (i + 1) * per)
            )
            events = decode_feed(batch, inject={"commit": "commit"})
            rows, _ = events_to_rows(events, t.schema, t.pk)
            t.merge(rows, fence=(f"ub-{label}", i), mode="upsert", strategy=strategy)
        # replay batch 1 with a fresh fence id (at-least-once redelivery)
        batch = feed.filter(F.col("offset") < per)
        events = decode_feed(batch, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, t.schema, t.pk)
        t.merge(rows, fence=(f"ub2-{label}", 0), mode="upsert", strategy=strategy)
        t2 = LakeTable.load(spark, root)
        states[label] = sorted(tuple(r) for r in t2.current().collect())
    assert states["classic"] == states["auto"]
    assert len(states["classic"]) == len(oracle_state)


def test_lookup_is_bucket_pruned_and_correct(spark, feed, oracle_state, tmp_path):
    """PK point lookup returns exactly the oracle's rows for those keys AND
    reads only the owning buckets' files (manifest pruning), not the table."""
    table = _engine_state(spark, feed, tmp_path, n_batches=3)
    keys = sorted(oracle_state)[:3]
    got = table.lookup([{"repo": r, "path": p} for r, p in keys]).collect()
    assert sorted((r["repo"], r["path"]) for r in got) == keys
    for r in got:
        assert r["content"] == oracle_state[(r["repo"], r["path"])]["content"]
    # pruning: the lookup plan reads a strict subset of the table's files
    all_files = set(table.current().inputFiles())
    touched = set(table.lookup([{"repo": keys[0][0], "path": keys[0][1]}]).inputFiles())
    assert touched and touched < all_files
    # zone maps: every written file carries PK lower/upper bounds, and the
    # files the lookup touched all range-cover the key
    assert all(
        e.get("stats") and set(e["stats"]) == {"repo", "path"}
        for e in table.manifest["files"]
    )
    r0, p0 = keys[0]
    for e in table.manifest["files"]:
        if any(t.endswith(e["path"]) for t in touched):
            st = e["stats"]
            assert st["repo"][0] <= r0 <= st["repo"][1]
            assert st["path"][0] <= p0 <= st["path"][1]
    # a key that does not exist returns no rows (and scans ≤1 bucket)
    assert table.lookup([{"repo": "no-such-repo", "path": "nope"}]).count() == 0
    # DataFrame-typed key set works too
    kdf = spark.createDataFrame([keys[0]], "repo string, path string")
    assert table.lookup(kdf).count() == 1


def _merge_batch(table, feed, lo, hi, fence):
    events = decode_feed(feed.filter((F.col("offset") >= lo) & (F.col("offset") < hi)),
                         inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows, fence=fence)


def test_changes_incremental_read(spark, feed, tmp_path):
    """changes(v1, v2) returns exactly the rows committed in the window —
    tombstones included — for BOTH physical merge modes, reading O(delta)."""
    for mode in ("append", "upsert"):
        root = str(tmp_path / f"cdf_{mode}")
        t = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=8,
            properties={"merge_mode": mode},
        )
        per = N_EVENTS // 3
        _merge_batch(t, feed, 0, per, ("cdf", 0))
        v1 = t.version
        _merge_batch(t, feed, per, 2 * per, ("cdf", 1))
        _merge_batch(t, feed, 2 * per, N_EVENTS, ("cdf", 2))
        v3 = t.version

        # expected granularity follows the snapshot's commit: append mode
        # (no in-batch collapse) appends EVERY event row — the full change
        # log; upsert commits one winner per key per snapshot
        from collections import Counter

        from cds_spark.operators.dedup import lww_collapse

        def key(r):
            return (r["repo"], r["path"], r["commit"], int(r["_offset"]), bool(r["_is_delete"]))

        # multiset compare: the feed's at-least-once duplicate deliveries are
        # physically appended in append mode and must surface verbatim
        exp = Counter()
        for lo, hi in ((per, 2 * per), (2 * per, N_EVENTS)):
            b = decode_feed(feed.filter((F.col("offset") >= lo) & (F.col("offset") < hi)),
                            inject={"commit": "commit"})
            br, _ = events_to_rows(b, t.schema, t.pk)
            if mode == "upsert":
                br = lww_collapse(br, t.pk, t.version_cols)
            exp.update(key(r) for r in br.collect())

        got = t.changes(v1, v3).collect()
        assert Counter(key(r) for r in got) == exp, f"mode={mode}: delta mismatch"
        # _change_version is within the window
        assert all(v1 < r["_change_version"] <= v3 for r in got)
        # empty window
        assert t.changes(v3, v3).count() == 0


def test_changes_scans_only_delta_files(spark, feed, tmp_path):
    """The incremental read must plan against the window's added files
    only — never the whole table (manifest file-diff, no full scan)."""
    root = str(tmp_path / "cdf_prune")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )
    per = N_EVENTS // 3
    _merge_batch(t, feed, 0, per, ("pr", 0))
    v1 = t.version
    _merge_batch(t, feed, per, 2 * per, ("pr", 1))
    v2 = t.version
    _merge_batch(t, feed, 2 * per, N_EVENTS, ("pr", 2))

    m1 = {f["path"] for f in LakeTable.load(spark, root, version=v1).manifest["files"]}
    m2 = {f["path"] for f in LakeTable.load(spark, root, version=v2).manifest["files"]}
    added = m2 - m1
    touched = set(t.changes(v1, v2).inputFiles())
    # every planned input file is one of the window's added files
    for f in touched:
        assert any(f.endswith(p) for p in added), f
    assert len(touched) == len(added)


def test_lookup_casts_keys_to_table_pk_types(spark, tmp_path):
    """Mistyped key values (CLI hands strings) must hash in the TABLE's PK
    type or they'd route to the wrong bucket and silently return nothing."""
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "typed"), schema, pk=["id"],
        version_cols=["_offset"], n_buckets=8,
    )
    src = spark.createDataFrame(
        [(i, f"val-{i}", False, i) for i in range(50)],
        "id long, v string, _is_delete boolean, _offset long",
    )
    t.merge(src, fence=("ty", 0))
    got = t.lookup([{"id": "42"}]).collect()      # string key vs long column
    assert len(got) == 1 and got[0]["v"] == "val-42"
    got = t.lookup([(7,)]).collect()              # native-typed tuple
    assert len(got) == 1 and got[0]["v"] == "val-7"
    # DataFrame key set with a mismatched (string) column type
    kdf = spark.createDataFrame([("13",)], "id string")
    assert t.lookup(kdf).first()["v"] == "val-13"


def test_lookup_rejects_uncastable_and_handles_empty(spark, tmp_path):
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "typed2"), schema, pk=["id"],
        version_cols=["_offset"], n_buckets=4,
    )
    src = spark.createDataFrame(
        [(i, f"v{i}", False, i) for i in range(10)],
        "id long, v string, _is_delete boolean, _offset long",
    )
    t.merge(src, fence=("te", 0))
    assert t.lookup([]).count() == 0                 # empty key set
    import pytest as _pytest
    with _pytest.raises(ValueError, match="castable"):
        t.lookup([{"id": "not-a-number"}])           # uncastable -> clear error


def test_salt_modes_converge_to_identical_state(spark, tmp_path):
    """`write.salt` (row/key/none) changes only write-task balance, never
    semantics: a single-hot-key feed (the skew case tools/bench_skew.py
    measures) replays to the identical final state under all three modes,
    and that state matches the independent pandas oracle."""
    from cds_spark.functions import state_digest

    hot = change_feed(
        spark, 40_000, n_repos=200, paths_per_repo=4, skew=12.0, seed=11
    ).persist()
    oracle = reference_replay_pandas([r.asDict() for r in hot.collect()])
    digests = {}
    for mode, extra in (
        ("row", {}),
        ("key", {}),
        ("none", {}),
        ("row_wide", {"write.salt": "row", "write.salt_n": "16"}),
    ):
        root = str(tmp_path / f"salt_{mode}")
        table = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=8,
            properties={"merge_mode": "append", "write.salt": mode, **extra},
        )
        events = decode_feed(hot, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, table.schema, table.pk)
        table.merge(rows, fence=("salt", 0))
        table.compact(purge_tombstones=True)
        digests[mode] = state_digest(table.current())
        _assert_matches_oracle(table, oracle)
    hot.unpersist()
    assert len(set(digests.values())) == 1, digests


def test_auto_salt_widens_spread_for_hot_key_batch(spark, tmp_path):
    """write.salt=auto sizes the row-salt spread to the batch's measured
    hot-key share: a batch dominated by one key must write MORE files into
    that key's bucket than the file-count-bounded default would, and the
    final state must stay oracle-exact."""
    from collections import Counter

    # paths_per_repo=1 + skew=30 -> the single hottest key carries ~80% of
    # all events; n_buckets=64 keeps the file-count-bounded default salt at
    # 1 (4*8 shuffle partitions / 64 buckets), so the widened spread is
    # observable as extra files in the hot bucket
    hot = change_feed(
        spark, 60_000, n_repos=400, paths_per_repo=1, skew=30.0, seed=13
    ).persist()
    oracle = reference_replay_pandas([r.asDict() for r in hot.collect()])

    def replay(mode_props, name):
        root = str(tmp_path / name)
        t = LakeTable.create(
            spark, root, REPO_SCHEMA, pk=["repo", "path"],
            version_cols=["commit", "_offset"], n_buckets=64,
            properties={"merge_mode": "append", **mode_props},
        )
        events = decode_feed(hot, inject={"commit": "commit"})
        rows, _ = events_to_rows(events, t.schema, t.pk)
        t.merge(rows, fence=("auto", 0))
        return t

    t_def = replay({}, "salt_default")
    t_auto = replay({"write.salt": "auto"}, "salt_auto")

    def max_bucket_files(t):
        return max(Counter(e["bucket"] for e in t.manifest["files"]).values())

    assert max_bucket_files(t_auto) > max_bucket_files(t_def), (
        max_bucket_files(t_auto), max_bucket_files(t_def))
    _assert_matches_oracle(t_auto, oracle)
    hot.unpersist()


def test_malformed_salt_n_property_degrades_not_crashes(spark, tmp_path):
    """A typo'd write.salt_n must fall back to the default spread — a bad
    table property can never kill a production write."""
    root = str(tmp_path / "badsalt")
    t = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append", "write.salt_n": "not-a-number"},
    )
    feed = change_feed(spark, 2000, n_repos=10, paths_per_repo=10, seed=3)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, t.schema, t.pk)
    t.merge(rows, fence=("bs", 0))
    assert t.current().count() > 0


def test_merge_aligns_pre_alter_batch_with_null_fill(spark, tmp_path):
    """Column alignment + default fill (parse.go:137-166): a batch whose
    schema predates ALTER ADD COLUMN merges with NULL for the absent
    column (at-least-once replays from before an evolution must not crash
    the stream); a batch missing a PK or version column still raises."""
    import pytest as _pytest
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ver", T.LongType()),
        T.StructField("val", T.LongType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "prealter"), schema, pk=["k"],
        version_cols=["ver"], n_buckets=4,
    )
    old_batch = spark.createDataFrame([("a", 1, 10), ("b", 2, 20)], schema)
    t.merge(old_batch, fence=("pa", 0))
    t.alter_add_columns([T.StructField("extra", T.LongType())])
    # replay the pre-alter batch: aligns, extra = NULL, state unchanged
    t.merge(old_batch, fence=("pa", 1))
    got = {r["k"]: (r["val"], r["extra"]) for r in t.current().collect()}
    assert got == {"a": (10, None), "b": (20, None)}
    # but a missing PK/version column is a caller bug, not alignment
    with _pytest.raises(ValueError, match="ver"):
        t.merge(spark.createDataFrame([("a", 5)], "k string, val long"))


def test_purged_tombstone_not_resurrected_by_fenced_replay(spark, tmp_path):
    """The replay-horizon contract of compact(purge_tombstones=True): after
    a delete's tombstone is physically purged, an at-least-once replay of
    the OLDER insert batch through the FENCED path is skipped before it
    can resurrect the key — the fence IS the replay horizon. The same
    replay unfenced WOULD resurrect (asserted too: that's the documented
    hazard, not silent corruption)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ver", T.LongType()),
        T.StructField("val", T.LongType()),
    ])
    t = LakeTable.create(
        spark, str(tmp_path / "horizon"), schema, pk=["k"],
        version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    insert_batch = spark.createDataFrame([("a", 1, 10), ("b", 2, 20)], schema)
    t.merge(insert_batch, fence=("job", 0))
    delete_batch = spark.createDataFrame(
        [("a", 3, 10, True)],
        T.StructType(schema.fields + [T.StructField("_is_delete", T.BooleanType())]),
    )
    t.merge(delete_batch, fence=("job", 1))
    t.compact(purge_tombstones=True)
    assert {r["k"] for r in t.current().collect()} == {"b"}
    # fenced replay of the old insert batch: skipped, no resurrection
    s = t.merge(insert_batch, fence=("job", 0))
    assert s.skipped
    assert {r["k"] for r in t.current().collect()} == {"b"}
    # unfenced replay: resurrects — the documented hazard the fence exists for
    t.merge(insert_batch)
    assert {r["k"] for r in t.current().collect()} == {"a", "b"}
