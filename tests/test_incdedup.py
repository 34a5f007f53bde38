"""Incremental near-dup maintenance (operators/incdedup.py): discovery via
O(delta) increments must equal a batch MinHash-LSH run over the final live
corpus — through adds, text updates (pair invalidation + re-discovery) and
deletes — and the cursor/fence discipline must make re-runs no-ops.
"""

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from cds_spark.lake.table import LakeTable
from cds_spark.operators.incdedup import dedup_sync, live_pairs
from cds_spark.operators.textdedup import minhash_lsh_pairs

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("ver", T.LongType()),
])

BASE_A = ("the quick brown fox jumps over the lazy dog while reading spark "
          "plans and tuning shuffle partitions for a copy on write merge ")
BASE_B = ("iceberg manifests carry zone maps and bloom filter sidecars so "
          "point lookups skip every unrelated data file in the bucket ")


def _mk_src(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "docs"), DOC_SCHEMA, pk=["doc_id"],
        version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "upsert"},
    )


def _rows(spark, rows, deletes=()):
    df = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "_is_delete", F.lit(False))
    if deletes:
        dels = spark.createDataFrame(
            [(d, None, v) for d, v in deletes], DOC_SCHEMA
        ).withColumn("_is_delete", F.lit(True))
        df = df.unionByName(dels)
    return df


def _batch(src):
    docs = src.current().select("doc_id", "text")
    return {(r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(docs).collect()}


def _live(spark, dst):
    s = LakeTable.load(spark, str(dst / "sigs"))
    p = LakeTable.load(spark, str(dst / "pairs"))
    return {(r.doc_a, r.doc_b): r.jaccard
            for r in live_pairs(s, p).collect()}


def test_incremental_dedup_equals_batch_through_add_update_delete(
    spark, tmp_path
):
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"

    # ---- tick 1: bootstrap. d1~d2 near-dup; d3, d5 singles
    src.merge(_rows(spark, [
        ("d1", BASE_A + "alpha", 1),
        ("d2", BASE_A + "beta", 1),
        ("d3", BASE_B + "gamma", 1),
        ("d5", "totally unrelated tiny text about nothing in particular", 1),
    ]), fence=("ing", 1))
    res = dedup_sync(spark, src.root, str(dst), "dd-job")
    assert not res["skipped"]
    want = _batch(src)
    assert ("d1", "d2") in want          # the corpus really has a near-dup
    assert _live(spark, dst) == want

    # ---- tick 2: add d4 (near-dup of d3), update d2 away from d1
    # (invalidates the d1-d2 pair), delete d5
    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [
        ("d4", BASE_B + "delta tail", 2),
        ("d2", "rewritten completely: this text no longer resembles d1 at "
               "all and talks about watermarks in structured streaming", 2),
    ], deletes=[("d5", 2)]), fence=("ing", 2))
    res = dedup_sync(spark, src.root, str(dst), "dd-job")
    assert not res["skipped"] and res["from"] > 0
    want = _batch(src)
    assert ("d3", "d4") in want          # discovered incrementally
    assert ("d1", "d2") not in want      # broken by the update
    assert _live(spark, dst) == want

    # ---- tick 3: nothing changed -> fence-skipped no-op
    res = dedup_sync(spark, src.root, str(dst), "dd-job")
    assert res["skipped"]
    assert _live(spark, dst) == want


def test_incremental_rediscovery_after_update_back(spark, tmp_path):
    """An update that breaks a pair then an update that re-forms it: the
    pair must disappear and come back with fresh signature digests."""
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    src.merge(_rows(spark, [
        ("a", BASE_A + "one", 1), ("b", BASE_A + "two", 1)]), fence=("i", 1))
    dedup_sync(spark, src.root, str(dst), "j")
    assert ("a", "b") in _live(spark, dst)

    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [("b", "entirely different words now", 2)]),
              fence=("i", 2))
    dedup_sync(spark, src.root, str(dst), "j")
    assert _live(spark, dst) == _batch(src) and ("a", "b") not in _live(spark, dst)

    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [("b", BASE_A + "three", 3)]), fence=("i", 3))
    dedup_sync(spark, src.root, str(dst), "j")
    live = _live(spark, dst)
    assert ("a", "b") in live
    assert live == _batch(src)


def test_dedup_sync_composite_pk(spark, tmp_path):
    """A (repo, path)-keyed table — the flagship CDC schema — dedups with
    a concat identity; partner texts are fetched through src.lookup using
    the PK tuples carried in the signature rows."""
    from cds_spark.operators.incdedup import UNIT_SEP

    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    src = LakeTable.create(
        spark, str(tmp_path / "multi"), schema, pk=["repo", "path"],
        version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "upsert"})
    src.merge(spark.createDataFrame([
        ("r1", "a.py", BASE_A + "one", 1),
        ("r2", "b.py", BASE_A + "two", 1),
        ("r1", "c.py", "nothing like the others at all", 1),
    ], schema), fence=("i", 1))
    dst = tmp_path / "dd"
    dedup_sync(spark, src.root, str(dst), "j")
    # second increment: the near-dup partner arrives later, found via the
    # delta-vs-corpus band join + lookup fetch of the r1/a.py text
    src = LakeTable.load(spark, src.root)
    src.merge(spark.createDataFrame(
        [("r3", "d.py", BASE_A + "three", 2)], schema), fence=("i", 2))
    dedup_sync(spark, src.root, str(dst), "j")
    live = _live(spark, dst)
    docs = src.current().select(
        F.concat_ws(UNIT_SEP, "repo", "path").alias("doc_id"), "text")
    want = {(r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(docs).collect()}
    assert live == want
    assert any("r3" in a or "r3" in b for a, b in live)


def test_cli_dedup_sync(spark, tmp_path, capsys):
    import json

    from cds_spark.cli import main

    src = _mk_src(spark, tmp_path)
    src.merge(_rows(spark, [
        ("x", BASE_A + "one", 1), ("y", BASE_A + "two", 1)]), fence=("i", 1))
    dd = str(tmp_path / "dd")
    rc = main(["dedup-sync", "--root", dd, "--src-root", src.root,
               "--job-id", "c"])
    out = json.loads(capsys.readouterr().out.strip())
    assert rc == 0 and not out["skipped"] and out["pairs_written"] >= 1
    rc = main(["dedup-sync", "--root", dd, "--src-root", src.root,
               "--job-id", "c"])
    out = json.loads(capsys.readouterr().out.strip())
    assert rc == 0 and out["skipped"]
    assert ("x", "y") in _live(spark, tmp_path / "dd")


def test_prune_stale_pairs_keeps_live_view(spark, tmp_path):
    """The discovery log accumulates rows invalidated by updates; pruning
    rewrites it to the live-valid rows with live_pairs() unchanged."""
    from cds_spark.operators.incdedup import prune_stale_pairs

    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    src.merge(_rows(spark, [
        ("a", BASE_A + "one", 1), ("b", BASE_A + "two", 1)]), fence=("i", 1))
    dedup_sync(spark, src.root, str(dst), "j")
    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [("b", "no resemblance anymore at all", 2)]),
              fence=("i", 2))
    dedup_sync(spark, src.root, str(dst), "j")
    before = _live(spark, dst)
    assert ("a", "b") not in before
    pairs_t = LakeTable.load(spark, str(dst / "pairs"))
    assert pairs_t.current().count() > len(before)   # the stale a-b row
    res = prune_stale_pairs(spark, str(dst))
    assert res["pruned"] >= 1
    assert _live(spark, dst) == before
    assert LakeTable.load(spark, str(dst / "pairs")).current().count() == len(before)


def test_pipeline_inloop_dedup(spark, tmp_path):
    """JobSpec.dedup_every_batches: the sync loop itself keeps the near-dup
    index current — after the stream drains, the index equals a batch
    MinHash run over the synced table and the lineage records the ticks."""
    import json as _json

    from cds_spark.operators.incdedup import UNIT_SEP, live_pairs
    from cds_spark.sources.feed import REPO_SCHEMA, change_feed, write_feed_files
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec

    feed = change_feed(spark, 1200, n_repos=8, paths_per_repo=12, seed=5)
    topic = str(tmp_path / "topic")
    write_feed_files(feed, topic, 4)
    LakeTable.create(
        spark, str(tmp_path / "repos"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8)
    spec = JobSpec(
        job_id="j", table_root=str(tmp_path / "repos"), source_dir=topic,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=2,
        dedup_dst=str(tmp_path / "dd"), dedup_every_batches=1,
        dedup_text_col="content")
    IncrementalSync(spark, spec).run_available()
    t = LakeTable.load(spark, str(tmp_path / "repos"))
    sigs = LakeTable.load(spark, str(tmp_path / "dd" / "sigs"))
    pairs = LakeTable.load(spark, str(tmp_path / "dd" / "pairs"))
    # every live doc is signed, deleted docs are not
    assert sigs.current().count() == t.current().count()
    live = {(r.doc_a, r.doc_b): r.jaccard
            for r in live_pairs(sigs, pairs).collect()}
    docs = t.current().select(
        F.concat_ws(UNIT_SEP, "repo", "path").alias("doc_id"),
        F.col("content").alias("text"))
    want = {(r.doc_a, r.doc_b): r.jaccard
            for r in minhash_lsh_pairs(docs).collect()}
    assert live == want
    recs = [_json.loads(l) for l in open(t.root + "/_lineage/j.jsonl")]
    ticks = [r["dedup"] for r in recs if r.get("dedup")]
    assert ticks and all(not d["skipped"] for d in ticks)


def test_dedup_sync_full_refresh_after_purge(spark, tmp_path):
    """purge_where makes changes() raise across the mutation snapshot;
    the tick must full-refresh (refreshed=True), converge to the batch
    result on the final corpus, and retire the purged doc's signature."""
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    src.merge(_rows(spark, [
        ("a", BASE_A + "alpha", 1), ("b", BASE_A + "bravo", 1),
        ("c", "an entirely different document about iceberg manifests "
              "and zone map pruning strategies for bucketed tables", 1),
    ]), fence=("i", 1))
    r1 = dedup_sync(spark, src.root, str(dst), "dj")
    assert not r1["skipped"] and not r1["refreshed"]
    assert _live(spark, dst) == _batch(src)
    assert ("a", "b") in _live(spark, dst)

    src = LakeTable.load(spark, src.root)
    src.purge_where("doc_id = 'b'")
    src = LakeTable.load(spark, src.root)
    with pytest.raises(ValueError):
        src.changes(1, src.version)
    r2 = dedup_sync(spark, src.root, str(dst), "dj")
    assert r2["refreshed"] and not r2["skipped"]
    assert _live(spark, dst) == _batch(src) == {}
    sigs = LakeTable.load(spark, str(dst / "sigs"))
    live_ids = {r.doc_id for r in sigs.current().select("doc_id").collect()}
    assert live_ids == {"a", "c"}, live_ids

    # the loop keeps ticking incrementally after the refresh
    src.merge(_rows(spark, [("d", BASE_A + "delta", 3)]), fence=("i", 3))
    src = LakeTable.load(spark, src.root)
    r3 = dedup_sync(spark, src.root, str(dst), "dj")
    assert not r3["refreshed"] and not r3["skipped"]
    assert _live(spark, dst) == _batch(src)


def test_dedup_sync_no_shingle_update_retires_signature(spark, tmp_path):
    """Updating a doc's text to something shorter than SHINGLE_K must
    tombstone its signature and invalidate its pairs — a batch run on the
    final corpus never sees the doc, so neither may the increment."""
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    src.merge(_rows(spark, [
        ("a", BASE_A + "alpha", 1), ("b", BASE_A + "bravo", 1),
    ]), fence=("i", 1))
    dedup_sync(spark, src.root, str(dst), "dj")
    assert ("a", "b") in _live(spark, dst)

    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [("b", "x", 2)]), fence=("i", 2))
    src = LakeTable.load(spark, src.root)
    dedup_sync(spark, src.root, str(dst), "dj")
    assert _live(spark, dst) == _batch(src) == {}
    sigs = LakeTable.load(spark, str(dst / "sigs"))
    live_ids = {r.doc_id for r in sigs.current().select("doc_id").collect()}
    assert live_ids == {"a"}, live_ids


def _doc_table(spark, tmp_path, name="docs"):
    schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / name)
    t = LakeTable.create(spark, root, schema, pk=["doc_id"],
                         version_cols=["ver"], n_buckets=4)
    docs = spark.range(0, 60).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 30), "
        "  j -> concat('w', pmod(id, 5), '-', j))) AS text",
        "id AS ver",
    )
    t.merge(docs)
    return root


def test_dedup_sync_half_created_dst_recovers(spark, tmp_path):
    """Crash between the sigs and pairs creates: sigs exists (empty, no
    fence), pairs missing. The next tick must create pairs and complete —
    and produce the same result as an unbroken bootstrap."""
    from cds_spark.operators.incdedup import (_sig_schema, dedup_sync,
                                              live_pairs)

    src_root = _doc_table(spark, tmp_path)
    src = LakeTable.load(spark, src_root)
    pk_fields = [f for f in src.schema.fields if f.name == "doc_id"]
    # simulate the half-created destination
    half = str(tmp_path / "half")
    LakeTable.create(
        spark, os.path.join(half, "sigs"),
        _sig_schema(T.LongType(), pk_fields), pk=["doc_id"],
        version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "append"})
    res = dedup_sync(spark, src_root, half, "j1", text_col="text")
    assert not res["skipped"] and res["applied"] > 0

    clean = str(tmp_path / "clean")
    dedup_sync(spark, src_root, clean, "j1", text_col="text")

    def pairs_of(root):
        s = LakeTable.load(spark, os.path.join(root, "sigs"))
        p = LakeTable.load(spark, os.path.join(root, "pairs"))
        return sorted((r.doc_a, r.doc_b, r.jaccard)
                      for r in live_pairs(s, p).collect())

    assert pairs_of(half) == pairs_of(clean) and pairs_of(half)


#: Spark jobs of a 5 % change tick on a small corpus: the delta read (the
#: change read's broadcast anti-join, the collect; a one-merge window
#: needs no LWW collapse), the sigs partner scan (collapse shuffle,
#: collect), the partner-text read, and one write per merge
DEDUP_TICK_JOBS = 7


def _tick_corpus(spark, tmp_path):
    """A 40-doc corpus with its dedup index built, then a 5 % change (2
    docs: an update that forms a new near-dup pair with an unchanged doc,
    and a delete) merged into the source: (src, dst) ready for one tick."""
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    words = BASE_B.split()
    src.merge(_rows(spark, [
        (f"d{i:02d}", " ".join(words[i % 7:] + words[:i % 7]) + f" n{i}", 1)
        for i in range(40)]), fence=("ing", 1))
    dedup_sync(spark, src.root, str(dst), "j")

    src = LakeTable.load(spark, src.root)
    src.merge(_rows(spark, [("d03", " ".join(words) + " tail", 2)],
                    deletes=[("d17", 2)]), fence=("ing", 2))
    return src, dst


def test_dedup_tick_job_budget(spark, tmp_path, count_jobs):
    """A 5 % change tick runs within the tick's job budget — an extra
    Spark action in the tick fails this — and still equals the batch
    result."""
    src, dst = _tick_corpus(spark, tmp_path)
    n, res = count_jobs(lambda: dedup_sync(spark, src.root, str(dst), "j"))
    assert not res["skipped"] and res["from"] > 0 and res["pairs_written"] > 0
    assert n <= DEDUP_TICK_JOBS, n
    assert _live(spark, dst) == _batch(src)


#: py4j commands of the same tick (object releases not counted): planning
#: the delta, partner and verify reads and the two merges. An expression
#: builder that sends a command per constant (the MinHash coefficients,
#: the 32 per-column casts of the signature) or PySpark's per-call
#: call-site capture multiplies this: 8 758 with both, and a Column per
#: cast in the lake reads and the merge's alignment 2 027 - 2 039.
#: Measured 1 566; the spread depends on what ran earlier in the session.
DEDUP_TICK_GATEWAY_CALLS = 1590


def test_dedup_tick_gateway_budget(spark, tmp_path, count_gateway_calls):
    """The tick's driver-to-JVM traffic stays within its budget."""
    src, dst = _tick_corpus(spark, tmp_path)
    n, res = count_gateway_calls(
        lambda: dedup_sync(spark, src.root, str(dst), "j"))
    assert not res["skipped"] and res["pairs_written"] > 0
    assert n <= DEDUP_TICK_GATEWAY_CALLS, n


#: Spark jobs of a dedup bootstrap on a small corpus, and of the full
#: refresh that follows a purge (it also reads the sigs table to retire
#: the purged doc): the batch plan's shuffle and broadcast stages (the
#: corpus signed once, shingle sets persisted once for both verify
#: sides, band join, verify, digest joins), then one write per merge
DEDUP_BOOTSTRAP_JOBS = 21
DEDUP_REFRESH_JOBS = 24


def test_dedup_bootstrap_and_refresh_job_budget(spark, tmp_path, count_jobs):
    """The bootstrap and a refresh after a purge run within their job
    budgets — an extra Spark action in the batch plan fails this — and
    both equal the batch result."""
    src = _mk_src(spark, tmp_path)
    dst = tmp_path / "dd"
    words = BASE_B.split()
    src.merge(_rows(spark, [
        (f"d{i:02d}", " ".join(words[i % 7:] + words[:i % 7]) + f" n{i}", 1)
        for i in range(40)] + [("short", "x", 1)]), fence=("ing", 1))
    n, res = count_jobs(lambda: dedup_sync(spark, src.root, str(dst), "j"))
    assert not res["skipped"] and not res["refreshed"], res
    assert n <= DEDUP_BOOTSTRAP_JOBS, n
    assert _live(spark, dst) == _batch(src) != {}

    src = LakeTable.load(spark, src.root)
    src.purge_where("doc_id = 'd17'")
    src = LakeTable.load(spark, src.root)
    n, res = count_jobs(lambda: dedup_sync(spark, src.root, str(dst), "j"))
    assert res["refreshed"] and not res["skipped"], res
    assert n <= DEDUP_REFRESH_JOBS, n
    assert _live(spark, dst) == _batch(src)
    sigs = LakeTable.load(spark, str(dst / "sigs"))
    assert "d17" not in {r.doc_id for r in sigs.current().collect()}
