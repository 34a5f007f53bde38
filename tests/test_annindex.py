"""Incremental ANN index (operators/annindex.py): maintaining the
hyperplane-LSH index as vectors arrive / move buckets / vanish must serve
answers equal to a batch lsh_bucketed_topk over the final corpus, and the
serving scan must be file-pruned to the probe buckets.
"""

import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from cds_spark.lake.table import LakeTable
from cds_spark.operators.annindex import ann_index_sync, ann_topk
from cds_spark.operators.similarity import (
    LSH_BITS, _bucket_expr, lsh_bucketed_topk, lsh_bucketed_topk_multiprobe,
)

EMB_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("ver", T.LongType()),
])

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")


def _mk_src(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "emb"), EMB_SCHEMA, pk=["vec_id"],
        version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "upsert"})


def _queries(src):
    return src.current().filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ann_index_incremental_equals_batch(spark, tmp_path):
    """Two increments: 60% of vectors first — a slice NEGATED (negation
    flips every hyperplane sign, forcing a bucket move on correction) plus
    a synthetic vector; then the rest, the corrected slice, and the
    synthetic delete. Serving off the maintained index == batch LSH top-k
    over the final corpus, single-bucket AND multi-probe."""
    emb = _emb(spark)
    src = _mk_src(spark, tmp_path)
    dst = str(tmp_path / "ann")
    part = F.pmod(F.xxhash64("vec_id"), F.lit(10))
    neg = F.transform("embedding", lambda x: -x).cast("array<float>")
    b1 = (emb.filter(part < 6)
          .select("vec_id",
                  F.when(part == 0, neg).otherwise(F.col("embedding"))
                   .alias("embedding"))
          .withColumn("ver", F.lit(1).cast("long"))
          .unionByName(spark.createDataFrame(
              [(-1, [0.5] * 64, 1)], EMB_SCHEMA)))
    src.merge(b1, fence=("i", 1))
    res = ann_index_sync(spark, src.root, dst, "aj")
    assert not res["skipped"]

    src = LakeTable.load(spark, src.root)
    b2 = (emb.filter((part >= 6) | (part == 0))
          .withColumn("ver", F.lit(2).cast("long"))
          .withColumn("_is_delete", F.lit(False))
          .unionByName(
              spark.createDataFrame([(-1, None, 2)], EMB_SCHEMA)
              .withColumn("_is_delete", F.lit(True))))
    src.merge(b2, fence=("i", 2))
    res = ann_index_sync(spark, src.root, dst, "aj")
    assert res["index_rows_written"] > 0

    # the index holds exactly one live posting per live vector
    index_t = LakeTable.load(spark, f"{dst}/index")
    assert index_t.current().count() == src.current().count()

    q = _queries(src)
    got = ann_topk(spark, dst, q, k=10, probes=0)
    want = lsh_bucketed_topk(src.current().select("vec_id", "embedding"))
    assert _rows(got) == _rows(want)

    got_mp = ann_topk(spark, dst, q, k=10, probes=LSH_BITS)
    want_mp = lsh_bucketed_topk_multiprobe(
        src.current().select("vec_id", "embedding"))
    assert _rows(got_mp) == _rows(want_mp)

    # idempotence: nothing new -> skipped, answers unchanged
    assert ann_index_sync(spark, src.root, dst, "aj")["skipped"]
    assert _rows(ann_topk(spark, dst, q, k=10)) == _rows(want)


def test_ann_serving_scan_is_file_pruned(spark, tmp_path):
    """After compact (PK-sorted files -> tight leading-PK bucket ranges),
    every query bucket's manifest predicate must skip files."""
    emb = _emb(spark)
    src = _mk_src(spark, tmp_path)
    dst = str(tmp_path / "ann")
    src.merge(emb.withColumn("ver", F.lit(1).cast("long")), fence=("i", 1))
    ann_index_sync(spark, src.root, dst, "aj")
    index_t = LakeTable.load(spark, f"{dst}/index")
    # several pk-sorted files per lake bucket
    index_t.set_properties({"target_file_bytes": 16 << 10})
    index_t.compact()
    index_t = LakeTable.load(spark, f"{dst}/index")
    files = index_t.manifest["files"]
    assert len(files) > 4
    q = _queries(src)
    from cds_spark.operators.similarity import _bucket_expr
    buckets = sorted({int(r.b) for r in q.select(
        _bucket_expr(F.col("qv"), 64).alias("b")).collect()})
    for b in buckets:
        kept = [
            f for f in files
            if not (f.get("stats") or {}).get("bucket")
            or (f["stats"]["bucket"][0] <= b <= f["stats"]["bucket"][1])
        ]
        assert len(kept) < len(files), f"no file was prunable for bucket {b}"
    # and the pruned serve still answers correctly
    got = ann_topk(spark, dst, q, k=10)
    want = lsh_bucketed_topk(src.current().select("vec_id", "embedding"))
    assert _rows(got) == _rows(want)


def _distinct_bucket_embeddings(spark, n=3):
    """n corpus embeddings whose LSH buckets are pairwise distinct."""
    rows = (_emb(spark)
            .withColumn("b", _bucket_expr(F.col("embedding"), 64))
            .dropDuplicates(["b"]).limit(n).collect())
    assert len(rows) == n
    return [(list(r.embedding), int(r.b)) for r in rows]


def test_ann_ghost_postings_reconciled_after_crash_between_merges(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER index.merge (fenced at v2) but BEFORE vecs.merge, then
    the vector moves again before the retry: the crashed tick's posting
    sits at a bucket neither the old-bucket lookup (vecs still at v1
    state) nor the new upsert touches. The retry must detect the fence
    asymmetry and tombstone the interim bucket — serving afterwards
    equals a batch run on the final corpus."""
    (e1, b1), (e2, b2), (e3, b3) = _distinct_bucket_embeddings(spark)
    src = _mk_src(spark, tmp_path)
    dst = str(tmp_path / "ann")
    bg = (_emb(spark).filter(F.col("vec_id") < 40)
          .withColumn("ver", F.lit(1).cast("long")))
    src.merge(bg.unionByName(spark.createDataFrame(
        [(-1, e1, 1)], EMB_SCHEMA)), fence=("i", 1))
    assert not ann_index_sync(spark, src.root, dst, "aj")["skipped"]

    src = LakeTable.load(spark, src.root)
    src.merge(spark.createDataFrame([(-1, e2, 2)], EMB_SCHEMA),
              fence=("i", 2))
    src = LakeTable.load(spark, src.root)

    orig = LakeTable.merge
    state = {"armed": True}

    def crashing(self, df, fence=None, **kw):
        if state["armed"] and self.root.rstrip("/").endswith("/vecs"):
            state["armed"] = False
            raise RuntimeError("injected crash between index and vecs merge")
        return orig(self, df, fence=fence, **kw)

    monkeypatch.setattr(LakeTable, "merge", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        ann_index_sync(spark, src.root, dst, "aj")
    monkeypatch.setattr(LakeTable, "merge", orig)

    # fence asymmetry on disk: index advanced, vecs (the cursor) did not
    index_t = LakeTable.load(spark, f"{dst}/index")
    vecs_t = LakeTable.load(spark, f"{dst}/vecs")
    assert (int(index_t.properties["fence.aj"])
            > int(vecs_t.properties["fence.aj"]))

    # source advances again before the retry -> the v2 posting is a ghost
    src.merge(spark.createDataFrame([(-1, e3, 3)], EMB_SCHEMA),
              fence=("i", 3))
    src = LakeTable.load(spark, src.root)
    r = ann_index_sync(spark, src.root, dst, "aj")
    assert r["reconciled"] and not r["refreshed"]

    index_t = LakeTable.load(spark, f"{dst}/index")
    mine = [(int(x.bucket),) for x in index_t.current()
            .filter(F.col("vec_id") == -1).select("bucket").collect()]
    assert mine == [(b3,)], f"expected only bucket {b3}, got {mine} " \
                            f"(ghost at {b2}? old at {b1}?)"

    q = (src.current().filter(F.col("vec_id").isin(5, 6, 7))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    got = ann_topk(spark, dst, q, k=10)
    want = (lsh_bucketed_topk(src.current().select("vec_id", "embedding"),
                              n_queries=8)
            .filter(F.col("query_id").isin(5, 6, 7)))
    assert _rows(got) == _rows(want)


def test_ann_full_refresh_after_purge(spark, tmp_path):
    """An unreadable change window (purge mutation) must full-refresh the
    index instead of wedging, retiring postings of purged vectors."""
    src = _mk_src(spark, tmp_path)
    dst = str(tmp_path / "ann")
    src.merge(_emb(spark).filter(F.col("vec_id") < 40)
              .withColumn("ver", F.lit(1).cast("long")), fence=("i", 1))
    ann_index_sync(spark, src.root, dst, "aj")

    src = LakeTable.load(spark, src.root)
    src.purge_where("vec_id < 5")
    src = LakeTable.load(spark, src.root)
    r = ann_index_sync(spark, src.root, dst, "aj")
    assert r["refreshed"] and not r["skipped"]

    index_t = LakeTable.load(spark, f"{dst}/index")
    live = {int(x.vec_id) for x in
            index_t.current().select("vec_id").collect()}
    assert live == {int(x.vec_id) for x in
                    src.current().select("vec_id").collect()}
    q = (src.current().filter(F.col("vec_id").isin(5, 6, 7))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    got = ann_topk(spark, dst, q, k=10)
    want = (lsh_bucketed_topk(src.current().select("vec_id", "embedding"),
                              n_queries=8)
            .filter(F.col("query_id").isin(5, 6, 7)))
    assert _rows(got) == _rows(want)


def test_ann_bootstrap_never_lookups_empty_vecs(spark, tmp_path,
                                                monkeypatch):
    """The bootstrap tick must not route the whole corpus through
    vecs.lookup (a driver-side key collect against a table known to be
    empty)."""
    src = _mk_src(spark, tmp_path)
    src.merge(_emb(spark).filter(F.col("vec_id") < 40)
              .withColumn("ver", F.lit(1).cast("long")), fence=("i", 1))

    orig = LakeTable.lookup

    def guarded(self, *a, **kw):
        if self.root.rstrip("/").endswith("/vecs"):
            raise AssertionError("bootstrap must not call vecs.lookup")
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "lookup", guarded)
    r = ann_index_sync(spark, src.root, str(tmp_path / "ann"), "aj")
    assert not r["skipped"]


def test_ann_index_sync_half_created_dst_recovers(spark, tmp_path):
    """Same crash shape for the ANN index: vecs exists, index missing."""
    from cds_spark.operators.annindex import (_vecs_schema, ann_index_sync,
                                              ann_topk)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ver", T.LongType()),
    ])
    src_root = str(tmp_path / "vecsrc")
    t = LakeTable.create(spark, src_root, schema, pk=["vec_id"],
                         version_cols=["ver"], n_buckets=4)
    vecs = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 7), j -> cast(sin(id * 0.7 + j) AS float))"
        " AS embedding",
        "id AS ver",
    )
    t.merge(vecs)

    half = str(tmp_path / "annhalf")
    LakeTable.create(
        spark, os.path.join(half, "vecs"), _vecs_schema(T.LongType()),
        pk=["vec_id"], version_cols=["ver"], n_buckets=4,
        properties={"merge_mode": "append"})
    res = ann_index_sync(spark, src_root, half, "j1", dim=8)
    assert not res["skipped"] and res["applied"] > 0

    clean = str(tmp_path / "annclean")
    ann_index_sync(spark, src_root, clean, "j1", dim=8)
    q = spark.range(3, 6).selectExpr(
        "id AS query_id",
        "transform(sequence(0, 7), j -> cast(sin(id * 0.7 + j) AS float))"
        " AS qv")

    def topk(root):
        return sorted(
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in ann_topk(spark, root, q, k=3, dim=8).collect())

    assert topk(half) == topk(clean) and topk(half)


#: Spark jobs of a 5 % change tick: the delta read (the change read's
#: broadcast anti-join, the collect; a one-merge window needs no LWW
#: collapse), the vecs lookup (collapse shuffle, collect), and one write
#: per merge
ANN_TICK_JOBS = 6


def _tick_corpus(spark, tmp_path):
    """60 vectors with their ANN index built, then a 5 % change (3
    vectors: a bucket move, an in-place update and a delete) merged into
    the source: (src, dst) ready for one tick."""
    emb = _emb(spark).filter(F.col("vec_id") < 60)
    src = _mk_src(spark, tmp_path)
    dst = str(tmp_path / "ann")
    src.merge(emb.withColumn("ver", F.lit(1).cast("long")), fence=("i", 1))
    ann_index_sync(spark, src.root, dst, "aj")

    src = LakeTable.load(spark, src.root)
    neg = F.transform("embedding", lambda x: -x).cast("array<float>")
    scaled = F.transform("embedding", lambda x: x * 2).cast("array<float>")
    change = (emb.filter(F.col("vec_id").isin(4, 9))
              .select("vec_id",
                      F.when(F.col("vec_id") == 4, neg).otherwise(scaled)
                       .alias("embedding"))
              .withColumn("ver", F.lit(2).cast("long"))
              .withColumn("_is_delete", F.lit(False))
              .unionByName(spark.createDataFrame([(11, None, 2)], EMB_SCHEMA)
                           .withColumn("_is_delete", F.lit(True))))
    src.merge(change, fence=("i", 2))
    return src, dst


def test_ann_tick_job_budget(spark, tmp_path, count_jobs):
    """A 5 % change tick runs within the tick's job budget — an extra
    Spark action in the tick fails this — and the index stays exact."""
    src, dst = _tick_corpus(spark, tmp_path)
    n, res = count_jobs(lambda: ann_index_sync(spark, src.root, dst, "aj"))
    assert not res["skipped"] and res["from"] > 0
    # the move and the delete each retire an old posting
    assert res["index_rows_written"] == 2 + 2
    assert n <= ANN_TICK_JOBS, n
    index_t = LakeTable.load(spark, f"{dst}/index")
    want = sorted((int(r["bucket"]), r["vec_id"], list(r["embedding"])) for r in
                  src.current().select(
                      _bucket_expr(F.col("embedding"), 64).alias("bucket"),
                      "vec_id", "embedding").collect())
    got = sorted((r["bucket"], r["vec_id"], list(r["embedding"]))
                 for r in index_t.current().collect())
    assert got == want


#: py4j commands of the same tick (object releases not counted): planning
#: the delta read, the vecs lookup and the two merges. An expression
#: builder that sends a command per constant (the 8 x 64 hyperplane
#: components) or PySpark's per-call call-site capture multiplies this:
#: 5 808 with both, and a Column per cast in the lake reads and the
#: merge's alignment 1 158. Measured 787.
ANN_TICK_GATEWAY_CALLS = 800


def test_ann_tick_gateway_budget(spark, tmp_path, count_gateway_calls):
    """The tick's driver-to-JVM traffic stays within its budget."""
    src, dst = _tick_corpus(spark, tmp_path)
    n, res = count_gateway_calls(
        lambda: ann_index_sync(spark, src.root, dst, "aj"))
    assert not res["skipped"] and res["index_rows_written"] == 2 + 2
    assert n <= ANN_TICK_GATEWAY_CALLS, n
