"""Incremental ANN index maintenance over a CDC-maintained embedding table.

The batch ANN operators (:mod:`cds_spark.operators.similarity`) bucket the
whole corpus per query run. At 10^10 vectors the index must instead be
MAINTAINED as vectors arrive/change/vanish, and queries must read only
their probe buckets. Same cursor-fenced tail discipline as
``pipeline.cascade_sync`` / ``operators.incdedup``:

- ``<root>/vecs``  pk=vec_id: each vector's CURRENT hyperplane bucket
  (identity table — tells an update/delete which index row to tombstone).
- ``<root>/index`` pk=(bucket, vec_id): the queryable index, PK-sorted
  files → the manifest's leading-PK zone maps prune a query to O(probe
  buckets) files (the lake-native IVF/LSH posting-list layout).

Per tick (``ann_index_sync``, D = changed vectors; the bootstrap and a
full refresh run one Spark plan over the live corpus instead):

1. delta = ``src.latest_changes(cursor, v2)`` (``changes()`` collapsed
   per key) collected once on the driver: O(D) rows of (id, vector,
   delete flag, new bucket). The cursor is the vecs table's
   ``fence.<job_id>``, read by ``LakeTable.fence(job_id, tail=True)``.
2. new bucket = the SAME deterministic hyperplane signs the batch
   operators and the SQL oracle use (similarity._bucket_expr), so the
   maintained index serves answers byte-equal to a batch run.
3. old buckets from one list-key ``vecs.lookup`` (bucket-pruned point
   reads, O(D) rows) — a bucket MOVE (or delete) tombstones the stale
   (old_bucket, vec_id) index row; an in-place update just
   LWW-overwrites. Both merge inputs are built on the driver from these
   two collects, so no piece of the tick's lineage runs twice.
4. fenced merges: index first, vecs last — the cursor is the vecs fence.
   A crash between the two merges leaves the index fence AHEAD of the
   cursor; if the source advanced again before the retry, the crashed
   tick's postings can be "ghosts" (written at buckets the retry no
   longer computes). The retry detects the fence asymmetry and
   reconciles exactly: it recomputes the crashed tick's bucket state
   from the same ``changes()`` window and tombstones any interim bucket
   that differs from the one being asserted now — O(delta). If the
   window itself has become unreadable (mutation / expired), the tick
   falls back to a full refresh whose index anti-join retires every
   posting the rebuild does not reassert.

Serving (``ann_topk``): queries are bucketed (+ optional Hamming-1
multi-probe, Lv et al. VLDB'07), the index is read through a manifest
file predicate keeping only files whose leading-PK range intersects the
probe set, and the exact cosine + rank runs on the surviving candidates —
one pruned scan regardless of query count, broadcast query side, no
cartesian.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cds_spark.functions import cosine
from cds_spark.lake.table import IS_DELETE, LakeTable, local_frame
from cds_spark.operators.similarity import LSH_BITS, TOP_K, _bucket_expr

VEC_T = T.ArrayType(T.FloatType())


def _vecs_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("vec_id", id_type, False),
        T.StructField("bucket", T.LongType(), True),
        T.StructField("ver", T.LongType(), True),
    ])


def _index_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("bucket", T.LongType(), False),
        T.StructField("vec_id", id_type, False),
        T.StructField("embedding", VEC_T, True),
        T.StructField("ver", T.LongType(), True),
    ])


def ann_index_sync(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    job_id: str,
    vec_col: str = "embedding",
    dim: int = 64,
    n_buckets: int | None = None,
) -> dict:
    """One incremental index tick; creates ``<dst_root>/{vecs,index}`` on
    first call (bootstrapping from the source's live state)."""
    t0 = time.time()
    src = LakeTable.load(spark, src_root)
    if len(src.pk) != 1:
        raise ValueError(f"ann_index_sync needs a single-column PK; "
                         f"{src_root} has pk={src.pk}")
    id_col = src.pk[0]
    id_type = next(f.dataType for f in src.schema.fields if f.name == id_col)
    nb = n_buckets or src.n_buckets
    # merge-on-read append (see incdedup): a tick appends O(batch)
    # postings; reads LWW-collapse and compact() amortizes
    vecs = LakeTable.load_or_create(
        spark, os.path.join(dst_root, "vecs"), _vecs_schema(id_type),
        pk=["vec_id"], version_cols=["ver"], n_buckets=nb,
        properties={"merge_mode": "append"})
    index = LakeTable.load_or_create(
        spark, os.path.join(dst_root, "index"), _index_schema(id_type),
        pk=["bucket", "vec_id"], version_cols=["ver"], n_buckets=nb,
        properties={"merge_mode": "append"})

    from_v = vecs.fence(job_id, tail=True)
    v2 = src.version
    if from_v >= v2:
        return {"applied": 0, "from": from_v, "to": v2, "skipped": True}

    # fence asymmetry probe: a crash between the index merge (fenced at
    # vi) and the vecs merge (cursor still from_v) leaves postings the
    # vecs table doesn't know about — "ghosts" if the vector moved again
    # before the retry. vi > from_v means exactly that happened.
    vi = index.fence(job_id) or from_v

    refreshed = False
    delta = istate = None
    if from_v > 0:
        try:
            delta = src.latest_changes(from_v, v2).select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
                IS_DELETE)
            if vi > from_v:
                istate = (
                    src.latest_changes(from_v, vi)
                    .filter(~F.col(IS_DELETE))
                    .select(F.col(id_col).alias("vec_id"),
                            _bucket_expr(F.col(vec_col), dim)
                             .alias("interim_bucket")))
        except ValueError:
            # mutation snapshot (purge/update/overwrite) or expired window
            # in (from_v, v2]: incremental reads are impossible — full
            # refresh, the same rule cascade_sync / dedup_sync apply.
            # Without this every later tick re-raises forever and the
            # in-loop pipeline call kills the ingest stream.
            refreshed = True

    if from_v == 0 or refreshed:
        istats, vstats = _full_sync(
            src, vecs, index, id_col, vec_col, dim, refreshed,
            from_v == 0 and not index.manifest["files"], job_id, v2)
    else:
        istats, vstats = _delta_sync(
            vecs, index, delta, istate, dim, job_id, v2)
    index.compact(max_generations=8)
    vecs.compact(max_generations=8)
    return {"applied": int(vstats.rows_written),
            "index_rows_written": int(istats.rows_written),
            "from": from_v, "to": v2, "skipped": False,
            "refreshed": refreshed, "reconciled": istate is not None,
            "duration_s": round(time.time() - t0, 3)}


def _full_sync(src, vecs, index, id_col, vec_col, dim, refreshed, clean,
               job_id, v2):
    """Bootstrap / full refresh, as one Spark plan over the live corpus
    (the upsert delta); a refresh additionally tombstones every indexed
    key no longer in the corpus (via vecs, the identity table). ``clean``:
    a bootstrap into an empty index. Returns the index and vecs merge
    stats."""
    delta = (src.current()
             .select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("v"))
             .withColumn(IS_DELETE, F.lit(False)))
    if refreshed:
        gone = (vecs.current().select("vec_id")
                .join(delta.select("vec_id"), "vec_id", "left_anti")
                .withColumn("v", F.lit(None).cast(VEC_T))
                .withColumn(IS_DELETE, F.lit(True))
                .select("vec_id", "v", IS_DELETE))
        delta = delta.unionByName(gone)
    delta = delta.withColumn(
        "new_bucket",
        F.when(~F.col(IS_DELETE), _bucket_expr(F.col("v"), dim))
    ).persist()

    ver = F.lit(v2).cast("long")
    upserts = (delta.filter(~F.col(IS_DELETE))
               .select(F.col("new_bucket").alias("bucket"), "vec_id",
                       F.col("v").alias("embedding"), ver.alias("ver"),
                       F.lit(False).alias(IS_DELETE)))
    if clean:
        # no old postings to retire — and no old-bucket lookup (it would
        # collect the WHOLE corpus's keys to the driver to prune buckets
        # of a table known to hold nothing)
        rows = upserts
    else:
        # rebuild over a non-empty index (full refresh, or a bootstrap
        # retry after a crash mid-first-tick): retire EVERY live posting
        # the rebuild does not reassert — one O(index) anti-join that
        # also clears any ghost postings, since no incremental window
        # read is available to reconcile them exactly
        rows = upserts.unionByName(
            index.current().select("bucket", "vec_id")
            .join(upserts.select("bucket", "vec_id"),
                  ["bucket", "vec_id"], "left_anti")
            .select("bucket", "vec_id",
                    F.lit(None).cast(VEC_T).alias("embedding"),
                    ver.alias("ver"), F.lit(True).alias(IS_DELETE)))
    istats = index.merge(rows, fence=(job_id, v2))
    vstats = vecs.merge(delta.select(
        "vec_id", F.col("new_bucket").alias("bucket"), ver.alias("ver"),
        F.col(IS_DELETE)), fence=(job_id, v2))   # cursor advance
    delta.unpersist()
    return istats, vstats


def _delta_sync(vecs, index, delta, istate, dim, job_id, v2):
    """The incremental tick over ``delta`` (one row per changed key:
    vec_id, v, _is_delete). The delta is collected once — O(D) rows of
    (id, vector, delete flag, new bucket) — the old buckets come from one
    list-key ``vecs.lookup`` (O(D) rows), and both merge inputs are built
    on the driver from those two collects. ``istate`` (vec_id,
    interim_bucket): the crashed tick's live state, for ghost
    reconciliation; collected too, O(D). Returns the index and vecs merge
    stats."""
    spark = vecs.spark
    rows = delta.select(
        "vec_id", "v", IS_DELETE,
        F.when(~F.col(IS_DELETE), _bucket_expr(F.col("v"), dim))
         .alias("new_bucket")).collect()
    # old bucket of every changed key the index knows: bucket-pruned
    # point fetch, O(D)
    old = {r["vec_id"]: r["bucket"] for r in
           vecs.lookup([(r["vec_id"],) for r in rows])
           .select("vec_id", "bucket").collect()} if rows else {}
    postings = [(r["new_bucket"], r["vec_id"], r["v"], v2, False)
                for r in rows if not r[IS_DELETE]]
    # a delete, or an update whose vector crossed a hyperplane, leaves a
    # stale posting at the OLD bucket — tombstone exactly those
    postings += [(old[r["vec_id"]], r["vec_id"], None, v2, True)
                 for r in rows if r["vec_id"] in old
                 and (r[IS_DELETE] or old[r["vec_id"]] != r["new_bucket"])]
    if istate is not None:
        # ghost reconciliation: the crashed tick wrote postings at the
        # buckets of the vi-state of these keys; recompute that state
        # (O(delta), same changes read) and tombstone any interim bucket
        # that differs from the bucket being asserted now. Every interim
        # key is in delta ((from_v, vi] ⊆ (from_v, v2]), and
        # interim_bucket != new_bucket keeps ghost tombstones PK-disjoint
        # from the upserts (no same-version LWW tie).
        new = {r["vec_id"]: r["new_bucket"] for r in rows}
        postings += [(r["interim_bucket"], r["vec_id"], None, v2, True)
                     for r in istate.collect() if r["vec_id"] in new
                     and new[r["vec_id"]] != r["interim_bucket"]]
    meta = [T.StructField(IS_DELETE, T.BooleanType())]
    istats = index.merge(
        local_frame(spark, postings, T.StructType(index.schema.fields + meta)),
        fence=(job_id, v2))
    vstats = vecs.merge(   # cursor advance
        local_frame(spark, [(r["vec_id"], r["new_bucket"], v2, r[IS_DELETE])
                            for r in rows],
                    T.StructType(vecs.schema.fields + meta)),
        fence=(job_id, v2))
    return istats, vstats


def ann_topk(
    spark: SparkSession,
    dst_root: str,
    queries: DataFrame,
    k: int = TOP_K,
    probes: int = 0,
    dim: int = 64,
) -> DataFrame:
    """Serve top-k cosine neighbors for ``queries`` (columns: query_id,
    qv) off the maintained index: ONE scan pruned by the manifest's
    leading-PK (bucket) zone maps to the probe buckets' files. probes=0 is
    single-bucket LSH; probes=j adds the Hamming-1 ball over the first j
    hyperplanes (multi-probe). Output shape matches
    similarity.lsh_bucketed_topk: (query_id, neighbor_id, cos_sim, rank)."""
    index = LakeTable.load(spark, os.path.join(dst_root, "index"))
    q = queries.withColumn("bucket", _bucket_expr(F.col("qv"), dim))
    if probes:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2 ** j))
              for j in range(min(probes, LSH_BITS))])
        q = q.withColumn("bucket", F.explode(probe_buckets))
    # the query set is small by contract (the reference serves point
    # queries); its bucket set drives the manifest file pruning
    want = {int(r["bucket"]) for r in q.select("bucket").distinct().collect()}

    def _overlaps(entry: dict) -> bool:
        st = (entry.get("stats") or {}).get("bucket")
        if not st:
            return True          # conservative: no stats -> keep
        lo, hi = st
        return any(lo <= b <= hi for b in want)

    cand = (index.read(live_only=True, file_pred=_overlaps)
            .filter(F.col("bucket").isin(*want))
            .select("bucket", F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("nv")))
    scored = (
        F.broadcast(q)
        .join(cand, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", F.round(cosine("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank"))
