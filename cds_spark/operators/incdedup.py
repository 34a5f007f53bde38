"""Incremental near-duplicate maintenance over a CDC-maintained corpus.

At 10^10-document scale you cannot re-MinHash the corpus on every sync
tick: signatures must be maintained O(changed docs). This module extends
the reference's incremental-sync discipline (the cursor-fenced tail loop
of cmd/rtu, mirrored here by ``pipeline.cascade_sync``) to the LLM-data
dedup operators in :mod:`cds_spark.operators.textdedup`: it tails a source
``LakeTable``'s snapshot history via ``changes()`` and keeps two derived
lake tables under one root —

- ``<root>/sigs``  pk=doc_id: the doc's MinHash band keys + a signature
  digest, LWW-versioned by the source snapshot; deletes tombstone.
- ``<root>/pairs`` pk=(doc_a, doc_b): the near-dup discovery log — each
  row carries the Jaccard and the two signature digests it was verified
  at, so :func:`live_pairs` can invalidate pairs whose endpoint has since
  changed or vanished WITHOUT any re-verification scan.

Per increment (``dedup_sync``): the cursor is the sigs table's
``fence.<job_id>`` (read by ``LakeTable.fence(job_id, tail=True)``, the
rule ``cascade_sync`` and ``ann_index_sync`` share). The bootstrap and a
full refresh (the change window is unreadable: a purge/update/overwrite
snapshot, or an expired one) run the BATCH plan over the live corpus:
the corpus is signed once with ``minhash_signatures`` and paired by the
batch operator's own band join and exact verify (``textdedup.lsh_pairs``,
the function ``minhash_lsh_pairs`` calls), so the pairs equal a batch run
by construction; a refresh also tombstones every signed doc that has
left the corpus. An incremental tick runs

1. delta = ``src.latest_changes(cursor, v2)`` (``changes()`` collapsed
   to the latest row per key) materialised ONCE on the driver —
   O(changed docs), never O(corpus). The same pass computes each
   upserted doc's hashed shingle set and, from it, its MinHash signature
   and band keys: the row-level twins of the batch operators'
   expressions (same shingles, hash family, band count and threshold),
   so incremental discovery equals the batch result by construction.
2. Candidates = delta band keys matched against the post-state
   signature view (current sigs minus delta keys, plus the new sigs):
   one scan of the sigs table, filtered by the delta's band keys as
   literals, collects the partner signatures — O(candidates) — and the
   band match runs on the driver. At 10^10 docs the sigs projection is
   ~200 B/doc, a dimension-table scan, which prices this as a periodic
   maintenance tick (minutes cadence), not a per-micro-batch stage.
3. Exact-Jaccard verification fetches ONLY the candidate partners'
   texts, through one list-key ``src.lookup`` (bucket-pruned point
   reads, O(candidates)), and scores pairs with the batch operator's
   Jaccard expression.
4. ``pairs.merge(..., fence=(job_id, v2))`` then
   ``sigs.merge(..., fence=(job_id, v2))``, both from inputs built on
   the driver out of the three collects above: the cursor is the sigs
   table's fence property, advanced atomically with the signature
   upsert. A crash at ANY point replays idempotently: the pairs merge
   is fence-skipped, the candidate set recomputes identically because
   the sigs table is still pre-update.

Stale pair rows (an endpoint re-signed since discovery) stay in the
append-only log and are filtered by :func:`live_pairs`; they are bounded
by the corpus update rate and can be physically dropped by re-creating
the pairs table from live_pairs() during scheduled maintenance.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cds_spark.lake.table import IS_DELETE, LakeTable, local_frame
from cds_spark.operators.textdedup import (
    JACCARD_THRESHOLD,
    N_BANDS,
    _bands_expr,
    jaccard_expr,
    lsh_pairs,
    minhash_exprs,
    minhash_signatures,
    shingle_set_expr,
    shingle_sets,
)

#: composite-PK identity separator (ASCII unit separator — cannot occur in
#: the reference corpus's path/repo strings; collisions would only merge
#: two docs' signatures, never corrupt the source table)
UNIT_SEP = "\x1f"


def _sig_schema(id_type: T.DataType, pk_fields) -> T.StructType:
    """Doc identity inherits a single source PK's type; composite PKs use
    a string concat identity. The source PK columns ride along (prefixed
    ``k_``) so candidate partners can be point-fetched through the source
    table's bucket-pruned lookup() without re-deriving keys from the
    identity string."""
    return T.StructType([
        T.StructField("doc_id", id_type, False),
        *[T.StructField(f"k_{f.name}", f.dataType, True) for f in pk_fields],
        T.StructField("sig_md5", T.StringType(), True),
        T.StructField("bands", T.ArrayType(T.StringType()), True),
        T.StructField("ver", T.LongType(), True),
    ])


def _pair_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("doc_a", id_type, False),
        T.StructField("doc_b", id_type, False),
        T.StructField("jaccard", T.DoubleType(), True),
        T.StructField("sig_a", T.StringType(), True),
        T.StructField("sig_b", T.StringType(), True),
        T.StructField("ver", T.LongType(), True),
    ])


def _sig_cols() -> list:
    """(sig_md5, bands) over the ``mh`` signature column: the same MinHash
    family / banding as the batch operators — incremental and batch
    discovery MUST agree key-for-key (the equivalence the tests pin)."""
    digest = F.expr("md5(concat_ws(',', CAST(mh AS ARRAY<STRING>)))")
    return [digest.alias("sig_md5"), _bands_expr().alias("bands")]


def _verify_schema(id_type: T.DataType) -> T.StructType:
    """A candidate pair with both hashed shingle sets and both digests."""
    return T.StructType([
        T.StructField("doc_a", id_type, False),
        T.StructField("doc_b", id_type, False),
        T.StructField("sa", T.ArrayType(T.LongType()), True),
        T.StructField("sb", T.ArrayType(T.LongType()), True),
        T.StructField("sig_a", T.StringType(), True),
        T.StructField("sig_b", T.StringType(), True),
    ])


def _validated_pairs(sigs: LakeTable, pairs: LakeTable) -> DataFrame:
    """Discovery rows whose BOTH endpoint signature digests still match the
    live signature table — the single definition of pair validity, shared
    by serving (:func:`live_pairs`) and maintenance
    (:func:`prune_stale_pairs`) so the rule can never diverge between what
    serving considers live and what maintenance physically keeps. Carries
    every pairs column; callers project."""
    s = sigs.current().select("doc_id", "sig_md5")
    return (
        pairs.current()
        .join(s.select(F.col("doc_id").alias("doc_a"),
                       F.col("sig_md5").alias("_cur_a")), "doc_a")
        .join(s.select(F.col("doc_id").alias("doc_b"),
                       F.col("sig_md5").alias("_cur_b")), "doc_b")
        .filter((F.col("sig_a") == F.col("_cur_a"))
                & (F.col("sig_b") == F.col("_cur_b")))
    )


def live_pairs(sigs: LakeTable, pairs: LakeTable) -> DataFrame:
    """Currently-valid near-dup pairs: discovery rows whose BOTH endpoint
    signature digests still match the live signature table. An updated doc
    changes its digest (invalidating old pairs until re-discovery at the
    update increment); a deleted doc's tombstone drops out of current()
    and takes its pairs with it. No text is re-read."""
    return _validated_pairs(sigs, pairs).select("doc_a", "doc_b", "jaccard")


def prune_stale_pairs(spark: SparkSession, dst_root: str) -> dict:
    """Physically drop discovery rows invalidated by later updates or
    deletes: rewrite the pairs table to exactly the live-valid rows (their
    stored digests intact). The discovery-log analog of compact() — stale
    rows are bounded by the corpus update rate between prunes, and
    :func:`live_pairs` output is identical before and after (test-pinned).
    O(pairs table) scan; a scheduled maintenance call, never required for
    correctness. Safe against concurrent ticks via the manifest CAS."""
    sigs = LakeTable.load(spark, os.path.join(dst_root, "sigs"))
    pairs = LakeTable.load(spark, os.path.join(dst_root, "pairs"))
    before = pairs.current().count()
    live = _validated_pairs(sigs, pairs).select(
        *[f.name for f in pairs.schema.fields])
    pairs.overwrite(live)
    after = LakeTable.load(spark, pairs.root).current().count()
    return {"pairs_before": before, "pairs_after": after,
            "pruned": before - after}


def dedup_sync(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    job_id: str,
    text_col: str = "text",
    n_buckets: int | None = None,
) -> dict:
    """One incremental dedup tick. Creates ``<dst_root>/sigs`` and
    ``<dst_root>/pairs`` on first run (bootstrapping from the source's
    full live state); afterwards applies O(delta) work per call. Returns
    counts. See module docstring for the crash/idempotence argument."""
    t0 = time.time()
    src = LakeTable.load(spark, src_root)
    pk = list(src.pk)
    pk_fields = [next(f for f in src.schema.fields if f.name == c) for c in pk]
    if len(pk) == 1:
        id_type = pk_fields[0].dataType
        identity = F.col(pk[0])
    else:
        # composite identity: deterministic string concat (repo::path shape)
        id_type = T.StringType()
        identity = F.concat_ws(
            UNIT_SEP, *[F.col(c).cast("string") for c in pk])
    kcols = [f"k_{c}" for c in pk]

    nb = n_buckets or src.n_buckets
    # merge-on-read append, like the main CDC ingest: a tick APPENDS
    # O(batch) rows instead of copy-on-write-rewriting every touched
    # bucket of the (growing) derived tables; reads apply the LWW window
    # and the generation-bounded compact below amortizes it
    sigs = LakeTable.load_or_create(
        spark, os.path.join(dst_root, "sigs"), _sig_schema(id_type, pk_fields),
        pk=["doc_id"], version_cols=["ver"], n_buckets=nb,
        properties={"merge_mode": "append"})
    pairs = LakeTable.load_or_create(
        spark, os.path.join(dst_root, "pairs"), _pair_schema(id_type),
        pk=["doc_a", "doc_b"], version_cols=["ver"], n_buckets=nb,
        properties={"merge_mode": "append"})

    from_v = sigs.fence(job_id, tail=True)
    v2 = src.version
    if from_v >= v2:
        return {"applied": 0, "from": from_v, "to": v2, "skipped": True}

    key_sel = [F.col(c).alias(f"k_{c}") for c in pk]
    refreshed = False
    delta = None
    if from_v > 0:
        try:
            delta = src.latest_changes(from_v, v2).select(
                identity.alias("doc_id"), *key_sel, IS_DELETE,
                F.col(text_col).alias("text"))
        except ValueError:
            # mutation snapshot (purge/update/overwrite) or expired window
            # in (from_v, v2]: incremental reads are impossible — fall back
            # to a full refresh, the same rule cascade_sync applies.
            # Without this, every later tick re-raises forever and the
            # in-loop pipeline call kills the ingest stream.
            refreshed = True
    if delta is None:
        pstats, sstats = _full_sync(
            src, sigs, pairs, identity, key_sel, kcols, text_col, refreshed,
            job_id, v2)
    else:
        pstats, sstats = _delta_sync(
            src, sigs, pairs, delta, identity, id_type, kcols, text_col,
            job_id, v2)
    # bound read amplification: rewrite only buckets that accumulated
    # generations (O(dirty buckets), a no-op manifest scan otherwise)
    sigs.compact(max_generations=8)
    pairs.compact(max_generations=8)
    return {
        "applied": int(sstats.rows_written), "pairs_written": int(pstats.rows_written),
        "from": from_v, "to": v2, "skipped": False, "refreshed": refreshed,
        "duration_s": round(time.time() - t0, 3),
    }


def _full_sync(src, sigs, pairs, identity, key_sel, kcols, text_col,
               refreshed, job_id, v2):
    """Bootstrap / full refresh: the batch plan over the live corpus. The
    corpus is signed once (``minhash_signatures``) and paired by the
    batch operator's own band join and exact verify (``lsh_pairs``), so
    the pairs equal ``minhash_lsh_pairs`` on the v2 corpus by
    construction. Live docs with no shingles (text shorter than the
    shingle width, or NULL) tombstone any old signature; a refresh also
    tombstones every signed doc that has left the corpus. Returns the
    pairs and sigs merge stats."""
    live = src.current().select(identity.alias("doc_id"), *key_sel,
                                F.col(text_col).alias("text")).persist()
    docs = live.select("doc_id", "text")
    new_sigs = (minhash_signatures(docs).select("*", *_sig_cols())
                .join(live.select("doc_id", *kcols), "doc_id").persist())
    digest = new_sigs.select("doc_id", "sig_md5")
    ver = F.lit(v2).cast("long").alias("ver")
    # both verify sides read the shingle sets: one shingling pass, not two
    ssets = shingle_sets(docs).persist()
    new_pairs = (
        lsh_pairs(new_sigs, ssets)
        .join(digest.toDF("doc_a", "sig_a"), "doc_a")
        .join(digest.toDF("doc_b", "sig_b"), "doc_b")
        .select("doc_a", "doc_b", "jaccard", "sig_a", "sig_b", ver)
    )
    pstats = pairs.merge(new_pairs, fence=(job_id, v2))

    # leaving a stale digest live would keep the doc's old pairs valid
    # forever and diverge from a batch run on the v2 corpus
    retired = live.select("doc_id", *kcols)
    if refreshed:
        retired = retired.unionByName(
            sigs.current().select("doc_id", *kcols)
            .join(live.select("doc_id"), "doc_id", "left_anti"))
    sig_rows = (
        new_sigs.select("doc_id", *kcols, "sig_md5", "bands", ver,
                        F.lit(False).alias(IS_DELETE))
        .unionByName(
            retired.join(new_sigs.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", *kcols,
                    F.lit(None).cast("string").alias("sig_md5"),
                    F.lit(None).cast(T.ArrayType(T.StringType())).alias("bands"),
                    ver, F.lit(True).alias(IS_DELETE)))
    )
    # the cursor advance: fence.{job_id}=v2 commits atomically with this merge
    sstats = sigs.merge(sig_rows, fence=(job_id, v2))
    ssets.unpersist()
    new_sigs.unpersist()
    live.unpersist()
    return pstats, sstats


def _delta_sync(src, sigs, pairs, delta, identity, id_type, kcols, text_col,
                job_id, v2):
    """The incremental tick over ``delta`` (one row per changed doc:
    doc_id, k_*, _is_delete, text). Every piece of its lineage runs once:
    the delta, the partner signatures and the partner texts are each
    collected once, and both merge inputs are built on the driver from
    those collects. Returns the pairs and sigs merge stats."""
    spark = src.spark
    # (1) the delta, with each doc's hashed shingle set and signature from
    # one shingling pass: O(changed docs) rows, shingle sets capped at
    # PREFIX shingles each
    rows = (delta
            .select("doc_id", *kcols, IS_DELETE,
                    shingle_set_expr(F.col("text")).alias("sset"))
            .select("*", *minhash_exprs(F.col("sset")))
            .select("doc_id", *kcols, IS_DELETE, "sset", *_sig_cols())
            .collect())
    # a delete, or an upsert whose new text yields NO shingles (shorter
    # than the shingle width, or NULL), TOMBSTONES the doc's signature:
    # leaving a stale digest live would keep its old pairs valid forever
    # and diverge from a batch run on the v2 corpus (which drops the doc)
    signed = {r["doc_id"]: r for r in rows
              if not r[IS_DELETE] and r["sset"] is not None}

    # (2) partner signatures: live sigs outside the delta sharing a band
    # key with a new signature — O(candidates) rows
    partners = []
    if signed:
        # band keys are md5 hex digests, safe to inline as SQL text: the
        # whole key set crosses to the JVM in one command, not one per key
        hit = " OR ".join(
            f"bands[{j}] IN ("
            + ", ".join(f"'{k}'" for k in sorted({r["bands"][j]
                                                  for r in signed.values()}))
            + ")" for j in range(N_BANDS))
        partners = (sigs.current()
                    .filter(~F.col("doc_id").isin(*[r["doc_id"] for r in rows])
                            & F.expr(hit))
                    .select("doc_id", *kcols, "sig_md5", "bands")
                    .collect())

    # candidates against the post-state signature view (current sigs
    # minus every delta key, plus the new signatures) — exactly what the
    # sigs table holds after the merge below, so candidate generation
    # matches a batch run on v2 state
    post = {r["doc_id"]: r for r in partners}
    post.update(signed)
    by_band: dict = {}
    for d, r in post.items():
        for j, key in enumerate(r["bands"]):
            by_band.setdefault((j, key), []).append(d)
    cand = set()
    for d, r in signed.items():
        for j, key in enumerate(r["bands"]):
            for p in by_band[(j, key)]:
                if p != d:
                    cand.add((d, p) if d < p else (p, d))

    # (3) exact verify on current texts: delta docs carry their shingle
    # sets; partners are point-fetched bucket-pruned (their source PK
    # tuples ride in the signature rows, so no key parsing)
    ssets = {d: r["sset"] for d, r in signed.items()}
    need = sorted({d for pair in cand for d in pair} - ssets.keys())
    if need:
        fetched = (src.lookup([tuple(post[d][k] for k in kcols) for d in need])
                   .select(identity.alias("doc_id"),
                           shingle_set_expr(F.col(text_col)).alias("sset"))
                   .collect())
        ssets.update((r["doc_id"], r["sset"]) for r in fetched
                     if r["sset"] is not None)
    verify = [(a, b, ssets[a], ssets[b], post[a]["sig_md5"], post[b]["sig_md5"])
              for a, b in sorted(cand) if a in ssets and b in ssets]
    new_pairs = (
        local_frame(spark, verify, _verify_schema(id_type))
        .withColumn("jaccard", jaccard_expr("sa", "sb"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard", "sig_a", "sig_b",
                F.lit(v2).cast("long").alias("ver"))
    )
    pstats = pairs.merge(new_pairs, fence=(job_id, v2))

    sig_rows = [
        (r["doc_id"], *[r[k] for k in kcols],
         *((r["sig_md5"], r["bands"], v2, False) if r["doc_id"] in signed
           else (None, None, v2, True)))
        for r in rows
    ]
    sig_schema = T.StructType(
        sigs.schema.fields + [T.StructField(IS_DELETE, T.BooleanType())])
    # the cursor advance: fence.{job_id}=v2 commits atomically with this merge
    sstats = sigs.merge(local_frame(spark, sig_rows, sig_schema),
                        fence=(job_id, v2))
    return pstats, sstats
