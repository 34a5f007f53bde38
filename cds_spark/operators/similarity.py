"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline; cross join pruned to
  the query set, dot/norm fully JVM (zip_with + aggregate — no Python).
- LSH-bucketed ANN: random-hyperplane sign buckets; candidates only within
  the query's bucket — the scale path (bucket join instead of cross join).
  Hyperplane components derive from the same md5 stable hash as everything
  else, so the bucketing is reproducible anywhere (incl. the SQL oracle).
- embedding-cosine near-dup pairs: all pairs >= threshold (exact at oracle
  scale; at 100TB the LSH bucketing prunes the pair space first).

Cosine determinism across engines: both Spark's aggregate() and DuckDB's
list_cosine_similarity reduce left-to-right over the same doubles, and all
outputs are rounded to 6 decimals before compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cds_spark.functions import cosine
from cds_spark.operators.textdedup import _array_sql, _guard_quadratic, _spread

N_QUERIES = 5  # vec_id < N_QUERIES are the query vectors
TOP_K = 10
# random synthetic embeddings top out ~0.5 pairwise cosine; 0.42 yields a
# small non-trivial pair set at oracle scale (real near-dup data would use
# ~0.95 — the threshold is a parameter, the operator is what's under test)
NEAR_DUP_COS = 0.42

LSH_BITS = 8  # hyperplane count -> 2^8 buckets
_HP_RANGE = 2001  # component in [-1000, 1000] / 1000


def _hp_component(j: int, k: int) -> float:
    """Deterministic hyperplane component r[j][k] — same formula is inlined
    into the SQL oracle."""
    import hashlib

    h = int(hashlib.md5(f"hp-{j}-{k}".encode()).hexdigest()[:15], 16)
    return ((h % _HP_RANGE) - 1000) / 1000.0


def hyperplanes(dim: int, n_bits: int = LSH_BITS) -> list[list[float]]:
    return [[_hp_component(j, k) for k in range(dim)] for j in range(n_bits)]


def brute_force_topk(emb: DataFrame, k: int = TOP_K, n_queries: int = N_QUERIES) -> DataFrame:
    """Exact cosine top-k for each query vector. Query side is tiny ->
    broadcast; one pass over the corpus per batch of queries."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = _spread(emb).select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


BRUTE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, nv), 6) AS cos_sim
  FROM q JOIN c ON query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def near_dup_pairs(emb: DataFrame, threshold: float = NEAR_DUP_COS, force: bool = False) -> DataFrame:
    """All vector pairs with cosine >= threshold (embedding near-dup).

    O(n²) BY CONSTRUCTION — the correct-by-definition small-scale baseline
    (the exact-Jaccard analog of ngram_jaccard_pairs). NEVER a production
    path at scale: use :func:`lsh_near_dup_pairs`, whose banded candidate
    generation is linear in corpus size. Refuses inputs above
    ORACLE_PAIR_CAP rows unless ``force``."""
    _guard_quadratic(emb, "near_dup_pairs", "lsh_near_dup_pairs", force)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(cosine("va", "vb"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


NEAR_DUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= {NEAR_DUP_COS}
"""


# banded hyperplane scheme for PAIR mining (vs. the single-band bucket used
# for query top-k): a pair is a candidate if ANY band of sign bits matches.
# With p = P(two vectors agree on one hyperplane) = 1 - theta/pi, candidate
# probability = 1 - (1 - p^BITS_PER_BAND)^PAIR_BANDS — at the 0.42 cosine
# threshold (p ~ 0.64) that is ~0.985, vs ~0.03 for a single 8-bit band.
PAIR_BITS = 16
PAIR_BANDS = 8
BITS_PER_BAND = PAIR_BITS // PAIR_BANDS


def _dot_expr(vec: F.Column, hp: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(vec, hp, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sign_code(vec: F.Column, planes: F.Column) -> F.Column:
    """sum_j 2^j * [vec . planes[j] > 0] as a long: one dot product per
    plane (the left fold of :func:`_dot_expr`), the sign bits folded
    high bit first. A NULL vector, or one with a NULL component or fewer
    components than a plane, has NULL dot products, so every bit is 0."""
    bits = F.transform(
        planes, lambda hp: F.when(_dot_expr(vec, hp) > 0, 1).otherwise(0))
    return F.aggregate(F.reverse(bits), F.lit(0).cast("long"),
                       lambda acc, b: acc * 2 + b)


def _band_array_expr(vec: F.Column, dim: int) -> F.Column:
    """array<int> of PAIR_BANDS band keys (BITS_PER_BAND sign bits each)."""
    hps = hyperplanes(dim, PAIR_BITS)
    bands = [hps[b * BITS_PER_BAND:(b + 1) * BITS_PER_BAND]
             for b in range(PAIR_BANDS)]
    return F.transform(F.expr(_array_sql(bands)),
                       lambda planes: _sign_code(vec, planes)).cast("array<int>")


def lsh_near_dup_pairs(emb: DataFrame, threshold: float = NEAR_DUP_COS, dim: int = 64) -> DataFrame:
    """Embedding near-dup pairs at scale: banded hyperplane-LSH candidate
    generation + exact cosine verify — the minhash-LSH shape for vectors.

    NO all-pairs join anywhere: signatures are one corpus pass; candidates
    come from a shuffle join on (band_id, band_key) (linear in corpus +
    bucket collisions); only candidate pairs pay the exact cosine. Recall
    <1 by design (~0.985 at the default threshold — add bands to raise it);
    same output shape as :func:`near_dup_pairs`, which remains the exact
    small-scale cross-check (see test_lsh_near_dup_subset_of_exact).

    100TB notes: hot buckets (near-constant embeddings) skew the band join —
    AQE skew-join splitting is on by default (session.py), and PAIR_BANDS /
    BITS_PER_BAND trade recall vs bucket size. The pair-distinct and the
    verify joins shuffle by vec_id — bounded by candidate volume, not n²."""
    sig = _spread(emb).select(
        "vec_id", _band_array_expr(F.col("embedding"), dim).alias("bands")
    )
    ex = sig.select("vec_id", F.posexplode("bands").alias("band_id", "band_key"))
    a = ex.alias("a")
    b = ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()  # a pair may collide in several bands — verify once
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_sim", F.round(cosine("va", "vb"), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def _band_key_sql(vec_expr: str, dim: int, band: int) -> str:
    hps = hyperplanes(dim, PAIR_BITS)
    terms = []
    for i in range(BITS_PER_BAND):
        j = band * BITS_PER_BAND + i
        arr = "[" + ",".join(f"{x!r}" for x in hps[j]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {arr}) > 0 THEN {2**i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_near_dup_pairs_sql(dim: int = 64) -> str:
    bands = ", ".join(_band_key_sql("embedding", dim, b) for b in range(PAIR_BANDS))
    return f"""
WITH sig AS (SELECT vec_id, [{bands}] AS bands FROM embeddings),
ex AS (SELECT vec_id, t.range AS band_id, bands[t.range + 1] AS band_key
       FROM sig, range(0, {PAIR_BANDS}) t),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM ex a JOIN ex b
           ON a.band_id = b.band_id AND a.band_key = b.band_key
          AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos_sim
FROM cand
JOIN embeddings ea ON ea.vec_id = vec_a
JOIN embeddings eb ON eb.vec_id = vec_b
WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= {NEAR_DUP_COS}
"""


def _bucket_expr(vec: F.Column, dim: int) -> F.Column:
    """Random-hyperplane LSH bucket id (sum of sign bits). One dot-product
    definition (:func:`_dot_expr`) — the fold must stay bit-identical with
    the band/bucket exprs and the SQL oracles for cross-engine sign parity,
    so there is exactly one copy to keep right."""
    return _sign_code(vec, F.expr(_array_sql(hyperplanes(dim))))


def lsh_bucketed_topk(
    emb: DataFrame, dim: int = 64, k: int = TOP_K, n_queries: int = N_QUERIES
) -> DataFrame:
    """ANN: candidates restricted to the query's hyperplane-sign bucket,
    then exact cosine + rank within bucket. Recall < 1 by design (scale
    path; multi-probe = add neighboring buckets). Same output shape as
    brute_force_topk."""
    with_bucket = _spread(emb).withColumn("bucket", _bucket_expr(F.col("embedding"), dim))
    q = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(c, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_bucketed_topk_multiprobe(
    emb: DataFrame,
    dim: int = 64,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    probes: int = LSH_BITS,
) -> DataFrame:
    """Multi-probe ANN: each query searches its own hyperplane-sign bucket
    PLUS the ``probes`` buckets at Hamming distance 1 (one sign bit
    flipped). The standard recall lever for LSH (Lv et al., VLDB'07
    multi-probe LSH): a near neighbor that lands just across one
    hyperplane is recovered without adding hash tables. probes=LSH_BITS
    covers the full Hamming-1 ball; candidate volume grows ~(probes+1)x
    while staying bucket-bounded — still no cartesian, still broadcast
    query side.

    At 100 TB: identical plan shape to lsh_bucketed_topk — the probe
    expansion multiplies only the (tiny, broadcast) query side; the
    corpus side is scanned once and equi-joined on the bucket id."""
    with_bucket = _spread(emb).withColumn(
        "bucket", _bucket_expr(F.col("embedding"), dim)
    )
    q = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "bucket"
    )
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(2**j)) for j in range(probes)],
    )
    q_probe = q.withColumn("bucket", F.explode(probe_buckets))
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"), "bucket"
    )
    scored = (
        F.broadcast(q_probe)
        .join(c, ["bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a neighbor can surface via several probes; qv/nv are functionally
        # dependent on the ids so the kept row is value-identical
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos_sim", F.round(cosine("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _bucket_sql(vec_expr: str, dim: int) -> str:
    hps = hyperplanes(dim)
    terms = []
    for j in range(LSH_BITS):
        arr = "[" + ",".join(f"{x!r}" for x in hps[j]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {arr}) > 0 THEN {2**j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def lsh_bucketed_topk_multiprobe_sql(dim: int = 64, probes: int = LSH_BITS) -> str:
    b = _bucket_sql("embedding", dim)
    return f"""
WITH e AS (SELECT vec_id, embedding, {b} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
qp AS (SELECT query_id, qv,
              CASE WHEN t.range = 0 THEN bucket
                   ELSE xor(bucket, 1 << (t.range - 1)) END AS bucket
       FROM q, range(0, {probes + 1}) t),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv, bucket FROM e),
cand AS (SELECT DISTINCT query_id, neighbor_id
         FROM qp JOIN c USING (bucket) WHERE query_id <> neighbor_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(q.qv, c2.nv), 6) AS cos_sim
  FROM cand
  JOIN q ON q.query_id = cand.query_id
  JOIN (SELECT DISTINCT neighbor_id, nv FROM c) c2 ON c2.neighbor_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def lsh_bucketed_topk_sql(dim: int = 64) -> str:
    b = _bucket_sql("embedding", dim)
    return f"""
WITH e AS (SELECT vec_id, embedding, {b} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket FROM e WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv, bucket FROM e),
scored AS (
  SELECT query_id, neighbor_id, round(list_cosine_similarity(qv, nv), 6) AS cos_sim
  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-Flat ANN: coarse-quantizer partitioning (the FAISS IVF shape)
# ---------------------------------------------------------------------------
# The second classic ANN scale path next to hyperplane LSH: partition the
# corpus into M cells around centroids, search only the nprobe cells nearest
# each query. Centroids here are DATA-POINT SEEDS chosen deterministically
# (the M corpus vectors with the smallest cross-engine md5 hash of vec_id) —
# "k-means with zero Lloyd iterations". A real deployment would refine them
# with a few iterations; seeding is the part that must be deterministic for
# the DuckDB oracle, and every downstream mechanic (assignment, probe
# routing, candidate join, rank) is identical with refined centroids.

IVF_M = 16  # cells
IVF_NPROBE = 2  # cells searched per query


def _ivf_centroids(emb: DataFrame, m: int = IVF_M) -> list[tuple[int, list[float]]]:
    """The m corpus vectors with the smallest (stable md5 hash, vec_id) —
    a deterministic uniform sample (hash-ordered, so unbiased by id order).
    Driver-bounded: collects exactly m rows."""
    from cds_spark.operators.textdedup import _stable_hash_expr

    rows = (
        emb.withColumn("_h", _stable_hash_expr(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(m)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def _ivf_best_structs(vec, cents: list[tuple[int, list[float]]]):
    """array<struct(cos_sim, -centroid_id)> — array_max over it = argmax by
    (score, then SMALLEST centroid id), matching the oracle's
    ORDER BY cs DESC, centroid_id ASC. Scores round to 6 decimals before
    compare (the file-wide cross-engine convention)."""
    structs = []
    for cid, cv in cents:
        score = F.round(cosine(vec, F.expr(_array_sql(cv))), 6)
        structs.append(F.struct(score.alias("s"), F.lit(-cid).cast("long").alias("nc")))
    return F.array(*structs)


def ivf_topk(
    emb: DataFrame,
    k: int = TOP_K,
    n_queries: int = N_QUERIES,
    m: int = IVF_M,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF-Flat ANN: assign every corpus vector to its nearest centroid
    (cell), search each query's ``nprobe`` nearest cells with exact cosine.

    100 TB shape: centroid assignment is a PURE MAP-SIDE expression (the M
    centroid vectors inlined as literals — no crossJoin, no shuffle); the
    only shuffles are the broadcast-query probe join on ``centroid_id`` and
    the final per-query rank. Candidate volume ~ corpus * nprobe / m.
    Recall < 1 by design: a true neighbor assigned to an unprobed cell is
    missed — raise nprobe (or refine centroids) to trade cost for recall;
    with m=1 the result equals brute_force_topk exactly (test-asserted)."""
    cents = _ivf_centroids(emb, m)
    spread = _spread(emb)
    corpus = spread.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
        (-F.array_max(_ivf_best_structs(F.col("embedding"), cents)).getField("nc"))
        .cast("long")
        .alias("centroid_id"),
    )
    # nprobe nearest cells per query: sort the per-centroid structs desc by
    # (score, -cid) and take the head — same tie rule as the assignment
    probe_arr = F.slice(
        F.reverse(F.array_sort(_ivf_best_structs(F.col("embedding"), cents))),
        1,
        nprobe,
    )
    q = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(probe_arr).alias("_probe"),
        )
        .select(
            "query_id", "qv", (-F.col("_probe.nc")).cast("long").alias("centroid_id")
        )
    )
    # a neighbor lives in exactly one cell and each query probes distinct
    # cells, so a (query, neighbor) pair surfaces at most once — no dedup
    scored = (
        F.broadcast(q)
        .join(corpus, ["centroid_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine("qv", "nv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_topk_sql(m: int = IVF_M, nprobe: int = IVF_NPROBE) -> str:
    from cds_spark.operators.textdedup import _stable_hash_sql

    h = _stable_hash_sql("CAST(vec_id AS VARCHAR)")
    return f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY {h}, vec_id LIMIT {m}
),
scored_assign AS (
  SELECT e.vec_id, c.centroid_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS cs
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_assign) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_assign WHERE vec_id < {N_QUERIES}) WHERE rn <= {nprobe}
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 6) AS cos_sim
  FROM qprobe q JOIN assign a USING (centroid_id)
  JOIN embeddings qe ON qe.vec_id = q.query_id
  JOIN embeddings ne ON ne.vec_id = a.vec_id
  WHERE q.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""
