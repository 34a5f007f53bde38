"""Near-duplicate detection for training-data pipelines.

Four families over the ``documents`` table, all with deterministic,
cross-engine-reproducible hashing (md5-based ``stable_long_hash``) so each
Spark implementation has an exact ANSI-SQL oracle:

- exact dedup        hash-groupBy (see queries.q_dedup_exact)
- n-gram Jaccard     exact pairwise on char-shingle sets — the small-scale
                     oracle; O(n²) pairs, bounded use only
- MinHash + LSH      shingle -> 32 minhashes -> 8 banded buckets ->
                     candidate pairs by bucket join -> exact-Jaccard verify.
                     THE scale path: candidate generation is a shuffle on
                     band keys (linear), never an n² cross join.
- SimHash            32-bit majority signature over token hashes; near pairs
                     via 8-bit block banding + hamming distance verify.

Scale notes (100TB): shingling multiplies data ~PREFIX bytes/doc; the
explode→groupBy(doc) pipelines are all single-shuffle with map-side combine.
LSH band join distributes by band key — hot buckets (boilerplate docs) are
the skew risk; AQE skew-join splitting handles it (session default), and
band keys can be salted by doc_id ranges if needed.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# shared constants — the SQL oracles are built from these same values,
# guaranteeing Spark/DuckDB parity
SHINGLE_K = 5
PREFIX = 256  # shingle only the first PREFIX chars (bounds cost per doc)
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne); a*h+b stays < 2^62
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.2

_rng = random.Random(20240816)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(N_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(N_HASHES)]

SIMHASH_BITS = 32

#: hard cap for the O(n²)-by-construction exact baselines. They exist to
#: oracle-check the LSH scale paths at small scale; above this many rows the
#: pair space (cap²/2 ≈ 2·10⁸) stops being a "small-scale baseline" and the
#: guard refuses rather than silently launching a cartesian-shaped job.
ORACLE_PAIR_CAP = 20_000


def _guard_quadratic(df: DataFrame, what: str, scale_alt: str, force: bool) -> None:
    """Refuse to run an all-pairs baseline on more than ORACLE_PAIR_CAP rows.

    One cheap count() against an O(n²) join is free insurance: it makes the
    exact baselines impossible to adopt as a production path by accident
    (VERDICT r1 scale-killer #4). ``force=True`` is the explicit escape
    hatch for deliberate offline verification runs."""
    if force:
        return
    n = df.count()
    if n > ORACLE_PAIR_CAP:
        raise ValueError(
            f"{what} is O(n²) by construction and capped at "
            f"{ORACLE_PAIR_CAP} rows (got {n}). Use {scale_alt} at scale, "
            f"or pass force=True for a deliberate offline verification run."
        )


def _spread(df: DataFrame, factor: int = 1, force: bool = False) -> DataFrame:
    """Ensure heavy per-row compute doesn't inherit a 1-task layout.

    A small corpus arrives as a single parquet file -> a single scan
    partition -> every downstream explode/agg in that stage runs on ONE
    core (observed: 44s single-task minhash verify at sf0.1). Repartition
    up to cluster parallelism when the input has fewer partitions; no-op
    on an already-parallel scan (the 100TB case: thousands of files).

    The decision is read from the plan, never by running it. A plan with
    an exchange (a shuffle or a broadcast) is repartitioned unprobed, as
    under ``force``: asking it for its partition count runs every upstream
    shuffle stage under AQE, and the pre-AQE count lies anyway — AQE
    coalesces small shuffles to ~1 task at runtime, so an explicit user
    repartition (which AQE respects and never coalesces) is the only
    reliable lever. Exchange-free plans (file scans, cached scans) report
    their split count without a job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if not force:
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "Exchange" not in plan and df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
    return df.repartition(target)


def _stable_hash_expr(col: F.Column) -> F.Column:
    """First 15 hex chars of md5 as non-negative long — bit-identical to
    DuckDB's CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _stable_hash_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def _shingle_array(text: F.Column) -> F.Column:
    """Distinct k-char shingles of lower(prefix(text)), as one array: the
    single shingling expression of the batch operators and the incremental
    tick (JVM-only: sequence+transform+array_distinct)."""
    t = F.lower(F.substring(text, 1, PREFIX))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (SHINGLE_K - 1), F.lit(0))),
            lambda i: t.substr(i, F.lit(SHINGLE_K)),
        )
    )


def _shingle_hash(s: F.Column) -> F.Column:
    return F.pmod(_stable_hash_expr(s), F.lit(MINHASH_P))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) — distinct k-char shingles of lower(prefix(text))."""
    return (
        _spread(docs.filter(F.length(text_col) >= SHINGLE_K))
        .select(F.col(id_col).alias("doc_id"),
                F.explode(_shingle_array(F.col(text_col))).alias("s"))
    )


def shingle_set_expr(text: F.Column) -> F.Column:
    """One row's hashed shingle set: the row-level twin of
    :func:`shingle_sets` (same shingles, same hash, same set), for inputs
    small enough to need no shuffle. NULL for a text shorter than
    SHINGLE_K, which :func:`shingles` drops."""
    return F.when(
        F.length(text) >= SHINGLE_K,
        F.array_distinct(F.transform(_shingle_array(text), _shingle_hash)),
    )


def _array_sql(x) -> str:
    """SQL text of a constant (nested) list of ints or doubles, so the
    vector reaches the JVM as ONE ``F.expr`` command: ``F.array(F.lit(x),
    ...)`` (or ``F.lit`` of a list) costs one py4j command per element.
    Ints become bigint literals; ``repr`` round-trips each double exactly
    and the ``D`` suffix keeps it a double, not a decimal."""
    if isinstance(x, list):
        return "array(" + ", ".join(_array_sql(v) for v in x) + ")"
    return f"{x}L" if isinstance(x, int) else f"{x!r}D"


def minhash_exprs(sset: F.Column) -> list[F.Column]:
    """The signature column ``mh`` (array<bigint>, N_HASHES minima) of one
    row's hashed shingle set: the row-level twin of
    :func:`minhash_signatures` (the same minima over the same hashes),
    the universal hashes zipped from one MINHASH_A and one MINHASH_B
    literal. NULL minima for a NULL set."""
    return [F.zip_with(
        F.expr(_array_sql(MINHASH_A)), F.expr(_array_sql(MINHASH_B)),
        lambda a, b: F.array_min(F.transform(
            sset, lambda h: F.pmod(a * h + b, F.lit(MINHASH_P)))),
    ).alias("mh")]


_SHINGLES_SQL = f"""
  SELECT doc_id,
         unnest(list_distinct([substr(lower(substr(text, 1, {PREFIX})), i, {SHINGLE_K})
                               for i in generate_series(1, len(lower(substr(text, 1, {PREFIX}))) - {SHINGLE_K - 1})])) AS s
  FROM documents WHERE len(text) >= {SHINGLE_K}
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (small-scale oracle path)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, force: bool = False) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, via pairwise
    array_intersect on collected shingle sets. O(n²) by construction —
    correct-by-definition baseline; use minhash_lsh_pairs at scale.
    Refuses inputs above ORACLE_PAIR_CAP rows unless ``force``."""
    _guard_quadratic(docs, "ngram_jaccard_pairs", "minhash_lsh_pairs", force)
    sets = shingles(docs).groupBy("doc_id").agg(
        F.sort_array(F.collect_set("s")).alias("sset")
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("sb"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = (F.size("sa") + F.size("sb")).cast("double") - inter
    jac = inter / union
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sets AS (SELECT doc_id, list_sort(list(s)) AS sset FROM sh GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sset, b.sset))::DOUBLE /
             (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))), 6) AS jaccard
FROM sets a JOIN sets b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sset, b.sset))::DOUBLE /
            (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path)
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh): universal-hash minima over shingle hashes, ``mh`` an
    array<bigint> of N_HASHES. Single groupBy with N_HASHES min() aggs —
    map-side combine makes the shuffle O(docs), not O(shingles). The aggs
    are one SQL text, so the constants cross to the JVM in one command."""
    hashed = shingles(docs).select("doc_id", _shingle_hash(F.col("s")).alias("h"))
    mins = ", ".join(f"min(pmod({a}L * h + {b}L, {MINHASH_P}L))"
                     for a, b in zip(MINHASH_A, MINHASH_B))
    return hashed.groupBy("doc_id").agg(F.expr(f"array({mins})").alias("mh"))


def _bands_expr() -> F.Column:
    """array<string> of the N_BANDS LSH band keys of the ``mh`` column:
    the md5 of each band's ROWS_PER_BAND minima as comma-joined decimals
    (the SQL oracle's ``md5(concat_ws(',', ...))``)."""
    return F.expr(
        f"transform(sequence(0, {N_BANDS - 1}), j -> md5(concat_ws(',', "
        f"CAST(slice(mh, j * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}) "
        f"AS ARRAY<STRING>))))")


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs sharing >=1 LSH band, verified by exact Jaccard.

    This is the 100TB dedup path: bucket-join candidate generation (linear
    in corpus + bucket sizes), exact verify only on candidates."""
    return lsh_pairs(minhash_signatures(docs), shingle_sets(docs))


def lsh_pairs(sigs: DataFrame, ssets: DataFrame) -> DataFrame:
    """(doc_a < doc_b, jaccard): the band join of ``sigs`` (doc_id, mh)
    and the exact verify over ``ssets`` (doc_id, sset) — the pair
    plan of :func:`minhash_lsh_pairs` and of ``dedup_sync``'s bootstrap /
    refresh, which signs the corpus once and keeps the signatures."""
    buckets = sigs.select(
        "doc_id", F.posexplode(_bands_expr()).alias("band_id", "band_key"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = (
        cand.join(ssets.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("sset", "sa"), "doc_a")
        .join(ssets.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sset", "sb"), "doc_b")
    )
    # the O(|set|) per-pair intersection hot loop parallelizes via the
    # session's small AQE advisory size (an extra forced repartition here
    # shuffles the wide shingle arrays again — measured slower)
    return (
        pairs.withColumn("jaccard", jaccard_expr("sa", "sb"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sset): STABLE-HASHED shingle sets — the canonical input of
    every exact-Jaccard verify. Batch (:func:`minhash_lsh_pairs`) and the
    ``dedup_sync`` bootstrap / refresh share this one function (the
    incremental tick uses its row-level twin, :func:`shingle_set_expr`),
    so their incremental==batch equivalence holds by construction, not by
    parallel-maintained copies.

    Hashing note: long array_intersect is ~2x cheaper than UTF8String
    (measured 7.8s -> 4.2s on the sf0.1 verify join). A ~250-shingle doc
    self-collides w.p. ~250²/2³¹ ≈ 1.5e-5, shifting a pair's Jaccard by
    ≤ 1/|union| — immaterial for dedup thresholds and bit-identical
    cross-engine because the SQL oracle hashes identically."""
    return (
        shingles(docs)
        .select("doc_id", _shingle_hash(F.col("s")).alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sset"))
    )


def jaccard_expr(sa: str = "sa", sb: str = "sb"):
    """Exact Jaccard over two hashed shingle-set columns, rounded to 6dp —
    the single definition shared with the incremental verify and matched
    by the SQL oracle's formula."""
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = (F.size(sa) + F.size(sb)).cast("double") - inter
    return F.round(inter / union, 6)


def _minhash_sig_sql() -> str:
    mins = ",\n         ".join(
        f"min(({MINHASH_A[j]}::BIGINT * h + {MINHASH_B[j]}) % {MINHASH_P}) AS mh_{j}"
        for j in range(N_HASHES)
    )
    return f"""
  SELECT doc_id, {mins}
  FROM (SELECT doc_id, {_stable_hash_sql('s')} % {MINHASH_P} AS h FROM sh)
  GROUP BY doc_id
"""


def _bands_sql() -> str:
    rows = []
    for j in range(N_BANDS):
        cols = ", ".join(f"mh_{i}" for i in range(j * ROWS_PER_BAND, (j + 1) * ROWS_PER_BAND))
        rows.append(
            f"SELECT doc_id, {j} AS band_id, md5(concat_ws(',', {cols})) AS band_key FROM sig"
        )
    return " UNION ALL ".join(rows)


MINHASH_LSH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sig AS ({_minhash_sig_sql()}),
bands AS ({_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(list({_stable_hash_sql('s')} % {MINHASH_P})) AS sset FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.sset, sb.sset))::DOUBLE /
             (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))), 6) AS jaccard
FROM cand JOIN sets sa ON doc_a = sa.doc_id JOIN sets sb ON doc_b = sb.doc_id
WHERE round(len(list_intersect(sa.sset, sb.sset))::DOUBLE /
            (len(sa.sset) + len(sb.sset) - len(list_intersect(sa.sset, sb.sset))), 6) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): 32-bit majority signature over token hashes
    (token multiplicity counts). One explode + one groupBy (32 sums)."""
    toks = _spread(docs).select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
    )
    h = F.pmod(_stable_hash_expr(F.col("t")), F.lit(2**32)).alias("h")
    hashed = toks.select("doc_id", h)
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"bit_{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"bit_{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


SIMHASH_SIG_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
hashed AS (SELECT doc_id, {_stable_hash_sql('t')} % 4294967296 AS h FROM toks),
bitsums AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
FROM bitsums GROUP BY doc_id
"""

SIMHASH_HAMMING_MAX = 6
_SIMHASH_N_BLOCKS = 4
_SIMHASH_BLOCK_BITS = SIMHASH_BITS // _SIMHASH_N_BLOCKS


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs: share >=1 of 4 8-bit blocks (pigeonhole guarantee for
    hamming<=3; wider recall probe) AND hamming(simhash) <= max. Block join
    keeps candidate generation linear — same LSH shape as minhash."""
    sig = simhash_signatures(docs)
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * _SIMHASH_BLOCK_BITS)
                .bitwiseAND(F.lit(2**_SIMHASH_BLOCK_BITS - 1))
                .alias("block_val"),
            )
            for i in range(_SIMHASH_N_BLOCKS)
        ]
    )
    bl = sig.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.block_id").alias("block_id"), F.col("b.block_val").alias("block_val")
    )
    a, b = bl.alias("a"), bl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)


SIMHASH_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
hashed AS (SELECT doc_id, {_stable_hash_sql('t')} % 4294967296 AS h FROM toks),
bitsums AS (
  SELECT doc_id, b.b AS b,
         sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) b
  GROUP BY doc_id, b.b
),
sig AS (
  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsums GROUP BY doc_id
),
blocks AS (
  SELECT doc_id, simhash, i.i AS block_id,
         (simhash >> (i.i * {_SIMHASH_BLOCK_BITS})) & {2**_SIMHASH_BLOCK_BITS - 1} AS block_val
  FROM sig, (SELECT unnest(generate_series(0, {_SIMHASH_N_BLOCKS - 1})) AS i) i
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocks a JOIN blocks b
  ON a.block_id = b.block_id AND a.block_val = b.block_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
"""


# ---------------------------------------------------------------------------
# near-dup clustering (connected components) + dedup keep-list
# ---------------------------------------------------------------------------


def _iter_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage truncation for iterative algorithms. RELIABLE checkpoint
    (HDFS/S3, survives executor loss) when the session has a checkpoint dir
    configured — the required mode on a real cluster, where a lost
    localCheckpoint block kills the whole iteration; localCheckpoint
    (executor-local blocks, zero I/O) otherwise, exact in single-JVM runs."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _cc_star(nodes: DataFrame, edges_sym: DataFrame, max_iters: int) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds even on ADVERSARIAL chain graphs, where
    plain label propagation needs diameter iterations. Same join/groupBy
    primitives as the min-label path; edge volume never grows beyond
    O(|edges|) per round.

    Edges are kept canonical as (hi, lo), hi > lo. At the fixpoint the
    edge set is a star forest: every non-root node carries exactly one
    edge to its component min."""
    E = (
        edges_sym.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .distinct()
    )
    E = _iter_checkpoint(E)
    for _ in range(max_iters):
        # large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u.
        # m <= u < v, so the emitted edge is canonical by construction.
        sym = E.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            E.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m_of_u = F.least(F.col("u"), F.col("mn"))
        E1 = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), m_of_u.alias("lo"))
            .distinct()
        )
        # small-star(u): N = smaller neighbors of u (lo side of canonical
        # edges keyed by hi); m = min(N); emit (v, m) for v ∈ N \ {m} and
        # the edge (u, m) itself.
        mins2 = E1.groupBy("hi").agg(F.min("lo").alias("m"))
        rewired = (
            E1.join(mins2, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
        )
        E2 = (
            rewired.unionAll(mins2.select("hi", F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        E2 = _iter_checkpoint(E2)
        # fixpoint = identical edge sets (symmetric difference empty):
        # union of two distinct sets — a row appearing once is in only one
        changed = (
            E2.unionAll(E)
            .groupBy("hi", "lo")
            .count()
            .where(F.col("count") == 1)
            .count()
        )
        E = E2
        if changed == 0:
            star = E.groupBy(F.col("hi").alias("doc_id")).agg(
                F.min("lo").alias("label")
            )
            return (
                nodes.join(star, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
                )
            )
    raise RuntimeError(
        f"star connected-components did not converge in {max_iters} rounds"
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    max_iters: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """(doc_id, cluster_id): connected components over the near-dup pair
    graph — cluster_id = min doc_id in the component; singletons cluster
    to themselves. THE missing step between pair mining and actual dedup:
    a training-data pipeline keeps ONE doc per cluster, and pairs alone
    under-delete transitive groups (a~b, b~c but a!~c must still collapse
    to one survivor).

    Algorithm: min-label propagation (the GraphX/GraphFrames connected-
    components baseline) as a driver-bounded loop of DataFrame joins —
    each iteration is one shuffle join + one count action, and the
    iteration count is the component DIAMETER, not size (near-dup
    clusters are dense, so diameter stays small; a 1000-doc pile of
    boilerplate converges in ~2 iterations). Labels persist per iteration
    to truncate lineage. Raises if not converged within ``max_iters`` —
    a silent non-fixpoint would be wrong, not slow.

    100TB notes: each iteration shuffles (edges join labels) — volume is
    O(|pairs|), already linearized by the banded LSH candidate
    generation. ``algorithm="star"`` runs alternating large-star/
    small-star instead (same primitives, O(log n) rounds) — pick it for
    adversarial graphs (very long chains). Both variants use RELIABLE
    checkpointing when ``sc.setCheckpointDir`` is configured (required on
    a real cluster — a localCheckpoint block dies with its executor) and
    localCheckpoint otherwise."""
    if pairs is None:
        pairs = minhash_lsh_pairs(docs)
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = docs.select("doc_id")
    e_sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if algorithm == "star":
        return _cc_star(nodes, e_sym, max_iters)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}: 'minlabel' or 'star'")
    # checkpoint per iteration: persist alone leaves the full join lineage
    # in the PLAN, and a deep iterative plan OOMs the driver during
    # analysis long before the data does.
    edges = _iter_checkpoint(e_sym)
    labels = _iter_checkpoint(docs.select("doc_id", F.col("doc_id").alias("label")))
    for it in range(max_iters):
        # (a) neighbor-min: pull the smallest label across each edge
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy(edges["dst"].alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.alias("o")
            .join(nbr.alias("n"), "doc_id", "left")
            .select(
                F.col("doc_id"),
                F.least(
                    F.col("o.label"), F.coalesce(F.col("n.nlabel"), F.col("o.label"))
                ).alias("label"),
            )
        )
        # (b) pointer jumping: label <- min(label, label(label)) — halves
        # the remaining chain length every iteration, so convergence is
        # O(log diameter) instead of O(diameter) (long near-dup chains DO
        # occur: each doc similar to its neighbor but not to the far end)
        j = stepped.select(F.col("doc_id").alias("__l"), F.col("label").alias("__ll"))
        new = _iter_checkpoint(
            stepped.join(j, stepped["label"] == j["__l"], "left")
            .select(
                stepped["doc_id"],
                F.least(
                    stepped["label"], F.coalesce(F.col("__ll"), stepped["label"])
                ).alias("label"),
            )
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"near_dup_clusters did not converge in {max_iters} iterations; "
        "the pair graph has a longer diameter than expected — raise "
        "max_iters"
    )


def dedup_keep_list(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id) survivors after near-dup collapse: the min doc_id of each
    cluster — deterministic representative selection, one row per cluster."""
    clusters = near_dup_clusters(docs, pairs)
    return clusters.select(F.col("cluster_id").alias("doc_id")).distinct()


#: connected components in the SQL oracle: transitive min-label closure as
#: a recursive CTE — reach(d, l) holds every label l reachable from d;
#: min per doc == min doc_id of its component. Tuple count is bounded by
#: sum(component_size²), fine at oracle scale.
def near_dup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_SQL.strip()}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM reach r JOIN edges e ON e.dst = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold_pct: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-set decontamination against an eval/benchmark corpus:
    per training doc, the fraction of its distinct shingles that appear
    ANYWHERE in the benchmark. Standard LLM-pipeline step (the n-gram
    overlap check of GPT-3 appx C / PaLM-style decontamination).

    Scale shape: the benchmark shingle set is tiny next to a 100 TB corpus
    (eval suites are MBs), so it is explicitly ``broadcast`` — the corpus
    side stays a linear scan + one map-side-combined groupBy(doc_id); no
    wide join ever forms. ``contaminated`` is derived from exact integer
    counts (100*hits >= pct*total), never a float compare, so the verdict
    is engine-independent; ``overlap`` is one FP division of exact longs.
    """
    d = shingles(docs, text_col, id_col)
    b = (
        shingles(benchmark, text_col, id_col)
        .select("s").distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        d.join(F.broadcast(b), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_shingles"), 4
            ).alias("overlap"),
            (F.lit(100) * F.col("n_hits")
             >= F.lit(int(threshold_pct)) * F.col("n_shingles")
             ).alias("contaminated"),
        )
    )


def _shingles_sql_where(where: str) -> str:
    return f"""
  SELECT doc_id,
         unnest(list_distinct([substr(lower(substr(text, 1, {PREFIX})), i, {SHINGLE_K})
                               for i in generate_series(1, len(lower(substr(text, 1, {PREFIX}))) - {SHINGLE_K - 1})])) AS s
  FROM documents WHERE len(text) >= {SHINGLE_K} AND ({where})
"""


#: oracle: benchmark = doc_id % 20 = 0, train = the rest (deterministic
#: split of the same table in both engines)
DECONTAMINATE_SQL = f"""
WITH bench AS (
  SELECT DISTINCT s FROM ({_shingles_sql_where("doc_id % 20 = 0")})
),
train AS ({_shingles_sql_where("doc_id % 20 <> 0")})
SELECT t.doc_id,
       count(*) AS n_shingles,
       count(b.s) AS n_hits,
       round(CAST(count(b.s) AS DOUBLE) / count(*), 4) AS overlap,
       (100 * count(b.s) >= 50 * count(*)) AS contaminated
FROM train t LEFT JOIN bench b ON t.s = b.s
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (substring-level dedup)
# ---------------------------------------------------------------------------
# Doc-level dedup (MinHash/SimHash above) misses the common failure mode of
# web corpora: two DIFFERENT pages sharing a long verbatim region (boiler-
# plate, licenses, quoted passages). "Deduplicating Training Data Makes
# Language Models Better" (Lee et al., 2021) removes exact duplicate
# substrings with a suffix array; the Spark-native equivalent at token-
# n-gram granularity: every W-token window is hashed, windows whose hash
# appears in MORE THAN ONE doc mark their positions, and per-doc position
# runs merge into maximal duplicated spans.

SPAN_W = 16  # tokens per window
# unit separator joining a window's tokens before hashing. \x1f is not
# regex whitespace (Java or RE2), so it CAN survive a \s+ split inside a
# token; a token carrying it could make two distinct windows join to the
# same string. Collision-improbable on text corpora, not impossible.
_SPAN_SEP = "\x1f"


def duplicate_spans(docs: DataFrame, w: int = SPAN_W, winnow_k: int = 1) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal token ranges
    covered by W-token windows that appear verbatim in at least one OTHER
    document — the ExactSubstr dedup surface at n-gram granularity
    (Lee et al. 2021; the reference has no analog, this is a training-data
    op). A span's tokens can then be cut or the doc down-weighted.

    Plan shape at 100 TB: tokenize+window is one pass (posexplode + a
    running window per doc — no self-join); the duplicate-hash set is a
    map-side-combinable groupBy; the hit join shuffles on the gram hash;
    the interval merge is one window over (doc, pos). ``winnow_k`` is the
    scale lever: keep only windows whose (cross-engine stable) hash %
    winnow_k == 0 — the duplicate-hash table and the hit join shrink ~k×,
    while a duplicated region of length L still surfaces ~L/k sampled
    windows (span boundaries blur by up to ±(k-1)+w-1 tokens, and regions
    shorter than ~k windows can be missed: the standard winnowing
    recall/cost trade). winnow_k=1 is exact. Sampling is deterministic
    (a pure function of the window text), so the winnowed operator is
    DuckDB-oracle-checkable exactly like the exact one."""
    from pyspark.sql import Window

    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    grams = toks.select(
        "doc_id",
        "pos",
        _stable_hash_expr(
            F.concat_ws(_SPAN_SEP, F.collect_list("tok").over(win))
        ).alias("g"),
        F.count("*").over(win).alias("n"),
    ).filter(F.col("n") == w)
    if winnow_k > 1:
        grams = grams.filter(F.pmod(F.col("g"), F.lit(winnow_k)) == 0)
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    hits = grams.join(dup, "g").select("doc_id", "pos")
    # merge overlapping/adjacent [pos, pos+w-1] intervals per doc:
    # gaps-and-islands with a running max of interval ends
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        w2.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w2.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
        )
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


def duplicate_spans_sql(w: int = SPAN_W, winnow_k: int = 1) -> str:
    winnow = f" AND ({_stable_hash_sql('g0')} % {winnow_k}) = 0" if winnow_k > 1 else ""
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, lst[CAST(i AS INTEGER)] AS tok
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS lst
        FROM documents WHERE len(trim(text)) > 0),
       unnest(generate_series(1, len(lst))) AS u(i)
),
grams AS (
  SELECT doc_id, pos,
         list_aggregate(list(tok) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING),
             'string_agg', chr(31)) AS g0,
         count(*) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS n
  FROM toks
),
full_grams AS (SELECT doc_id, pos, {_stable_hash_sql('g0')} AS g
               FROM grams WHERE n = {w}{winnow}),
dup AS (SELECT g FROM full_grams GROUP BY g HAVING count(DISTINCT doc_id) > 1),
hits AS (SELECT doc_id, pos FROM full_grams JOIN dup USING (g)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {w - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR pos > max(pos + {w - 1}) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT doc_id, min(pos) AS span_start, max(pos) + {w - 1} AS span_end,
       max(pos) + {w - 1} - min(pos) + 1 AS span_tokens
FROM islands GROUP BY doc_id, island
"""
