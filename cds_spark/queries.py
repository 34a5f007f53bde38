"""Driver-checked query surface: each entry is an operator from SURVEY.md §2
realized Spark-first, paired with an ANSI-SQL oracle (DuckDB) in ORACLES.

The CDC queries treat the driver-provided ``events`` table as a change feed:
op normalization signup->c, click/view/purchase->u, error->d (the reference's
op whitelist, cmd/rtu/model/canalsyncmodel.go:71-88), PK = user_id, LWW
version = (ts, event_id) — the (commit, offset) analog.

Column-name / type discipline (driver hashes values after sorting columns by
name): every computed column is aliased identically in Spark and SQL; counts
and row_numbers cast to long; timestamps exported as epoch seconds (long) or
date strings; double aggregates rounded in BOTH engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cds_spark.operators.dedup import lww_collapse

_SCRATCH_ROOTS: list[str] = []


def _scratch_root(prefix: str) -> str:
    """Fresh path for a query-local lake table (the lake-backed oracle
    queries ingest the sf tables into a scratch lake per call so the
    query stays a pure function of sf_dir). The returned DataFrame reads
    these files LAZILY, so cleanup cannot precede materialization —
    roots are removed at interpreter exit instead, bounding the /tmp
    footprint to one process lifetime even under bench re-run loops."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    shutil.rmtree(root)  # LakeTable.create wants to make it itself
    if not _SCRATCH_ROOTS:
        atexit.register(
            lambda: [shutil.rmtree(r, ignore_errors=True)
                     for r in _SCRATCH_ROOTS])
    _SCRATCH_ROOTS.append(root)
    return root


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# op normalization: the c/u/d whitelist mapping (lazy: Column exprs need an
# active SparkContext, so never build them at import time)
def _op_expr():
    return (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )


_OP_SQL = (
    "CASE WHEN event_type='signup' THEN 'c' "
    "WHEN event_type='error' THEN 'd' ELSE 'u' END"
)


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> normalized change feed (op, user_id, version=(ts,event_id))."""
    return load(spark, sf_dir, "events").withColumn("op", _op_expr())


# ---------------------------------------------------------------------------
# CDC semantics queries
# ---------------------------------------------------------------------------


def q_cdc_lww_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree FINAL + tombstone filter — the ``{t}_now`` view
    (pkg/table/table.go:143-147): one live row per PK, max version wins."""
    # project BEFORE the collapse: max_by structs every non-key column, so
    # an un-pruned frame would drag the wide props JSON through the shuffle
    ch = _changes(spark, sf_dir).select("user_id", "event_id", "ts", "op", "value")
    last = lww_collapse(ch, ["user_id"], ["ts", "event_id"])
    return (
        last.filter(F.col("op") != "d")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_timestamp("ts").alias("last_ts"),
            F.col("op").alias("last_op"),
            F.round("value", 2).alias("last_value"),
        )
    )


ORACLE_LWW_CURRENT = f"""
SELECT user_id, event_id AS last_event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
       {_OP_SQL} AS last_op, round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND {_OP_SQL} <> 'd'
"""


def q_cdc_lww_tombstone_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``{t}_mv`` analog: collapsed state INCLUDING tombstones with the
    ck_is_delete flag (pkg/table/table.go:52)."""
    ch = _changes(spark, sf_dir).select("user_id", "event_id", "ts", "op")
    last = lww_collapse(ch, ["user_id"], ["ts", "event_id"])
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        (F.col("op") == "d").cast("int").alias("ck_is_delete"),
    )


ORACLE_LWW_TOMBSTONE = f"""
SELECT user_id, event_id AS last_event_id,
       CASE WHEN {_OP_SQL} = 'd' THEN 1 ELSE 0 END AS ck_is_delete
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_cdc_op_normalize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op normalization + daily change-volume profile (decode-stage stats)."""
    ch = _changes(spark, sf_dir)
    return (
        ch.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "op")
        .agg(F.count("*").alias("n_events"))
    )


ORACLE_OP_COUNTS = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, {_OP_SQL} AS op, count(*) AS n_events
FROM events GROUP BY 1, 2
"""


ASOF = "2024-01-15 00:00:00"


def q_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical state reconstruction: argMax(col, version) bounded by date
    (doc/CDS中ClickHouse使用的建表方案.md:97-120) — state as-of ASOF."""
    ch = (
        _changes(spark, sf_dir)
        .filter(F.col("ts") < F.lit(ASOF).cast("timestamp"))
        .select("user_id", "event_id", "ts", "op", "value")
    )
    last = lww_collapse(ch, ["user_id"], ["ts", "event_id"])
    return last.filter(F.col("op") != "d").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


ORACLE_ASOF = f"""
SELECT user_id, event_id AS last_event_id, round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts < TIMESTAMP '{ASOF}'
) WHERE rn = 1 AND {_OP_SQL} <> 'd'
"""


def q_cdc_inbatch_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch merge (parse.go:268-306): collapse each micro-batch
    (batch = event_id div 500) to one row per PK, counting absorbed events."""
    ch = _changes(spark, sf_dir).withColumn(
        # floor, not truncate-toward-zero: DuckDB's // floors, and / here
        # is DOUBLE division (negative or >2^53 ids would silently diverge)
        "batch_id", F.floor(F.col("event_id") / 500).cast("long")
    )
    w = Window.partitionBy("batch_id", "user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .withColumn("n_collapsed", F.count("*").over(Window.partitionBy("batch_id", "user_id")))
        .filter(F.col("rn") == 1)
        .select(
            "batch_id",
            "user_id",
            F.col("n_collapsed").cast("long").alias("n_collapsed"),
            F.col("event_id").alias("last_event_id"),
        )
    )


ORACLE_INBATCH = """
SELECT batch_id, user_id, n_collapsed, event_id AS last_event_id
FROM (
  SELECT CAST(event_id // 500 AS BIGINT) AS batch_id, user_id, event_id, ts,
         row_number() OVER (PARTITION BY event_id // 500, user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY event_id // 500, user_id) AS n_collapsed
  FROM events
) WHERE rn = 1
"""


_LOOKUP_KEYS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89]


def q_cdc_pk_semi_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point/semi lookup by PK set — `WHERE pk IN (...)` verification reads
    (cmd/rtu/handle/tablecolumn.go:103-112). Broadcast semi join."""
    ch = _changes(spark, sf_dir)
    keys = spark.createDataFrame([(k,) for k in _LOOKUP_KEYS], "user_id long")
    hits = ch.join(F.broadcast(keys), "user_id", "left_semi").select(
        "user_id", "event_id", "ts", "op"
    )
    last = lww_collapse(hits, ["user_id"], ["ts", "event_id"])
    return last.select("user_id", F.col("event_id").alias("last_event_id"), "op")


ORACLE_SEMI = f"""
SELECT user_id, event_id AS last_event_id, {_OP_SQL} AS op
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IN ({",".join(str(k) for k in _LOOKUP_KEYS)})
) WHERE rn = 1
"""


ORACLE_KEYSET = """
SELECT user_id, event_id AS last_event_id
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND user_id > 50
ORDER BY user_id LIMIT 25
"""


def q_cdc_keyset_page_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-ordered pagination (mysql2clickhouse.go:69-90 `WHERE pk>?
    ORDER BY pk LIMIT n`): the page of the collapsed state after user_id
    50, served THROUGH the lake with zone-map file skipping (the reference
    pages the source off MySQL's PK index; `LakeTable.keyset_page` is that
    read over our manifest's per-file PK bounds): ingest the events feed into a lake table
    (pk=user_id, version=(ts, event_id)), compact into the pk-sorted
    multi-chunk layout, then page `user_id > 50 LIMIT 25` reading only
    the candidate PK slice — O(page) files, not O(table)."""

    from cds_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    # fresh root per call: the query must be a pure function of sf_dir
    root = _scratch_root("cds-keyset-lake-")
    table = LakeTable.create(
        spark, root, schema, pk=["user_id"],
        version_cols=["ts", "event_id"], n_buckets=4,
        # small chunks: several pk-sorted files per bucket, so the page
        # exercises real file skipping even at test scale
        properties={"merge_mode": "append", "target_file_bytes": 16 << 10},
    )
    table.merge(
        _changes(spark, sf_dir).select("user_id", "event_id", "ts"),
        fence=("keyset-oracle", 0),
    )
    table.compact(strategy="local")
    page = table.keyset_page(after=50, limit=25)
    return page.select("user_id", F.col("event_id").alias("last_event_id"))


def q_cdc_changed_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state of the keys changed at-or-after a cutoff, served by
    `LakeTable.changed_since` in O(recent batches): the events feed is
    ingested in FOUR time-ordered micro-batches (each file spans a narrow
    ts slice, the natural CDC layout), no compact, and the zone-map lower
    bound on the leading version column prunes the history files while
    LWW winners stay exact across the pruned generations. Reference
    analog: consumers tail the Kafka topic for recency
    (cmd/rtu/handle/insert.go versioning); here the table itself answers."""

    from cds_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    root = _scratch_root("cds-chsince-lake-")
    table = LakeTable.create(
        spark, root, schema, pk=["user_id"],
        version_cols=["ts", "event_id"], n_buckets=4,
        properties={"merge_mode": "append", "stats_cols": ["ts"]},
    )
    ch = _changes(spark, sf_dir).select("user_id", "event_id", "ts")
    # four ts-ordered micro-batches over the events' Jan-2024 span
    import datetime

    cuts = [datetime.datetime(2024, 1, d) for d in (8, 16, 24)]
    slices = [
        ch.filter(F.col("ts") < cuts[0]),
        ch.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ch.filter((F.col("ts") >= cuts[1]) & (F.col("ts") < cuts[2])),
        ch.filter(F.col("ts") >= cuts[2]),
    ]
    for i, s in enumerate(slices):
        table.merge(s, fence=("chsince-oracle", i))
    since = datetime.datetime(2024, 1, 20)
    # ts exported as epoch seconds per the module's cross-engine
    # discipline (raw timestamps hash via engine-specific rendering)
    return table.changed_since(since).select(
        "user_id", F.col("event_id").alias("last_event_id"),
        F.unix_timestamp("ts").alias("last_ts"),
    )


ORACLE_CHANGED_SINCE = """
SELECT user_id, event_id AS last_event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND ts >= TIMESTAMP '2024-01-20 00:00:00'
"""


def q_cdc_json_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode (the parse stage, parse.go:109-134): extract
    props.k, aggregate per event_type.

    Cross-engine determinism: k is extracted as text and try_cast to long
    (totally defined — fractional/non-numeric/missing -> NULL in BOTH
    engines), and avg_k is derived from the exact integer aggregates with
    ONE double division (round(sum_k/n_k, 4)) instead of each engine's own
    running-average — bit-identical everywhere."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_k",
            F.when(
                F.col("n_k") > 0,
                F.round(F.col("sum_k").cast("double") / F.col("n_k"), 4),
            ).alias("avg_k"),
        )
    )


ORACLE_JSON_STATS = """
WITH e AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
  FROM events)
SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
       CASE WHEN count(k) > 0
            THEN round(CAST(sum(k) AS DOUBLE) / count(k), 4) END AS avg_k
FROM e GROUP BY event_type
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy with map-side combine):
    canonical doc = min doc_id per md5(text)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_copies"),
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# general engine checks (Spark-free built-ins; Catalyst does the planning)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate: partial-agg friendly groupBy."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join: orders ⋈ customer ⋈ nation with the small dim broadcast —
    no shuffle for the dim side."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


ORACLE_REVENUE_NATION = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: ranking window, single shuffle on custkey."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", F.round("o_totalprice", 2).alias("price"))
    )


ORACLE_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, rank, round(o_totalprice, 2) AS price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# wire-dialect decode round-trips (the parse stage, all 4 dialects)
#
# Each query builds the reference's wire envelope from the events table with
# JVM to_json, runs the REAL decoder (cds_spark.operators.decode — the same
# code the streaming pipeline uses), and projects the normalized rows. The
# oracle states the expected result directly over events, so any decode bug
# (op whitelist, before/after selection, batch unpack, partial-update merge)
# breaks the hash match. Reference: cmd/rtu/handle/parse.go:109-134 + the
# model decoders (canalsyncmodel.go, debeziumsyncmodel.go,
# connectormongomodel.go).
# ---------------------------------------------------------------------------


def q_decode_debezium_mysql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """debezium-mysql ``{payload:{before,after,op}}`` round-trip: deletes
    carry only the before-image (debeziumsyncmodel.go:88-156)."""
    from cds_spark.operators.decode import decode_debezium_mysql

    ev = load(spark, sf_dir, "events")
    op = _op_expr()
    after = F.create_map(
        F.lit("user_id"), F.col("user_id").cast("string"),
        F.lit("val"), F.round("value", 2).cast("string"),
    )
    before = F.create_map(F.lit("user_id"), F.col("user_id").cast("string"))
    env = F.to_json(
        F.struct(
            F.struct(
                F.when(op == "d", before).alias("before"),
                F.when(op != "d", after).alias("after"),
                op.alias("op"),
            ).alias("payload")
        )
    )
    wire = ev.select(env.alias("value"), "event_id")
    dec = decode_debezium_mysql(wire, offset_col="event_id")
    return dec.select(
        F.col("_offset").alias("event_id"),
        F.col("data")["user_id"].cast("long").alias("user_id"),
        "op",
        F.col("data")["val"].cast("double").alias("val"),
    )


ORACLE_DECODE_DEBEZIUM = f"""
SELECT event_id, user_id, {_OP_SQL} AS op,
       CASE WHEN {_OP_SQL} = 'd' THEN NULL ELSE round(value, 2) END AS val
FROM events
"""


def q_decode_canal_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """canal-mysql batch unpack: one message carries N rows (explode,
    canalsyncmodel.go:204-220) + type whitelist (QUERY messages dropped,
    canalsyncmodel.go:222-226). Every 3rd message carries 2 rows."""
    from cds_spark.operators.decode import decode_canal

    ev = load(spark, sf_dir, "events")
    typ = (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "DELETE")
        .when(F.col("event_type") == "purchase", "QUERY")  # not whitelisted
        .otherwise("UPDATE")
    )
    def _row(seq: str):
        return F.create_map(
            F.lit("user_id"), F.col("user_id").cast("string"),
            F.lit("seq"), F.lit(seq),
        )
    data = F.when(
        F.pmod(F.col("event_id"), F.lit(3)) == 0, F.array(_row("0"), _row("1"))
    ).otherwise(F.array(_row("0")))
    env = F.to_json(F.struct(typ.alias("type"), data.alias("data")))
    wire = ev.select(env.alias("value"), "event_id")
    dec = decode_canal(wire, offset_col="event_id")
    # decode_canal composes a per-row offset (message offset * stride +
    # row position) so same-PK rows in one batch stay LWW-distinct;
    # recover the message id for the oracle comparison
    from cds_spark.operators.decode import CANAL_BATCH_STRIDE

    return dec.select(
        F.floor(F.col("_offset") / CANAL_BATCH_STRIDE).cast("long")
         .alias("event_id"),
        F.col("data")["user_id"].cast("long").alias("user_id"),
        "op",
        F.col("data")["seq"].cast("long").alias("seq"),
    )


ORACLE_DECODE_CANAL = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'signup' THEN 'c'
            WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
       CAST(unnest(CASE WHEN event_id % 3 = 0 THEN [0, 1] ELSE [0] END) AS BIGINT) AS seq
FROM events WHERE event_type <> 'purchase'
"""


def q_decode_connector_mongo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connector-mongodb change stream: inserts carry fullDocument, updates
    are PARTIAL (documentKey + updatedFields merged), deletes key-only
    (connectormongomodel.go:69-119). n_fields checks the exists mask;
    ``stale`` asserts the removedFields reset: the removed column arrives as
    the type default ('' -> coerced) and IS present, so it overwrites the
    old value under column-wise LWW (connectormongomodel.go:113-118)."""
    from cds_spark.operators.decode import decode_connector_mongo

    ev = load(spark, sf_dir, "events")
    opw = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    full = F.create_map(
        F.lit("user_id"), F.col("user_id").cast("string"),
        F.lit("val"), F.round("value", 2).cast("string"),
        F.lit("src"), F.lit("full"),
    )
    dockey = F.create_map(F.lit("user_id"), F.col("user_id").cast("string"))
    updf = F.create_map(F.lit("val"), F.round("value", 2).cast("string"))
    env = F.to_json(
        F.struct(
            opw.alias("operationType"),
            F.when(opw == "insert", full).alias("fullDocument"),
            F.when(opw != "insert", dockey).alias("documentKey"),
            F.when(
                opw == "update",
                F.struct(
                    updf.alias("updatedFields"),
                    F.array(F.lit("stale_field")).alias("removedFields"),
                ),
            ).alias("updateDescription"),
        )
    )
    wire = ev.select(env.alias("value"), "event_id")
    dec = decode_connector_mongo(wire, offset_col="event_id")
    return dec.select(
        F.col("_offset").alias("event_id"),
        F.col("data")["user_id"].cast("long").alias("user_id"),
        "op",
        F.col("data")["val"].cast("double").alias("val"),
        F.col("data")["stale_field"].alias("stale"),
        F.size("exists").cast("long").alias("n_fields"),
    )


ORACLE_DECODE_MONGO = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'signup' THEN 'c'
            WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
       CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS val,
       CASE WHEN event_type NOT IN ('signup', 'error') THEN '' END AS stale,
       CASE WHEN event_type = 'signup' THEN 3
            WHEN event_type = 'error' THEN 1 ELSE 3 END AS n_fields
FROM events
"""


def q_decode_debezium_mongo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """debezium-mongodb ``{payload:{filter,after,patch,op}}`` round-trip
    (debeziumsyncmodel.go:106-155): inserts parse ``after``; updates merge
    the ``$set`` patch with the ``filter`` key ($v dropped); deletes carry
    ``filter`` only; ``r`` snapshot reads (purchase events here) dropped.
    ``oid`` asserts the ``_id.$oid`` unwrap, ``nested`` the
    nested-object->JSON-string rule, ``n_fields`` the exists mask."""
    from cds_spark.operators.decode import decode_debezium_mongo

    ev = load(spark, sf_dir, "events")
    opw = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .when(F.col("event_type") == "purchase", "r")  # snapshot read: dropped
        .otherwise("u")
    )
    oid = F.format_string("%024x", F.col("user_id"))
    after = F.to_json(
        F.struct(
            F.struct(oid.alias("$oid")).alias("_id"),
            F.round("value", 2).alias("val"),
            F.upper("event_type").alias("lang"),
            F.struct(F.col("user_id").alias("u")).alias("nested"),
        )
    )
    patch = F.to_json(
        F.struct(
            F.lit(1).alias("$v"),
            F.struct(
                F.round("value", 2).alias("val"), F.upper("event_type").alias("lang")
            ).alias("$set"),
        )
    )
    filt = F.to_json(F.struct(F.struct(oid.alias("$oid")).alias("_id")))
    env = F.to_json(
        F.struct(
            F.struct(
                F.when(opw == "c", after).alias("after"),
                F.when(opw == "u", patch).alias("patch"),
                F.when(opw.isin("u", "d"), filt).alias("filter"),
                opw.alias("op"),
            ).alias("payload")
        )
    )
    wire = ev.select(env.alias("value"), "event_id")
    dec = decode_debezium_mongo(wire, offset_col="event_id")
    return dec.select(
        F.col("_offset").alias("event_id"),
        F.col("data")["_id"].alias("oid"),
        "op",
        F.col("data")["val"].cast("double").alias("val"),
        F.col("data")["lang"].alias("lang"),
        F.col("data")["nested"].alias("nested"),
        F.size("exists").cast("long").alias("n_fields"),
    )


ORACLE_DECODE_DBZ_MONGO = """
SELECT event_id,
       printf('%024x', user_id) AS oid,
       CASE WHEN event_type = 'signup' THEN 'c'
            WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
       CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS val,
       CASE WHEN event_type = 'error' THEN NULL ELSE upper(event_type) END AS lang,
       CASE WHEN event_type = 'signup' THEN '{"u":' || user_id || '}' END AS nested,
       CASE WHEN event_type = 'signup' THEN 4
            WHEN event_type = 'error' THEN 1 ELSE 3 END AS n_fields
FROM events WHERE event_type <> 'purchase'
"""


def q_decode_feed_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feed decode of the pipeline and bench.py's replay
    (``events_to_rows(decode_feed(...))``; the row id predates the single
    decoder) under the oracle hash gate: envelope round-trip exercising
    op normalization + whitelist ('purchase'->TRUNCATE dropped), missing-pk
    DLQ split ('view' events omit the pk), injected-vs-payload version
    precedence ('signup' carries its own commit, which wins), key-only
    deletes (absent columns -> NULL), and the lenient coercion matrix incl.
    the Mongo $numberLong unwrap (k), double round-trip (val) and
    multi-layout timestamp (seen)."""
    from pyspark.sql import types as T

    from cds_spark.operators.decode import decode_feed, events_to_rows

    schema = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("ev", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("k", T.LongType()),
            T.StructField("seen", T.TimestampType()),
        ]
    )
    ev = load(spark, sf_dir, "events")
    t = F.col("event_type")
    wire_op = (
        F.when(t == "signup", "insert")
        .when(t == "error", "delete")
        .when(t == "purchase", "TRUNCATE")  # non-DML: dropped by whitelist
        .otherwise("update")
    )
    body = F.struct(
        # 'view' events omit the pk entirely -> missing-pk DLQ split
        F.when(t != "view", F.col("user_id").cast("string")).alias("uid"),
        # guard matches the oracle's CASE (error rows also take the
        # key_only branch below; keep the two rules aligned)
        F.when(t != "error", F.concat(F.lit("E-"), F.col("event_id"))).alias("ev"),
        # 'signup' carries its own commit: payload wins over the injected one
        F.when(t == "signup", F.concat(F.lit("P"), F.col("event_id"))).alias("commit"),
        F.round("value", 2).alias("val"),
        F.concat(
            F.lit('{"$numberLong":"'), F.pmod("user_id", F.lit(100)), F.lit('"}')
        ).alias("k"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("seen"),
    )
    key_only = F.struct(F.col("user_id").cast("string").alias("uid"))
    payload = F.when(t == "error", F.to_json(key_only)).otherwise(F.to_json(body))
    wire = ev.select(
        wire_op.alias("op"),
        F.lpad(F.pmod("event_id", F.lit(1000)).cast("string"), 6, "0").alias("commit"),
        F.col("event_id").alias("offset"),
        F.pmod("user_id", F.lit(8)).cast("int").alias("partition"),
        payload.alias("payload"),
    )
    rows, _dlq = events_to_rows(decode_feed(wire, inject={"commit": "commit"}), schema, ["uid"])
    return rows.select(
        "uid",
        "ev",
        "commit",
        "val",
        "k",
        F.unix_timestamp("seen").alias("seen_ts"),
        "_op",
        "_is_delete",
        "_partition",
        "_offset",
    )


ORACLE_DECODE_FEED_FUSED = """
SELECT user_id AS uid,
       CASE WHEN event_type = 'error' THEN NULL ELSE 'E-' || event_id END AS ev,
       CASE WHEN event_type = 'signup' THEN 'P' || event_id
            ELSE lpad(CAST(event_id % 1000 AS VARCHAR), 6, '0') END AS commit,
       CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS val,
       CASE WHEN event_type = 'error' THEN NULL ELSE user_id % 100 END AS k,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) END AS seen_ts,
       CASE WHEN event_type = 'signup' THEN 'c'
            WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS _op,
       event_type = 'error' AS _is_delete,
       user_id % 8 AS _partition,
       event_id AS _offset
FROM events WHERE event_type NOT IN ('purchase', 'view')
"""


def q_cdc_lww_columnwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-wise LWW honoring partial updates (the existsKeys merge,
    cmd/rtu/model/common.go:49-56 + parse.go:268-306): per column, last
    NON-NULL value by version; an event that didn't carry a column must not
    clobber an older value. 'click' events carry only a, 'view' only b."""
    from cds_spark.operators.dedup import lww_collapse_columnwise

    ev = load(spark, sf_dir, "events")
    src = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") != "view", F.round("value", 2)).alias("a"),
        F.when(F.col("event_type") != "click", F.upper("event_type")).alias("b"),
    )
    out = lww_collapse_columnwise(src, ["user_id"], ["ts", "event_id"], ["a", "b"])
    return out.select(
        "user_id", "a", "b",
        F.unix_timestamp("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
    )


ORACLE_LWW_COLUMNWISE = """
WITH src AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type <> 'view' THEN round(value, 2) END AS a,
         CASE WHEN event_type <> 'click' THEN upper(event_type) END AS b
  FROM events
)
SELECT user_id, a, b, last_ts, last_event_id FROM (
  SELECT user_id,
         last_value(a IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS a,
         last_value(b IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS b,
         CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
         event_id AS last_event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM src
) WHERE rn = 1
"""


def q_cdc_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute change-volume metrics (the lineage/metrics sidecar's
    query shape — windowed counts by op; in streaming this is the
    watermarked tumbling-window aggregate)."""
    ch = _changes(spark, sf_dir)
    return ch.groupBy(
        F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias("minute_ts"),
        "op",
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_CHANGE_RATE = f"""
SELECT CAST(floor(epoch(date_trunc('minute', ts))) AS BIGINT) AS minute_ts,
       {_OP_SQL} AS op, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# training-data operators (dedup / similarity / text analysis / multimodal)
# ---------------------------------------------------------------------------


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textdedup import minhash_lsh_pairs

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def q_dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance (operators/incdedup.dedup_sync):
    the corpus arrives as TWO CDC increments into a lake table — the first
    delivers 60% of the docs, a slice of them with PLACEHOLDER text
    (reversed), plus a synthetic doc; the second delivers the rest,
    re-delivers the placeholder slice with its true text (update ->
    signature change -> pair invalidation + re-discovery) and deletes the
    synthetic doc. After two O(delta) dedup ticks, live_pairs() must equal
    a batch MinHash-LSH run over the full documents table — which is
    exactly what the DuckDB oracle (MINHASH_LSH_SQL) computes, oblivious
    to the incremental history."""
    import os

    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.incdedup import dedup_sync, live_pairs
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = _scratch_root("cds-incdd-src-")
    dst = _scratch_root("cds-incdd-dd-")
    src = LakeTable.create(
        spark, root, schema, pk=["doc_id"], version_cols=["ver"],
        n_buckets=4, properties={"merge_mode": "upsert"})
    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    b1 = (docs.filter(part < 6)
          .select("doc_id",
                  F.when(part == 0, F.reverse(F.col("text")))
                   .otherwise(F.col("text")).alias("text"))
          .withColumn("ver", F.lit(1).cast("long"))
          .unionByName(spark.createDataFrame(
              [(-1, "synthetic doc deleted by the second increment", 1)],
              schema)))
    src.merge(b1, fence=("incdd", 1))
    dedup_sync(spark, src.root, dst, "incdd-job")
    src = LakeTable.load(spark, src.root)
    b2 = (docs.filter((part >= 6) | (part == 0))
          .withColumn("ver", F.lit(2).cast("long"))
          .withColumn("_is_delete", F.lit(False))
          .unionByName(spark.createDataFrame([(-1, None, 2)], schema)
                       .withColumn("_is_delete", F.lit(True))))
    src.merge(b2, fence=("incdd", 2))
    dedup_sync(spark, src.root, dst, "incdd-job")
    return live_pairs(
        LakeTable.load(spark, os.path.join(dst, "sigs")),
        LakeTable.load(spark, os.path.join(dst, "pairs")))


def q_cascade_transform_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform cascade (streaming/pipeline.cascade_sync(transform=...)):
    a derived VIEW (per-doc char + whitespace-token counts) maintained
    incrementally off a source lake table's own ``changes()`` feed. The
    corpus arrives as TWO CDC increments: the first delivers 60% of the
    docs — a slice of them with constant PLACEHOLDER text — plus a
    synthetic doc; the second delivers the rest, restores the slice's true
    text (the update must propagate THROUGH the transform) and deletes the
    synthetic doc. After a bootstrap tick and one O(delta) tick, the
    derived table's current state must equal the transform applied to the
    plain documents table — exactly what the history-blind DuckDB oracle
    computes. This is the lake-native analog of cds users chaining a
    second sync job off the first one's output topic."""

    from cds_spark.lake.table import LakeTable
    from cds_spark.streaming.pipeline import cascade_sync
    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    src_root = _scratch_root("cds-ctv-src-")
    dst_root = _scratch_root("cds-ctv-dst-")
    src = LakeTable.create(
        spark, src_root, schema, pk=["doc_id"], version_cols=["ver"],
        n_buckets=4, properties={"merge_mode": "upsert"})

    def tf(df: DataFrame) -> DataFrame:
        meta = [c for c in ("_is_delete", "_offset") if c in df.columns]
        text = F.coalesce(F.col("text"), F.lit(""))
        return df.select(
            "doc_id", "ver", *meta,
            F.length(text).cast("long").alias("n_chars"),
            F.size(F.split(text, " ")).cast("long").alias("n_tokens"),
        )

    part = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    b1 = (docs.filter(part < 6)
          .select("doc_id",
                  F.when(part == 0, F.lit("placeholder"))
                   .otherwise(F.col("text")).alias("text"))
          .withColumn("ver", F.lit(1).cast("long"))
          .unionByName(spark.createDataFrame(
              [(-1, "synthetic doc deleted by the second increment", 1)],
              schema)))
    src.merge(b1, fence=("ctv", 1))
    cascade_sync(spark, src_root, dst_root, "ctv-job", transform=tf)
    src = LakeTable.load(spark, src_root)
    b2 = (docs.filter((part >= 6) | (part == 0))
          .withColumn("ver", F.lit(2).cast("long"))
          .withColumn("_is_delete", F.lit(False))
          .unionByName(spark.createDataFrame([(-1, None, 2)], schema)
                       .withColumn("_is_delete", F.lit(True))))
    src.merge(b2, fence=("ctv", 2))
    cascade_sync(spark, src_root, dst_root, "ctv-job", transform=tf)
    return (LakeTable.load(spark, dst_root).current()
            .select("doc_id", "n_chars", "n_tokens"))


ORACLE_CASCADE_VIEW = """
SELECT doc_id,
       CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
       CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
FROM documents
"""


def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash-LSH near-dup pair graph:
    (doc_id, cluster_id = min doc_id of the component). The dedup step a
    training pipeline actually applies — pairs alone under-delete
    transitive groups. Oracle: recursive-CTE min-label closure over the
    same pairs."""
    from cds_spark.operators.textdedup import near_dup_clusters

    return near_dup_clusters(load(spark, sf_dir, "documents"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus. The synthetic docs carry no PII, so the
    query plants deterministic doc_id-derived email/IP/phone strings (the
    oracle plants the identical ones) and redacts them — asserting the
    scrub fires, not just a no-op pass."""
    from cds_spark.operators.textstats import pii_scrub

    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or +1 (555) 01"), (F.col("doc_id") % 10).cast("string"),
            F.lit("-4242"),
        ).alias("text"),
    )
    return pii_scrub(seeded)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (context-window packing)."""
    from cds_spark.operators.textstats import chunk_documents

    return chunk_documents(load(spark, sf_dir, "documents"))


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: membership is a pure function
    of doc_id (salted md5 bucket), replicated exactly in ANSI SQL."""
    from cds_spark.operators.textstats import holdout_split

    return holdout_split(load(spark, sf_dir, "documents"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: per-source keep rates (here hash-derived 10-99%)
    applied as a deterministic doc_id-hash Bernoulli."""
    from cds_spark.operators.textstats import (
        weighted_sample, weighted_sample_rate_expr)

    return weighted_sample(
        load(spark, sf_dir, "documents"), weighted_sample_rate_expr())


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per training doc, the exact fraction of
    its distinct shingles found anywhere in the benchmark corpus (here the
    deterministic doc_id %% 20 == 0 slice stands in for the eval suite).
    Benchmark shingle set is broadcast — corpus side stays one linear
    scan + map-side-combined groupBy; no wide join at 100 TB."""
    from cds_spark.operators.textdedup import decontaminate

    docs = load(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textdedup import simhash_signatures

    return simhash_signatures(load(spark, sf_dir, "documents"))


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textdedup import simhash_near_pairs

    return simhash_near_pairs(load(spark, sf_dir, "documents"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.similarity import brute_force_topk

    return brute_force_topk(load(spark, sf_dir, "embeddings"))


def q_ann_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (operators/annindex.py): the
    embeddings arrive as TWO CDC increments — the first delivers 60% with
    a slice NEGATED (every hyperplane sign flips, so the correction in the
    second increment forces bucket-move tombstones) plus a synthetic
    vector the second increment deletes. Serving vec_id<5 queries off the
    MAINTAINED index (manifest-pruned to the query buckets) must equal the
    history-blind batch LSH SQL oracle over the final embeddings table."""
    import os

    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.annindex import ann_index_sync, ann_topk
    from pyspark.sql import types as T

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ver", T.LongType()),
    ])
    root = _scratch_root("cds-annix-src-")
    dst = _scratch_root("cds-annix-dd-")
    src = LakeTable.create(
        spark, root, schema, pk=["vec_id"], version_cols=["ver"],
        n_buckets=4, properties={"merge_mode": "upsert"})
    part = F.pmod(F.xxhash64("vec_id"), F.lit(10))
    neg = F.transform("embedding", lambda x: -x).cast("array<float>")
    b1 = (emb.filter(part < 6)
          .select("vec_id",
                  F.when(part == 0, neg).otherwise(F.col("embedding"))
                   .alias("embedding"))
          .withColumn("ver", F.lit(1).cast("long"))
          .unionByName(spark.createDataFrame(
              [(-1, [0.5] * 64, 1)], schema)))
    src.merge(b1, fence=("annix", 1))
    ann_index_sync(spark, src.root, dst, "annix-job")
    src = LakeTable.load(spark, src.root)
    b2 = (emb.filter((part >= 6) | (part == 0))
          .withColumn("ver", F.lit(2).cast("long"))
          .withColumn("_is_delete", F.lit(False))
          .unionByName(spark.createDataFrame([(-1, None, 2)], schema)
                       .withColumn("_is_delete", F.lit(True))))
    src.merge(b2, fence=("annix", 2))
    ann_index_sync(spark, src.root, dst, "annix-job")
    q = src.current().filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    return ann_topk(spark, dst, q, k=10, probes=0)


def q_ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.similarity import lsh_bucketed_topk_multiprobe

    return lsh_bucketed_topk_multiprobe(load(spark, sf_dir, "embeddings"))


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.similarity import ivf_topk

    return ivf_topk(load(spark, sf_dir, "embeddings"))


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textdedup import duplicate_spans

    return duplicate_spans(load(spark, sf_dir, "documents"))


def q_duplicate_spans_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowed (hash%4-sampled) scale path of duplicate_spans: ~4x
    less duplicate-hash state and join traffic; sampling is a
    deterministic function of the window text, so the DuckDB oracle
    reproduces it exactly."""
    from cds_spark.operators.textdedup import duplicate_spans

    return duplicate_spans(load(spark, sf_dir, "documents"), winnow_k=4)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.similarity import near_dup_pairs

    return near_dup_pairs(load(spark, sf_dir, "embeddings"))


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup: banded hyperplane-LSH
    candidates + exact verify — no all-pairs/cartesian join in the plan
    (asserted by test_plans). q_embedding_near_dup stays as the exact
    small-scale baseline, like ngram-jaccard vs minhash."""
    from cds_spark.operators.similarity import lsh_near_dup_pairs

    return lsh_near_dup_pairs(load(spark, sf_dir, "embeddings"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textstats import quality_scores

    return quality_scores(load(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textstats import lang_id

    return lang_id(load(spark, sf_dir, "documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textstats import token_counts

    return token_counts(load(spark, sf_dir, "documents"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cds_spark.operators.textstats import fingerprints

    return fingerprints(load(spark, sf_dir, "documents"))


def q_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side manifest over synthesized media blobs (byte size + digest);
    the Arrow/mapInPandas feature path is exercised in tests (no SQL oracle
    for Python feature extraction)."""
    from cds_spark.operators.multimodal import synth_media

    media = synth_media(load(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
        F.col("meta.width").alias("width"),
    )


ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS digest,
       CAST(doc_id % 1920 + 1 AS INTEGER) AS width
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched mapInPandas feature-extraction path (stub decoder).
    FULLY oracle-checked: every output column is a deterministic function
    of the payload bytes, so the full Python row hash-matches pure SQL —
    n_bytes / digest / n_frames_sampled prove the Arrow plumbing (batch
    shape, binary transfer, schema) delivers exactly the source bytes to
    Python, and feat_mean is a digest-derived double whose single IEEE
    divide is bit-identical in Python and DuckDB."""
    from cds_spark.operators.multimodal import extract_features, synth_media

    feats = extract_features(synth_media(load(spark, sf_dir, "documents")))
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "digest",
        "feat_mean",
        F.col("n_frames_sampled").cast("long").alias("n_frames_sampled"),
    )


ORACLE_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS digest,
       CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) / 4294967295.0 AS feat_mean,
       CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS n_frames_sampled
FROM documents
"""


def q_multimodal_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, fully oracle-checked: synth_media_binary builds
    genuine PNG/WAV/MP4 bytes whose parameters are deterministic functions
    of doc_id (multimodal.py:95-129), extract_features_real parses them
    back with stdlib codecs (MP4 = ISO-BMFF container metadata; frame
    stats need a codec and stay NULL) — so DuckDB can compute the expected
    width/height/bit_depth/sample_rate/duration/feat_mean WITHOUT decoding
    any bytes and hash-match the Python decoder's output. (n_bytes is
    excluded: PNG size depends on zlib's compressed length, which SQL
    cannot express.) Proves the decode path — not just the plumbing —
    produces the right values."""
    from cds_spark.operators.multimodal import (
        extract_features_real,
        synth_media_binary,
    )

    feats = extract_features_real(
        synth_media_binary(load(spark, sf_dir, "documents"))
    )
    return feats.select(
        "media_id", "media_type", "width", "height", "bit_depth",
        "sample_rate", "duration_ms", "feat_mean",
    )


ORACLE_MULTIMODAL_REAL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CASE doc_id % 3 WHEN 0 THEN CAST(doc_id % 32 + 1 AS INTEGER)
            WHEN 2 THEN CAST(doc_id % 640 + 16 AS INTEGER) END AS width,
       CASE doc_id % 3 WHEN 0 THEN CAST(doc_id % 24 + 1 AS INTEGER)
            WHEN 2 THEN CAST(doc_id % 360 + 16 AS INTEGER) END AS height,
       CASE doc_id % 3 WHEN 0 THEN CAST(8 AS INTEGER)
            WHEN 1 THEN CAST(16 AS INTEGER) END AS bit_depth,
       CASE WHEN doc_id % 3 = 1 THEN CAST(8000 AS INTEGER) END AS sample_rate,
       CASE doc_id % 3
            WHEN 1 THEN CAST(floor(((doc_id % 400) + 40) / 8.0) AS BIGINT)
            WHEN 2 THEN CAST(doc_id % 60000 + 1000 AS BIGINT) END AS duration_ms,
       CASE doc_id % 3 WHEN 0 THEN CAST(doc_id % 256 AS DOUBLE) / 255.0
            WHEN 1 THEN CAST(doc_id % 1000 AS DOUBLE) / 32768.0 END AS feat_mean
FROM documents
"""


def q_asof_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's latest error event at or
    before it (backward as-of join — the enrichment shape Spark has no
    native operator for; `operators/timeseries.asof_join` is the
    one-shuffle union/window form, oracle'd against DuckDB's native
    ASOF LEFT JOIN). Right side pre-aggregated per (user, ts) so the tie
    rule is engine-independent."""
    from cds_spark.operators.timeseries import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    j = asof_join(purchases, errors, on="user_id", right_cols=["err_id"])
    return j.select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "err_id",
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("err_ts_us"),
    )


ORACLE_ASOF_ERRCTX = """
SELECT l.event_id AS purchase_id, l.user_id,
       epoch_us(l.ts) AS ts_us, r.err_id,
       epoch_us(r.ts) AS err_ts_us
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (
    SELECT user_id, ts, max(event_id) AS err_id
    FROM events WHERE event_type = 'error' GROUP BY user_id, ts
) r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + per-session rollup —
    the batch/backfill twin of Structured Streaming's session_window
    (`operators/timeseries.sessionize`: lag → gap flag → running sum, one
    key shuffle)."""
    from cds_spark.operators.timeseries import sessionize

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    s = sessionize(ev, key="user_id", ts="ts", gap_s=1800.0, order_cols=["event_id"])
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("start_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("end_us"),
        # integer cents, not a double sum: FP addition is order-dependent
        # across partitionings, exact integers hash identically everywhere
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    )


ORACLE_SESSIONS = """
WITH o AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                THEN 1 ELSE 0 END AS ns
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, event_id, ts, value,
           CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM o
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM s GROUP BY 1, 2
"""


def q_cdc_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily x op change-volume rollup with subtotals + grand total
    (ClickHouse `GROUP BY ... WITH ROLLUP` analog) — grouping-sets surface
    over the normalized feed; gid disambiguates subtotal levels
    identically in both engines (bitmask, first grouping col = MSB)."""
    ch = _changes(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "op", "value"
    )
    return ch.rollup("day", "op").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        F.grouping_id().cast("long").alias("gid"),
    )


ORACLE_ROLLUP_DAILY = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day, {_OP_SQL} AS op, count(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(GROUPING(strftime(ts, '%Y-%m-%d'), {_OP_SQL}) AS BIGINT) AS gid
FROM events GROUP BY ROLLUP(1, 2)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "asof_error_context": q_asof_error_context,
    "cdc_rollup_daily": q_cdc_rollup_daily,
    "event_sessions": q_event_sessions,
    "cdc_lww_current_state": q_cdc_lww_current_state,
    "cdc_lww_tombstone_state": q_cdc_lww_tombstone_state,
    "cdc_op_normalize_counts": q_cdc_op_normalize_counts,
    "cdc_snapshot_asof": q_cdc_snapshot_asof,
    "cdc_inbatch_collapse": q_cdc_inbatch_collapse,
    "cdc_pk_semi_lookup": q_cdc_pk_semi_lookup,
    "cdc_keyset_page_pruned": q_cdc_keyset_page_pruned,
    "cdc_changed_since": q_cdc_changed_since,
    "cdc_json_payload_stats": q_cdc_json_payload_stats,
    "decode_debezium_mysql": q_decode_debezium_mysql,
    "decode_canal_batch": q_decode_canal_batch,
    "decode_connector_mongo": q_decode_connector_mongo,
    "decode_debezium_mongo": q_decode_debezium_mongo,
    "decode_feed_fused": q_decode_feed_fused,
    "cdc_lww_columnwise": q_cdc_lww_columnwise,
    "cdc_change_rate": q_cdc_change_rate,
    "dedup_exact": q_dedup_exact,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_per_customer": q_top_orders_per_customer,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_incremental_pairs": q_dedup_incremental_pairs,
    "cascade_transform_view": q_cascade_transform_view,
    "dedup_near_clusters": q_dedup_near_clusters,
    "dedup_decontaminate": q_decontaminate,
    "text_pii_scrub": q_pii_scrub,
    "text_chunking": q_chunk_documents,
    "text_holdout_split": q_holdout_split,
    "text_weighted_sample": q_weighted_sample,
    "dedup_simhash_signatures": q_simhash_signatures,
    "dedup_simhash_near_pairs": q_simhash_near_pairs,
    "dedup_embedding_cosine": q_embedding_near_dup,
    "dedup_embedding_lsh": q_embedding_near_dup_lsh,
    "ann_cosine_topk": q_ann_topk,
    "ann_cosine_topk_indexed": q_ann_topk_indexed,
    "ann_cosine_topk_lsh_multiprobe": q_ann_topk_lsh_multiprobe,
    "ann_cosine_topk_ivf": q_ann_topk_ivf,
    "dedup_duplicate_spans": q_duplicate_spans,
    "dedup_duplicate_spans_winnowed": q_duplicate_spans_winnowed,
    "text_quality_scores": q_text_quality,
    "text_lang_id": q_lang_id,
    "text_token_counts": q_token_counts,
    "text_fingerprints": q_fingerprints,
    "multimodal_manifest": q_multimodal_manifest,
    "multimodal_features": q_multimodal_features,
    "multimodal_real_features": q_multimodal_real_features,
}

ORACLES: dict[str, str] = {
    "asof_error_context": ORACLE_ASOF_ERRCTX,
    "cdc_rollup_daily": ORACLE_ROLLUP_DAILY,
    "event_sessions": ORACLE_SESSIONS,
    "cdc_lww_current_state": ORACLE_LWW_CURRENT,
    "cdc_lww_tombstone_state": ORACLE_LWW_TOMBSTONE,
    "cdc_op_normalize_counts": ORACLE_OP_COUNTS,
    "cdc_snapshot_asof": ORACLE_ASOF,
    "cdc_inbatch_collapse": ORACLE_INBATCH,
    "cdc_pk_semi_lookup": ORACLE_SEMI,
    "cdc_keyset_page_pruned": ORACLE_KEYSET,
    "cdc_changed_since": ORACLE_CHANGED_SINCE,
    "cdc_json_payload_stats": ORACLE_JSON_STATS,
    "decode_debezium_mysql": ORACLE_DECODE_DEBEZIUM,
    "decode_canal_batch": ORACLE_DECODE_CANAL,
    "decode_connector_mongo": ORACLE_DECODE_MONGO,
    "decode_debezium_mongo": ORACLE_DECODE_DBZ_MONGO,
    "decode_feed_fused": ORACLE_DECODE_FEED_FUSED,
    "cdc_lww_columnwise": ORACLE_LWW_COLUMNWISE,
    "cdc_change_rate": ORACLE_CHANGE_RATE,
    # the cascaded derived view converges to the batch transform of the
    # upstream's final state by construction; the oracle is that batch
    # transform in SQL, blind to the add/update/delete history
    "cascade_transform_view": ORACLE_CASCADE_VIEW,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "pricing_summary": ORACLE_PRICING,
    "revenue_by_nation": ORACLE_REVENUE_NATION,
    "top_orders_per_customer": ORACLE_TOP_ORDERS,
}


def _training_oracles() -> dict[str, str]:
    from cds_spark.operators import similarity, textdedup, textstats

    return {
        "dedup_ngram_jaccard": textdedup.NGRAM_JACCARD_SQL,
        "dedup_minhash_lsh": textdedup.MINHASH_LSH_SQL,
        # the incremental run converges to the batch result by construction
        # (same hash family / bands / threshold); the oracle is the SAME
        # batch SQL, blind to the add/update/delete history
        "dedup_incremental_pairs": textdedup.MINHASH_LSH_SQL,
        "dedup_near_clusters": textdedup.near_dup_clusters_sql(),
        "dedup_decontaminate": textdedup.DECONTAMINATE_SQL,
        "dedup_simhash_signatures": textdedup.SIMHASH_SIG_SQL,
        "dedup_simhash_near_pairs": textdedup.SIMHASH_PAIRS_SQL,
        "dedup_embedding_cosine": similarity.NEAR_DUP_SQL,
        "dedup_embedding_lsh": similarity.lsh_near_dup_pairs_sql(),
        "ann_cosine_topk": similarity.BRUTE_TOPK_SQL,
        # the maintained index converges to the batch bucketing by
        # construction (same deterministic hyperplanes); the oracle is the
        # SAME batch SQL, blind to the add/bucket-move/delete history
        "ann_cosine_topk_indexed": similarity.lsh_bucketed_topk_sql(),
        "ann_cosine_topk_lsh_multiprobe": similarity.lsh_bucketed_topk_multiprobe_sql(),
        "ann_cosine_topk_ivf": similarity.ivf_topk_sql(),
        "dedup_duplicate_spans": textdedup.duplicate_spans_sql(),
        "dedup_duplicate_spans_winnowed": textdedup.duplicate_spans_sql(winnow_k=4),
        "text_quality_scores": textstats.QUALITY_SQL,
        "text_lang_id": textstats.LANG_ID_SQL,
        "text_token_counts": textstats.TOKEN_COUNT_SQL,
        "text_fingerprints": textstats.FINGERPRINT_SQL,
        "text_pii_scrub": textstats.PII_SCRUB_SQL,
        "text_chunking": textstats.CHUNK_SQL,
        "text_holdout_split": textstats.SPLIT_SQL,
        "text_weighted_sample": textstats.WEIGHTED_SAMPLE_SQL,
        "multimodal_manifest": ORACLE_MULTIMODAL,
        "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
        "multimodal_real_features": ORACLE_MULTIMODAL_REAL,
    }


ORACLES.update(_training_oracles())
