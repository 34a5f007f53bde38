"""The rtu-equivalent incremental sync pipeline.

Reference DAG (cmd/rtu, SURVEY.md §3.1)::

    Kafka topic -> [input] batch -> [parse] decode/normalize/evolve
                -> [insert] shard+write -> commit offsets

Spark-first realization::

    file/kafka readStream -> foreachBatch(
        decode (from_json, JVM), persisted    # parse.go:109-134
        -> batch summary, ONE aggregation:
           schema evolution (diff + ALTER)    # parse.go:169-265
           per-partition offsets (lineage)
           dead-letter count (missing PK / unparseable, parse.go:141-144)
        -> DLQ write of the wire payloads, when non-empty  # kfks.go:53-58
        -> LakeTable.merge (bucketed upsert, offset-fenced)  # ckgroup exec
        -> lineage record append
    ) with checkpointLocation

Offsets are committed by Spark's checkpoint only after foreachBatch returns
(the analog of commit-after-insert, cmd/rtu/handle/input.go:51-70); a replayed
micro-batch after crash-restart is skipped by the merge fence — exactly-once.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cds_spark.lake.table import LakeTable
from cds_spark.operators.decode import decode_feed, events_to_rows, pk_valid
from cds_spark.schema import infer_json_type
from cds_spark.sources.feed import FEED_SCHEMA


@dataclass
class JobSpec:
    """The etcd job-record analog (cmd/rtu/cmd/sync/config/job.go:10-39):
    source feed + target table + runtime knobs, as plain data."""

    job_id: str
    table_root: str
    source_dir: str
    checkpoint_dir: str
    version_inject: dict = field(default_factory=lambda: {"commit": "commit"})
    max_files_per_trigger: int = 8
    evolve_schema: bool = True
    dlq_dir: str | None = None
    lineage_dir: str | None = None
    #: None -> table default; "append" = merge-on-read fast ingest,
    #: "upsert" = copy-on-write (see LakeTable.merge)
    merge_mode: str | None = None
    #: "file" (default; source_dir is a directory of feed JSON files) or
    #: "kafka" (source_dir is ignored; kafka_* fields below apply).
    #: Kafka is the reference's primary source (pkg/tube/kfks.go:37-95);
    #: it requires the spark-sql-kafka connector jar on the classpath
    #: (spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13)
    source_format: str = "file"
    kafka_bootstrap_servers: str | None = None
    kafka_topic: str | None = None
    #: maxOffsetsPerTrigger — the 30k-msgs micro-batch analog (input.go:74)
    kafka_max_offsets_per_trigger: int = 30000
    #: steady-state maintenance cadence: every N committed batches run an
    #: incremental compact of buckets above ``compact_max_generations``
    #: row generations (the ClickHouse BACKGROUND merge analog — merges
    #: happen as a side effect of ingest, nobody runs them by hand;
    #: doc/CDS中ClickHouse使用的建表方案.md:36-48). 0 = off (call
    #: LakeTable.compact yourself). Work per maintenance tick is
    #: O(dirty buckets), never O(table).
    maintenance_every_batches: int = 16
    compact_max_generations: int = 8
    #: also expire snapshots beyond this retained window at each
    #: maintenance tick (0 = keep all history / time travel; opt-in
    #: because expiry trades time travel for disk)
    expire_keep_last: int = 0
    #: in-loop incremental near-dup maintenance: every N committed batches
    #: run operators.incdedup.dedup_sync against THIS table into
    #: ``dedup_dst`` (<dedup_dst>/sigs + /pairs). Each tick is O(changed
    #: docs) off the table's own changes() feed — the near-dup index stays
    #: current as the stream lands, no corpus re-scan. 0 = off.
    dedup_dst: str | None = None
    dedup_every_batches: int = 0
    dedup_text_col: str = "content"
    #: opt-in layout self-heal: when a maintenance tick finds buckets over
    #: ``local_compact_max_bucket_bytes`` (stats() emits
    #: ``rebucket_suggested_n`` — the power-of-two modulus that puts the
    #: worst bucket back under cap/2), run LakeTable.rebucket(suggested)
    #: ONLINE, right there in the loop. At 100 TB this is the difference
    #: between the fast Arrow compact/merge paths degrading silently and
    #: the table re-sharding itself before throughput drops — the reshard
    #: a siphash%N ClickHouse cluster cannot do without manual copy +
    #: cutover (pkg/ckgroup/ckgroup.go:12-47). Bounded by
    #: ``auto_rebucket_max_n`` so a byte-cap misconfiguration can't run
    #: the modulus away.
    auto_rebucket: bool = False
    auto_rebucket_max_n: int = 4096
    #: rewrite budget per maintenance tick, in groups of 8 old buckets —
    #: a tick never stalls ingest O(table); the migration continues (and
    #: resumes after a crash) across later ticks via the in-progress branch
    auto_rebucket_groups_per_tick: int = 8


def _batch_summary(table: LakeTable, events: DataFrame) -> tuple[dict, list[dict], int]:
    """ONE aggregation over a persisted decode_feed -> ``(samples,
    partitions, n_dlq)``: a raw payload per key of ``data`` the table does
    not know, chosen among those whose VALUE for it is non-null (None when
    all are null), the per-partition ``n_events`` / ``min_offset`` /
    ``max_offset`` of PK-valid events (sorted; a partition of dead letters
    only is absent), and the DLQ count.

    An event has a row per unknown key (one for none), and only its first
    row counts. The groups are a handful, so it runs in ONE task
    (coalesce(1): no shuffle, so no map-stage job); the decode is not
    serialised, as adaptive execution materialises the persisted input
    first, in its own parallel job."""
    known = [f.name for f in table.schema.fields]
    data = F.col("data")
    groups = events.select(
        "_partition", "_offset", "_raw", data.alias("_d"),
        pk_valid(data.isNotNull(), [data[k] for k in table.pk]).alias("_ok"),
        F.posexplode_outer(
            F.filter(F.map_keys(data), lambda k: ~k.isin(*known))
        ).alias("_pos", "k"),
    ).selectExpr("*", "coalesce(_pos = 0, true) AS _first").coalesce(1).groupBy(
        "_partition", "k").agg(*[F.expr(e) for e in (
            "count_if(_first AND _ok) AS n_events",
            "min(IF(_first AND _ok, _offset, NULL)) AS min_offset",
            "max(IF(_first AND _ok, _offset, NULL)) AS max_offset",
            "count_if(_first AND NOT _ok) AS n_dlq",
            "first(IF(element_at(_d, k) IS NOT NULL, _raw, NULL), true) AS sample",
        )]).collect()
    samples: dict = {}
    parts: dict = {}
    for r in groups:
        if r["k"] is not None and samples.get(r["k"]) is None:
            samples[r["k"]] = r["sample"]
        if r["n_events"]:
            parts.setdefault(r["_partition"], []).append(r)
    partitions = [
        {"_partition": p, "n_events": sum(r["n_events"] for r in rs),
         "min_offset": min(r["min_offset"] for r in rs),
         "max_offset": max(r["max_offset"] for r in rs)}
        for p, rs in sorted(parts.items(), key=lambda kv: (kv[0] is None, kv[0] or 0))
    ]
    return samples, partitions, sum(r["n_dlq"] for r in groups)


def discover_and_evolve(table: LakeTable, events: DataFrame) -> tuple[list[str], list[dict], int]:
    """Per-batch schema evolution (parse.go:169-265) and the batch's one
    summary, ``(added columns, lineage partitions, n_dlq)``, from ONE
    _batch_summary over the persisted decode.

    Each unknown key of ``data`` is typed from a raw payload whose VALUE
    for it is non-null (parse.go:190-207: int->long, fraction->double,
    str->string, nested->json string): a first JSON null would type it
    string forever (ALTER ADD is sticky). Evolution never adds a PK
    column, so the PK-valid flag is final before the ALTER."""
    import pyspark.sql.types as T

    samples, partitions, n_dlq = _batch_summary(table, events)
    fields = []
    for k in sorted(samples):
        dt = T.StringType()
        if samples[k] is not None:
            try:
                dt = infer_json_type(json.loads(samples[k]).get(k))
            except (ValueError, TypeError):
                pass
        fields.append(T.StructField(k, dt, True))
    table.alter_add_columns(fields)
    return [f.name for f in fields], partitions, n_dlq


def parse_kafka_envelope(raw: DataFrame) -> DataFrame:
    """Kafka wire record -> normalized F2 feed envelope.

    ``raw`` has the spark-sql-kafka columns (key/value binary, topic,
    partition, offset, ...). The value bytes carry the feed-envelope JSON,
    but Kafka's OWN partition/offset replace the envelope's — they are the
    real lineage + LWW-tiebreak coordinates (the reference likewise tracks
    kafka partition/offset, pkg/tube/kfks.go:97-181), and a producer-side
    envelope offset could repeat across topics/retries.

    Pure function of a DataFrame so the mapping is contract-testable
    without a broker (test_kafka_envelope_contract); ``_reader`` feeds it
    the real readStream."""
    parsed = raw.withColumn(
        "env", F.from_json(F.col("value").cast("string"), FEED_SCHEMA)
    )
    return parsed.select(
        F.col("env.op").alias("op"),
        F.col("env.repo").alias("repo"),
        F.col("env.path").alias("path"),
        F.col("env.commit").alias("commit"),
        F.col("offset").alias("offset"),
        F.col("env.payload").alias("payload"),
        F.col("partition").cast("int").alias("partition"),
    )


class IncrementalSync:
    """Owns one job's foreachBatch loop + lineage/metrics sidecar."""

    def __init__(self, spark: SparkSession, spec: JobSpec):
        from cds_spark.secrets import expand_spec_env, spec_public_view

        self.spark = spark
        # runtime sees ${ENV} placeholders RESOLVED (DSNs, brokers, paths);
        # everything durable/observable logs the public view (unexpanded
        # placeholders, plaintext credentials redacted) — the Spark analog
        # of the reference's encrypted etcd job records (etcdjob.go:62-78)
        self.spec = expand_spec_env(spec)
        self._spec_public = spec_public_view(spec)
        spec = self.spec
        self.table = LakeTable.load(spark, spec.table_root)
        self.lineage_path = os.path.join(
            spec.lineage_dir or os.path.join(spec.table_root, "_lineage"),
            f"{spec.job_id}.jsonl",
        )
        os.makedirs(os.path.dirname(self.lineage_path), exist_ok=True)
        self._append_lineage({"job_start": True, "ts": time.time(),
                              "spec": self._spec_public})

    # -- one micro-batch (also callable directly for batch-mode replay) ----
    def process_batch(self, batch: DataFrame, batch_id: int) -> dict:
        t0 = time.time()
        table = self.table
        if table._fence_applied((self.spec.job_id, batch_id)):
            rec = {"batch_id": batch_id, "skipped": True, "ts": time.time()}
            self._append_lineage(rec)
            return rec
        # ONE decode, persisted ONCE (micro-batches are bounded by
        # maxFilesPerTrigger / maxOffsetsPerTrigger): the batch summary,
        # the DLQ write and the merge read the cache. With evolve_schema
        # off the summary runs the same, only the ALTER is skipped.
        cached = decode_feed(batch, inject=self.spec.version_inject).persist()
        try:
            if self.spec.evolve_schema:
                added, lineage_rows, n_dlq = discover_and_evolve(table, cached)
            else:
                added = []
                _, lineage_rows, n_dlq = _batch_summary(table, cached)
            rows, dlq = events_to_rows(cached, table.schema, table.pk)
            # the dead letters are durable before the merge's fence commit:
            # a crash between the two cannot lose them; one file per batch
            if n_dlq and self.spec.dlq_dir:
                dlq.withColumn("_batch_id", F.lit(batch_id)).coalesce(1).write.mode(
                    "append").parquet(self.spec.dlq_dir)
            stats = table.merge(
                rows, fence=(self.spec.job_id, batch_id), mode=self.spec.merge_mode
            )
        finally:
            cached.unpersist()
        maintained: dict | None = None
        every = self.spec.maintenance_every_batches
        if every and not stats.skipped and (batch_id + 1) % every == 0:
            compacted = table.compact(
                max_generations=self.spec.compact_max_generations
            )
            maintained = {"compacted_buckets": len(compacted)}
            if self.spec.expire_keep_last:
                maintained.update(
                    table.expire_snapshots(keep_last=self.spec.expire_keep_last)
                )
            if self.spec.auto_rebucket:
                st = table.stats()
                per_tick = max(1, int(self.spec.auto_rebucket_groups_per_tick))
                if st.get("rebucket_in_progress"):
                    # an earlier tick (or a crashed driver) left the
                    # migration incomplete: RESUME at the already-committed
                    # target — stats() withholds suggestions in this state,
                    # so without this branch the table would stay on the
                    # degraded conservative-overlap paths forever
                    rb = table.rebucket(table.n_buckets, max_groups=per_tick)
                    maintained["rebucket"] = {
                        "to": table.n_buckets, "resumed": True,
                        "done": rb.get("done"),
                        "rewritten_files": rb.get("rewritten_files"),
                        "commits": rb.get("commits"),
                    }
                else:
                    sugg = int(st.get("rebucket_suggested_n") or 0)
                    # clamp by HALVING, not min(): the suggestion is a
                    # power-of-two multiple of n_buckets (what keeps
                    # _bucket_overlap exact during the migration) and min()
                    # could land on a modulus sharing no factor with it,
                    # degrading every mid-migration read to a full scan
                    max_n = max(1, int(self.spec.auto_rebucket_max_n))
                    target = sugg
                    while target > max_n:
                        target //= 2
                    if target > table.n_buckets:
                        # max_groups bounds THIS tick's rewrite work; the
                        # resume branch above finishes the migration across
                        # later ticks, so ingest never stalls O(table)
                        rb = table.rebucket(target, max_groups=per_tick)
                        maintained["rebucket"] = {
                            "to": target, "done": rb.get("done"),
                            "rewritten_files": rb.get("rewritten_files"),
                            "commits": rb.get("commits"),
                        }
                    elif sugg:
                        # heal requested but blocked by the cap — surface
                        # it in lineage instead of silently dropping it
                        maintained["rebucket"] = {
                            "blocked": True, "suggested": sugg,
                            "max_n": max_n,
                        }
        deduped: dict | None = None
        d_every = self.spec.dedup_every_batches
        if (self.spec.dedup_dst and d_every and not stats.skipped
                and (batch_id + 1) % d_every == 0):
            from cds_spark.operators.incdedup import dedup_sync

            deduped = dedup_sync(
                self.spark, table.root, self.spec.dedup_dst,
                f"{self.spec.job_id}-dedup",
                text_col=self.spec.dedup_text_col,
            )
        rec = {
            "job_id": self.spec.job_id,
            "batch_id": batch_id,
            "skipped": stats.skipped,
            "snapshot_version": stats.version,
            "source_rows": stats.source_rows,
            "touched_buckets": stats.touched_buckets,
            "total_buckets": stats.total_buckets,
            "schema_added": added,
            "partitions": lineage_rows,
            "n_dlq": n_dlq,
            "maintenance": maintained,
            "dedup": deduped,
            "duration_s": round(time.time() - t0, 3),
            "ts": time.time(),
        }
        self._append_lineage(rec)
        return rec

    def _append_lineage(self, rec: dict) -> None:
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    # -- streaming driver ---------------------------------------------------
    def _reader(self):
        """Build the source DataFrame in the normalized feed envelope.

        file: a directory of feed-JSON files stands in for the topic
        (maxFilesPerTrigger plays maxOffsetsPerTrigger).
        kafka: value carries the same envelope JSON; Kafka's own
        partition/offset replace the envelope's (the real lineage columns,
        pkg/tube/kfks.go:97-181)."""
        if self.spec.source_format == "kafka":
            if not (self.spec.kafka_bootstrap_servers and self.spec.kafka_topic):
                raise ValueError("kafka source requires kafka_bootstrap_servers + kafka_topic")
            try:
                raw = (
                    self.spark.readStream.format("kafka")
                    .option("kafka.bootstrap.servers", self.spec.kafka_bootstrap_servers)
                    .option("subscribe", self.spec.kafka_topic)
                    .option("maxOffsetsPerTrigger", self.spec.kafka_max_offsets_per_trigger)
                    .load()
                )
            except Exception as e:  # connector jar absent in this sandbox
                raise RuntimeError(
                    "kafka source unavailable — launch with the connector jar: "
                    "spark-submit --packages "
                    "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
                ) from e
            return parse_kafka_envelope(raw)
        return (
            self.spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", self.spec.max_files_per_trigger)
            .json(self.spec.source_dir)
        )

    def start(self, trigger_once: bool = False, processing_time: str = "2 seconds"):
        """Start the stream."""
        reader = self._reader()
        writer = reader.writeStream.option("checkpointLocation", self.spec.checkpoint_dir)
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).start()

    def run_available(self) -> None:
        """Process everything currently in the source dir, then stop
        (Trigger.AvailableNow) — the primary test/replay entry."""
        q = self.start(trigger_once=True)
        q.awaitTermination()


def jdbc_keyset_scan(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    num_partitions: int | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """Parallel JDBC snapshot scan — the Spark analog of the reference's
    SERIAL keyset pagination (``WHERE pk > ? ORDER BY pk LIMIT 20000``,
    cmd/dm/data/mysql2clickhouse.go:31-119): one MIN/MAX bounds probe,
    then ``numPartitions`` range-partitioned readers each scanning a pk
    stride server-side (Spark pushes ``pk >= lo AND pk < hi`` per task).
    Where the reference pages one window at a time per job, every stride
    here streams concurrently — same server-side index walk, N-way.

    Requires the source's JDBC driver jar on the classpath
    (``spark-submit --jars mysql-connector-j.jar``); the option mapping is
    contract-tested without a driver (test_jdbc_bootstrap_contract)."""
    props = dict(properties or {})
    n = num_partitions or spark.sparkContext.defaultParallelism
    pc = partition_column
    bounds_q = f"(SELECT MIN({pc}) AS lo, MAX({pc}) AS hi FROM {table}) cds_bounds"
    b = spark.read.jdbc(url, bounds_q, properties=props).collect()[0]
    # case-insensitive field access: Derby/Oracle upper-case unquoted aliases
    bd = {k.lower(): v for k, v in b.asDict().items()}
    lo, hi = bd["lo"], bd["hi"]
    try:
        lo_i, hi_i = (None, None) if lo is None else (int(lo), int(hi))
    except (TypeError, ValueError):
        # non-numeric keyset column (UUID/string PK): range partitioning
        # impossible — fall back to a single-reader snapshot rather than
        # crash (pass a numeric column for parallelism)
        lo_i = hi_i = None
    if lo_i is None or hi_i is None or lo_i == hi_i:
        return spark.read.jdbc(url, table, properties=props)
    return spark.read.jdbc(
        url,
        table,
        column=pc,
        lowerBound=lo_i,
        upperBound=hi_i + 1,  # Spark's upperBound is exclusive
        numPartitions=n,
        properties=props,
    )


def _source_type_to_spark(sql_type: str):
    """The reference's 4-way source-type lattice
    (cmd/dm/util/mysqltypeconv.go:128-141: contains "int" -> Int,
    decimal/double/float -> Float, date/time -> Time, else String),
    landed on Spark types. Substring rules, like the reference, so vendor
    variants (bigint unsigned, datetime(6), tinytext) map without a
    per-vendor table."""
    from pyspark.sql import types as T

    t = sql_type.lower()
    if "int" in t:
        return T.LongType()
    if "decimal" in t or "double" in t or "float" in t:
        return T.DoubleType()
    if "date" in t or "time" in t:
        return T.TimestampType()
    return T.StringType()


def introspect_jdbc_metadata(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
):
    """Universal introspection through ``java.sql.DatabaseMetaData`` —
    the JDBC-standard probe every driver implements (getColumns +
    getPrimaryKeys), reached via the driver JVM. Covers sources with no
    information_schema at all (Derby, Oracle, older SQLite drivers); used
    as the final fallback of :func:`introspect_jdbc` and e2e-tested against
    a LIVE embedded Derby database (test_jdbc_derby_live.py). TYPE_NAMEs
    map through the same reference type lattice
    (cmd/dm/util/mysqltypeconv.go:128-141)."""
    from pyspark.sql import types as T

    jvm = spark._sc._jvm  # noqa: SLF001 — public py4j JVM view
    props = dict(properties or {})
    if "driver" in props:
        # ensure the driver class registers with DriverManager
        jvm.java.lang.Class.forName(props["driver"])
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        if k != "driver":
            jprops.setProperty(k, str(v))
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        md = conn.getMetaData()
        # unquoted identifiers fold differently per engine: try the name
        # as given, then the engine's folded forms
        for name in (table, table.upper(), table.lower()):
            cols = []
            rs = md.getColumns(None, None, name, None)
            while rs.next():
                cols.append(
                    (
                        rs.getString("COLUMN_NAME"),
                        rs.getString("TYPE_NAME") or "",
                        rs.getInt("ORDINAL_POSITION"),
                    )
                )
            rs.close()
            if not cols:
                continue
            pks = []
            rs = md.getPrimaryKeys(None, None, name)
            while rs.next():
                pks.append((rs.getString("COLUMN_NAME"), rs.getShort("KEY_SEQ")))
            rs.close()
            cols.sort(key=lambda c: c[2])
            fields = [T.StructField(c[0], _source_type_to_spark(c[1])) for c in cols]
            pk = [c for c, _ in sorted(pks, key=lambda p: p[1])]
            return T.StructType(fields), pk
    finally:
        conn.close()
    raise ValueError(f"introspect_jdbc_metadata: table {table!r} not found")


def introspect_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
):
    """Live source introspection — the Spark analog of the reference's
    ``DESC `table``` probe (cmd/dm/util/mysqltypeconv.go:44-72): one JDBC
    read of information_schema.columns yields (name, type, key, ordinal);
    names map through the reference's type lattice into a lake StructType
    in source ordinal order, and COLUMN_KEY='PRI' columns (ordinal order,
    like the reference's pks index map) become the primary key.

    Returns ``(StructType, pk: list[str])``. information_schema is ANSI —
    the same probe works on MySQL, MariaDB, Postgres (COLUMN_KEY absent
    there -> empty pk, caller supplies one). Contract-tested without a
    driver jar (test_jdbc_introspect_contract)."""
    from pyspark.sql import types as T

    safe = table.replace("'", "''")
    # scope to the CONNECTION's schema: same-named tables in other
    # databases must not pollute the inferred columns/PK
    q = (
        "(SELECT column_name AS col, column_type AS typ, column_key AS pri, "
        "ordinal_position AS pos FROM information_schema.columns "
        f"WHERE table_name = '{safe}' AND table_schema = database()) cds_desc"
    )
    q_ansi = (
        "(SELECT column_name AS col, data_type AS typ, '' AS pri, "
        "ordinal_position AS pos FROM information_schema.columns "
        f"WHERE table_name = '{safe}' AND table_schema = current_schema()) cds_desc"
    )
    try:
        raw = spark.read.jdbc(url, q, properties=dict(properties or {})).collect()
    except Exception:
        # non-MySQL sources: column_type/column_key/database() are MySQL
        # dialect — retry with the ANSI names (no PK metadata there; the
        # caller supplies pk=)
        try:
            raw = spark.read.jdbc(url, q_ansi, properties=dict(properties or {})).collect()
        except Exception:
            # no information_schema at all (Derby, Oracle, SQLite): the
            # JDBC-standard DatabaseMetaData probe works everywhere and
            # recovers the PK too
            return introspect_jdbc_metadata(spark, url, table, properties)
    rows = sorted(raw, key=lambda r: int(r["pos"]))
    if not rows:
        raise ValueError(f"introspect_jdbc: source table {table!r} has no columns")
    fields = [T.StructField(r["col"], _source_type_to_spark(r["typ"] or "")) for r in rows]
    pk = [r["col"] for r in rows if (r["pri"] or "").upper() == "PRI"]
    return T.StructType(fields), pk


def bootstrap_jdbc(
    spark: SparkSession,
    url: str,
    source_table: str,
    table_root: str,
    pk: list[str] | None,
    version_cols: list[str],
    n_buckets: int = 64,
    num_partitions: int | None = None,
    properties: dict | None = None,
) -> LakeTable:
    """dm full sync straight from a live RDBMS: parallel keyset scan ->
    lake table overwrite (cmd/dm/cmd/sync/dm.go:33-106). The first PK
    column drives the range partitioning (the reference's keyset column).
    ``pk=None`` introspects the primary key from the source's
    information_schema (the reference's DESC-driven auto-DDL path)."""
    if not pk:
        _, pk = introspect_jdbc(spark, url, source_table, properties)
        if not pk:
            raise ValueError(
                f"bootstrap_jdbc: source {source_table!r} exposes no PRI columns; pass pk="
            )
    src = jdbc_keyset_scan(
        spark, url, source_table, pk[0], num_partitions, properties
    )
    return bootstrap(
        spark, src, table_root, pk=pk, version_cols=version_cols, n_buckets=n_buckets
    )


def _hour_in_window(hour: int, start_hour: int, end_hour: int) -> bool:
    """The reference's execution-window rule (mongo2clickhouse.go:99-103):
    (0, 0) = no window (always allowed); start <= end is the in-day
    window start_hour <= hour <= end_hour; start > end wraps midnight —
    (22, 5) means 22:00-05:59, the canonical off-peak maintenance window
    (a non-wrapping reading of it would never match any hour and the job
    would silently pause forever)."""
    if start_hour == 0 and end_hour == 0:
        return True
    if start_hour <= end_hour:
        return start_hour <= hour <= end_hour
    return hour >= start_hour or hour <= end_hour


def full_sync_windowed(
    spark: SparkSession,
    source: DataFrame,
    table_root: str,
    pk: list[str],
    version_cols: list[str],
    keyset_col: str | None = None,
    n_chunks: int = 16,
    n_buckets: int = 64,
    window_hours: tuple[int, int] = (0, 0),
    status_path: str | None = None,
    job_id: str = "fullsync",
    clock=None,
) -> dict:
    """Window-gated, mid-collection-resumable full sync — the dm Mongo
    lifecycle (cmd/dm/data/mongo2clickhouse.go:99-108 + the PAUSE/resume
    manager, cmd/dm/module/manager.go:45-69) re-expressed Spark-first:

    - the collection scan is split into ``n_chunks`` keyset ranges on
      ``keyset_col`` (default: first pk column) — the chunk is the unit of
      both window-gating and resume, like the reference's 50k-row batches;
    - BEFORE each chunk, the wall-clock hour is checked against
      ``window_hours`` (start, end): outside the window the job STOPS,
      writing a PAUSE status with the first unsynced chunk's lower bound
      (the reference records the first unwritten ``_id``);
    - each chunk lands via an offset-fenced append merge, so a resumed or
      crashed-and-replayed chunk is idempotent — resume just reruns the
      loop and the fence skips completed chunks even if the status file
      was lost.

    ``status_path`` (default ``<table_root>/_fullsync.<job_id>.json``)
    carries {status: RUNNING|PAUSE|FINISHED, next_chunk, next_key} — the
    etcd status record analog. ``clock`` is an injectable ``lambda ->
    datetime`` for tests. Returns the final status dict.

    At 100TB: each chunk is a bounded distributed job (scan one keyset
    stride, bucket-shuffle, write); the driver loop adds no per-row work,
    and a pause/resume boundary costs one fence check per chunk."""
    import datetime

    clock = clock or (lambda: datetime.datetime.now())
    status_path = status_path or os.path.join(
        table_root, f"_fullsync.{job_id}.json"
    )

    kc = keyset_col or pk[0]

    table = LakeTable.load_or_create(
        spark, table_root, source.schema, pk, version_cols, n_buckets,
        properties={"merge_mode": "append"},
    )

    def _write_status(st: dict) -> None:
        os.makedirs(os.path.dirname(status_path), exist_ok=True)
        tmp = status_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, status_path)

    prev = {}
    if os.path.exists(status_path):
        with open(status_path) as f:
            prev = json.load(f)
        if prev.get("status") == "FINISHED":
            return prev
    start_chunk = int(prev.get("next_chunk", 0))

    # The chunk GRID must be frozen on the first run: if the source grows
    # during a PAUSE window (monotonic ids — the reference's canonical
    # scenario), recomputing min/max would shift every chunk boundary and
    # rows falling into already-fenced chunk indexes would silently never
    # sync. So bounds are computed once, persisted in the status sidecar,
    # and reused verbatim on resume; growth past the frozen grid is picked
    # up by a final tail chunk (the analog of the reference paging
    # `key > last LIMIT n` until exhaustion, mongo2clickhouse.go:99-108).
    import math

    # The sidecar is NOT the only copy of the frozen grid: bounds are also
    # committed into the table's own properties with the first grid chunk
    # (below), so a lost sidecar — or one written by a pre-bounds version of
    # this code — recovers the exact grid from the table. Without either
    # copy, a resume with fences already advanced must FAIL LOUDLY for
    # numeric keysets: recomputing min/max over a grown source shifts every
    # chunk boundary, and rows landing in already-fenced chunk indexes
    # would silently never sync. (Hash-striped non-numeric keysets are
    # growth-stable, so they may recompute safely.)
    bounds_key = f"fullsync.{job_id}.bounds"
    stored = table.properties.get(bounds_key)
    bd = prev.get("bounds") or (json.loads(stored) if stored else None)
    if bd is not None:
        lo, hi, numeric = bd["lo"], bd["hi"], bd["numeric"]
        span = bd["span"]
        # n_chunks is PART of the frozen grid: chunk fences are indexed by
        # position in THIS grid, so resuming under a different chunk count
        # (config drift between runs) would re-interpret fenced indexes
        # against shifted boundaries and silently skip key ranges. Frozen
        # value wins over the argument. (Grids frozen by a pre-n_chunks
        # version lack the field; those resumes keep the argument, same as
        # before — the drift hazard closes for every grid frozen from now.)
        n_chunks = int(bd.get("n_chunks", n_chunks))
    else:
        import pyspark.sql.types as _T

        fence_advanced = table.fence(f"fullsync.{job_id}") is not None
        key_numeric = isinstance(source.schema[kc].dataType, _T.NumericType)
        if key_numeric and (start_chunk > 0 or fence_advanced):
            raise RuntimeError(
                f"full_sync_windowed[{job_id}]: resume state exists "
                f"(next_chunk={start_chunk}, fence_advanced={fence_advanced}) "
                "but the frozen chunk grid is recoverable from neither the "
                "status sidecar nor the table properties. Recomputing the "
                "grid over the (possibly grown) source would silently skip "
                "rows in already-fenced chunks. Clear the job's fence "
                "property and restart the sync from scratch."
            )
        b = source.agg(
            F.min(kc).alias("lo"), F.max(kc).alias("hi")
        ).collect()[0]
        lo, hi = b["lo"], b["hi"]
        if lo is None:  # empty source
            st = {"job_id": job_id, "status": "FINISHED", "next_chunk": n_chunks}
            _write_status(st)
            return st
        numeric = isinstance(lo, (int, float))
        if numeric:
            # floor, not int(): int() truncates toward zero, so a negative
            # non-integral lo (e.g. -3.5) would yield a chunk-0 lower bound
            # ABOVE lo and permanently drop rows in [lo, int(lo))
            lo = math.floor(lo)
            hi = math.floor(hi)
            span = hi - lo + 1
        else:
            lo, hi, span = str(lo), str(hi), None
    bounds = {"lo": lo, "hi": hi, "numeric": numeric, "span": span,
              "n_chunks": n_chunks}

    # grid chunks 0..n_chunks-1 cover [lo, lo+span); tail chunk n_chunks
    # catches keys >= lo+span that arrived after the grid was frozen
    # (hash stripes need no tail: stripe membership is growth-stable)
    total_chunks = n_chunks + 1 if numeric else n_chunks

    for i in range(start_chunk, total_chunks):
        hour = clock().hour
        if not _hour_in_window(hour, *window_hours):
            if numeric:
                next_key = lo + (span * i) // n_chunks if i < n_chunks else lo + span
            else:
                next_key = None
            st = {
                "job_id": job_id, "status": "PAUSE",
                "next_chunk": i, "next_key": next_key,
                "window_hours": list(window_hours),
                "bounds": bounds,
            }
            _write_status(st)
            return st
        if not numeric:
            # non-numeric keyset: hash-stripe the key space (same resume
            # unit; ranges just aren't contiguous in key order)
            chunk = source.filter(
                F.pmod(F.xxhash64(kc), F.lit(n_chunks)) == i
            )
        elif i < n_chunks:
            c_lo = lo + (span * i) // n_chunks
            c_hi = lo + (span * (i + 1)) // n_chunks
            chunk = source.filter((F.col(kc) >= c_lo) & (F.col(kc) < c_hi))
        else:  # tail: growth beyond the frozen grid
            chunk = source.filter(F.col(kc) >= lo + span)
        table.merge(
            chunk, fence=(f"fullsync.{job_id}", i), mode="append",
            # durable second copy of the frozen grid (see resume logic)
            extra_properties={bounds_key: json.dumps(bounds)},
        )
        _write_status({
            "job_id": job_id, "status": "RUNNING",
            "next_chunk": i + 1, "bounds": bounds,
        })

    st = {"job_id": job_id, "status": "FINISHED", "next_chunk": total_chunks}
    _write_status(st)
    return st


def bootstrap(
    spark: SparkSession,
    source: DataFrame,
    table_root: str,
    pk: list[str],
    version_cols: list[str],
    n_buckets: int = 64,
) -> LakeTable:
    """The dm-equivalent full sync: snapshot -> lake table (overwrite).

    Where cds pages `SELECT ... WHERE pk > ? LIMIT 20000` serially
    (cmd/dm/data/mysql2clickhouse.go:31-119), Spark parallelizes the scan;
    incremental overlap after bootstrap converges by the same LWW rule
    (doc/CDS中ClickHouse使用的建表方案.md:87)."""
    table = LakeTable.load_or_create(
        spark, table_root, source.schema, pk, version_cols, n_buckets)
    table.overwrite(source)
    return table


def _evolve_to(dst: "LakeTable", want) -> None:
    """Apply column add / type-widen so ``dst`` covers schema ``want``."""
    dst_fields = {f.name: f for f in dst.schema.fields}
    added = [f for f in want.fields if f.name not in dst_fields]
    if added:
        dst.alter_add_columns(added)
    for f in want.fields:
        have = dst_fields.get(f.name)
        if have is not None and have.dataType != f.dataType:
            dst.alter_widen_column(f.name, f.dataType)


def cascade_sync(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    job_id: str,
    n_buckets: int | None = None,
    transform=None,
) -> dict:
    """Lake-to-lake incremental cascade: a downstream table tails an
    upstream table's snapshot history via ``LakeTable.changes`` and applies
    the delta with the same fenced LWW merge the ingest uses — derived
    tables get exactly-once without re-reading the upstream or the Kafka
    topic (the lake-native analog of chaining a second sync job off the
    first's output; cds users do this by double-writing the topic).

    State is one number: the fence property ``fence.{job_id}`` on the
    DESTINATION records the last upstream snapshot version applied, so the
    commit of the merge and the advance of the cursor are atomic (same
    manifest CAS). Re-running after any crash point replays an
    already-applied delta into an LWW merge — convergent — or skips via
    the fence. Per tick the work is O(upstream delta), never O(table).
    The cursor rule is ``LakeTable.fence(job_id, tail=True)``, shared with
    ``dedup_sync`` / ``ann_index_sync``: a destination holding data
    without the fence is refused.

    First call bootstraps: full upstream state (tombstones included, so a
    later compact purge stays consistent) seeds the destination, fenced at
    the upstream's current version — also into an empty destination left
    by a crash between create and the first merge. Returns {applied,
    from, to, skipped}.

    ``transform`` (optional) maintains a DERIVED VIEW instead of a copy: a
    ROW-WISE DataFrame -> DataFrame function (quality scores, token
    counts, PII scrub, column projection...) applied to the bootstrap,
    every delta, and any full refresh. It must preserve the PK and version
    columns and the ``_is_delete``/``_offset`` meta columns, and must stay
    one-row-per-row (no aggregation — LWW then no longer commutes with
    it). The destination's schema is the TRANSFORMED schema, and upstream
    schema evolution reaches the destination through the transform's
    output (the add/widen diff below runs on the transformed delta).
    """
    t0 = time.time()
    tf = transform if transform is not None else (lambda df: df)
    from cds_spark.lake.table import IS_DELETE as _DEL, OFFSET as _OFF

    def _log(dst_root_: str, rec: dict) -> None:
        # same lineage JSONL convention as IncrementalSync: the cascade is
        # a sync job too, status/monitoring reads it identically
        ldir = os.path.join(dst_root_, "_lineage")
        os.makedirs(ldir, exist_ok=True)
        with open(os.path.join(ldir, f"{job_id}.jsonl"), "a") as f:
            f.write(json.dumps({**rec, "job_id": job_id,
                                "duration_s": round(time.time() - t0, 3),
                                "ts": time.time()}) + "\n")

    src = LakeTable.load(spark, src_root)

    def _dst_schema(tdf, in_cols):
        fields = [f for f in tdf.schema.fields
                  if f.name not in (_DEL, _OFF, "_bucket")]
        have = {f.name for f in fields}
        missing = [c for c in list(src.pk) + list(src.version_cols)
                   if c != _OFF and c not in have]
        # the meta columns must survive the transform too: a dropped
        # _is_delete would be default-filled False downstream (upstream
        # deletes silently resurrect as mostly-NULL "live" rows), a
        # dropped _offset zeroes the LWW tiebreak
        missing += [c for c in (_DEL, _OFF)
                    if c in in_cols and c not in tdf.columns]
        if missing:
            raise ValueError(
                f"cascade transform must preserve PK/version/meta "
                f"columns; missing {missing}")
        import pyspark.sql.types as _T
        return _T.StructType(fields)

    v2 = src.version
    # the destination schema is the transform's output over the upstream's
    # columns, taken from an empty bucket selection: it indexes no file,
    # where the full read below indexes every one (bootstrap/refresh only)
    shape = src.read(buckets=[], live_only=False, with_meta=True,
                     collapse=False)
    dst = LakeTable.load_or_create(
        spark, dst_root, _dst_schema(tf(shape), shape.columns), pk=src.pk,
        version_cols=src.version_cols, n_buckets=n_buckets or src.n_buckets,
        properties={"merge_mode": src.properties.get("merge_mode", "upsert")},
    )
    from_v = dst.fence(job_id, tail=True)
    if from_v >= v2:
        return {"applied": 0, "from": from_v, "to": v2, "skipped": True}  # no-op: not logged
    delta = None
    if from_v:
        try:
            # raises ValueError when the incremental read is impossible:
            # cursor fell off the retained-snapshot window, or the window
            # contains a mutation snapshot (purge/update/overwrite) whose
            # removals can't be expressed as change rows. ONLY changes()
            # is guarded — a merge failure must propagate, not masquerade
            # as a refresh trigger
            delta = src.changes(from_v, v2).drop("_change_version")
        except ValueError:
            pass
    if delta is None:
        # bootstrap, or an Iceberg-style full refresh (an overwrite — also
        # how upstream purges/updates reach the destination): the
        # upstream's full state, tombstones included, so a later compact
        # purge stays consistent
        raw = src.read(live_only=False, with_meta=True, collapse=True)
        full = tf(raw)
        _evolve_to(dst, _dst_schema(full, raw.columns))
        if from_v:
            stats = dst.overwrite(full, fence=(job_id, v2))
            applied: int | str = "full-refresh"
        else:
            stats = dst.merge(full, fence=(job_id, v2), precollapsed=True)
            applied = "bootstrap"
    else:
        tdelta = tf(delta)
        # propagate upstream schema evolution (column add / widen) before
        # apply — diffed on the TRANSFORMED delta, so it works identically
        # for plain copies and derived views
        _evolve_to(dst, _dst_schema(tdelta, delta.columns))
        stats = dst.merge(tdelta, fence=(job_id, v2))
        applied = stats.rows_written
    rec = {"applied": applied, "from": from_v, "to": v2,
           "skipped": stats.skipped}
    _log(dst_root, rec)
    return rec


def run_many(spark: SparkSession, specs: Sequence["JobSpec"], trigger_once: bool = True):
    """Host several sync jobs in ONE Spark application — the deployment
    shape a real cluster wants (the reference runs one OS process per
    table job; Spark multiplexes N concurrent streaming queries over one
    executor pool, so a database's tables share resources instead of each
    reserving a silo).

    Each job keeps its own checkpoint, fence namespace, lineage file and
    target table, so failure isolation and exactly-once semantics are
    per-job exactly as with separate processes. Jobs must target DISTINCT
    tables (two writers on one table would fight the manifest CAS every
    batch; use one job per table).

    trigger_once=True drains all sources (AvailableNow), waits for EVERY
    query (one job's failure does not tear down its siblings), and
    returns a dict of job_id -> error message for the jobs that failed
    (empty when all drained clean); otherwise returns the list of live
    queries."""
    from cds_spark.secrets import expand_spec_env

    # guard on the EXPANDED, normalized roots — '${DATA_ROOT}/t1' vs
    # '/data/t1' (or a trailing slash) must not sneak two writers onto
    # one table past a raw-string comparison
    roots = [os.path.normpath(expand_spec_env(s).table_root) for s in specs]
    if len(set(roots)) != len(roots):
        raise ValueError("run_many: each JobSpec must target a distinct table_root")
    queries = [IncrementalSync(spark, s).start(trigger_once=trigger_once) for s in specs]
    if not trigger_once:
        return queries
    failures: dict[str, str] = {}
    for s, q in zip(specs, queries):
        try:
            q.awaitTermination()
        except Exception as e:  # noqa: BLE001 — drain the siblings first
            failures[s.job_id] = str(e)
    return failures
