"""Change-event decode: raw bytes/JSON -> normalized c/u/d events.

The reference normalizes four wire dialects to one internal interface
(cmd/rtu/model/common.go:13-18):

- canal-mysql          (cmd/rtu/model/canalsyncmodel.go:12-23, 204-220)
- debezium-mysql       (cmd/rtu/model/common.go:81-85)
- debezium-mongodb     (cmd/rtu/model/common.go:86-91)
- connector-mongodb    (cmd/rtu/model/connectormongomodel.go:11-28)

Spark-first: every dialect is a ``from_json`` + column expressions — fully
JVM-side, whole-stage-codegen'd, no Python in the decode hot path. (The
reference benchmarked jsoniter for the same reason, parse_test.go:78-94.)
Values are carried as ``map<string,string>`` (the reference's ValueMap,
common.go:93-95); nested objects should be pre-serialized to JSON strings
upstream exactly as the reference does (connectormongomodel.go:169-178).

Normalized output schema (one row per change):
    op          string      'c' | 'u' | 'd'
    data        map<string,string>   after-image (c/u) or key-only (d)
    exists      array<string>        columns the event actually carried
                                     (partial-update mask, common.go:49-56)
    _partition  int/long    source partition (lineage)
    _offset     long        source offset (version tiebreak + lineage)

Unparseable messages are split to a DLQ, mirroring the `{topic}-failed`
producer (pkg/tube/kfks.go:53-58, 201-211).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAP_SS = T.MapType(T.StringType(), T.StringType())

#: per-row offset stride for canal batch messages: row offset =
#: message_offset * STRIDE + row position. Canal's batch size config is
#: well under this; message offsets stay distinct up to 2^51 messages.
CANAL_BATCH_STRIDE = 4096

NORMALIZED_FIELDS = ["op", "data", "exists", "_partition", "_offset"]

# op whitelists — canalsyncmodel.go:71-88, connectormongomodel.go:74-101,
# debeziumsyncmodel.go:150-151 ('r' snapshot reads dropped). ONE SQL map
# literal: F.create_map of F.lit pairs costs a py4j command per key and value
_OP_MAP_SQL = (
    "map('insert', 'c', 'INSERT', 'c', 'replace', 'c', 'create', 'c', 'c', 'c',"
    " 'update', 'u', 'UPDATE', 'u', 'u', 'u', 'delete', 'd', 'DELETE', 'd', 'd', 'd')"
)


def _norm_op(col):
    return F.expr(_OP_MAP_SQL)[col]


def pk_valid(parsed: F.Column, pk_values: Sequence[F.Column]) -> F.Column:
    """The one DLQ split rule (events_to_rows, decode_feed_checked, the
    pipeline's batch summary), on the RAW wire values before coercion
    (parse.go:141-144): the payload parsed, and every PK value is
    present, non-null and non-empty (an absent key reads as NULL)."""
    ok = parsed
    for v in pk_values:
        ok = ok & v.isNotNull() & (v != "")
    return ok


def _materialize(df: DataFrame, keep: Sequence[str], **exprs) -> DataFrame:
    """Evaluate each expression exactly ONCE per row, emitting the results
    as plain columns behind an ``explode(array(struct(...)))`` Generate.

    from_json is CodegenFallback: CollapseProject inlines it into every
    downstream reference, so an envelope struct read N times is an envelope
    PARSED N times (measured 13x on the feed path, see events_to_rows).
    The Generate node is the one optimizer barrier projections cannot
    collapse across and predicates cannot push below; downstream
    references to these columns become O(1) struct-field reads of the
    generator output. ``keep`` columns pass through untouched."""
    packed = F.struct(*[c.alias(k) for k, c in exprs.items()])
    staged = df.select(*keep, F.explode(F.array(packed)).alias("__once"))
    return staged.select(*keep, *[F.col(f"__once.{k}").alias(k) for k in exprs])


def _finish(
    df: DataFrame,
    partition_col: str | None,
    offset_col: str | None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    if offset_col is None:
        # A monotonically_increasing_id() fallback would be partition-layout-
        # dependent and change across restarts — replays would NOT converge
        # under the (commit, offset) LWW tiebreak: the caller must supply a
        # real, stable offset column.
        raise ValueError("decode requires offset_col (stable unique per event)")
    part = F.col(partition_col) if partition_col else F.lit(0)
    off = F.col(offset_col)
    return df.select(
        "op",
        "data",
        "exists",
        part.cast("long").alias("_partition"),
        off.cast("long").alias("_offset"),
        *[F.col(c) for c in keep_cols],
    )


# ---------------------------------------------------------------------------
# dialects
# ---------------------------------------------------------------------------


def decode_canal(
    df: DataFrame,
    value_col: str = "value",
    partition_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """canal-mysql: ``{type, data:[{...}], old:[{...}]}`` — one message holds
    a *batch* of rows (canalsyncmodel.go:204-220) -> explode to one event per
    row. DELETE rows are key+before-image; type whitelist filters DDL etc."""
    if offset_col is None:
        # same guard as _finish, raised before the offset is composed below
        raise ValueError("decode requires offset_col (stable unique per event)")
    schema = T.StructType(
        [
            T.StructField("type", T.StringType()),
            T.StructField("data", T.ArrayType(MAP_SS)),
            T.StructField("old", T.ArrayType(MAP_SS)),
        ]
    )
    # the raw payload is not needed past the parse: carrying it through
    # the Generate would copy the widest column per row (and re-run the
    # caller's value expression if it is computed)
    keep = [c for c in df.columns if c != value_col]
    p = _materialize(df, keep, _e=F.from_json(F.col(value_col), schema))
    p = p.withColumn("op", _norm_op(F.col("_e.type"))).filter(F.col("op").isNotNull())
    p = p.select("*", F.posexplode_outer(F.col("_e.data")).alias("_rowpos", "data"))
    # one canal message holds a BATCH of rows: every row needs a DISTINCT
    # LWW offset or two changes to the same PK inside one message collide
    # on (commit, _offset) and the winner is arbitrary (the reference
    # assigns consecutive insert ids per row, canalsyncmodel.go:204-220).
    # Compose message offset with the row position; canal's configured
    # batch size is far below the stride.
    p = p.withColumn(
        "__off",
        F.col(offset_col).cast("long") * F.lit(CANAL_BATCH_STRIDE)
        + F.coalesce(F.col("_rowpos").cast("long"), F.lit(0)))
    p = p.withColumn("exists", F.map_keys(F.col("data")))
    return _finish(p, partition_col, "__off")


def decode_debezium_mysql(
    df: DataFrame,
    value_col: str = "value",
    partition_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """debezium-mysql: ``{payload:{before, after, op}}``; 'r' snapshot events
    dropped; delete uses before-image (debeziumsyncmodel.go:88-156)."""
    schema = T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", MAP_SS),
                        T.StructField("after", MAP_SS),
                        T.StructField("op", T.StringType()),
                    ]
                ),
            )
        ]
    )
    # the raw payload is not needed past the parse: carrying it through
    # the Generate would copy the widest column per row (and re-run the
    # caller's value expression if it is computed)
    keep = [c for c in df.columns if c != value_col]
    p = _materialize(df, keep, _e=F.from_json(F.col(value_col), schema))
    p = p.withColumn("op", _norm_op(F.col("_e.payload.op"))).filter(F.col("op").isNotNull())
    p = p.withColumn(
        "data",
        F.when(F.col("op") == "d", F.col("_e.payload.before")).otherwise(
            F.col("_e.payload.after")
        ),
    )
    p = p.withColumn("exists", F.map_keys(F.col("data")))
    return _finish(p, partition_col, offset_col)


def decode_connector_mongo(
    df: DataFrame,
    value_col: str = "value",
    partition_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """connector-mongodb change stream: ``{operationType, fullDocument,
    documentKey, updateDescription:{updatedFields, removedFields}}``
    (connectormongomodel.go:11-28). updates are PARTIAL: data = documentKey
    + updatedFields + removedFields-reset-to-default.

    A removed field is RESET, not skipped (connectormongomodel.go:113-118:
    ``vm[columnName] = NullValMap[dataType]``) — it lands in ``data`` as the
    empty string and in the exists mask, so column-wise LWW overwrites the
    stale value; the lenient coercion in events_to_rows turns '' into the
    per-type default ('' / 0 / 0.0 / epoch), exactly NullValMap
    (debeziumsyncdatatype.go:22-28). The reference resets only columns the
    table knows; we carry unknown removed keys too — harmless, since
    events_to_rows projects onto the table schema anyway."""
    empty_map = F.from_json(F.lit("{}"), MAP_SS)
    schema = T.StructType(
        [
            T.StructField("operationType", T.StringType()),
            T.StructField("fullDocument", MAP_SS),
            T.StructField("documentKey", MAP_SS),
            T.StructField(
                "updateDescription",
                T.StructType(
                    [
                        T.StructField("updatedFields", MAP_SS),
                        T.StructField("removedFields", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
        ]
    )
    # the raw payload is not needed past the parse: carrying it through
    # the Generate would copy the widest column per row (and re-run the
    # caller's value expression if it is computed)
    keep = [c for c in df.columns if c != value_col]
    p = _materialize(df, keep, _e=F.from_json(F.col(value_col), schema))
    p = p.withColumn("op", _norm_op(F.col("_e.operationType"))).filter(F.col("op").isNotNull())
    removed = F.coalesce(
        F.col("_e.updateDescription.removedFields"),
        F.array().cast(T.ArrayType(T.StringType())),
    )
    # updatedFields first, removed-reset second: a key in both ends reset,
    # matching the reference's loop order (requires LAST_WIN, set by session)
    upd = F.map_concat(
        F.coalesce(F.col("_e.documentKey"), empty_map),
        F.coalesce(F.col("_e.updateDescription.updatedFields"), empty_map),
        F.map_from_arrays(removed, F.transform(removed, lambda _: F.lit(""))),
    )
    p = p.withColumn(
        "data",
        F.when(F.col("op") == "c", F.col("_e.fullDocument"))
        .when(F.col("op") == "u", upd)
        .otherwise(F.col("_e.documentKey")),
    )
    p = p.withColumn("exists", F.map_keys(F.col("data")))
    return _finish(p, partition_col, offset_col)


def _mongoize_parts(m, set_obj, id_obj, empty_map):
    """The debezium-mongodb ValueMap normalization (debeziumsyncmodel.go
    setValueMap, :158-199) over PRE-PARSED pieces: ``set_obj`` = parsed
    ``$set`` member, ``id_obj`` = parsed ``_id`` member (null unless a
    JSON object). decode_debezium_mongo materializes those behind a
    Generate barrier so each nested from_json runs once per row instead
    of once per reference.

    Rules: ``$v`` dropped (protocol version marker); ``$set`` flattened
    with ``$`` stripped from its keys; ``_id`` object unwrapped
    (``{"$oid": hex}`` -> ``_id=hex``; any other ``$``-wrapper key is
    stripped and kept); scalar ``_id`` kept as-is; other nested objects
    stay as raw JSON text (map<string,string> rendering == json.Marshal).

    Deviation (documented): the reference's Go switch silently DROPS
    boolean- and array-valued fields (no case for them); we keep them as
    strings — strictly more information, and the lenient coercion
    downstream yields the same typed defaults."""
    base = F.map_filter(
        F.coalesce(m, empty_map), lambda k, _: ~k.isin("$set", "$v", "_id")
    )
    set_m = F.transform_keys(
        F.coalesce(set_obj, empty_map),
        lambda k, _: F.regexp_replace(k, r"[$]", ""),
    )
    id_raw = F.element_at(m, "_id")
    id_m = (
        F.when(
            id_obj.isNotNull(),
            F.transform_keys(
                id_obj,
                lambda k, _: F.when(
                    F.regexp_replace(k, r"[$]", "") == "oid", F.lit("_id")
                ).otherwise(F.regexp_replace(k, r"[$]", "")),
            ),
        )
        .when(id_raw.isNotNull(), F.create_map(F.lit("_id"), id_raw))
        .otherwise(empty_map)
    )
    return F.map_concat(base, set_m, id_m)


def decode_debezium_mongo(
    df: DataFrame,
    value_col: str = "value",
    partition_col: str | None = None,
    offset_col: str | None = None,
) -> DataFrame:
    """debezium-mongodb: ``{payload:{filter, after, patch, op}}`` where
    filter/after/patch are JSON *strings* (Mongo extended JSON) —
    debeziumsyncmodel.go:106-155 + envelope common.go:86-91:

    - ``c``: parse ``after``;
    - ``u``: ``$set`` patch merged with the ``filter`` key (filter wins on
      conflict — the reference applies patch first, then filter over it);
    - ``d``: ``filter`` only;
    - ``r`` (snapshot read): dropped (debeziumsyncmodel.go:150-151).

    Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by
    :func:`cds_spark.session.get_spark`) for the patch<-filter overwrite
    order. Extended-JSON *values* (``{"$date": ms}`` etc.) surviving into
    ``data`` are unwrapped later by the lenient coercion
    (:mod:`cds_spark.schema`), mirroring the reference's type loop."""
    empty_map = F.from_json(F.lit("{}"), MAP_SS)
    schema = T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("filter", T.StringType()),
                        T.StructField("after", T.StringType()),
                        T.StructField("patch", T.StringType()),
                        T.StructField("op", T.StringType()),
                    ]
                ),
            )
        ]
    )
    # Three materialization levels (see _materialize): envelope parse,
    # then the three member-map parses, then the nested $set/_id parses —
    # every from_json runs once per row, all downstream references are
    # O(1) struct/attribute reads.
    # raw payload dropped at the first barrier (widest column; see the
    # other dialects)
    base_keep = [c for c in df.columns if c != value_col]
    p = _materialize(df, base_keep, _env=F.from_json(F.col(value_col), schema))
    p = p.withColumn("op", _norm_op(F.col("_env.payload.op"))).filter(F.col("op").isNotNull())
    keep = base_keep + ["op"]
    p = _materialize(
        p,
        keep,
        _af=F.from_json(F.col("_env.payload.after"), MAP_SS),
        _pa=F.from_json(F.col("_env.payload.patch"), MAP_SS),
        _fi=F.from_json(F.col("_env.payload.filter"), MAP_SS),
    )
    keep = keep + ["_af", "_pa", "_fi"]
    p = _materialize(
        p,
        keep,
        _af_set=F.from_json(F.element_at(F.col("_af"), "$set"), MAP_SS),
        _af_id=F.from_json(F.element_at(F.col("_af"), "_id"), MAP_SS),
        _pa_set=F.from_json(F.element_at(F.col("_pa"), "$set"), MAP_SS),
        _pa_id=F.from_json(F.element_at(F.col("_pa"), "_id"), MAP_SS),
        _fi_set=F.from_json(F.element_at(F.col("_fi"), "$set"), MAP_SS),
        _fi_id=F.from_json(F.element_at(F.col("_fi"), "_id"), MAP_SS),
    )
    after_m = _mongoize_parts(F.col("_af"), F.col("_af_set"), F.col("_af_id"), empty_map)
    patch_m = _mongoize_parts(F.col("_pa"), F.col("_pa_set"), F.col("_pa_id"), empty_map)
    filter_m = _mongoize_parts(F.col("_fi"), F.col("_fi_set"), F.col("_fi_id"), empty_map)
    # a missing/unparseable member -> data NULL -> undecodable DLQ split
    # (the reference returns an error from UnmarshalFromString, feeding the
    # {topic}-failed producer); 'u' needs BOTH patch and filter
    data = (
        F.when(F.col("op") == "c", F.when(F.col("_af").isNotNull(), after_m))
        .when(
            F.col("op") == "u",
            F.when(
                F.col("_pa").isNotNull() & F.col("_fi").isNotNull(),
                F.map_concat(patch_m, filter_m),
            ),
        )
        .otherwise(F.when(F.col("_fi").isNotNull(), filter_m))
    )
    # fourth level: the assembled map itself (referenced by exists AND the
    # downstream row projection — the map_filter/transform_keys chain is
    # not free either); drop the intermediate parses and the envelope here
    p = _materialize(p, base_keep + ["op"], data=data)
    p = p.withColumn("exists", F.map_keys(F.col("data")))
    return _finish(p, partition_col, offset_col)


def decode_feed(
    df: DataFrame,
    payload_col: str = "payload",
    op_col: str = "op",
    partition_col: str | None = "partition",
    offset_col: str | None = "offset",
    inject: dict[str, str] | None = None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The fixture F2 feed (FIXTURES.md): op given, payload = flat JSON
    after-image for c/u, key-only for d — a simplified Debezium envelope.

    ``inject`` maps data keys to envelope columns merged under the payload
    (payload wins on conflict — requires mapKeyDedupPolicy=LAST_WIN, set by
    :func:`cds_spark.session.get_spark`). Used to carry the envelope version
    column (``commit``) into delete events whose payload is key-only.

    ``keep_cols`` passes raw envelope columns through (e.g. ``payload`` for
    the fused schema-evolution discovery — one decode scan per batch)."""
    p = df.withColumn("op", _norm_op(F.col(op_col))).filter(F.col("op").isNotNull())
    p = p.withColumn("data", F.from_json(F.col(payload_col), MAP_SS))
    if inject:
        env = F.create_map(
            *[x for k, src in inject.items() for x in (F.lit(k), F.col(src).cast("string"))]
        )
        p = p.withColumn(
            "data", F.when(F.col("data").isNotNull(), F.map_concat(env, F.col("data")))
        )
    p = p.withColumn("exists", F.map_keys(F.col("data")))
    return _finish(p, partition_col, offset_col, keep_cols)


def split_dead_letters(checked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(rows, dlq)`` of typed rows + ``_raw`` + the pk_valid flag
    ``__keep``: the valid rows without ``_raw``, the dead letters with it."""
    dlq = checked.filter(~F.col("__keep")).drop("__keep")
    good = checked.filter(F.col("__keep")).drop("__keep", "_raw")
    return good, dlq


def decode_feed_rows(df: DataFrame, table_schema: T.StructType,
                     pk: Sequence[str], **kw) -> tuple[DataFrame, DataFrame]:
    """:func:`decode_feed_checked` split into ``(rows, dlq)``."""
    return split_dead_letters(decode_feed_checked(df, table_schema, pk, **kw))


def decode_feed_checked(
    df: DataFrame,
    table_schema: T.StructType,
    pk: Sequence[str],
    payload_col: str = "payload",
    op_col: str = "op",
    partition_col: str | None = "partition",
    offset_col: str | None = "offset",
    inject: dict[str, str] | None = None,
) -> DataFrame:
    """Fused feed decode -> typed rows, unsplit (split_dead_letters), so one
    persist feeds the rows, the dead letters and the pipeline's summary.

    Split, semantically equivalent to ``decode_feed`` + ``events_to_rows``
    for row-mode merges (asserted on adversarial payloads by
    test_fused_decode_matches_two_stage) but ~2.8x faster at 2M events:
    one ``from_json`` straight into ``struct<col:string, ...>`` instead of
    ``map<string,string>`` + ``map_keys`` + per-column ``getItem`` /
    ``array_contains`` — no map materialization, no exists array, one less
    full-row copy. Spark renders nested objects, duplicate keys (last
    wins), and numeric literals identically in both parse modes.

    What this path deliberately does NOT produce is the ``exists``
    partial-update mask: JSON-absent and JSON-null are both struct-null.
    Row-mode LWW (the reference's ReplacingMergeTree shape) replaces the
    whole row per version so the distinction is immaterial; column-wise
    merges and schema-evolution discovery need the map form — use the
    two-stage path there (pipeline does, when evolve_schema=True).

    DLQ parity: a malformed / non-object payload parses to an all-null
    struct, so it fails the raw-PK presence test exactly like the map
    path's null-map ``ok`` flag (pk is never empty for a lake table).
    ``_raw`` on the DLQ is the original payload string — closer to the
    reference's verbatim `{topic}-failed` producer (pkg/tube/kfks.go:53-58)
    than the re-rendered map."""
    if offset_col is None:
        raise ValueError("decode requires offset_col (stable unique per event)")
    if not pk:
        raise ValueError("decode_feed_checked requires a non-empty pk")
    inject = inject or {}
    unknown = set(inject) - {f.name for f in table_schema.fields}
    if unknown:
        raise ValueError(f"inject keys must be table columns, got {sorted(unknown)}")
    from cds_spark.schema import coerce

    ss = T.StructType([T.StructField(f.name, T.StringType()) for f in table_schema.fields])
    p = df.withColumn("op", _norm_op(F.col(op_col))).filter(F.col("op").isNotNull())
    part = F.col(partition_col).cast("long") if partition_col else F.lit(0).cast("long")
    # explode(array(from_json)) = the same load-bearing Generate barrier as
    # events_to_rows: the CodegenFallback parse runs ONCE per row and no
    # downstream projection/predicate can inline or push through it
    staged = p.select(
        F.col("op"),
        part.alias("_partition"),
        F.col(offset_col).alias("_offset"),
        F.col(payload_col).alias("_raw"),
        *[F.col(src).cast("string").alias(f"__inj_{k}") for k, src in inject.items()],
        F.explode(F.array(F.from_json(F.col(payload_col), ss))).alias("__j"),
    )

    def _rawv(name: str) -> F.Column:
        v = F.col(f"__j.{name}")
        if name not in inject:
            return v
        # payload wins over the injected envelope column (LAST_WIN parity
        # with decode_feed's map_concat(env, data)) — but ONLY when the
        # payload actually parsed: the map path applies inject on
        # data.isNotNull(), and without the same gate an injected PK
        # column would defeat the DLQ split for malformed payloads
        return F.when(F.col("__j").isNotNull(),
                      F.coalesce(v, F.col(f"__inj_{name}")))

    # coerce only carried values; a struct-null means key-absent in the
    # overwhelmingly common case (key-only deletes, partial updates) and
    # must land as NULL like the map path. The one undecidable edge — a key
    # present with an explicit JSON null — also lands NULL here, where the
    # map path applies the type default ('' / 0); flat CDC after-images
    # don't emit explicit nulls for carried columns, and the equivalence
    # test pins every other case.
    sel = [
        F.when(_rawv(f.name).isNotNull(), coerce(_rawv(f.name), f.dataType))
        .otherwise(F.lit(None).cast(f.dataType))
        .alias(f.name)
        for f in table_schema.fields
    ]
    # PK presence on the RAW wire values, pre-coercion
    keep = pk_valid(F.col("__j").isNotNull(), [_rawv(k) for k in pk])
    return staged.select(
        *sel,
        F.col("op").alias("_op"),
        (F.col("op") == "d").alias("_is_delete"),
        F.col("_partition"),
        F.col("_offset"),
        keep.alias("__keep"),
        F.col("_raw"),
    )


# ---------------------------------------------------------------------------
# normalized events -> typed rows (+ DLQ split)
# ---------------------------------------------------------------------------


def events_to_rows(
    events: DataFrame,
    table_schema: T.StructType,
    pk: Sequence[str],
    version_cols: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """Project normalized events onto the target table schema.

    Returns ``(rows, dlq)``:
    - rows: typed columns per ``table_schema`` + ``_op``/``_is_delete`` +
      lineage/version passthrough. Missing cells -> NULL (the lake keeps
      NULL; reads can substitute type defaults) — parse.go:150-157.
    - dlq: events rejected for missing PK (parse.go:141-144,
      insert.go:13-14) or undecodable payload.

    Physical shape (hard-won; see test_plans + the bench): the raw value
    and exists-flag of every column are evaluated ONCE per row inside a
    struct emitted through ``explode(array(struct))`` — a Generate node.
    The Generate is the load-bearing optimization barrier, twice over:

    - CollapseProject + SimplifyExtractValueOps would otherwise inline the
      map lookups / array_contains into EVERY reference the coercion makes
      (~8 per column; measured 4-8x slower replay), and inline the
      CodegenFallback from_json into the same projection (killing
      whole-stage codegen for the entire decode+coerce stage);
    - predicate pushdown substitutes deterministic filters through every
      Project regardless of cost (a pushed DLQ-split filter re-built the
      whole decode chain ~50x inside one interpreted Filter), but CANNOT
      push a predicate referencing generator output below the Generate.

    Net plan: [decode from_json once] -> Generate -> codegen'd coercion
    projection over O(1) struct-field reads -> split filter evaluated on
    materialized values.
    """
    from cds_spark.schema import coerce

    fields = table_schema.fields
    packed = F.struct(
        *[F.col("data").getItem(f.name).alias(f"v{i}") for i, f in enumerate(fields)],
        *[
            F.array_contains(F.col("exists"), f.name).alias(f"h{i}")
            for i, f in enumerate(fields)
        ],
        F.col("data").isNotNull().alias("ok"),
    )
    staged = events.select(
        F.col("op"),
        F.col("_partition"),
        F.col("_offset"),
        F.col("data").alias("_raw"),
        # array(struct) always has exactly one element, so explode is a
        # 1:1 row mapping — it exists purely as the optimization barrier
        F.explode(F.array(packed)).alias("__e"),
    )
    sel = [
        F.when(F.col(f"__e.h{i}"), coerce(F.col(f"__e.v{i}"), f.dataType))
        .otherwise(F.lit(None).cast(f.dataType))
        .alias(f.name)
        for i, f in enumerate(fields)
    ]
    # PK presence on the RAW event values (pk_valid) — also keeps the
    # split filter to O(1) struct-field reads instead of re-running the
    # coercion trees inside the predicate
    idx = {f.name: i for i, f in enumerate(fields)}
    keep = pk_valid(F.col("__e.ok"), [F.col(f"__e.v{idx[k]}") for k in pk])
    full = staged.select(
        *sel,
        F.col("op").alias("_op"),
        (F.col("op") == "d").alias("_is_delete"),
        F.col("_partition"),
        F.col("_offset"),
        keep.alias("__keep"),
        F.col("_raw"),
    )
    return split_dead_letters(full)
