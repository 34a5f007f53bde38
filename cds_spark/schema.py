"""Type lattice, lenient coercion, and schema-evolution planning.

Mirrors the reference's semantics (not its code):

- 4-type internal lattice String/Int/Float/Time with per-type null defaults
  ("", 0, 0.0, epoch) — reference cmd/rtu/model/debeziumsyncdatatype.go:12-28.
- lenient, never-fail value coercion (string->int fallback 0, multi-layout
  time parse fallback epoch) — reference cmd/rtu/model/canalsyncmodel.go:100-146,
  debeziumsyncdatatype.go:156-170.
- numeric widening Int32->Int64->Float64 — reference
  cmd/dm/util/clickhousetypeconv.go:55-105.
- new-column type inference from JSON values (float->double, int->long,
  string->string, object->json string) — reference cmd/rtu/handle/parse.go:190-207.

All coercions are JVM expressions (try_cast / coalesce / try_to_timestamp):
no per-row Python anywhere in the hot path.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type lattice
# ---------------------------------------------------------------------------

EPOCH = "1970-01-01 00:00:00"

#: per-type null defaults, reference debeziumsyncdatatype.go:22-28 (NullValMap)
DEFAULTS = {
    T.StringType(): "",
    T.LongType(): 0,
    T.DoubleType(): 0.0,
    T.TimestampType(): EPOCH,
}

_NUMERIC_RANK = {
    "byte": 0,
    "short": 1,
    "integer": 2,
    "long": 3,
    "float": 4,
    "double": 5,
}


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least-upper-bound of two scalar types under the widening lattice.

    byte < short < int < long < double, float < double, date < timestamp;
    anything incompatible degrades to string (the reference serializes
    unknown/nested values to strings — connectormongomodel.go:169-178).
    """
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _NUMERIC_RANK and bn in _NUMERIC_RANK:
        hi = max(_NUMERIC_RANK[an], _NUMERIC_RANK[bn])
        # int64 + float32/64 -> double (exact reference behavior: Float64)
        if hi >= 4 or {an, bn} & {"float", "double"}:
            return T.DoubleType()
        return {0: T.ByteType(), 1: T.ShortType(), 2: T.IntegerType(), 3: T.LongType()}[hi]
    if {an, bn} == {"date", "timestamp"}:
        return T.TimestampType()
    return T.StringType()


def is_widening(frm: T.DataType, to: T.DataType) -> bool:
    """True if ``frm`` can be promoted to ``to`` without information loss."""
    return widen(frm, to) == to


# ---------------------------------------------------------------------------
# lenient coercion (JVM expressions)
# ---------------------------------------------------------------------------

#: multi-layout timestamp parsing, reference model/common.go:126-152 — ordered
#: most-specific first; epoch-ms and epoch-s integers are also accepted.
TIME_LAYOUTS = [
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy/MM/dd HH:mm:ss",
]


_MAP_SS = T.MapType(T.StringType(), T.StringType())

# Mongo extended-JSON wrapper unwrapping, HOT-PATH EDITION. Coercion runs
# once per column per event, squarely on the ingest path — and
# from_json/JsonToStructs is a CodegenFallback expression: a first cut that
# parsed wrappers with from_json left 142 fallback nodes in the
# events_to_rows plan, knocked the whole projection out of whole-stage
# codegen, and cost 13x on the 2M-event replay (26.5s vs 2s). The wrapper
# grammar is tiny and closed ({"$oid": h}, {"$numberX": n}, {"$date":
# ms|iso|{"$numberLong": ms}}), so anchored regexp_extract (fully
# codegen'd, pattern compiled once) replaces the JSON parser here; the
# real decoders still use from_json where a full parse is genuinely needed.
_OID_RE = r'^\s*\{\s*"\$oid"\s*:\s*"([^"]*)"\s*\}\s*$'
_NUM_RE = r'^\s*\{\s*"\$number(?:Long|Int|Double|Decimal)"\s*:\s*"?([-+0-9.eE]+)"?\s*\}\s*$'
#: groups: 1 = ISO string, 2 = plain number (ms), 3 = nested $numberLong (ms)
_DATE_RE = (
    r'^\s*\{\s*"\$date"\s*:\s*(?:"([^"]*)"|(-?[0-9]+(?:\.[0-9]+)?)'
    r'|\{\s*"\$numberLong"\s*:\s*"?(-?[0-9]+)"?\s*\})\s*\}\s*$'
)


def _rx(s: Column, pattern: str, idx: int) -> Column:
    """regexp_extract with no-match/'' normalized to NULL."""
    return F.nullif(F.regexp_extract(s, pattern, idx), F.lit(""))


def _guarded(s: Column, col: Column) -> Column:
    """Cheap prefix gate: ordinary values never reach the regex."""
    return F.when(s.startswith("{"), col)


def _oid_token(s: Column) -> Column:
    return _guarded(s, _rx(s, _OID_RE, 1))


def _date_ms_token(s: Column) -> Column:
    """Numeric epoch-ms token of a ``$date`` wrapper (plain or
    $numberLong-nested form)."""
    return _guarded(s, F.coalesce(_rx(s, _DATE_RE, 2), _rx(s, _DATE_RE, 3)))


def _date_iso_token(s: Column) -> Column:
    return _guarded(s, _rx(s, _DATE_RE, 1))


def _ext_num_token(s: Column) -> Column:
    """Numeric token inside a Mongo extended-JSON wrapper:
    ``$numberLong``/``$numberInt``/``$numberDouble``/``$numberDecimal`` and
    ``$date`` (always epoch-ms) — reference connectormongomodel.go:127-167
    converts exactly these during value coercion; without the unwrap a
    ``$date`` object would silently coerce to the epoch default (wrong
    timestamps for every Mongo source)."""
    return _guarded(s, F.coalesce(_rx(s, _NUM_RE, 1), _rx(s, _DATE_RE, 2), _rx(s, _DATE_RE, 3)))


def lenient_long(c: Column) -> Column:
    """string/number -> long; Mongo extended-JSON wrappers unwrapped
    ($date -> epoch ms, like the reference); non-numeric -> 0
    (canalsyncmodel.go:100-146, connectormongomodel.go:127-167)."""
    s = c.cast("string")
    ext = _ext_num_token(s)
    # every narrowing step is try_cast: under ANSI SQL (Spark 4 default)
    # a plain double->long cast THROWS on NaN/Inf/overflow — 'NaN' or
    # '1e30' in a long column must yield the documented fallback 0, not
    # kill the micro-batch
    return F.coalesce(
        c.try_cast("long"),
        c.try_cast("double").try_cast("long"),
        ext.try_cast("long"),
        ext.try_cast("double").try_cast("long"),
        F.lit(0),
    )


def lenient_double(c: Column) -> Column:
    ext = _ext_num_token(c.cast("string"))
    return F.coalesce(c.try_cast("double"), ext.try_cast("double"), F.lit(0.0))


#: epoch seconds of 0001-01-02 .. 9999-12-31 UTC, the range Python's datetime
#: holds: a wider Spark timestamp raises on every PySpark read, so a garbage
#: epoch number beyond it takes the epoch fallback (never-fail,
#: debeziumsyncdatatype.go:156-170); in ms it also keeps timestamp_millis'
#: micros multiplyExact, which throws even off ANSI, from overflowing.
_EPOCH_S_MIN, _EPOCH_S_MAX = -62135510400, 253402214400


def _safe_ms(num: Column) -> Column:
    return F.when(num.between(_EPOCH_S_MIN * 1000, _EPOCH_S_MAX * 1000),
                  F.timestamp_millis(num))


def lenient_timestamp(c: Column) -> Column:
    """Multi-layout parse; integers treated as epoch ms (>=10^12) or s;
    Mongo ``{"$date": ms|iso|{"$numberLong"}}`` unwrapped as epoch-ms /
    ISO (connectormongomodel.go:134-152); unparseable -> epoch
    (debeziumsyncdatatype.go:156-170)."""
    s = c.cast("string")
    as_long = s.try_cast("long")
    candidates = [F.try_to_timestamp(s, F.lit(fmt)) for fmt in TIME_LAYOUTS]
    # $date is ALWAYS epoch-ms when numeric (no ms-vs-s heuristic), else ISO
    date_ms = _date_ms_token(s)
    date_iso = _date_iso_token(s)
    date_ts = F.coalesce(
        _safe_ms(date_ms.try_cast("long")),
        *[F.try_to_timestamp(date_iso, F.lit(fmt)) for fmt in TIME_LAYOUTS],
    )
    # plain epoch ints, incl. {"$numberLong"/"$numberInt": "n"} wrappers
    # (the reference converts those to int before its time dispatch)
    num = F.coalesce(as_long, _guarded(s, _rx(s, _NUM_RE, 1)).try_cast("long"))
    epoch_like = F.when(
        num.isNotNull(),
        F.when(F.abs(num) >= F.lit(10**12), _safe_ms(num)).otherwise(
            F.when(num.between(_EPOCH_S_MIN, _EPOCH_S_MAX), F.timestamp_seconds(num))
        ),
    )
    return F.coalesce(*candidates, date_ts, epoch_like, F.lit(EPOCH).cast("timestamp"))


def lenient_string(c: Column) -> Column:
    s = c.cast("string")
    # ObjectId wrapper -> its hex (the reference unwraps _id.$oid at decode;
    # this covers ObjectId-valued columns under any other name); numeric
    # wrappers -> their token (the reference converts $date/$numberLong to
    # int for every key before type dispatch, so a string column sees the
    # number's text); other JSON objects stay raw JSON text (json.Marshal)
    return F.coalesce(_oid_token(s), _ext_num_token(s), s, F.lit(""))


def coerce(c: Column, dt: T.DataType, lenient: bool = True) -> Column:
    """Cast a (usually string) column to a target type with the reference's
    never-fail fallback semantics."""
    if not lenient:
        return c.cast(dt)
    tn = dt.typeName()
    if tn in ("byte", "short", "integer", "long"):
        # try_cast + re-coalesce: long->byte/short/int overflow throws
        # under ANSI; never-fail means out-of-range -> 0
        return F.coalesce(lenient_long(c).try_cast(dt), F.lit(0).cast(dt))
    if tn in ("float", "double"):
        return F.coalesce(lenient_double(c).try_cast(dt),
                          F.lit(0.0).cast(dt))
    if tn == "timestamp":
        return lenient_timestamp(c)
    if tn == "date":
        return lenient_timestamp(c).cast("date")
    if tn == "boolean":
        return F.coalesce(c.try_cast("boolean"), F.lit(False))
    return lenient_string(c)


def default_literal(dt: T.DataType) -> Column:
    """Type default for a missing column (NullValMap semantics)."""
    tn = dt.typeName()
    if tn in ("byte", "short", "integer", "long"):
        return F.lit(0).cast(dt)
    if tn in ("float", "double"):
        return F.lit(0.0).cast(dt)
    if tn == "timestamp":
        return F.lit(EPOCH).cast("timestamp")
    if tn == "boolean":
        return F.lit(False)
    return F.lit("")


# ---------------------------------------------------------------------------
# schema evolution planning
# ---------------------------------------------------------------------------

def infer_json_type(value) -> T.DataType:
    """cds's new-column inference from a sample JSON value (parse.go:190-207)."""
    if isinstance(value, bool):
        return T.StringType()  # reference maps bool -> LowCardinality(String)
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, (dict, list)):
        return T.StringType()  # nested -> JSON string
    return T.StringType()


def evolution_plan(
    table_schema: T.StructType, event_schema: T.StructType
) -> tuple[list[T.StructField], list[tuple[str, T.DataType]]]:
    """Diff event schema vs table schema.

    Returns (columns to ADD, columns to WIDEN[(name, new_type)]).
    Narrowing/incompatible changes never alter the table: the event value is
    coerced to the existing column type instead (lenient, never-fail).
    """
    existing = {f.name: f.dataType for f in table_schema.fields}
    adds: list[T.StructField] = []
    widens: list[tuple[str, T.DataType]] = []
    for f in event_schema.fields:
        cur = existing.get(f.name)
        if cur is None:
            adds.append(T.StructField(f.name, f.dataType, True))
        elif cur != f.dataType and is_widening(cur, f.dataType):
            widens.append((f.name, f.dataType))
    return adds, widens


def align_to_schema(df: DataFrame, schema: T.StructType, lenient: bool = True) -> DataFrame:
    """Project ``df`` onto ``schema``: order columns, cast leniently, fill
    missing columns with nulls (reference fills type defaults at parse —
    parse.go:150-157; we keep nulls in the lake and expose defaults on read)."""
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        if f.name in have:
            cols.append(coerce(F.col(f.name), f.dataType, lenient).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
