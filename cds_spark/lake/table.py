"""LakeTable — a from-scratch, snapshot-committed, MERGE-capable table format.

The sandbox has no Iceberg runtime jar, so the lake layer the north rule
requires (keyed upserts, schema evolution, snapshot metadata for offset
fencing, time travel) is implemented here directly on parquet + atomic JSON
manifests. The design is deliberately Iceberg-shaped so swapping in a real
Iceberg catalog (`MERGE INTO` SQL) is a sink-level change only.

Layout::

    <root>/
      _meta/
        version-00000001.json      # snapshot manifest: FULL or DELTA record
        _current                   # advisory pointer (version files rule)
      data/
        txn-00000001/_bucket=NNN/part-*.parquet

Manifests form a delta log (Delta-Lake-style JSON actions + periodic full
checkpoints): steady-state micro-batch commits write O(changed files)
metadata, not O(table) — see MANIFEST_CHECKPOINT_EVERY below.

Key properties (scale rationale):

- **Hash-bucketed by PK** (``pmod(xxhash64(pk), n_buckets)``) — the Spark
  equivalent of cds's client-side ``siphash(pk) % shards`` partitioning
  (pkg/ckgroup/common.go:153-162, pkg/table/table.go:120). A MERGE only
  reads + rewrites the buckets containing touched keys (copy-on-write per
  bucket); untouched buckets carry their file entries forward. At 100TB
  with n_buckets=4096, a micro-batch touching hot keys rewrites a bounded
  slice of the table, not the whole thing.
- **Atomic snapshot commit** — claiming version N = exclusively creating
  ``version-N.json`` (``os.link``, EEXIST for the loser): a true CAS, so
  two processes can never both believe they committed N. The current
  version is the max committed version file; ``_current`` is an advisory
  fast-path pointer. Readers always see a complete snapshot; a crashed
  writer leaves only unreachable files. This is the Spark/Iceberg analog
  of cds's transactional per-shard insert (pkg/ckgroup/common.go:164-192).
- **Offset-fenced idempotent commits** — snapshot properties record the
  last applied ``(job_id, batch_id)``; replaying an already-applied
  micro-batch is a no-op, upgrading Structured Streaming's at-least-once
  foreachBatch to exactly-once (the reference instead relies on LWW
  idempotence — doc/CDS中ClickHouse使用的建表方案.md:87 — which we ALSO keep).
- **Tombstones retained** — deletes are rows with ``_is_delete=true``,
  exactly ClickHouse's ``ck_is_delete`` (pkg/table/table.go:52); the
  ``read(live_only=True)`` view is the ``{t}_now`` analog
  (pkg/table/table.go:143-147). Retaining tombstones makes replayed /
  out-of-order older updates unable to resurrect deleted rows. ``compact``
  can purge them once the feed is past their version.
- **Schema evolution as metadata** — ADD COLUMN / type-widen commit a new
  schema id; old files are never rewritten; reads group files by schema id,
  cast, and union by name (parse.go:180-265's ALTER ... ADD COLUMN flow).
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stat_encode(v):
    """Canonical JSON-storable zone-map value. Temporal values encode to
    integers (timestamp -> UTC microseconds, date -> proleptic ordinal)
    so manifests stay JSON and comparisons stay total-ordered; anything
    not str/int/float after encoding returns None (column gets no zone
    map). Scan bounds MUST pass through the same encoding — the contract
    that keeps file skipping sound for temporal columns."""
    import datetime

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:  # parquet naive == UTC (session pinned UTC)
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.toordinal()
    return v if isinstance(v, (str, int, float)) else None


_EPOCH_ORDINAL = 719163  # datetime.date(1970, 1, 1).toordinal()


def _stat_decode_lit(dt, encoded):
    """Column-domain literal for a zone-map-encoded value — the inverse of
    :func:`_stat_encode` for the types it rewrites (timestamp <- UTC
    microseconds, date <- proleptic ordinal). Required whenever a cutoff
    DERIVED FROM FILE STATS is pushed back into a row-level filter: the
    stats domain is ints, the rows are temporal — comparing them raw
    either fails to resolve or applies a wildly wrong bound."""
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.timestamp_micros(F.lit(int(encoded))).cast(dt)
    if isinstance(dt, T.DateType):
        return F.date_from_unix_date(F.lit(int(encoded) - _EPOCH_ORDINAL))
    return F.lit(encoded)


def _parquet_footer_stats(path: str, cols: Sequence[str]) -> tuple:
    """(row count, per-column [min, max] zone map) from ONE parquet footer
    read (Iceberg lower/upper bound stats) — the commit path calls this
    per written file, so a single ParquetFile construction matters. Files
    are written ``sortWithinPartitions(pk)`` so PK ranges are tight and
    file-skipping on point lookups is effective. Stats are PER COLUMN: a
    column without usable footer stats (non-scalar type, old writer) is
    simply absent from the dict (readers treat absence as keep-the-file);
    temporal columns encode via :func:`_stat_encode`. Rows are None when
    the footer is unreadable."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None, None
    rows = int(md.num_rows)
    try:
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        out: dict[str, list] = {}
        for c in cols:
            if c not in idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
                mn, mx = _stat_encode(mn), _stat_encode(mx)
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                out[c] = [lo, hi]
        return rows, (out or None)
    except Exception:
        return rows, None

from cds_spark.operators.dedup import lww_collapse
from cds_spark.schema import is_widening

META_DIR = "_meta"
DATA_DIR = "data"

# Delta-log manifests: a streaming ingest commits thousands of micro-batches,
# and rewriting the FULL file list per commit is O(total files) metadata I/O —
# at 10^10 events (~1M live files, ~500B of JSON stats per entry) that is
# ~500MB written per 30k-event micro-batch, the classic metadata bottleneck
# Iceberg solves with manifest lists and Delta with its JSON log + parquet
# checkpoints. Here version-N.json is either a FULL snapshot or a DELTA
# {"delta_of": N-1, "files_add": [entries], "files_remove": [paths]} carrying
# every small top-level field verbatim; readers materialize by walking back to
# the nearest full snapshot (chain bounded by the checkpoint interval below).
# The exclusive-create CAS is untouched — a delta file claims its version
# exactly like a full one, so every concurrency property is unchanged.
MANIFEST_CHECKPOINT_EVERY = 25  # override per table: property manifest.checkpoint_every

#: Full checkpoints whose serialized JSON meets this size are gzipped on
#: disk (same ``version-N.json`` name — the os.link CAS is filename-based,
#: so the commit protocol is untouched; readers sniff the 2-byte gzip
#: magic). Per-file entries are highly repetitive JSON (~10× ratio at
#: level 1), so at 10^6 files the periodic checkpoint drops from ~500 MB
#: to tens of MB. Deltas and small fulls stay plain for debuggability.
#: Override per table: property ``manifest.gzip_min_bytes``.
MANIFEST_GZIP_MIN_BYTES = 1 << 20
IS_DELETE = "_is_delete"
OFFSET = "_offset"

#: max purge key-set rows hinted as a broadcast in the anti-join that
#: drops the purged keys from their buckets; above it the join shuffles
PURGE_BROADCAST_KEYS = 4_000_000


def _null_filled(cols: Sequence[str]) -> dict:
    """Commit-summary field naming the batch columns filled with NULL."""
    return {"null_filled": list(cols)} if cols else {}


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """SQL text of ``dt`` for a CAST (struct field names quoted)."""
    if isinstance(dt, T.StructType):
        return f"struct<{','.join(f'{_sql_ident(f.name)}:{_sql_type(f.dataType)}' for f in dt)}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _project_sql(df: DataFrame, cols: Sequence[tuple[str, str]]) -> DataFrame:
    """``df`` projected onto ``(name, SQL expression)`` pairs as ONE SQL
    expression, a struct the optimizer inlines: a handful of py4j gateway
    commands, where a ``Column`` per expression costs a few each."""
    body = ", ".join("'" + n.replace("\\", "\\\\").replace("'", "\\'") + f"', {e}"
                     for n, e in cols)
    return df.select(F.expr(f"named_struct({body})").alias("__p")).select("__p.*")


def _arrow_pin_single_thread() -> None:
    """Per-task Arrow thread pinning: N concurrent Python workers each
    spinning Arrow's default (ncpu-wide) pool oversubscribe the box N-fold
    (measured 2.5x task slowdown)."""
    import pyarrow as _pa

    try:
        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(1)
    except Exception:
        pass


def _arrow_lww_collapse(tbl, pk: list, vcols: list, drop_tombstones: bool):
    """In-task struct-max winner per key over an Arrow table — the exact
    semantics of ``lww_collapse``'s ``max(struct(version_cols))``:
    ascending multi-key sort with nulls first (UTF-8 byte order equals
    code-point order, so string comparison agrees with the JVM), keep the
    LAST row per pk. Winner selection runs on a LIGHT (pk + version)
    projection; the wide columns move exactly once, in the winners-only
    take. Returns the collapsed table sorted by pk."""
    import pyarrow as _pa
    import pyarrow.compute as _pc

    light = tbl.select(list(dict.fromkeys(pk + vcols)))
    idx = _pc.sort_indices(
        light,
        sort_keys=[(c, "ascending") for c in vcols],
        null_placement="at_start",
    )
    # argmax-by-version per key entirely in Arrow C++: in version-sorted
    # order the winner is each key's LAST row, i.e. max row position —
    # a hash group_by over the pk columns (no pandas, no Python string
    # objects; the earlier duplicated()-mask variant burned CPU
    # materializing 2x|rows| PyObjects per task)
    import numpy as _np

    sorted_keys = light.select(pk).take(idx)
    pos = sorted_keys.append_column(
        "__i", _pa.array(_np.arange(sorted_keys.num_rows, dtype="int64"))
    )
    win_pos = pos.group_by(pk).aggregate([("__i", "max")])["__i_max"]
    tbl = tbl.take(_pc.take(idx, win_pos))
    if drop_tombstones:
        dead = _pc.fill_null(tbl.column(IS_DELETE), False)
        tbl = tbl.filter(_pc.invert(dead))
    if tbl.num_rows:
        tbl = tbl.take(
            _pc.sort_indices(
                tbl, sort_keys=[(c, "ascending") for c in pk],
                null_placement="at_start",
            )
        )
    return tbl


def _arrow_write_bucket(
    tbl, txn_dir: str, txn_rel: str, b: int, n_chunks: int,
    pk: list, sid: int, mod: int, pk_types: list | None = None,
    stats_cols: list | None = None,
) -> list[dict]:
    """Write a collapsed bucket table as 1..n_chunks parquet files under
    the txn dir, returning manifest entries with row counts + PK zone maps
    computed in-task (no extra footer pass). When ``pk_types`` is given
    and supported, a PK bloom-filter sidecar (``<file>.bloom``) is built
    here too — inside the task, over rows already in memory, so point
    lookups can skip whole merge generations at zero added driver cost
    (:mod:`cds_spark.lake.bloom`)."""
    import os as _os
    import uuid as _uuid

    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    out = []
    if tbl.num_rows == 0:
        return out
    bdir = _os.path.join(txn_dir, f"_bucket={int(b)}")
    _os.makedirs(bdir, exist_ok=True)
    step = (tbl.num_rows + n_chunks - 1) // n_chunks
    for ci in range(0, tbl.num_rows, step):
        chunk = tbl.slice(ci, step)
        fname = f"part-{int(b):05d}-{_uuid.uuid4().hex[:12]}.parquet"
        fpath = _os.path.join(bdir, fname)
        # zstd to match the Spark-side writer (session.py parquet codec):
        # ~2x better ratio at similar speed, and fewer bytes moved is the
        # scalable direction — file IO is the one resource a multi-node
        # cluster multiplies that a wider single box does not
        _pq.write_table(chunk, fpath, compression="zstd")
        stats = {}
        names = set(chunk.schema.names)
        for c in stats_cols or pk:
            if c not in names:
                continue
            try:
                mm = _pc.min_max(chunk.column(c)).as_py()
                lo, hi = _stat_encode(mm["min"]), _stat_encode(mm["max"])
            except Exception:  # un-minmax-able type: no zone map
                continue
            if lo is not None and hi is not None:
                stats[c] = [lo, hi]
        bloom = None
        if pk_types is not None:
            try:
                from cds_spark.lake.bloom import build_bloom

                built = build_bloom(chunk, pk, pk_types)
                if built is not None:
                    bloom, bloom_bytes = built
                    with open(fpath + ".bloom", "wb") as bf:
                        bf.write(bloom_bytes)
            except Exception:
                bloom = None  # sidecar is an optimization, never a failure
        out.append({
            "path": _os.path.join(txn_rel, f"_bucket={int(b)}", fname),
            "bucket": int(b),
            "mod": int(mod),
            "schema_id": int(sid),
            "collapsed": True,
            "rows": int(chunk.num_rows),
            "bytes": int(_os.path.getsize(fpath)),
            "stats": stats,
            **({"bloom": bloom} if bloom else {}),
        })
    return out


#: Spark primitive -> Arrow type alias for the local-merge conversion.
_SPARK_TO_ARROW = {
    "string": "string", "boolean": "bool", "byte": "int8", "short": "int16",
    "integer": "int32", "long": "int64", "float": "float32",
    "double": "float64", "binary": "binary",
}


def _arrow_type_for(spark_type_name: str):
    """Canonical Arrow type for a Spark primitive in the local merge path,
    or None when unsupported. The batch side arrives via applyInArrow (no
    pandas round-trip — NaN stays NaN, int-with-NULL stays int):

    - ``timestamp`` -> timestamp[us, tz=UTC]: Spark's internal precision is
      microseconds and the session zone is pinned UTC (session.py), so this
      is exactly what Spark's Arrow conversion delivers; target parquet
      written as INT96 reads back as naive ns whose int64 payload is also
      a UTC epoch — the cast to us/UTC reinterprets it losslessly.
    - ``date`` -> date32, parquet DATE both ways."""
    import pyarrow as pa

    if spark_type_name == "timestamp":
        return pa.timestamp("us", tz="UTC")
    if spark_type_name == "date":
        return pa.date32()
    alias = _SPARK_TO_ARROW.get(spark_type_name)
    return pa.type_for_alias(alias) if alias else None


def _arrow_read_aligned(path: str, carried: Sequence[str], arrow_schema):
    """Read one data file as ``arrow_schema`` inside a task — the Arrow
    twin of ``LakeTable._read_entries``: each column in ``carried`` (the
    file holds its current values, see ``LakeTable._carried_columns``) is
    cast to its canonical :func:`_arrow_type_for` type, which also applies
    any widening since the file was written; every other column reads as
    typed NULL (absent from the file, or (re-)added after it). Output
    schemas are identical across files, so generations concatenate
    whatever their Arrow nullability on disk."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    tbl = _pq.read_table(path, columns=list(carried), use_threads=False)
    n = tbl.num_rows
    return _pa.Table.from_arrays(
        [tbl.column(f.name).cast(f.type) if f.name in carried
         else _pa.nulls(n, f.type) for f in arrow_schema],
        schema=arrow_schema,
    )


def _bucket_overlap(entry_bucket: int, entry_mod: int, want: set, want_mod: int) -> bool:
    """Can a file bucketed under ``entry_mod`` hold a key whose bucket
    under ``want_mod`` is in ``want``? Exact when one modulus divides the
    other (hash%N determines hash%M for M|N); conservatively True for
    unrelated moduli — correctness must never skip a candidate file.
    An EMPTY want set matches nothing under any modulus (without this,
    the conservative fallback would turn a read of zero buckets into a
    full-table scan mid-rebucket)."""
    if not want:
        return False
    if entry_mod == want_mod:
        return entry_bucket in want
    if want_mod % entry_mod == 0:
        return any(b % entry_mod == entry_bucket for b in want)
    if entry_mod % want_mod == 0:
        return entry_bucket % want_mod in want
    return True


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer tried to claim."""


#: snapshot operations that rewrite or remove data OUT-OF-BAND of the
#: versioned CDC flow — a rebase across one of these could resurrect
#: purged keys or un-apply an update, so rebases abort instead
MUTATION_OPS = {"purge", "update", "overwrite"}

#: physical meta columns appended to every data file
META_FIELDS = [
    T.StructField(IS_DELETE, T.BooleanType(), True),
    T.StructField(OFFSET, T.LongType(), True),
]


def _physical(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + META_FIELDS)


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema) -> DataFrame:
    """A DataFrame over driver-side rows, shipped as Arrow so Spark plans
    it as a ``LocalRelation``: projections over it fold on the driver and
    a collect runs no Spark job (``createDataFrame(list)`` parallelizes an
    RDD — one job per action). For driver-sized row sets only.

    ``schema``: a StructType, or the column names, whose types are then
    inferred from the values. Naive datetimes are read as local time, the
    rule PySpark's own row conversion applies."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def _norm(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            return v.astimezone(datetime.timezone.utc)
        return v

    names = schema.names if isinstance(schema, T.StructType) else list(schema)
    cols = [[_norm(r[i]) for r in rows] for i in range(len(names))]
    if not isinstance(schema, T.StructType):
        tbl = pa.Table.from_arrays([pa.array(c) for c in cols], names=names)
        return spark.createDataFrame(tbl)
    asch = to_arrow_schema(schema)
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, asch)], schema=asch)
    return spark.createDataFrame(tbl, schema=schema)


@dataclass
class MergeStats:
    skipped: bool
    version: int
    source_rows: int = 0
    touched_buckets: int = 0
    total_buckets: int = 0
    rows_written: int = 0


class LakeTable:
    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.manifest = manifest

    # ------------------------------------------------------------------ io
    @staticmethod
    def _meta_path(root: str, version: int) -> str:
        return os.path.join(root, META_DIR, f"version-{version:08d}.json")

    @staticmethod
    def _load_json(path: str) -> dict:
        """Read a manifest file, transparently decompressing gzipped full
        checkpoints (2-byte magic sniff — see MANIFEST_GZIP_MIN_BYTES)."""
        with open(path, "rb") as f:
            raw = f.read()
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        return json.loads(raw)

    @classmethod
    def _read_raw(cls, root: str, version: int) -> dict:
        return cls._load_json(cls._meta_path(root, version))

    @classmethod
    def _read_manifest(cls, root: str, version: int) -> dict:
        """Materialize snapshot ``version``: walk delta manifests back to the
        nearest full snapshot, then apply ``files_remove``/``files_add``
        forward. An add REPLACES any same-path entry (rebucket's modulus
        stamp rewrites entries in place logically). The chain is bounded by
        the checkpoint interval. One retry: ``expire_snapshots`` may
        concurrently rewrite the oldest retained delta as an equivalent full
        snapshot while deleting its base."""
        for attempt in (0, 1):
            try:
                chain: list[dict] = []
                m = cls._read_raw(root, version)
                while "delta_of" in m:
                    chain.append(m)
                    m = cls._read_raw(root, m["delta_of"])
                if not chain:
                    return m
                files = m["files"]
                for d in reversed(chain):
                    gone = set(d["files_remove"])
                    gone.update(e["path"] for e in d["files_add"])
                    files = [f for f in files if f["path"] not in gone]
                    files.extend(d["files_add"])
                out = {
                    k: v
                    for k, v in chain[0].items()
                    if k not in ("delta_of", "files_add", "files_remove")
                }
                out["files"] = files
                return out
            except FileNotFoundError:
                if attempt:
                    raise
        raise AssertionError("unreachable")

    @staticmethod
    def _dump_manifest_bytes(manifest: dict) -> bytes:
        """Serialize a manifest for disk. Full checkpoints at or above
        ``manifest.gzip_min_bytes`` (default MANIFEST_GZIP_MIN_BYTES) are
        gzipped — per-file entries are repetitive JSON, so level-1 gzip
        cuts the periodic O(table) checkpoint write ~10× with negligible
        CPU; deltas are KB-sized and stay plain text."""
        payload = json.dumps(manifest).encode()
        if "delta_of" not in manifest:
            try:
                gzip_min = int(
                    manifest.get("properties", {}).get(
                        "manifest.gzip_min_bytes", MANIFEST_GZIP_MIN_BYTES
                    )
                )
            except (TypeError, ValueError):
                gzip_min = MANIFEST_GZIP_MIN_BYTES
            if len(payload) >= max(1, gzip_min):
                payload = gzip.compress(payload, compresslevel=1)
        return payload

    @staticmethod
    def _write_manifest(root: str, manifest: dict, exclusive: bool = False) -> None:
        """Write version-N.json. With ``exclusive`` the CREATION of the
        version file IS the commit lock: ``os.link`` fails with EEXIST if
        another writer already claimed version N — a true atomic
        compare-and-set, unlike a read-check-write of a pointer file
        (two processes could both pass the check and the second would
        silently erase the first's committed snapshot)."""
        path = LakeTable._meta_path(root, manifest["version"])
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(LakeTable._dump_manifest_bytes(manifest))
        if exclusive:
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise CommitConflict(
                    f"concurrent commit detected: version "
                    f"{manifest['version']} was claimed by another writer"
                )
            finally:
                os.remove(tmp)
        else:
            os.replace(tmp, path)
        # advisory fast-path pointer only — the version FILES are the
        # source of truth (a crash between link and this write must not
        # hide the committed snapshot)
        cur = os.path.join(root, META_DIR, "_current")
        tmp = cur + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(manifest["version"]))
        os.replace(tmp, cur)

    @staticmethod
    def _current_version(root: str) -> int:
        # authoritative: the max committed version file (the _current
        # pointer is advisory and may lag after a crash mid-commit)
        meta = os.path.join(root, META_DIR)
        best = -1
        for n in os.listdir(meta):
            if n.startswith("version-") and n.endswith(".json"):
                try:
                    best = max(best, int(n[len("version-"):-len(".json")]))
                except ValueError:
                    continue
        if best < 0:
            raise FileNotFoundError(f"no committed manifests under {meta}")
        return best

    # ------------------------------------------------------------ lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        pk: Sequence[str],
        version_cols: Sequence[str],
        n_buckets: int = 64,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``version_cols`` define LWW order; they may
        reference logical columns (e.g. ``commit``) and/or the ``_offset``
        meta column. At 100TB choose n_buckets so one bucket ~ a few GB
        (e.g. 4096); local tests default to 64."""
        root = os.path.abspath(root)
        os.makedirs(os.path.join(root, META_DIR), exist_ok=False)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)
        manifest = {
            "format_version": 1,
            "version": 1,
            "created_unix": time.time(),
            "schema_id": 0,
            "schemas": {"0": schema.jsonValue()},
            "n_buckets": int(n_buckets),
            "pk": list(pk),
            "version_cols": list(version_cols),
            "properties": dict(properties or {}),
            "files": [],
            "summary": {"operation": "create"},
        }
        cls._write_manifest(root, manifest)
        return cls(spark, root, manifest)

    @classmethod
    def load(cls, spark: SparkSession, root: str, version: int | None = None) -> "LakeTable":
        root = os.path.abspath(root)
        v = version if version is not None else cls._current_version(root)
        return cls(spark, root, cls._read_manifest(root, v))

    @classmethod
    def load_or_create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        pk: Sequence[str],
        version_cols: Sequence[str],
        n_buckets: int = 64,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Load the table at ``root``, or create it from ``schema`` — the one
        create-if-missing rule of the full syncs and the lake-to-lake
        tailers. Callers holding several tables apply it PER TABLE, so a
        crash between two creates leaves nothing a later run cannot load.
        ``schema`` may carry the meta columns (a source exported from
        another lake table); they are dropped from the LOGICAL schema, or
        the physical layout would duplicate ``_is_delete``/``_offset``."""
        if cls.exists(root):
            return cls.load(spark, root)
        logical = T.StructType(
            [f for f in schema.fields if f.name not in (IS_DELETE, OFFSET)])
        return cls.create(spark, root, logical, pk=pk,
                          version_cols=version_cols, n_buckets=n_buckets,
                          properties=properties)

    @classmethod
    def exists(cls, root: str) -> bool:
        meta = os.path.join(os.path.abspath(root), META_DIR)
        if os.path.exists(os.path.join(meta, "_current")):
            return True
        # _current is advisory and may be missing after a crash between
        # the first manifest write and the pointer write; any committed
        # version file proves the table exists (same authoritative rule
        # as _current_version) — otherwise a supervisor's create-if-
        # missing path wedges forever on the existing _meta dir
        try:
            names = os.listdir(meta)
        except (FileNotFoundError, NotADirectoryError):
            return False
        return any(
            n.startswith("version-") and n.endswith(".json") for n in names
        )

    # ------------------------------------------------------------- schema
    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest["schemas"][str(self.manifest["schema_id"])])

    @property
    def pk(self) -> list[str]:
        return self.manifest["pk"]

    @property
    def version_cols(self) -> list[str]:
        return self.manifest["version_cols"]

    @property
    def n_buckets(self) -> int:
        return self.manifest["n_buckets"]

    def _stats_cols(self) -> list[str]:
        """Columns carrying per-file zone maps: the PK plus any columns in
        the ``stats_cols`` table property (ClickHouse minmax skip-index
        analog — set it on columns queries range over, e.g. the event
        timestamp; CDC batches are naturally time-clustered, so those zone
        maps prune time-window reads even though files are PK-sorted)."""
        extra = self.properties.get("stats_cols") or []
        if isinstance(extra, str):
            extra = [c.strip() for c in extra.split(",") if c.strip()]
        have = {f.name for f in self.schema.fields} | {OFFSET}
        return list(self.pk) + [c for c in extra if c in have and c not in self.pk]

    @property
    def properties(self) -> dict:
        return self.manifest["properties"]

    @property
    def version(self) -> int:
        return self.manifest["version"]

    def history(self) -> list[dict]:
        out = []
        meta = os.path.join(self.root, META_DIR)
        for name in sorted(os.listdir(meta)):
            if name.startswith("version-") and name.endswith(".json"):
                m = self._load_json(os.path.join(meta, name))
                out.append(
                    {"version": m["version"], "summary": m.get("summary", {}),
                     "schema_id": m["schema_id"]}
                )
        return out

    def _txn_name(self, suffix: str = "") -> str:
        """Unique txn dir per write attempt: two racing writers must never
        share a data dir (the loser's files stay unreachable — only the
        manifest CAS decides who wins; a name derived from the stale version
        alone would collide at write time with a PATH_ALREADY_EXISTS)."""
        return f"txn-{self.version + 1:08d}{suffix}-{uuid.uuid4().hex[:8]}"

    # ----------------------------------------------------------- commits
    def _next_manifest(self, summary: dict) -> dict:
        """Structured copy, NOT a JSON round-trip: the old deep copy was
        O(total files) CPU per commit, the in-driver twin of the full-list
        serialization the delta log removes. File ENTRY dicts are shared
        between snapshots and are immutable once committed — an operation
        that changes an entry must build a new dict (see rebucket's modulus
        stamp), never mutate in place."""
        m = dict(self.manifest)
        m["files"] = list(self.manifest["files"])
        m["properties"] = dict(self.manifest["properties"])
        m["schemas"] = dict(self.manifest["schemas"])
        m["pk"] = list(self.manifest["pk"])
        m["version_cols"] = list(self.manifest["version_cols"])
        m["version"] = self.manifest["version"] + 1
        m["summary"] = summary
        m["created_unix"] = time.time()
        return m

    def _delta_or_full(self, nxt: dict) -> dict:
        """Choose the serialized form of the next snapshot: a delta record
        when the commit touches a minority of the file list and the chain
        since the last full snapshot is short, else a full checkpoint.
        Stamps ``delta_chain`` on ``nxt`` (kept in memory and carried by
        every serialized form) so the policy needs no directory walk."""
        base = self.manifest
        try:
            every = int(
                base.get("properties", {}).get(
                    "manifest.checkpoint_every", MANIFEST_CHECKPOINT_EVERY
                )
            )
        except (TypeError, ValueError):
            every = MANIFEST_CHECKPOINT_EVERY
        chain = int(base.get("delta_chain", 0))
        nxt["delta_chain"] = 0
        if nxt["version"] != base["version"] + 1 or chain + 1 >= max(1, every):
            return nxt
        base_by_path = {f["path"]: f for f in base["files"]}
        adds, new_paths = [], set()
        for f in nxt["files"]:
            new_paths.add(f["path"])
            b = base_by_path.get(f["path"])
            if b is None or (b is not f and b != f):
                adds.append(f)
        removes = [p for p in base_by_path if p not in new_paths]
        if 2 * (len(adds) + len(removes)) >= max(1, len(nxt["files"])):
            return nxt
        # the delta must reconstruct nxt["files"] EXACTLY (content and
        # order) — verify by replaying the apply rule; any surprise means
        # a caller built the list in an unexpected shape: checkpoint.
        gone = set(removes)
        gone.update(e["path"] for e in adds)
        rebuilt = [f for f in base["files"] if f["path"] not in gone] + adds
        if len(rebuilt) != len(nxt["files"]) or any(
            (a is not b and a != b) for a, b in zip(rebuilt, nxt["files"])
        ):
            return nxt
        nxt["delta_chain"] = chain + 1
        delta = {k: v for k, v in nxt.items() if k != "files"}
        delta["delta_of"] = base["version"]
        delta["files_add"] = adds
        delta["files_remove"] = removes
        return delta

    def _commit(self, manifest: dict) -> None:
        # optimistic CAS: cheap early abort on a stale snapshot, then the
        # exclusive version-file create is the atomic decider
        cur = self._current_version(self.root)
        if cur != self.manifest["version"]:
            raise CommitConflict(
                f"concurrent commit detected: loaded v{self.manifest['version']}, "
                f"current is v{cur}"
            )
        self._write_manifest(self.root, self._delta_or_full(manifest), exclusive=True)
        self.manifest = manifest

    def _reload_latest(self) -> None:
        self.manifest = self._read_manifest(
            self.root, self._current_version(self.root)
        )

    def set_properties(self, props: dict) -> None:
        m = self._next_manifest({"operation": "set_properties"})
        m["properties"].update(props)
        self._commit(m)

    # ------------------------------------------------------------- DDL
    def alter_add_columns(self, fields: Sequence[T.StructField]) -> None:
        """ALTER TABLE ADD COLUMN IF NOT EXISTS (metadata-only) —
        parse.go:180-245. Old files are read with their own schema; the new
        column is NULL there."""
        cur = self.schema
        have = {f.name for f in cur.fields}
        new_fields = [f for f in fields if f.name not in have]
        if not new_fields:
            return
        new_schema = T.StructType(list(cur.fields) + list(new_fields))
        self._register_schema(new_schema, {"operation": "add_columns",
                                           "columns": [f.name for f in new_fields]},
                              stamp_added=[f.name for f in new_fields])

    def alter_widen_column(self, name: str, to_type: T.DataType) -> None:
        """Type widening (Int->Long->Double) — clickhousetypeconv.go:55-105."""
        cur = self.schema
        fields = []
        changed = False
        for f in cur.fields:
            if f.name == name:
                if f.dataType == to_type:
                    return
                if not is_widening(f.dataType, to_type):
                    raise ValueError(f"narrowing {f.dataType} -> {to_type} not allowed")
                fields.append(T.StructField(name, to_type, True))
                changed = True
            else:
                fields.append(f)
        if not changed:
            raise KeyError(name)
        self._register_schema(T.StructType(fields),
                              {"operation": "widen", "column": name, "to": to_type.typeName()})

    def alter_drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN (metadata-only, O(1) like ClickHouse's
        lazy column drop): old files keep the bytes, reads project the
        column away immediately, and the next compact of each bucket drops
        it physically. PK / version columns cannot be dropped (they define
        row identity and LWW order for data already written).

        Re-adding the same name later yields NULL for rows written before
        the re-add — NOT the old values (ClickHouse drop-then-add
        semantics): ``column_added_at`` records the schema generation each
        column was (re-)added at and ``_read_entries`` NULL-fills files
        from older generations even when their physical schema carries the
        name."""
        if name in self.pk:
            raise ValueError(f"cannot drop primary-key column {name!r}")
        if name in self.version_cols:
            raise ValueError(f"cannot drop version column {name!r}")
        cur = self.schema
        if name not in {f.name for f in cur.fields}:
            raise KeyError(name)
        fields = [f for f in cur.fields if f.name != name]
        self._register_schema(T.StructType(fields),
                              {"operation": "drop_column", "column": name})

    def _register_schema(
        self, new_schema: T.StructType, summary: dict,
        stamp_added: Sequence[str] | None = None,
    ) -> None:
        m = self._next_manifest(summary)
        sid = max(int(k) for k in m["schemas"]) + 1
        m["schemas"][str(sid)] = new_schema.jsonValue()
        m["schema_id"] = sid
        if stamp_added:
            # record the generation each column was (re-)added at: files
            # written under an OLDER schema_id must read this column as
            # NULL even if their physical schema carries the same name
            # (drop + re-add must not resurrect dropped values)
            m["column_added_at"] = {
                **m.get("column_added_at", {}),
                **{c: sid for c in stamp_added},
            }
        self._commit(m)

    # ------------------------------------------------------------- read
    def _bucket_expr(self):
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.pk]), F.lit(self.n_buckets))

    # ------------------------------------------------- bucket matching
    # During an online rebucket (see rebucket()) the manifest holds files
    # bucketed under TWO moduli: each entry records the modulus it was
    # written under ("mod"; absent = the table's modulus at write time,
    # which can only be the current one for pre-rebucket tables). Every
    # bucket-selection — reads, lookups, compact/mutation input sets —
    # goes through ONE overlap rule so a read and the consumption set it
    # pairs with can never disagree about which files a bucket covers.
    def _file_mod(self, f: dict) -> int:
        return int(f.get("mod", self.n_buckets))

    def _pk_type_names(self, phys: T.StructType) -> list[str]:
        """PK column Spark type names in PK order (bloom canonicalization
        support check happens inside :func:`bloom.build_bloom`)."""
        by_name = {f.name: f.dataType.typeName() for f in phys.fields}
        return [by_name[c] for c in self.pk]

    def _bucket_match(self, f: dict, want: set, want_mod: int | None = None) -> bool:
        return _bucket_overlap(
            int(f["bucket"]), self._file_mod(f), want,
            self.n_buckets if want_mod is None else want_mod,
        )

    def _bucket_files(self, buckets: Sequence[int] | None) -> list[dict]:
        """The manifest entries that can hold a key of ``buckets`` (every
        entry for None): the input set of a bucket read or rewrite."""
        if buckets is None:
            return self.manifest["files"]
        want = {int(b) for b in buckets}
        return [f for f in self.manifest["files"] if self._bucket_match(f, want)]

    def _file_schema(self, sid) -> T.StructType:
        """Physical schema of the files written under schema ``sid``."""
        return _physical(T.StructType.fromJson(self.manifest["schemas"][str(sid)]))

    def _carried_columns(self, sid) -> set[str]:
        """Columns a file written under schema ``sid`` holds CURRENT values
        for: its own schema's columns, minus those (re-)added at a later
        generation — older same-named bytes belong to a since-dropped
        column and must read as NULL (see alter_drop_column). Every reader
        of historical files (:meth:`_read_entries` and the per-bucket Arrow
        paths via :func:`_arrow_read_aligned`) aligns by this one rule."""
        added_at = self.manifest.get("column_added_at", {})
        return {
            f.name for f in self._file_schema(sid).fields
            if int(sid) >= int(added_at.get(f.name, 0))
        }

    def _read_entries(self, files: Sequence[dict], phys_cur: T.StructType) -> DataFrame:
        """Union-read manifest file entries aligned to ``phys_cur``: widened
        columns cast, missing columns NULL-filled — one ``spark.read`` per
        distinct historical schema, so the scan still gets footer pushdown."""
        if not files:
            return local_frame(self.spark, [], phys_cur)
        by_schema: dict[str, list[str]] = {}
        for f in files:
            by_schema.setdefault(str(f["schema_id"]), []).append(
                os.path.join(self.root, f["path"])
            )
        parts = []
        for sid, paths in by_schema.items():
            carried = self._carried_columns(sid)
            parts.append(_project_sql(
                self.spark.read.schema(self._file_schema(sid)).parquet(*paths),
                [(f.name, f"CAST({_sql_ident(f.name) if f.name in carried else 'NULL'}"
                          f" AS {_sql_type(f.dataType)})")
                 for f in phys_cur.fields]))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(
        self,
        buckets: Sequence[int] | None = None,
        live_only: bool = True,
        with_meta: bool = False,
        collapse: bool = True,
        file_pred=None,
    ) -> DataFrame:
        """Snapshot read. ``live_only`` filters tombstones (the ``{t}_now``
        view); ``with_meta`` keeps ``_is_delete``/``_offset``. Bucket
        pruning skips files whose bucket is not requested — manifest-level
        partition pruning. ``file_pred`` (manifest-entry -> bool) applies
        further manifest-level skipping, e.g. zone-map range checks; it
        must be CONSERVATIVE (keep on unknown) — correctness relies on
        never skipping a file that could hold a requested row.

        After append-mode merges a bucket holds multiple row generations;
        ``collapse`` applies the LWW window (ClickHouse ``FINAL`` analog)
        so readers always see one row per key. Callers that collapse
        downstream anyway (merge itself) pass collapse=False."""
        files = self._bucket_files(buckets)
        if file_pred is not None:
            files = [f for f in files if file_pred(f)]
        phys_cur = _physical(self.schema)
        df = self._read_entries(files, phys_cur)
        if collapse and self.properties.get("needs_collapse"):
            df = lww_collapse(df, self.pk, self.version_cols).select(
                *[f.name for f in phys_cur.fields]
            )
        if live_only:
            df = df.filter(~F.coalesce(F.col(IS_DELETE), F.lit(False)))
        if not with_meta:
            df = df.drop(IS_DELETE, OFFSET)
        return df

    def current(self) -> DataFrame:
        """The queryable current state — the ``{t}_now`` view analog."""
        return self.read(live_only=True, with_meta=False)

    def lookup(self, keys, live_only: bool = True) -> DataFrame:
        """Bucket-pruned point/multi-key fetch — the analog of ClickHouse
        routing a PK query to its owning shard (reference: queries against
        the synced table hit the sharding key, pkg/ckgroup/dml.go). At
        100 TB a PK fetch must NOT scan the table: the owning bucket of
        each key is computed with the same ``xxhash64 % n_buckets``
        expression the writer uses, the manifest prunes every other
        bucket's files (then zone maps and bloom sidecars prune inside the
        bucket), and the surviving files are filtered by the key set as
        literals. Cost is O(|keys| buckets' files), independent of table
        size.

        One bounded collect of ``(bucket, PK cast to the table's types)``
        per key, deduplicated on the driver, plans everything: a list key
        set is shipped as a local (Arrow) relation, so that collect runs
        no Spark job; a DataFrame key set runs its lineage exactly once,
        in that collect. Everything else is the returned read itself.

        ``keys``: list of dicts keyed by the PK columns, list of tuples in
        PK order, or a DataFrame containing the PK columns."""
        pk = self.pk
        pk_fields = [next(f for f in self.schema.fields if f.name == c) for c in pk]
        if isinstance(keys, DataFrame):
            kdf = keys.select(*pk)
        else:
            rows = [
                tuple(k[c] for c in pk) if isinstance(k, dict) else tuple(k)
                for k in keys
            ]
            # infer from the given values (CLI hands strings for any type)
            kdf = local_frame(self.spark, rows, pk)
        # cast to the TABLE's PK types before hashing: a mistyped key
        # would hash to the wrong bucket and silently return nothing
        # try_cast: under ANSI SQL (Spark 4 default) a plain cast THROWS
        # on a bad value mid-job; try_cast yields NULL, which the guard
        # below turns into a clear error
        kdf = kdf.select(
            *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in pk_fields]
        )
        # the bounded collect: bucket id + cast key values per key, O(|keys|)
        krows = kdf.select(self._bucket_expr().alias("_b"), *pk).collect()
        bad = [r for r in krows if any(r[c] is None for c in pk)]
        if bad:
            # an uncastable key became NULL in the PK type — reject with a
            # clear error instead of hashing null / crashing the zone-map
            # range check driver-side
            raise ValueError(
                f"lookup: {len(bad)} key(s) not castable to the table PK "
                f"types {[(f.name, f.dataType.simpleString()) for f in pk_fields]}"
            )
        # (binary keys collect as unhashable bytearrays)
        distinct = dict.fromkeys(
            (r["_b"], tuple(bytes(v) if isinstance(v, bytearray) else v
                            for v in r[1:]))
            for r in krows
        )
        if not distinct:  # empty key set: empty result, right schema
            return self.read(buckets=[], live_only=live_only)
        buckets = sorted({b for b, _ in distinct})
        keyvals = [kv for _, kv in distinct]

        from cds_spark.lake import bloom as _bloom

        # hash the key set ONCE; every sidecar probe below is then pure
        # bit arithmetic (a lookup touches B buckets x G generations of
        # sidecars — rehashing per file would be O(B*G*K) driver-side)
        hashes = (
            _bloom.hash_keys([_bloom.canonical_key(kv) for kv in keyvals])
            if all(
                f.dataType.typeName() in _bloom.SUPPORTED_PK_TYPES
                for f in pk_fields
            )
            else None
        )

        def bloom_hit(entry: dict) -> bool:
            # bloom-sidecar file skip (tighter than zone maps within a
            # bucket: merge generations span the full hash-random key
            # range, so their zone maps all overlap): keep unless the
            # file's bloom excludes EVERY requested key. Conservative on
            # any miss — probe_sidecar returns None (keep) for no sidecar,
            # unknown algo, unsupported PK types, unreadable/corrupt bytes.
            mask = _bloom.probe_sidecar(self.root, entry, hashes)
            return True if mask is None else bool(mask.any())

        # stats store _stat_encode'd values (temporal -> int): encode the
        # key values identically or the range check would compare
        # datetime-vs-int and crash
        keyvals_enc = [tuple(_stat_encode(v) for v in kv) for kv in keyvals]

        def in_range(entry: dict) -> bool:
            # zone-map file skip within the bucket: keep unless the file's
            # PK bounds exclude EVERY requested key (conservative: files
            # without stats are kept)
            st = entry.get("stats")
            if not st or any(c not in st for c in pk):
                return bloom_hit(entry)
            try:
                excluded = not any(
                    all(st[c][0] <= kv[i] <= st[c][1] for i, c in enumerate(pk))
                    for kv in keyvals_enc
                )
            except TypeError:  # unencodable/mismatched key type: keep
                return bloom_hit(entry)
            if excluded:
                return False
            return bloom_hit(entry)

        df = self.read(buckets=buckets, live_only=live_only, file_pred=in_range)
        # the key set as literals of the PK types: a filter on the pruned
        # scan (pushed below the LWW collapse, which partitions by the PK),
        # no join and no second run of the key lineage
        if len(pk) == 1:
            key = F.col(pk[0])
            lits = [F.lit(kv[0]).cast(pk_fields[0].dataType) for kv in keyvals]
        else:
            key = F.struct(*[F.col(c) for c in pk])
            lits = [
                F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                           for v, f in zip(kv, pk_fields)])
                for kv in keyvals
            ]
        return df.filter(key.isin(*lits))

    @staticmethod
    def _range_overlaps(st: list, lower, upper, lower_inclusive: bool) -> bool:
        """Conservative zone-map overlap test for one file's [min, max]
        against a requested [lower, upper] range on the leading PK column.
        Returns True (keep the file) on any doubt: missing bound, or a
        bound whose Python type doesn't order against the footer-stat type
        (footer stats are decoded to str/int/float only)."""
        try:
            if lower is not None:
                if lower_inclusive:
                    if st[1] < lower:
                        return False
                elif st[1] <= lower:
                    return False
            if upper is not None and st[0] > upper:
                return False
        except TypeError:
            return True
        return True

    def scan_range(
        self,
        lower=None,
        upper=None,
        live_only: bool = True,
        lower_inclusive: bool = True,
    ) -> DataFrame:
        """PK-range scan with zone-map file skipping — the ClickHouse
        primary-index range read analog (reference keyset reads:
        mysql2clickhouse.go:69-90 ``WHERE pk > ? ORDER BY pk LIMIT n``
        hit the MySQL PK index; here the manifest's per-file PK bounds
        play that role). Files are written ``sortWithinPartitions(pk)``
        so within a bucket each file covers a tight contiguous PK slice;
        a range touching k of F files reads k files, not F — at 100 TB a
        cursor scan must not pay O(table) per page.

        ``lower``/``upper`` bound the LEADING PK column (inclusive upper;
        ``lower_inclusive`` selects > vs >=). Pruning is sound for LWW
        collapse because every generation of a key carries the same PK
        value: a file whose PK bounds exclude the range cannot hold any
        generation of any key in the range. Files without footer stats
        are conservatively kept."""
        c0 = self.pk[0]
        # stats store _stat_encode'd values (temporal -> int): bounds
        # must compare in the same domain
        lo_e, hi_e = _stat_encode(lower), _stat_encode(upper)

        def in_range(entry: dict) -> bool:
            st = (entry.get("stats") or {}).get(c0)
            if not st:
                return True
            return self._range_overlaps(st, lo_e, hi_e, lower_inclusive)

        df = self.read(live_only=live_only, file_pred=in_range)
        # zone maps prune files; rows inside kept files still need the
        # exact predicate. Filtering on a PK column pushes through the
        # LWW window (it partitions by PK), so this lands at the scan.
        if lower is not None:
            df = df.filter(
                F.col(c0) >= F.lit(lower)
                if lower_inclusive
                else F.col(c0) > F.lit(lower)
            )
        if upper is not None:
            df = df.filter(F.col(c0) <= F.lit(upper))
        return df

    def scan_where(
        self, column: str, lower=None, upper=None, live_only: bool = True
    ) -> DataFrame:
        """Range scan on an arbitrary zone-mapped column — the ClickHouse
        ``minmax`` skip-index analog (set the ``stats_cols`` table property
        to stamp per-file bounds for non-PK columns at write time). The
        big win is time-window reads: CDC batch files are naturally
        time-clustered (a micro-batch holds one time slice), so
        ``scan_where("ts", since, until)`` reads O(window) files even at
        100 TB, although files are PK-sorted, not ts-sorted.

        LWW soundness is the crux and differs from :meth:`scan_range`:
        generations of ONE key differ in non-PK values, so skipping a file
        by a non-PK bound could hide a NEWER generation and resurrect an
        old row as the current state. Therefore pruning applies only to
        files in fully-collapsed buckets (single generation per key —
        skipping a non-matching row there is exactly what the predicate
        asks); every file of a dirty bucket is read, and mid-rebucket
        (mixed moduli) disables pruning entirely. ``compact()`` is what
        makes windows cheap — same as ClickHouse, where skip indexes are
        built per (merged) part."""
        lo_e, hi_e = _stat_encode(lower), _stat_encode(upper)
        mods = {self._file_mod(f) for f in self.manifest["files"]}
        mixed = len(mods) > 1
        dirty = self._dirty_buckets()

        def pred(entry: dict) -> bool:
            if mixed or int(entry["bucket"]) in dirty:
                return True
            st = (entry.get("stats") or {}).get(column)
            if not st:
                return True
            return self._range_overlaps(st, lo_e, hi_e, True)

        df = self.read(live_only=live_only, file_pred=pred)
        if lower is not None:
            df = df.filter(F.col(column) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(column) <= F.lit(upper))
        return df

    def changed_since(self, since, live_only: bool = True) -> DataFrame:
        """Current state of the keys changed at-or-after ``since`` (a value
        of the LEADING version column) in O(recent batches), not O(table)
        — the serving-side complement of :meth:`changes`, and the read
        that makes a 100 TB CDC lake tail-able: each micro-batch's files
        span a narrow slice of the (monotone-ish) version domain, so a
        zone-map lower bound on the version column prunes all history.

        Unlike :meth:`scan_where`, this prune is sound on DIRTY buckets,
        across generations, because the predicate column IS the LWW
        ordering's leading key: the winner of any key carries the key's
        maximum version, so a file whose version zone-max < ``since``
        holds only (a) losers of keys whose winner is in a kept file, and
        (b) complete keys whose winner also fails the predicate — neither
        can change the result. Rows TIED at the winner's leading version
        live in files whose zone-max >= since, so tiebreak columns stay
        exact. Requires the leading version column in ``stats_cols`` (or
        PK) for pruning to bite; without stats every file is kept.

        Reference analog: consumers tail the Kafka topic for recency; this
        serves the same question from the table itself
        (cmd/rtu/handle/insert.go versioning, mysql2clickhouse.go:202-207)."""
        v0 = self.version_cols[0]
        since_e = _stat_encode(since)

        def pred(entry: dict) -> bool:
            st = (entry.get("stats") or {}).get(v0)
            if not st:
                return True
            try:
                return not (st[1] < since_e)
            except TypeError:
                return True

        # v0 can be the _offset meta column: read with meta, filter, then
        # project back to the logical columns
        df = self.read(live_only=live_only, with_meta=True, file_pred=pred)
        df = df.filter(F.col(v0) >= F.lit(since))
        return df.drop(IS_DELETE, OFFSET) if v0 != OFFSET else df.drop(IS_DELETE)

    @classmethod
    def _page_file_slice(cls, files, c0: str, after, target: int,
                         lower_inclusive: bool = False):
        """Choose a bounded manifest slice for one keyset page: drop every
        file entirely at-or-below the cursor, then take the minimal prefix
        (by ``stats.min`` on ``c0``) whose summed footer row counts reach
        ``target``, and close it under U = max(stats.max of the prefix) —
        a row with key in (after, U] sits in a file whose min <= U by
        definition, so the closed set holds EVERY generation of every key
        in the slice. Files without usable stats/row counts are always
        kept (conservative). Returns ``(keep_paths, U)``, or None when no
        bounded slice exists or it wouldn't skip anything — callers then
        take the plain pruned range scan. ``after`` is compared against
        stats, so it is encoded into the stats domain here."""
        after = _stat_encode(after) if after is not None else None
        # lower_inclusive=True keeps files whose max EQUALS the cursor's
        # leading value — required for composite-PK pages, where rows equal
        # on c0 can still follow the cursor via later PK columns
        cand = [
            f
            for f in files
            if cls._range_overlaps(
                ((f.get("stats") or {}).get(c0) or [None, None]),
                after,
                None,
                lower_inclusive,
            )
        ]

        def _bounds(f):
            st = (f.get("stats") or {}).get(c0)
            return st if st and st[0] is not None and st[1] is not None else None

        try:
            with_st = sorted(
                (f for f in cand if _bounds(f)), key=lambda f: f["stats"][c0][0]
            )
        except TypeError:  # mixed stat types across files: no budgeting
            return None
        no_st = [f for f in cand if not _bounds(f)]
        # files without footer counts can't budget a cutoff
        if not with_st or not all(f.get("rows") for f in with_st):
            return None
        acc, chosen = 0, 0
        for f in with_st:
            acc += f["rows"]
            chosen += 1
            if acc >= target:
                break
        if chosen >= len(with_st):
            return None  # cutoff covers everything with stats: plain scan
        upper = max(f["stats"][c0][1] for f in with_st[:chosen])
        try:
            picked = [f for f in with_st if not (f["stats"][c0][0] > upper)]
        except TypeError:
            return None
        if len(picked) >= len(with_st):
            # the cutoff skips nothing (e.g. one full-range file per
            # bucket): the bounded attempt would only add a count() job
            # on top of the same read
            return None
        keep = {f["path"] for f in picked} | {f["path"] for f in no_st}
        return keep, upper

    def keyset_page(self, after, limit: int, live_only: bool = True) -> DataFrame:
        """Keyset-ordered page ``WHERE pk > after ORDER BY pk LIMIT n``
        (mysql2clickhouse.go:69-90) in O(page), not O(table): zone maps
        first drop every file entirely at-or-below the cursor, then an
        adaptive upper cutoff bounds the read to just enough files to
        fill the page.

        Cutoff soundness: with U = max(stats.max) over a chosen file set,
        EVERY row with pk in (after, U] lives in a file whose stats.min
        <= U — so reading {files with min <= U} + {files without stats}
        and keeping rows <= U yields the complete collapsed state of that
        slice. If the slice holds < limit live rows (duplicate
        generations / tombstones ate the estimate), the cutoff widens
        geometrically; the last resort is the plain pruned range scan.

        ``after`` is the full PK of the last served row: a scalar for a
        single-column PK, a tuple/list matching ``pk`` for a composite PK
        (the row predicate is the lexicographic tuple comparison; file
        pruning uses the leading column with an INCLUSIVE bound, since
        rows equal on it can still follow the cursor via later PK
        columns). A scalar cursor on a composite-PK table is rejected —
        it would silently skip every remaining row sharing the last
        page's leading value."""
        c0 = self.pk[0]
        if after is None:
            after0 = after_tuple = None
        elif isinstance(after, (tuple, list)):
            if len(after) != len(self.pk):
                raise ValueError(f"cursor {after!r} does not match pk {self.pk}")
            after0, after_tuple = after[0], list(after)
        elif len(self.pk) == 1:
            after0, after_tuple = after, None
        else:
            raise ValueError(
                f"composite-PK table (pk={self.pk}): the page cursor must "
                f"be the full PK tuple, got scalar {after!r}")
        composite = after_tuple is not None

        def _after_pred(df: DataFrame) -> DataFrame:
            if after_tuple is not None:
                cur = F.struct(*[F.col(c) for c in self.pk])
                lit = F.struct(*[F.lit(v).alias(c)
                                 for c, v in zip(self.pk, after_tuple)])
                return df.filter(cur > lit)
            if after0 is not None:  # None = first page, no cursor yet
                return df.filter(F.col(c0) > F.lit(after0))
            return df

        def _fallback() -> DataFrame:
            sc = self.scan_range(lower=after0, live_only=live_only,
                                 lower_inclusive=composite)
            return _after_pred(sc) if composite else sc

        # observability: how many files the served page actually read
        # (None = fallback range scan). bench.py reports this — the slice
        # loop below widens adaptively, so an outside re-derivation with a
        # fixed target can misreport what was read.
        self._last_page_files: int | None = None
        if limit <= 0:
            return _fallback().limit(0)
        # 3x: live winners per page row is at least 1 file row, but
        # duplicate generations + tombstones inflate the raw count
        target = 3 * limit
        prev_keep = None
        while True:
            sl = self._page_file_slice(self.manifest["files"], c0, after0,
                                       target, lower_inclusive=composite)
            if sl is None:
                break
            keep, upper = sl
            if keep == prev_keep:
                # a bigger budget chose the SAME slice (one huge file
                # dominates the row budget): re-reading it would return
                # the same short page — keep widening instead
                target *= 4
                continue
            prev_keep = keep
            # the cutoff came from FILE STATS, i.e. the encoded domain —
            # decode it back into the column's own domain for the row
            # filter (a timestamp PK vs a raw microsecond int would not
            # resolve / would bound wrongly)
            c0_t = self.schema[c0].dataType
            df = _after_pred(self.read(
                live_only=live_only, file_pred=lambda e: e["path"] in keep
            ).filter(F.col(c0) <= _stat_decode_lit(c0_t, upper)))
            # collect the (<= limit rows) page so the completeness check
            # and the caller's action share ONE execution of the pruned
            # read — a page is a driver-sized object by contract (the
            # reference serves 20k-row pages), and collecting avoids
            # leaking a persisted cache entry per served page
            rows = df.orderBy(*self.pk).limit(limit).collect()
            if len(rows) >= limit:
                self._last_page_files = len(keep)
                return self.spark.createDataFrame(rows, df.schema)
            target *= 4  # slice came up short: widen the cutoff
        return _fallback().orderBy(*self.pk).limit(limit)

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental change read (Iceberg incremental-scan / CDF analog):
        the rows that entered the table after snapshot ``from_version`` up
        to ``to_version`` (default: current), with meta columns so deletes
        surface as ``_is_delete`` tombstone rows, plus ``_change_version``
        = the snapshot that committed each row. Lets a downstream consumer
        tail the lake in O(delta), re-reading nothing — the same contract
        the reference's consumers get from tailing the Kafka topic, but
        replayable from the table itself.

        Exactness per snapshot operation:
        - ``append-merge``: the snapshot's added files ARE the delta
          (merge-on-read appends only new rows).
        - ``merge`` (copy-on-write): added files are whole rewritten
          buckets; the true delta is recovered with a left-anti join on
          (pk, version, _is_delete) against those buckets' files in the
          PREVIOUS snapshot — O(touched buckets), never O(table).
        - maintenance snapshots (``compact``, ``set_properties``, DDL):
          data-invariant, contribute nothing.
        - mutation snapshots (``purge``/``update``/``overwrite``):
          REFUSED with ValueError — removals and same-version rewrites
          cannot be expressed as LWW change rows (the Iceberg CDF analog
          refuses incremental reads across replace snapshots for the same
          reason). Consumers full-refresh instead — cascade_sync does so
          automatically.

        Granularity follows what each snapshot committed: append snapshots
        without in-batch collapse carry EVERY versioned event row (the full
        event-level change log); collapsed-append and upsert snapshots
        carry one winner per key per snapshot, in ``_change_version`` order.
        At-least-once duplicate deliveries the ingest appended are surfaced
        verbatim (no extra dedup shuffle) — consumers converge by the same
        LWW-on-version rule the table itself uses.
        Raises if a needed manifest was expired (``expire_snapshots``) —
        incremental reads require the retained-snapshot window, the
        Iceberg contract."""
        return self._changes(from_version, to_version)[0]

    def _changes(self, from_version: int,
                 to_version: int | None) -> tuple[DataFrame, bool]:
        """:meth:`changes`, and whether it holds one row per key: one
        snapshot contributes rows, from files all written collapsed (every
        ``merge``; an ``append-merge`` with the in-batch collapse)."""
        to_version = self.version if to_version is None else int(to_version)
        if not from_version <= to_version <= self.version:
            raise ValueError(
                f"changes({from_version}, {to_version}) outside 0..{self.version}"
            )
        phys = _physical(self.schema)
        out_cols = [f.name for f in phys.fields] + ["_change_version"]

        def _manifest(v: int) -> dict:
            if v == 0:
                # version files start at 1, so v0 IS the pre-create empty
                # state — changes(0, ...) means "everything since the
                # beginning", not an expired snapshot
                return {"files": [], "summary": {},
                        "n_buckets": self.n_buckets, "properties": {}}
            try:
                return self._read_manifest(self.root, v)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot v{v} expired — incremental read needs the "
                    f"retained window (expire_snapshots keep_last)"
                ) from None

        deltas: list[DataFrame] = []
        collapsed = True
        prev = _manifest(from_version)
        for v in range(from_version + 1, to_version + 1):
            m = _manifest(v)
            op = m["summary"].get("operation")
            prev_by_path = {f["path"]: f for f in prev["files"]}
            added = [f for f in m["files"] if f["path"] not in prev_by_path]
            prev_files, prev_m = prev["files"], prev
            prev = m
            if op in MUTATION_OPS:
                raise ValueError(
                    f"changes({from_version}, {to_version}): snapshot v{v} is "
                    f"a '{op}' mutation — removals/same-version rewrites are "
                    f"not expressible as change rows; full-refresh from the "
                    f"current state instead"
                )
            if op not in ("append-merge", "merge") or not added:
                continue
            collapsed = collapsed and all(f.get("collapsed") for f in added)
            delta = self._read_entries(added, phys)
            if op == "merge":
                touched = {f["bucket"] for f in added}
                # the merge's files were bucketed under the WRITER's modulus
                # (recorded per entry; legacy entries = that manifest's
                # n_buckets) — compare prev files under the same overlap
                # rule the merge itself consumed with
                t_mod = int(added[0].get("mod", m["n_buckets"]))
                replaced = [
                    f for f in prev_files
                    if _bucket_overlap(
                        int(f["bucket"]),
                        int(f.get("mod", prev_m["n_buckets"])),
                        touched, t_mod,
                    )
                ]
                if replaced:
                    old = self._read_entries(replaced, phys)
                    if prev_m.get("properties", {}).get("needs_collapse"):
                        # pre-CoW generations: identical (pk, version) rows
                        # may repeat across files; dedup before the diff
                        old = old.dropDuplicates(
                            self.pk + self.version_cols + [IS_DELETE]
                        )
                    delta = delta.join(
                        old,
                        on=self.pk + self.version_cols + [IS_DELETE],
                        how="left_anti",
                    )
            deltas.append(delta.withColumn("_change_version", F.lit(v).cast("long")))
        if not deltas:
            return local_frame(
                self.spark, [],
                T.StructType(phys.fields + [T.StructField("_change_version", T.LongType())])
            ), True
        out = deltas[0]
        for d in deltas[1:]:
            out = out.unionByName(d)
        return out.select(*out_cols), len(deltas) == 1 and collapsed

    def latest_changes(self, from_version: int,
                       to_version: int | None = None) -> DataFrame:
        """:meth:`changes` collapsed to the latest row per key — ordered by
        ``_change_version``, then the version columns, then ``_offset`` —
        with ``_is_delete`` never NULL: the one delta read of the
        lake-to-lake tailers; without the collapse shuffle where the window
        already holds one row per key (:meth:`_changes`). Raises where
        :meth:`changes` raises."""
        out, one_per_key = self._changes(from_version, to_version)
        if not one_per_key:
            out = lww_collapse(out, self.pk, [
                "_change_version", *dict.fromkeys([*self.version_cols, OFFSET])])
        return out.withColumn(IS_DELETE, F.coalesce(F.col(IS_DELETE), F.lit(False)))

    # ------------------------------------------------------------- write
    def _auto_salt_n(self, df: DataFrame, default_n: int, n_partitions: int) -> int:
        """write.salt="auto": size the row-salt spread to the batch's
        measured hot-key share so the hottest key's per-partition volume
        lands near the mean. One sampled aggregation per write (~5% of the
        batch, one extra Spark job) estimates max-key-share; then
        ``salt_n >= hot_share * n_partitions`` spreads the hot key across
        enough partitions that its straggler factor ~ 1 (x1.5 headroom for
        the estimate). Bounded below by the file-count default and above by
        n_partitions (wider buys nothing — there are only n_partitions
        tasks). Falls back to the default on tiny/empty samples, where both
        the estimate and the skew are meaningless.

        Cost note: sample() re-executes df's upstream plan (for a live sync
        batch that includes the decode), so auto roughly adds one decode
        pass per write — the price of not hand-tuning ``write.salt_n`` on a
        workload whose skew drifts; callers that already materialize the
        batch (foreachBatch sources are persisted by Spark) pay only the
        sampled aggregation."""
        try:
            row = (
                df.sample(fraction=0.05, seed=7)
                .groupBy(*[F.col(c) for c in self.pk])
                .count()
                .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
                .collect()[0]
            )
            if not row["total"] or row["total"] < 200:
                return default_n
            hot_share = row["mx"] / row["total"]
            return min(
                n_partitions, max(default_n, int(hot_share * n_partitions * 1.5) + 1)
            )
        except Exception:
            return default_n

    def _write_salt(self, df: DataFrame, n_partitions: int):
        """The second shuffle key of :meth:`_write_txn`'s uncollapsed write
        (see there)."""
        # write.salt_n overrides the spread: the default formula targets ~4
        # shuffle keys per write partition (file-count bound), which caps the
        # hot-key spread at salt_n partitions — a workload where one key
        # carries >10% of a batch wants a wider spread and accepts the extra
        # files (compact absorbs them); tools/bench_skew.py measures the trade
        nb = self.n_buckets
        default_salt_n = max(1, (4 * n_partitions + nb - 1) // nb)
        try:
            salt_n = max(1, int(self.properties.get("write.salt_n", default_salt_n)))
        except (TypeError, ValueError):
            # a typo'd property must degrade to the default spread, never
            # kill a production write
            salt_n = default_salt_n
        # write.salt property: "row" (default) salts by (offset, pk) so a
        # single hot key spreads across salt_n partitions; "auto" = row
        # salt with the spread ADAPTED to the batch's measured hot-key
        # share (the write-side analog of AQE's skew-join splitting, which
        # covers joins but not DataFrameWriter shuffles); "key" salts by
        # pk alone (buckets spread, but one hot key still lands in ONE
        # partition — kept as the A/B control for the skew bench); "none"
        # shuffles on bare bucket ids (balls-into-bins capping parallelism).
        # All modes produce the same table state (LWW collapse is
        # partitioning-independent); only task balance differs.
        salt_mode = self.properties.get("write.salt", "row")
        if salt_mode == "auto":
            salt_n = self._auto_salt_n(df, salt_n, n_partitions)
        if salt_mode == "none":
            salt = F.lit(0)
        elif salt_mode == "key":
            salt = F.pmod(
                F.xxhash64(F.lit(1), *[F.col(c) for c in self.pk]), F.lit(salt_n)
            )
        else:
            salt = F.pmod(
                F.xxhash64(F.lit(1), F.col(OFFSET), *[F.col(c) for c in self.pk]),
                F.lit(salt_n),
            )
        return salt

    def _write_txn(
        self,
        df: DataFrame,
        txn_name: str,
        n_partitions: int | None = None,
        collapsed: bool = False,
        drop_tombstones: bool = False,
    ) -> list[dict]:
        """Write df (must contain ``_bucket``) partitioned by bucket under a
        fresh txn dir over ``n_partitions`` tasks (default: the shuffle
        partitions); return manifest file entries.

        ``collapsed``: the LWW collapse runs here, over ONE hash exchange
        on ``_bucket`` that also serves the (``_bucket``, pk) aggregate,
        then drops tombstones if ``drop_tombstones``. A bucket is one
        task's PK-sorted run (spilling when it outgrows memory), cut by
        row count into PK-disjoint files of about ``target_file_bytes`` at
        the manifest's mean bytes per row.

        Otherwise the shuffle key is (bucket, salt): bare bucket ids pile
        2-3 buckets on some of n_partitions tasks (balls-into-bins), and a
        single hot key — one row updated in 50% of events, the classic CDC
        skew case — would land its entire volume in ONE task. The salt
        hashes the ROW (offset + pk) into salt_n (~4 shuffle keys per
        task, so file count stays bounded); the same key then spans files
        of its bucket, which merge-on-read LWW (and compact) absorb.

        Driver-built rows (a maintenance tick's merge input) take neither
        exchange: ONE task writes them, one file per bucket."""
        n_partitions = max(1, n_partitions or self._n_write_parts())
        txn_rel = os.path.join(DATA_DIR, txn_name)
        txn_dir = os.path.join(self.root, txn_rel)
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        local = all(leaves.apply(i).nodeName() == "LocalRelation"
                    for i in range(leaves.size()))
        opts = {}
        if collapsed:
            df = lww_collapse(
                df.coalesce(1) if local else df.repartition(n_partitions, "_bucket"),
                ["_bucket", *self.pk], self.version_cols)
            if drop_tombstones:
                df = df.filter(~F.coalesce(F.col(IS_DELETE), F.lit(False)))
            out = df.sortWithinPartitions("_bucket", *self.pk)
            sized = [f for f in self.manifest["files"] if f.get("rows") and f.get("bytes")]
            if sized:
                target = int(self.properties.get("target_file_bytes", 128 << 20))
                opts["maxRecordsPerFile"] = max(1, target * sum(
                    f["rows"] for f in sized) // sum(f["bytes"] for f in sized))
        elif local:
            out = df.coalesce(1).sortWithinPartitions("_bucket", *self.pk)
        else:
            salt = self._write_salt(df, n_partitions)
            out = (df.repartition(n_partitions, F.col("_bucket"), salt)
                   .sortWithinPartitions(*self.pk))
        out.write.options(**opts).partitionBy("_bucket").parquet(
            txn_dir, mode="errorifexists")
        targets = []
        for bdir in sorted(os.listdir(txn_dir)):
            if not bdir.startswith("_bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fname in sorted(os.listdir(os.path.join(txn_dir, bdir))):
                if fname.endswith(".parquet"):
                    targets.append((b, bdir, fname))

        def _entry(t):
            b, bdir, fname = t
            fpath = os.path.join(txn_dir, bdir, fname)
            # per-file row count + PK zone map (Iceberg-style stats) from
            # ONE footer read: rows drive maintenance planning without a
            # data scan; pk-sorted files make the ranges tight so lookup()
            # skips files inside the owning bucket too
            _frows, _franges = _parquet_footer_stats(fpath, self._stats_cols())
            return {
                "path": os.path.join(txn_rel, bdir, fname),
                "bucket": b,
                "mod": self.n_buckets,
                "schema_id": self.manifest["schema_id"],
                # provenance for per-bucket maintenance: True when this txn
                # applied the LWW collapse (compact / upsert merge /
                # collapsed append batch)
                "collapsed": bool(collapsed),
                "rows": _frows,
                "bytes": os.path.getsize(fpath),
                "stats": _franges,
            }

        # footer reads are I/O + C-parse (GIL-released): thread pool turns
        # this per-commit DRIVER-SERIAL walk into parallel time — serial
        # driver work is exactly what caps N->4N scaling efficiency
        if len(targets) > 4:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as ex:
                entries = list(ex.map(_entry, targets))
        else:
            entries = [_entry(t) for t in targets]
        return entries

    def _build_commit_manifest(
        self, summary: dict, consumed_paths: set[str], entries: list[dict],
        props_updates: dict | None = None,
    ) -> dict:
        """ONE definition of commit assembly for merges, compacts and
        mutations: latest files minus exactly this writer's consumed
        inputs, plus its entries; ``needs_collapse`` re-derived from the
        merged list."""
        m = self._next_manifest(summary)
        new_files = [
            f for f in self.manifest["files"] if f["path"] not in consumed_paths
        ] + entries
        m["files"] = new_files
        m["properties"]["needs_collapse"] = bool(self._dirty_buckets(new_files))
        m["properties"].update(props_updates or {})
        return m

    def _commit_with_rebase(
        self,
        summary: dict,
        consumed_paths: set[str],
        entries: list[dict],
        props_updates: dict,
        attempts: int = 6,
    ) -> bool:
        """CAS commit that survives losing the race to another writer.
        Returns True when committed, False when the write turned out to be
        a duplicate (another instance of the same job already advanced the
        fence past this batch) — the caller reports skipped.

        Safe because every caller's ``entries`` are LWW-idempotent against
        whatever landed concurrently: a merge's entries are (collapsed)
        versioned rows — concurrent generations stack and the LWW window
        resolves them, including exact duplicates from a concurrent compact
        that rewrote the same consumed files (equal (pk, version) rows
        collapse to one). On conflict: reload the latest manifest, drop
        exactly the ``consumed_paths`` this writer's output replaces (never
        files committed concurrently), re-derive ``needs_collapse`` from
        the merged file list, retry. Overwrite does NOT use this — replace
        semantics can't absorb concurrent additions silently."""
        for _ in range(attempts):
            m = self._build_commit_manifest(
                summary, consumed_paths, entries, props_updates
            )
            try:
                self._commit(m)
                return True
            except CommitConflict:
                base = self.manifest["version"]
                self._reload_latest()
                # a rebase may only stack versioned rows on top of OTHER
                # versioned rows: if an out-of-band mutation (purge/
                # update/overwrite) landed in between, our entries were
                # computed from pre-mutation data and re-committing them
                # would resurrect purged keys / revert updates — abort so
                # the caller restarts from the latest state (a streaming
                # merge restarts its micro-batch via the checkpoint; the
                # fence was not advanced)
                ops = self._ops_between(base, self.manifest["version"])
                bad = [o for o in ops if o is None or o in MUTATION_OPS]
                if bad:
                    raise CommitConflict(
                        f"concurrent mutation snapshot(s) {bad} committed "
                        f"during this write — rebase unsafe, restart the "
                        f"operation from the latest state"
                    )
                # fence must NEVER regress: if another instance of this job
                # (zombie/restarted driver) already advanced the fence to or
                # past this batch, this write is a duplicate — drop it (the
                # txn files become orphans; GC sweeps them) instead of
                # re-committing old rows and rolling the fence backwards
                for k, v in props_updates.items():
                    if k.startswith("fence."):
                        latest = self.manifest["properties"].get(k)
                        if latest is not None and int(latest) >= int(v):
                            return False
        raise RuntimeError(
            f"lost the manifest CAS race {attempts} times in a row "
            f"({summary.get('operation')})"
        )

    def _ops_between(self, base_version: int, to_version: int) -> list:
        """summary.operation of snapshots base+1..to (None when a manifest
        was expired — treated as unknown, i.e. conservatively a mutation)."""
        ops = []
        for v in range(base_version + 1, to_version + 1):
            try:
                ops.append(
                    self._load_json(self._meta_path(self.root, v))
                    .get("summary", {}).get("operation")
                )
            except FileNotFoundError:
                ops.append(None)
        return ops

    def overwrite(self, df: DataFrame, fence: tuple[str, int] | None = None) -> MergeStats:
        """Full-sync landing: replace table contents (cmd/dm bootstrap path).
        Input: logical columns (+ optional meta); missing meta filled."""
        if fence and self._fence_applied(fence):
            return MergeStats(skipped=True, version=self.version)
        src, filled = self._with_meta_defaults(df)
        src = src.withColumn("_bucket", self._bucket_expr())
        entries = self._write_txn(src, self._txn_name(), collapsed=True)
        m = self._next_manifest({"operation": "overwrite", **_null_filled(filled)})
        m["files"] = entries
        if fence:
            m["properties"][f"fence.{fence[0]}"] = int(fence[1])
        self._commit(m)
        return MergeStats(skipped=False, version=self.version,
                          touched_buckets=self.n_buckets, total_buckets=self.n_buckets)

    def _with_meta_defaults(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        """``df`` aligned to the physical schema, and the names of the
        columns it lacked and that were therefore filled with NULL."""
        cur = _physical(self.schema)
        # column alignment + default fill (parse.go:137-166): a batch whose
        # schema predates an ALTER ADD COLUMN — an at-least-once replay
        # from before the evolution, or a source that simply never carried
        # the column — aligns with NULL for the absent columns instead of
        # dying on an unresolved reference (found by the stateful model
        # check: replay of a pre-alter batch after alter_add_columns).
        # PK/version columns must exist: silently NULL-filling those would
        # corrupt identity/ordering, so they still raise. The filled names
        # go back to the caller, which records them in the commit summary.
        have = set(df.columns)
        required = set(self.pk) | {v for v in self.version_cols if v != OFFSET}
        missing_required = sorted(required - have)
        if missing_required:
            raise ValueError(
                f"merge batch is missing PK/version column(s) {missing_required}"
            )
        filled = [f.name for f in cur.fields if f.name not in have | {IS_DELETE, OFFSET}]
        defaults = {IS_DELETE: "false", OFFSET: "0"}
        sel = []
        for f in cur.fields:
            e = _sql_ident(f.name) if f.name in have else defaults.get(f.name, "NULL")
            e = f"CAST({e} AS {_sql_type(f.dataType)})"
            sel.append((f.name, f"coalesce({e}, false)" if f.name == IS_DELETE else e))
        return _project_sql(df, sel), filled

    def fence(self, job_id: str, tail: bool = False) -> int | None:
        """Job ``job_id``'s cursor on this table: the last batch id or
        source version it committed here (the ``fence.<job_id>`` property,
        advanced atomically with the commit), or None if it never did.

        ``tail=True`` is the lake-to-lake tailers' rule (cascade, dedup and
        ANN sync): a table with no data and no fence reads 0 (bootstrap —
        also after a crash between create and the first merge), and a
        table that holds data without the fence raises ValueError: its
        rows were not written by this job, and a guessed cursor would
        skip or replay upstream snapshots."""
        last = self.properties.get(f"fence.{job_id}")
        if last is not None:
            return int(last)
        if not tail:
            return None
        if self.manifest["files"]:
            raise ValueError(
                f"{self.root} exists with data but no fence.{job_id} — it "
                f"was not built by this job; refusing to guess a cursor")
        return 0

    def _fence_applied(self, fence: tuple[str, int]) -> bool:
        last = self.fence(fence[0])
        return last is not None and last >= int(fence[1])

    def merge(
        self,
        source: DataFrame,
        fence: tuple[str, int] | None = None,
        precollapsed: bool = False,
        extra_properties: dict | None = None,
        mode: str | None = None,
        strategy: str = "auto",
    ) -> MergeStats:
        """MERGE by PK with LWW-on-version semantics. Two physical modes:

        - ``upsert`` (copy-on-write, Iceberg MERGE INTO analog): read the
          buckets containing source keys, union+collapse, rewrite those
          buckets. Untouched buckets carry forward by manifest reference.
          Reads stay cheap (one generation per bucket); writes pay the
          bucket rewrite.
        - ``append`` (merge-on-read — the reference's actual architecture:
          ClickHouse ReplacingMergeTree appends versioned rows and collapses
          at background-merge/FINAL time, pkg/table/table.go:123-139 +
          doc/CDS中ClickHouse使用的建表方案.md:36-48): collapse the batch,
          bucket-partition, append new files; NO target read or rewrite.
          Reads apply the LWW window; ``compact()`` amortizes the collapse.
          This is the 10^10-events/day ingest path — per-batch work is
          O(batch), never O(table).

        ``source``: logical columns + ``_is_delete`` + ``_offset``. Only an
        append collapses in-batch (parse.go:268-306, in its write's one
        exchange), when ``append_inbatch_collapse`` is set or the caller
        passes ``precollapsed``; an upsert's plans collapse target ∪ batch.
        An incoming row only replaces the stored row if its version tuple
        is larger — at-least-once replay and out-of-order delivery
        converge to the same state. ``source_rows``: the distinct keys.

        Default mode comes from the table property ``merge_mode`` (set at
        create; defaults to upsert).

        ``strategy`` picks the upsert's physical plan by the rule
        :meth:`compact` uses too (:meth:`_rewrite_buckets`): an upsert is
        a compaction of the touched buckets with the batch added.

        - ``"auto"`` (default): the per-bucket Arrow rewrite
          (:meth:`_local_rewrite`; the batch moves to its bucket in one
          exchange, the target is read in-task) whenever applicable;
          otherwise the classic plan, with the reason
          (:meth:`_local_fallback`) recorded as the commit summary's
          ``fallback``;
        - ``"local"``: force the per-bucket rewrite (error if inapplicable);
        - ``"classic"``: target ∪ batch, LWW-collapsed and written over one
          exchange (the collapsed write of :meth:`_write_txn`).

        The commit summary's ``strategy`` records which one ran, and
        ``null_filled`` the batch columns filled with NULL because the
        batch lacked them (e.g. a replay from before an
        ``alter_add_columns``). Append mode has a single plan and ignores
        ``strategy``; so does an upsert of an empty batch, which picks no
        plan.
        """
        if fence and self._fence_applied(fence):
            return MergeStats(skipped=True, version=self.version)
        mode = mode or self.properties.get("merge_mode", "upsert")
        if mode not in ("append", "upsert"):
            # a typo'd merge_mode would otherwise silently select the
            # copy-on-write upsert path — O(touched buckets) per batch
            # instead of O(batch), with nothing pointing at the cause
            raise ValueError(
                f"unknown merge mode {mode!r} (expected 'append' or 'upsert')"
            )
        src, filled = self._with_meta_defaults(source)
        src = src.withColumn("_bucket", self._bucket_expr())
        props = dict(extra_properties or {})
        if fence:
            props[f"fence.{fence[0]}"] = int(fence[1])

        if mode == "append":
            # one pass: bucket + write (collapsed in the write's exchange
            # when the table asks for an in-batch collapse; OPTIONAL here:
            # the LWW read/compact absorbs intra-batch duplicates — the
            # reference likewise wrote an in-batch merge and disabled it,
            # cmd/rtu/handle/parse.go:267 "note not use"); bucket stats
            # read back from the written files (no extra job over the
            # source)
            entries = self._write_txn(src, self._txn_name(), collapsed=precollapsed or bool(
                self.properties.get("append_inbatch_collapse", False)))
            touched = sorted({e["bucket"] for e in entries})
            # purely additive: consumed nothing, so a CAS race with
            # maintenance (or another table's job sharing the session)
            # rebases onto the latest manifest instead of crashing the
            # stream
            committed = self._commit_with_rebase(
                {"operation": "append-merge", "touched_buckets": len(touched),
                 **_null_filled(filled)},
                set(), entries, props,
            )
            return MergeStats(
                skipped=not committed, version=self.version,
                touched_buckets=len(touched) if committed else 0,
                total_buckets=self.n_buckets,
                rows_written=(
                    sum(int(e.get("rows") or 0) for e in entries)
                    if committed else 0
                ),
            )

        # upsert (copy-on-write): both plans collapse target ∪ batch, so no
        # in-batch collapse; touched buckets and distinct keys from ONE
        # single-task aggregation (coalesce(1): no map-stage job).
        src = src.persist()
        try:
            key_counts = src.coalesce(1).groupBy("_bucket").agg(
                F.expr(f"count(DISTINCT struct({', '.join(map(_sql_ident, self.pk))}))"
                       ).alias("n")).collect()
            touched = sorted(int(r["_bucket"]) for r in key_counts)
            n_src = sum(int(r["n"]) for r in key_counts)
            if not touched:
                # an empty batch must still RECORD a passed fence (append
                # mode commits one anyway): otherwise cascade_sync on an
                # upsert destination never advances fence.{job_id} across
                # compact-only upstream windows and recomputes the same
                # empty delta every tick
                if fence:
                    self._commit_with_rebase(
                        {"operation": "fence-only", "touched_buckets": 0},
                        set(), [], {f"fence.{fence[0]}": int(fence[1])},
                    )
                return MergeStats(skipped=False, version=self.version, source_rows=0,
                                  total_buckets=self.n_buckets)
            files = self._bucket_files(touched)
            entries, route = self._rewrite_buckets(files, strategy, src=src)
            committed = self._commit_with_rebase(
                {
                    "operation": "merge",
                    "source_rows": n_src,
                    "touched_buckets": len(touched),
                    **route,
                    **_null_filled(filled),
                },
                # exactly the files whose content went into the merge
                # output — the rebase-retry must drop these and ONLY these
                {f["path"] for f in files}, entries, props,
            )
            if not committed:
                return MergeStats(skipped=True, version=self.version)
            return MergeStats(
                skipped=False,
                version=self.version,
                source_rows=n_src,
                touched_buckets=len(touched),
                total_buckets=self.n_buckets,
                rows_written=sum(int(e.get("rows") or 0) for e in entries),
            )
        finally:
            src.unpersist()

    def _n_write_parts(self) -> int:
        return int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # -------------------------------------------------------- maintenance
    def stats(self) -> dict:
        """Table-level stats from manifest metadata only — no data scan, so
        it stays O(manifest) at any table size (the ops-dashboard surface;
        row counts are exact because every commit records per-file footer
        counts). ``live_rows`` is NOT derivable without a scan when
        tombstones/generations exist; ``rows`` here is physical rows."""
        files = self.manifest["files"]
        gens = self.bucket_generations()
        # under-bucketing hazard surface: a bucket past the local-compact
        # byte cap silently routes compact/merge onto the slow plan paths
        # (the exact failure mode rebucket() exists to fix) — flag it here
        # so ops sees it BEFORE throughput degrades, not after
        # keyed on (modulus, bucket): mid-rebucket the manifest holds files
        # under TWO moduli, and bucket ids from different moduli name
        # DIFFERENT key sets — summing them under one id would read two
        # healthy buckets as one over-cap bucket and emit a spurious
        # rebucket hint while a rebucket is already in progress
        by_bucket: dict[tuple[int, int], int] = {}
        for f in files:
            k = (self._file_mod(f), int(f["bucket"]))
            by_bucket[k] = by_bucket.get(k, 0) + int(f.get("bytes") or 0)
        cap = int(self.properties.get("local_compact_max_bucket_bytes", 4 << 30))
        # a rebucket is in flight whenever ANY file still carries a modulus
        # other than n_buckets — not only when two moduli coexist: right
        # after rebucket-begin (or after a crash before the first rewrite)
        # EVERY file is legacy under one old modulus, and emitting a new
        # suggestion there would make auto_rebucket escalate the modulus
        # instead of resuming the in-flight migration
        mid_rebucket = any(m != self.n_buckets for m, _ in by_bucket)
        over = sorted(b for (m, b), bb in by_bucket.items() if bb > cap)
        out = {
            "version": self.version,
            "n_files": len(files),
            "rows": sum(int(f.get("rows") or 0) for f in files),
            "bytes": sum(int(f.get("bytes") or 0) for f in files),
            "n_buckets": self.n_buckets,
            "dirty_buckets": len(self._dirty_buckets()),
            "max_generations": max(gens.values(), default=0),
            "needs_collapse": bool(self.properties.get("needs_collapse")),
            "local_compact_cap_bytes": cap,
            "over_cap_buckets": over[:32],
            "n_over_cap_buckets": len(over),
            # True while any file still carries a non-current modulus — an
            # interrupted migration that rebucket(n_buckets) RESUMES
            "rebucket_in_progress": mid_rebucket,
            # point-lookup skipping coverage: files with a PK bloom sidecar
            # (built by the local compact/merge tasks) vs total — low
            # coverage on a lookup-heavy table means "run compact"
            "bloom_files": sum(1 for f in files if f.get("bloom")),
            # delta-log health: snapshots retained, bytes of manifest JSON
            # on disk, and the live chain length since the last full
            # checkpoint (bounded by manifest.checkpoint_every)
            "manifest_log": self._manifest_log_stats(),
        }
        if over and not mid_rebucket:
            worst = max(bb for bb in by_bucket.values() if bb > cap)
            # suggest a modulus that puts the worst bucket at <= cap/2,
            # rounded up to a power of two (a power-of-two ratio keeps
            # _bucket_overlap exact during and after the migration)
            factor = 1
            while worst // factor > cap // 2:
                factor *= 2
            out["rebucket_hint"] = (
                f"{len(over)} bucket(s) exceed local_compact_max_bucket_bytes="
                f"{cap}; maintenance is falling back to plan-based paths. "
                f"Run rebucket({self.n_buckets * factor})."
            )
            out["rebucket_suggested_n"] = self.n_buckets * factor
        elif over:
            # legacy-modulus buckets can legitimately exceed the cap while
            # their rewrite is pending; a second suggestion would fight
            # the migration already under way
            out["rebucket_hint"] = (
                f"{len(over)} over-cap bucket(s), but a rebucket is in "
                "progress (mixed moduli in manifest) — let it finish."
            )
        return out

    def _manifest_log_stats(self) -> dict:
        meta = os.path.join(self.root, META_DIR)
        names = [
            n for n in os.listdir(meta)
            if n.startswith("version-") and n.endswith(".json")
        ]
        try:
            every = int(
                self.properties.get(
                    "manifest.checkpoint_every", MANIFEST_CHECKPOINT_EVERY
                )
            )
        except (TypeError, ValueError):
            every = MANIFEST_CHECKPOINT_EVERY
        return {
            "snapshots": len(names),
            "meta_bytes": sum(
                os.path.getsize(os.path.join(meta, n)) for n in names
            ),
            "delta_chain": int(self.manifest.get("delta_chain", 0)),
            "checkpoint_every": every,
        }

    def _audit_manifest_log(self) -> list[int]:
        """Versions on disk that cannot materialize: a delta whose base
        chain is broken (missing version file) or cyclic/mis-pointed.
        Healthy tables return [] — expire_snapshots rewrites the oldest
        retained delta as full before deleting its bases precisely so this
        never fires."""
        meta = os.path.join(self.root, META_DIR)
        raws: dict[int, dict] = {}
        for n in os.listdir(meta):
            if n.startswith("version-") and n.endswith(".json"):
                try:
                    v = int(n[len("version-"):-len(".json")])
                except ValueError:
                    continue
                raws[v] = self._load_json(os.path.join(meta, n))
        bad: list[int] = []
        ok_memo: dict[int, bool] = {}

        def _ok(v: int) -> bool:
            seen = []
            x = v
            while True:
                if x in ok_memo:
                    res = ok_memo[x]
                    break
                m = raws.get(x)
                if m is None or x in seen:
                    res = False
                    break
                if "delta_of" not in m:
                    res = True
                    break
                seen.append(x)
                x = m["delta_of"]
            for s in seen:
                ok_memo[s] = res
            ok_memo[v] = res
            return res

        for v in sorted(raws):
            if not _ok(v):
                bad.append(v)
        return bad

    def validate(self, buckets: Sequence[int] | None = None) -> dict:
        """Invariant audit (ops tool, O(selected buckets) scan):

        - ``misplaced_rows``: rows whose recomputed bucket differs from the
          directory they sit in (a corrupt write would break lookup's
          pruning);
        - ``dup_pk_rows``: rows beyond one per (pk, version) — duplicates
          beyond at-least-once redelivery copies are fine for LWW but a
          collapsed (fully compacted) bucket must have exactly one row per
          key, reported as ``dup_collapsed_keys``;
        - ``null_pk_rows``: PK columns must never be NULL past the DLQ.

        Returns counts; all zero (for the collapsed metric: when clean)
        means the table upholds what lookup/changes/compact assume."""
        df = self.read(
            buckets=buckets, live_only=False, with_meta=True, collapse=False
        )
        files = self._bucket_files(buckets)
        # placement is judged under the modulus each file was WRITTEN with
        # (mid-rebucket a manifest legitimately holds two moduli); a
        # CASE over the file path maps every row to its own modulus
        mods = sorted({self._file_mod(f) for f in self.manifest["files"]}) or [
            self.n_buckets
        ]
        # NOTE: not gated on len(mods) > 1 — right after rebucket-begin (or
        # after a crash before the first rewrite) EVERY file carries one
        # legacy mod != n_buckets; judging those rows under the new modulus
        # would report a correct table as misplaced
        mod_expr = F.lit(self.n_buckets)
        if mods != [self.n_buckets]:
            for other in mods:
                if other == self.n_buckets:
                    continue
                legacy_txns = sorted({
                    f["path"].split(os.sep)[1]
                    for f in self.manifest["files"]
                    if self._file_mod(f) == other
                })
                cond = F.lit(False)
                for txn in legacy_txns:
                    cond = cond | F.input_file_name().contains(txn)
                mod_expr = F.when(cond, F.lit(other)).otherwise(mod_expr)
        by_file_bucket = df.withColumn(
            "_b2",
            F.pmod(F.xxhash64(*[F.col(c) for c in self.pk]), mod_expr),
        ).withColumn(
            "_file", F.element_at(F.split(F.input_file_name(), "_bucket="), -1)
        ).withColumn("_fb", F.split(F.col("_file"), "/").getItem(0).cast("int"))
        misplaced = by_file_bucket.filter(F.col("_fb") != F.col("_b2")).count()
        null_cond = F.lit(False)
        for c in self.pk:
            null_cond = null_cond | F.col(c).isNull()
        null_pk = df.filter(null_cond).count()
        dirty = self._dirty_buckets()
        # audit only buckets under the CURRENT modulus, selected by exact
        # file predicate: a buckets= read resolves through _bucket_overlap,
        # whose conservative keep-everything fallback for non-dividing
        # moduli would pull dirty/legacy files into the "clean" read
        # mid-rebucket and report duplicate keys on a healthy table
        clean_sel = {
            f["bucket"] for f in files
            if self._file_mod(f) == self.n_buckets and f["bucket"] not in dirty
        }
        dup_collapsed = 0
        if clean_sel:
            clean = self.read(
                live_only=False, with_meta=True, collapse=False,
                file_pred=lambda e: (
                    self._file_mod(e) == self.n_buckets
                    and e["bucket"] in clean_sel
                ),
            )
            dup_collapsed = (
                clean.groupBy(*self.pk).count().filter(F.col("count") > 1).count()
            )
        # bloom soundness audit: a corrupt/drifted sidecar means lookup()
        # could SKIP a file that holds the key — a wrong result, the one
        # failure blooms must never have. Sample each bloomed file's first
        # rows and require the sidecar to claim them present (bounded:
        # pk-columns of one row group per file, first 128 files).
        from cds_spark.lake import bloom as _bloom

        pk_types = self._pk_type_names(_physical(self.schema))
        supported = all(t in _bloom.SUPPORTED_PK_TYPES for t in pk_types)
        bloom_bad: list[str] = []
        checked = 0
        for f in files:
            bl = f.get("bloom")
            if not bl or bl.get("algo") != _bloom.BLOOM_ALGO or not supported:
                continue
            if checked >= 128:
                break
            checked += 1
            try:
                import pyarrow.parquet as pq

                sample = pq.ParquetFile(
                    os.path.join(self.root, f["path"])
                ).read_row_group(0, columns=list(self.pk)).slice(0, 256)
                canon = _bloom._canonical_array(sample, list(self.pk))
                # the audit runs the SAME probe_sidecar contract lookup()
                # executes; None (claimed bloom but unreadable/corrupt) is
                # sound for reads (file kept) but flagged here as hygiene
                mask = (
                    None if canon is None else _bloom.probe_sidecar(
                        self.root, f, _bloom.hash_keys(canon.to_pylist())
                    )
                )
                if mask is None or not mask.all():
                    bloom_bad.append(f["path"])
            except Exception:
                bloom_bad.append(f["path"])
        # delta-log chain audit: every retained snapshot must materialize
        unmat = self._audit_manifest_log()
        return {
            "misplaced_rows": int(misplaced),
            "null_pk_rows": int(null_pk),
            "dup_collapsed_keys": int(dup_collapsed),
            "dirty_buckets": len(dirty),
            "bloom_files_checked": checked,
            "bloom_violations": bloom_bad[:32],
            "manifest_unmaterializable": unmat[:32],
            "ok": (
                misplaced == 0 and null_pk == 0 and dup_collapsed == 0
                and not bloom_bad and not unmat
            ),
        }

    def bucket_generations(self, files: Sequence[dict] | None = None) -> dict[int, int]:
        """Row generations per bucket = distinct write txns contributing
        files to it (derived from the manifest — no extra metadata).
        Append-mode merges add one generation per touched bucket per batch."""
        gens: dict[int, set[str]] = {}
        for f in self.manifest["files"] if files is None else files:
            txn = f["path"].split(os.sep)[1] if os.sep in f["path"] else f["path"]
            gens.setdefault(int(f["bucket"]), set()).add(txn)
        return {b: len(t) for b, t in gens.items()}

    def _dirty_buckets(self, files: Sequence[dict] | None = None) -> set[int]:
        """Buckets NOT fully collapsed on disk: more than one generation,
        or any file written without the LWW collapse (an uncollapsed append
        batch can hold several versions of a key within ONE generation)."""
        fl = self.manifest["files"] if files is None else files
        gens = self.bucket_generations(fl)
        uncollapsed = {int(f["bucket"]) for f in fl if not f.get("collapsed")}
        return {b for b, g in gens.items() if g > 1} | uncollapsed

    def _local_fallback(self, files: Sequence[dict]) -> str | None:
        """Why the per-bucket Arrow path cannot rewrite ``files``, or None
        when it can. Compact and upsert-merge commits record the reason as
        ``fallback`` when they take the plan path instead:

        - ``type:<name>``: a column with no Arrow mapping (array, map,
          struct, decimal);
        - ``float_version``: a float/double VERSION column — the one type
          whose ordering the Arrow winner select cannot reproduce: Spark
          sorts NaN ABOVE every value, Arrow groups NaN with nulls under
          ``null_placement`` (measured: NaN lands at_start), so a NaN
          version would pick a different winner (data columns may be
          float: their values only ride along);
        - ``widen:<from>->string``: a file's column was widened to string
          since it was written — the value rendering is Spark's cast, which
          Arrow's does not reproduce (numeric widenings and date ->
          timestamp cast identically, and stay local);
        - ``mixed_moduli``: files from before an unfinished rebucket;
        - ``bucket_over_cap``: a bucket over
          ``local_compact_max_bucket_bytes`` — one task holds a bucket's
          generations in memory, the plan path spills (or rebucket())."""
        phys = _physical(self.schema)
        for f in phys.fields:
            if _arrow_type_for(f.dataType.typeName()) is None:
                return f"type:{f.dataType.typeName()}"
        if any(f.dataType.typeName() in ("float", "double")
               for f in phys.fields if f.name in self.version_cols):
            return "float_version"
        cur = {f.name: f.dataType.typeName() for f in phys.fields}
        for sid in {str(f["schema_id"]) for f in files}:
            carried = self._carried_columns(sid)
            for f in self._file_schema(sid).fields:
                t = f.dataType.typeName()
                if f.name in carried and t != "string" and cur.get(f.name) == "string":
                    return f"widen:{t}->string"
        if any(self._file_mod(f) != self.n_buckets for f in files):
            return "mixed_moduli"
        cap = int(self.properties.get("local_compact_max_bucket_bytes", 4 << 30))
        per_b: dict[int, int] = {}
        for f in files:
            per_b[int(f["bucket"])] = per_b.get(int(f["bucket"]), 0) + int(f.get("bytes") or 0)
        if any(nbytes > cap for nbytes in per_b.values()):
            return "bucket_over_cap"
        return None

    def _rewrite_buckets(
        self,
        files: Sequence[dict],
        strategy: str,
        src: DataFrame | None = None,
        purge_tombstones: bool = False,
    ) -> tuple[list[dict], dict]:
        """The part merge of the buckets ``files`` cover: an upsert merge of
        the batch ``src`` (with ``_bucket``) or, without one, a compaction.
        ``strategy`` (see :meth:`compact`) picks the per-bucket Arrow
        rewrite (:meth:`_local_rewrite`) or the classic plan, the collapsed
        :meth:`_write_txn` of the files (∪ the batch). Returns the new
        manifest entries and the summary's ``strategy``/``fallback``."""
        op = "compact" if src is None else "merge"
        if strategy not in ("auto", "local", "classic"):
            raise ValueError(
                f"unknown {op} strategy {strategy!r} "
                "(expected 'auto', 'local' or 'classic')"
            )
        fallback = None if strategy == "classic" else self._local_fallback(files)
        if strategy == "local" and fallback:
            raise ValueError(
                f"local {op} not applicable ({fallback}) — use strategy='auto'"
            )
        if fallback is None and strategy != "classic":
            return (self._local_rewrite(files, src, purge_tombstones),
                    {"strategy": "local"})
        # each bucket is one task of the collapsed write, which spills
        # where a bucket over the local cap does not fit in memory;
        # tombstones purged null-safely after the collapse (read()
        # serves _is_delete=NULL rows as LIVE, as the Arrow path does)
        df = self._read_entries(files, _physical(self.schema)).withColumn(
            "_bucket", self._bucket_expr())
        if src is not None:
            df = df.unionByName(src)
        entries = self._write_txn(
            df, self._txn_name("-compact" if src is None else ""), collapsed=True,
            drop_tombstones=purge_tombstones)
        return entries, {"strategy": "classic",
                         **({"fallback": fallback} if fallback else {})}

    def _local_rewrite(
        self,
        files: Sequence[dict],
        src: DataFrame | None,
        purge_tombstones: bool,
    ) -> list[dict]:
        """Per-bucket Arrow rewrite of the buckets ``files`` cover, with
        the upsert batch ``src`` added when given; the caller has checked
        :meth:`_local_fallback`. Returns the new manifest entries.

        The table layout already guarantees that ALL generations of a key
        live inside one bucket's files — so collapsing a bucket needs no
        data movement: one task per bucket reads that bucket's parquet
        files (pyarrow, each aligned to the current schema by
        :func:`_arrow_read_aligned` — files from before an
        alter_add_columns / widen / drop-then-re-add read exactly as
        :meth:`_read_entries` serves them), appends the batch's group,
        picks the max-version row per key, drops tombstones when
        ``purge_tombstones``, and writes the replacement file(s) directly.
        The target never re-enters Spark (no scan, no union shuffle, no
        driver-side broadcast build) — how lakehouse compaction services
        rewrite partitions: an embarrassingly parallel per-partition job,
        wall-clock = slowest single bucket.

        Only the launch differs. An upsert moves the batch to its buckets
        in one exchange (any merge needs it): ``applyInArrow`` over
        ``src`` grouped by ``_bucket``. A compaction moves nothing: one
        RDD partition per bucket, each carrying only its own bucket's read
        list — one Spark job, no shuffle, no pandas.

        Ordering fidelity: the winner rule must equal lww_collapse's
        ``max(struct(version_cols))``. Arrow's multi-key ascending sort
        with nulls first is the same lexicographic order (UTF-8 byte order
        equals code-point order, so string comparison agrees), and taking
        the LAST row per key after that sort is the struct max — selected
        by an Arrow C++ group_by argmax over row positions
        (:func:`_arrow_lww_collapse`). Float version columns, where the two
        orders part, take the classic plan (:meth:`_local_fallback`).

        Type fidelity: nothing round-trips through pandas. The batch group
        arrives as an Arrow table, cast to the canonical physical Arrow
        schema (:func:`_arrow_type_for`): a long column with NULLs stays
        int64, float NaN stays NaN (pandas would silently turn it into
        null), timestamps are us/UTC end-to-end."""
        import pyarrow as pa

        phys = _physical(self.schema)
        arrow_schema = pa.schema([
            (f.name, _arrow_type_for(f.dataType.typeName())) for f in phys.fields
        ])
        # bucket -> ([(path, the file's columns that carry current values,
        # in schema order — see _carried_columns)], bytes)
        carried: dict[str, list[str]] = {}
        reads_by_b: dict[int, tuple[list, int]] = {}
        for f in files:
            sid = str(f["schema_id"])
            if sid not in carried:
                have = self._carried_columns(sid)
                carried[sid] = [c for c in arrow_schema.names if c in have]
            reads, nbytes = reads_by_b.get(int(f["bucket"]), ([], 0))
            reads.append((f["path"], carried[sid]))
            reads_by_b[int(f["bucket"])] = (reads, nbytes + int(f.get("bytes") or 0))
        txn_rel = os.path.join(
            DATA_DIR, self._txn_name("-compact" if src is None else "-merge"))
        txn_dir = os.path.join(self.root, txn_rel)
        os.makedirs(txn_dir, exist_ok=False)
        root = self.root
        pk, vcols = list(self.pk), list(self.version_cols)
        pk_types = self._pk_type_names(phys)
        stats_cols = self._stats_cols()
        sid_i = self.manifest["schema_id"]
        n_buckets = self.n_buckets
        target_file_bytes = int(self.properties.get("target_file_bytes", 128 << 20))
        # cluster_by: a compaction re-sorts each collapsed bucket by this
        # column before chunking, so the bucket's chunk files carry
        # DISJOINT value ranges and scan_where prunes to O(matching chunks)
        # — the Iceberg sort-order / ClickHouse ORDER BY analog (merge
        # generations stay pk-sorted; compact is the clusterer). Trade-off:
        # chunk files are no longer PK-sorted, so keyset_page's adaptive
        # slice reads more files on clustered tables — choose the layout
        # per table by its dominant read. PK tie-breaker keeps the sort
        # total, so reruns are byte-deterministic. Every Arrow-mapped type
        # sorts.
        cluster_col = self.properties.get("cluster_by") if src is None else None

        def rewrite(b: int, reads: list, in_bytes: int, batch=None) -> list[dict]:
            import pyarrow as _pa
            import pyarrow.compute as _pc

            parts = [
                _arrow_read_aligned(os.path.join(root, p), cols, arrow_schema)
                for p, cols in reads
            ]
            if batch is not None:
                parts.append(batch)
                # output chunking must see the BATCH's bytes too, not just
                # the existing files': a large batch merged into an
                # empty/small bucket would otherwise emit one file
                # arbitrarily past target_file_bytes. Arrow in-memory bytes
                # run ~3x the zstd-parquet footprint — scale before summing.
                in_bytes += batch.nbytes // 3
            tbl = _arrow_lww_collapse(
                _pa.concat_tables(parts), pk, vcols, purge_tombstones)
            if cluster_col in tbl.schema.names and tbl.num_rows:
                tbl = tbl.take(_pc.sort_indices(
                    tbl,
                    sort_keys=[(c, "ascending") for c in [cluster_col, *pk]],
                    null_placement="at_start",
                ))
            n_chunks = max(1, (in_bytes + target_file_bytes - 1) // target_file_bytes)
            return _arrow_write_bucket(
                tbl, txn_dir, txn_rel, b, n_chunks, pk, sid_i, n_buckets,
                pk_types, stats_cols,
            )

        if src is None:
            def run(tasks):
                _arrow_pin_single_thread()
                for b, reads, in_bytes in tasks:
                    yield from rewrite(b, reads, in_bytes)

            tasks = [(b, reads, nbytes)
                     for b, (reads, nbytes) in sorted(reads_by_b.items())]
            return (self.spark.sparkContext.parallelize(tasks, len(tasks))
                    .mapPartitions(run).collect())

        def fn(key, tbl_in):
            import pyarrow as _pa

            _arrow_pin_single_thread()
            b = int(key[0].as_py())
            batch = (tbl_in.select(arrow_schema.names).cast(arrow_schema)
                     .replace_schema_metadata(None))
            reads, in_bytes = reads_by_b.get(b, ([], 0))
            entries = rewrite(b, reads, in_bytes, batch)
            return _pa.table({"entry": _pa.array(
                [json.dumps(e) for e in entries], type=_pa.string())})

        res = src.groupBy("_bucket").applyInArrow(fn, "entry string")
        return [json.loads(r["entry"]) for r in res.collect()]

    def compact(
        self,
        buckets: Sequence[int] | None = None,
        max_generations: int | None = None,
        purge_tombstones: bool = False,
        strategy: str = "auto",
    ) -> list[int]:
        """Rewrite buckets to one generation each (the ClickHouse background
        part-merge analog — but INCREMENTAL, never a forced whole-table job):

        - ``buckets``: explicit subset to rewrite;
        - ``max_generations``: rewrite only buckets exceeding this many
          generations (the steady-state maintenance call — a micro-batch
          that touched 3 buckets leads to a 3-bucket compact);
        - neither: all buckets (full rewrite, small tables only — at 100TB
          a single-job full rewrite is not runnable, which is exactly why
          the subset paths exist).

        ``purge_tombstones`` physically drops deleted rows in the rewritten
        buckets — safe ONLY behind the replay horizon: once the tombstone
        is gone, an UNFENCED re-merge of an older version of that key
        resurrects it (LWW has nothing newer to compare against) — the
        same caveat as ClickHouse ``FINAL ... CLEANUP``. The pipeline's
        offset fence IS the horizon mechanism: a fenced replay of an
        already-applied batch is skipped before it can touch data
        (``test_purged_tombstone_not_resurrected_by_fenced_replay``), so
        the sync loop's in-loop maintenance may purge freely; only
        out-of-band unfenced merges of historical data must not follow a
        purge (found by the stateful model check, seed 9129). Returns the
        buckets rewritten.

        ``strategy`` picks the physical plan, by the rule an upsert
        :meth:`merge` uses too (:meth:`_rewrite_buckets`):

        - ``"auto"`` (default): the per-bucket Arrow rewrite
          (:meth:`_local_rewrite`) whenever applicable — one Spark job
          with one task per bucket, no shuffle and no driver-serial
          broadcast build, so it scales linearly with executors; otherwise
          the classic plan, with the reason (:meth:`_local_fallback`)
          recorded as the commit summary's ``fallback``;
        - ``"local"``: force the per-bucket rewrite (error if inapplicable);
        - ``"classic"``: the LWW collapse and write over one exchange (the
          collapsed write of :meth:`_write_txn`).

        The commit summary's ``strategy`` records which one ran. The
        return value and the summary's ``buckets`` count only selected
        buckets that hold files; a selection that holds none commits
        nothing and returns ``[]``."""
        gens = self.bucket_generations()
        uncollapsed = {
            int(f["bucket"]) for f in self.manifest["files"] if not f.get("collapsed")
        }
        # effective generations: an uncollapsed file set can hide several
        # versions of a key inside ONE txn, so it counts one extra
        eff = {b: g + (1 if b in uncollapsed else 0) for b, g in gens.items()}
        if buckets is not None:
            sel = sorted(int(b) for b in buckets)
        elif max_generations is not None:
            sel = sorted(b for b, g in eff.items() if g > max_generations)
        else:
            sel = sorted(gens)
        sel_files = self._bucket_files(sel)
        # report only the buckets some selected file can hold a key of;
        # a file under the table's modulus holds its own bucket only
        held = {int(f["bucket"]) for f in sel_files if self._file_mod(f) == self.n_buckets}
        other = [f for f in sel_files if self._file_mod(f) != self.n_buckets]
        sel = [b for b in sel
               if b in held or any(self._bucket_match(f, {b}) for f in other)]
        if not sel:
            return []
        entries, route = self._rewrite_buckets(
            sel_files, strategy, purge_tombstones=purge_tombstones)
        # maintenance must never block (or be blocked by) the ingest
        # writer — the ClickHouse background-merge contract; see
        # _commit_with_rebase for why the rebase is safe. The rebase-retry
        # drops exactly the files this compact consumed (and ONLY these)
        # from whatever manifest is current at commit time.
        self._commit_with_rebase(
            {"operation": "compact", "purged": purge_tombstones,
             "buckets": len(sel), **route},
            {f["path"] for f in sel_files}, entries, {})
        return sel

    def rebucket(self, new_n_buckets: int, group: int = 8,
                 max_groups: int | None = None) -> dict:
        """ONLINE re-bucketing: change the table's bucket modulus without a
        stop-the-world rewrite — the operation a sharded ClickHouse cluster
        cannot do (resharding `pkg/ckgroup/ckgroup.go:12-47` means manual
        copy + cutover); here it is a sequence of ordinary CAS snapshot
        commits, readers and concurrent ingest stay consistent throughout.

        Why it must exist: ``n_buckets`` is frozen at create, and at 100 TB
        an under-bucketed table (10 GB+ per bucket) caps compaction
        parallelism, lookup pruning, and the local-compact memory bound.

        Protocol:

        1. ``rebucket-begin`` commit: stamp every current file with the
           modulus it was written under (``mod``) and flip the table's
           ``n_buckets``. From this snapshot on, EVERY bucket selection
           resolves through :func:`_bucket_overlap`, so reads, lookups and
           compact/mutation input sets stay exact when one modulus divides
           the other and conservative otherwise. Concurrent writers that
           loaded the pre-flip manifest keep writing old-modulus files —
           harmless, their entries carry their own ``mod``.
        2. Rewrite loop: ``group`` old buckets at a time, read exactly
           those files and re-shard them under the new modulus via the
           standard txn write + rebase commit (LWW-idempotent, so racing
           ingest/compact commits interleave safely).
        3. Done when no differently-bucketed file remains.

        Resumable by construction: re-running after a crash just continues
        with whatever legacy files are left — calling with the CURRENT
        n_buckets while legacy-modulus files remain resumes an interrupted
        migration (a true no-op only when nothing is left to rewrite).
        ``max_groups`` bounds ONE call's rewrite work (groups of ``group``
        old buckets each) so an in-loop maintenance tick never stalls
        O(table); the summary's ``done`` flag says whether legacy files
        remain — callers repeat until done. Returns a summary dict."""
        new_n = int(new_n_buckets)
        if new_n <= 0:
            raise ValueError("n_buckets must be positive")
        if new_n == self.n_buckets and all(
            self._file_mod(f) == new_n for f in self.manifest["files"]
        ):
            return {"rewritten_files": 0, "commits": 0, "done": True,
                    "n_buckets": self.n_buckets, "version": self.version}

        # phase 1: flip the modulus (skip if a prior attempt already did)
        commits = 0
        for _ in range(6):
            if self.n_buckets == new_n:
                break
            m = self._next_manifest({
                "operation": "rebucket-begin",
                "from_buckets": self.n_buckets, "to_buckets": new_n,
            })
            old_n = self.n_buckets
            # entries are shared across in-memory snapshots (see
            # _next_manifest) — stamp the modulus on NEW dicts, never in place
            m["files"] = [
                f if "mod" in f else {**f, "mod": old_n} for f in m["files"]
            ]
            m["n_buckets"] = new_n
            try:
                self._commit(m)
                commits += 1
                break
            except CommitConflict:
                self._reload_latest()
        if self.n_buckets != new_n:
            raise RuntimeError("rebucket: lost the begin-commit CAS race repeatedly")

        # phase 2: rewrite legacy files group-by-group
        rewritten = 0
        groups_done = 0
        legacy_left = False
        while True:
            self._reload_latest()
            # phys/schema_id must come from the manifest THIS iteration's
            # commit will land on: a concurrent schema-evolution commit
            # mid-rebucket would otherwise stamp new-schema entries over
            # old-column files ( _read_entries aligns old files to the
            # current physical schema, so recomputing is also sufficient)
            phys = _physical(self.schema)
            legacy = [
                f for f in self.manifest["files"]
                if self._file_mod(f) != new_n
            ]
            if not legacy:
                break
            if max_groups is not None and groups_done >= max_groups:
                legacy_left = True
                break
            by_old: dict[tuple, list[dict]] = {}
            for f in legacy:
                by_old.setdefault((self._file_mod(f), int(f["bucket"])), []).append(f)
            batch_keys = sorted(by_old)[:group]
            batch = [f for k in batch_keys for f in by_old[k]]
            df = self._read_entries(batch, phys).withColumn(
                "_bucket", self._bucket_expr()
            )
            n_parts = max(1, min(len(batch_keys) * 4, self._n_write_parts()))
            entries = self._write_txn(df, self._txn_name("-rebucket"), n_parts)
            self._commit_with_rebase(
                {"operation": "rebucket", "old_buckets": len(batch_keys)},
                {f["path"] for f in batch}, entries, {},
            )
            commits += 1
            rewritten += len(batch)
            groups_done += 1
        return {"rewritten_files": rewritten, "commits": commits,
                "done": not legacy_left, "n_buckets": new_n,
                "version": self.version}

    def purge_where(self, condition) -> dict:
        """Physically remove every key whose CURRENT live row matches
        ``condition`` — see :meth:`_purge_attempt`. Mutations never
        rebase (a rebase could let a racing merge/compact resurrect the
        purged keys): on a lost CAS the WHOLE operation re-runs against
        the fresh state."""
        return self._mutate_with_retry(lambda: self._purge_attempt(condition))

    def _mutate_with_retry(self, attempt, attempts: int = 4) -> dict:
        last = None
        for _ in range(attempts):
            try:
                return attempt()
            except CommitConflict as e:
                last = e
                self._reload_latest()
        raise RuntimeError(f"mutation lost the CAS race {attempts} times: {last}")

    def _purge_attempt(self, condition) -> dict:
        """Physically remove every key whose CURRENT live row matches
        ``condition`` (SQL string or Column) — the ClickHouse
        ``ALTER TABLE ... DELETE`` mutation analog, and the
        right-to-be-forgotten operation a training-data lake needs.

        Deletion is by KEY, all generations: dropping only the matching
        row would resurface the key's older version at the next LWW
        collapse. Work is O(buckets containing matches): one collapsed
        pass finds the matching keys, only their buckets are rewritten
        (collapsed, matching keys anti-joined away, tombstones of matched
        keys also dropped), committed through the CAS rebase like any
        maintenance. Returns {keys_purged, buckets_rewritten, version}.

        Unlike a CDC tombstone this does NOT protect against the key
        re-appearing from a later feed event — it is an out-of-band
        mutation, exactly like the ClickHouse analog.

        ERASURE caveat: older snapshots still reference the purged rows'
        files (time travel can read them) until ``expire_snapshots``
        trims the retained window — for right-to-be-forgotten compliance
        run ``expire_snapshots(keep_last=1)`` after the purge (CLI:
        ``purge --where ... --expire``)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        keys = (
            self.current().filter(cond).select(*self.pk)
            .withColumn("_bucket", self._bucket_expr())
            .persist()
        )
        try:
            buckets = sorted(
                r["_bucket"] for r in keys.select("_bucket").distinct().collect()
            )
            n_keys = keys.count()
            if not buckets:
                return {"keys_purged": 0, "buckets_rewritten": 0,
                        "version": self.version}
            consumed = {f["path"] for f in self._bucket_files(buckets)}
            kdf = keys.drop("_bucket")
            if n_keys <= PURGE_BROADCAST_KEYS:
                kdf = F.broadcast(kdf)
            remain = (
                self.read(buckets=buckets, live_only=False, with_meta=True,
                          collapse=False)
                .join(kdf, on=self.pk, how="left_anti")
                .withColumn("_bucket", self._bucket_expr())
            )
            entries = self._write_txn(remain, self._txn_name("-purge"), collapsed=True)
            # strict commit: CommitConflict propagates to _mutate_with_retry,
            # which re-runs the whole attempt against the fresh state
            self._commit(self._build_commit_manifest(
                {"operation": "purge", "keys": n_keys, "buckets": len(buckets)},
                consumed, entries,
            ))
            return {"keys_purged": n_keys, "buckets_rewritten": len(buckets),
                    "version": self.version}
        finally:
            keys.unpersist()

    def update_where(self, condition, assignments: dict) -> dict:
        """In-place column mutation — see :meth:`_update_attempt`.
        Mutations never rebase (an update keeps version tuples, so a
        racing writer's carried-forward copy of the old row would tie the
        LWW and arbitrarily revert it): lost CAS → whole-operation retry
        against the fresh state."""
        return self._mutate_with_retry(
            lambda: self._update_attempt(condition, assignments)
        )

    def _update_attempt(self, condition, assignments: dict) -> dict:
        """In-place column mutation — the ClickHouse ``ALTER TABLE ...
        UPDATE`` analog: every CURRENT live row matching ``condition``
        gets ``assignments`` ({column: SQL-expression string or Column})
        applied; versions are untouched (mutations don't bump versions in
        the reference either). Same O(matching buckets) shape as
        :meth:`purge_where`: matched buckets are collapsed, mutated,
        rewritten, STRICT-committed (lost CAS = whole-operation re-run;
        mutations never rebase). PK columns cannot be assigned (that
        would be a delete+insert, not a mutation)."""
        bad = [c for c in assignments if c in self.pk]
        if bad:
            raise ValueError(f"update_where cannot assign PK columns {bad}")
        unknown = [
            c for c in assignments
            if c not in {f.name for f in self.schema.fields}
        ]
        if unknown:
            raise ValueError(f"update_where: unknown columns {unknown}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # one discovery pass: matched-row count + owning buckets together
        agg = (
            self.current().filter(cond)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(self._bucket_expr()).alias("bs"),
            )
            .first()
        )
        n_updated, buckets = int(agg["n"]), sorted(int(b) for b in agg["bs"])
        if not buckets:
            return {"rows_updated": 0, "buckets_rewritten": 0,
                    "version": self.version}
        consumed = {f["path"] for f in self._bucket_files(buckets)}
        cur = self.read(buckets=buckets, live_only=False, with_meta=True)
        types = {f.name: f.dataType for f in self.schema.fields}
        # guard against silent erasure: a non-null RHS that does not cast
        # to the column type would write NULL into every matched row — a
        # typo'd --set must fail the mutation, not destroy data (the
        # ClickHouse ALTER ... UPDATE analog rejects such mutations too)
        checks = []
        for name, e in assignments.items():
            expr = F.expr(e) if isinstance(e, str) else e
            checks.append(
                F.sum(
                    F.when(
                        expr.isNotNull() & expr.try_cast(types[name]).isNull(), 1
                    ).otherwise(0)
                ).alias(name)
            )
        from pyspark.errors import AnalysisException

        try:
            bad_counts = (
                cur.filter(cond & ~F.col(IS_DELETE)).agg(*checks).first().asDict()
            )
        except AnalysisException as e:  # type-impossible cast / bad expr —
            # runtime failures (executor lost, IO) propagate untouched
            raise ValueError(
                f"update_where: assignment not castable to the column type: {e}"
            ) from e
        bad_cols = sorted(c for c, n in bad_counts.items() if n)
        if bad_cols:
            raise ValueError(
                f"update_where: assignment(s) {bad_cols} produce values that "
                f"do not cast to the column type on matched rows — refusing "
                f"to write NULLs over data"
            )
        # SQL UPDATE semantics: the predicate AND every RHS evaluate
        # against the OLD row — one select computes all assignments in
        # parallel from the same input, so no assignment sees another's
        # output
        flagged = cur.withColumn("_match", cond & ~F.col(IS_DELETE))
        sel = []
        for name in flagged.columns:
            if name in assignments:
                e = assignments[name]
                expr = F.expr(e) if isinstance(e, str) else e
                sel.append(
                    F.when(F.col("_match"), expr.try_cast(types[name]))
                    .otherwise(F.col(name)).alias(name)
                )
            else:
                sel.append(F.col(name))
        out = flagged.select(*sel).drop("_match").withColumn(
            "_bucket", self._bucket_expr()
        )
        entries = self._write_txn(out, self._txn_name("-update"), collapsed=True)
        self._commit(self._build_commit_manifest(
            {"operation": "update", "rows": n_updated, "buckets": len(buckets)},
            consumed, entries,
        ))
        return {"rows_updated": n_updated, "buckets_rewritten": len(buckets),
                "version": self.version}

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg ``expire_snapshots`` analog (ClickHouse: inactive-part GC
        after background merges): drop manifest versions older than the
        newest ``keep_last`` and delete the data files that ONLY expired
        snapshots reference. Without this, append+compact retains every
        superseded generation forever — at 10^10 events/day the dead bytes
        pass the live bytes within hours.

        Deletion set = (files referenced by expired manifests) MINUS (files
        referenced by retained manifests): compaction carries untouched
        buckets forward by reference, so shared files survive; an in-flight
        writer's uncommitted txn dir is referenced by NO manifest and is
        never touched (see ``remove_orphans`` for aborted-txn cleanup).
        Metadata walk + file deletes only — never a data scan, so the cost
        is O(files in expired window), not O(table). Time travel stays
        available within the retained window; ``load(version=expired)``
        raises. Returns counts."""
        keep_last = max(1, int(keep_last))
        current = self._current_version(self.root)
        meta = os.path.join(self.root, META_DIR)
        versions = sorted(
            int(n[len("version-"):-len(".json")])
            for n in os.listdir(meta)
            if n.startswith("version-") and n.endswith(".json")
        )
        retained = {v for v in versions if v > current - keep_last}
        expired = [v for v in versions if v not in retained]
        if not expired:
            return {"expired_snapshots": 0, "deleted_files": 0}

        # the oldest retained snapshot may be a delta whose base is about to
        # be expired — rewrite it as the equivalent FULL snapshot first so
        # the retained chain stays self-contained. Content-identical to its
        # materialized form, so concurrent readers see the same snapshot
        # either way (os.replace is atomic); _read_manifest retries once to
        # cover a reader caught mid-swap. _current is NOT touched.
        oldest = min(retained)
        if "delta_of" in self._read_raw(self.root, oldest):
            full = self._read_manifest(self.root, oldest)
            full["delta_chain"] = 0
            path = self._meta_path(self.root, oldest)
            tmp = path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "wb") as f:
                f.write(self._dump_manifest_bytes(full))
            os.replace(tmp, path)

        def _paths(v: int) -> set[str]:
            return {e["path"] for e in self._read_manifest(self.root, v)["files"]}

        keep = set()
        for v in retained:
            keep |= _paths(v)
        drop = set()
        for v in expired:
            drop |= _paths(v)
        drop -= keep
        deleted = 0
        for rel in sorted(drop):
            p = os.path.join(self.root, rel)
            try:
                os.remove(p)
                deleted += 1
            except FileNotFoundError:
                pass
            try:  # bloom sidecar lives and dies with its data file
                os.remove(p + ".bloom")
            except FileNotFoundError:
                pass
            d = os.path.dirname(p)
            # prune now-empty _bucket=/txn dirs (two levels, best-effort)
            for _ in range(2):
                try:
                    os.rmdir(d)
                except OSError:
                    break
                d = os.path.dirname(d)
        for v in expired:
            try:
                os.remove(self._meta_path(self.root, v))
            except FileNotFoundError:
                pass
        return {"expired_snapshots": len(expired), "deleted_files": deleted}

    def remove_orphans(self, older_than_s: float = 86400.0) -> int:
        """Delete aborted-txn debris: data txn dirs referenced by NO
        manifest whose mtime is older than ``older_than_s`` (the age guard
        keeps a concurrent writer's in-flight uncommitted dir safe —
        Iceberg ``remove_orphan_files`` makes the same contract). Returns
        dirs removed."""
        meta = os.path.join(self.root, META_DIR)
        referenced: set[str] = set()
        for n in os.listdir(meta):
            if n.startswith("version-") and n.endswith(".json"):
                m = self._load_json(os.path.join(meta, n))
                # every path referenced by ANY retained snapshot appears in
                # some full snapshot's "files" or some delta's "files_add"
                # (a surviving path's introducing add is only expired after
                # expire_snapshots rewrites the oldest retained as full) —
                # no materialization needed here
                for e in m["files"] if "files" in m else m["files_add"]:
                    # path = data/<txn>/_bucket=N/file.parquet
                    referenced.add(e["path"].split(os.sep)[1])
        data = os.path.join(self.root, DATA_DIR)
        removed = 0
        now = time.time()
        for d in os.listdir(data) if os.path.isdir(data) else []:
            full = os.path.join(data, d)
            if (
                os.path.isdir(full)
                and d not in referenced
                and now - os.path.getmtime(full) > older_than_s
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed
