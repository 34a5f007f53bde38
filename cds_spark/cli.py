"""Control-plane CLI — the galaxy service re-expressed as a thin driver.

The reference runs a REST control plane (cmd/galaxy/internal/handler/
routes.go:11-131) that (a) generates target DDL from a source schema
(`generate-create-sql` -> the 6-table ClickHouse family), (b) executes it
across the cluster (`exec-sql`), and (c) registers dm/rtu jobs in etcd for
the sync daemons to pick up. On Spark none of that needs a server: table
DDL is a metadata commit, jobs are driver invocations, and status lives in
the lake manifest + lineage sidecar. One subcommand per galaxy concern:

    create-table   generate-create-sql + exec-sql (pkg/mysqlx/clickhouse.go:12-76)
    bootstrap      dm full sync        (cmd/dm/cmd/sync/dm.go:33-106)
    sync           rtu incremental sync (cmd/rtu/cmd/sync/rtu.go:39-70)
    status         job/etcd status      (cmd/rtu/handle/rtujob.go:207-232)
    history        snapshot log / time travel
    compact        background-merge analog (ReplacingMergeTree merges)
    expire         snapshot GC (ClickHouse inactive-part cleanup analog)
    lookup         PK point fetch routed to the owning bucket
    changes        incremental snapshot delta (Iceberg CDF analog)
    cascade        lake-to-lake downstream tail
    sync-many      N table jobs hosted in one Spark app (conf.json analog)
    purge/update   ALTER TABLE DELETE/UPDATE mutation analogs
    validate       consistency audit (CHECK TABLE analog)

Usage: python -m cds_spark.cli <subcommand> --help
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import types as T

_TYPES = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}


def parse_schema(spec: str) -> T.StructType:
    """``name:type,name:type`` -> StructType (the mysqlx/mongodbx
    introspection analog — here the user states the source schema)."""
    fields = []
    for part in spec.split(","):
        name, _, tn = part.strip().partition(":")
        if not name or tn.lower() not in _TYPES:
            raise SystemExit(f"bad schema field {part!r}; types: {sorted(_TYPES)}")
        fields.append(T.StructField(name, _TYPES[tn.lower()], True))
    return T.StructType(fields)


def _spark(args):
    from cds_spark.session import get_spark

    spark = get_spark("cds-cli", cores=getattr(args, "cores", None))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_generate_create_sql(args) -> int:
    """Dry-run DDL generation — the galaxy `generate-create-sql` analog
    (pkg/mysqlx/clickhouse.go:12-76): introspect a live JDBC source (or
    take --schema) and EMIT, without executing, (a) the cds create-table
    argv, (b) an ANSI CREATE TABLE for the collapsed view, (c) the
    introspected schema + PK as data."""
    if args.jdbc_url:
        from cds_spark.secrets import expand_env
        from cds_spark.streaming.pipeline import introspect_jdbc

        schema, src_pk = introspect_jdbc(
            _spark(args), expand_env(args.jdbc_url), args.jdbc_table,
            {"driver": args.jdbc_driver} if args.jdbc_driver else None,
        )
        pk = args.pk.split(",") if args.pk else src_pk
    elif args.schema:
        schema = parse_schema(args.schema)
        pk = (args.pk or "").split(",") if args.pk else []
    else:
        raise SystemExit("generate-create-sql needs --jdbc-url or --schema")
    if not pk or pk == [""]:
        raise SystemExit("no PK: source exposes none — pass --pk")
    version_cols = args.version_cols.split(",") if args.version_cols else ["_offset"]

    _ANSI = {"long": "BIGINT", "integer": "INTEGER", "double": "DOUBLE",
             "float": "REAL", "string": "VARCHAR", "boolean": "BOOLEAN",
             "timestamp": "TIMESTAMP", "date": "DATE", "binary": "BLOB"}
    cols_sql = ",\n  ".join(
        f"{f.name} {_ANSI.get(f.dataType.typeName(), 'VARCHAR')}"
        for f in schema.fields
    )
    ansi = (f"CREATE TABLE {args.name or args.jdbc_table or 'target'} (\n"
            f"  {cols_sql},\n  PRIMARY KEY ({', '.join(pk)})\n)")
    spec = ",".join(f"{f.name}:{f.dataType.typeName()}" for f in schema.fields)
    argv = ["create-table", "--root", args.root or "<table-root>",
            "--schema", spec, "--pk", ",".join(pk),
            "--version-cols", ",".join(version_cols),
            "--buckets", str(args.buckets), "--merge-mode", args.merge_mode]
    print(json.dumps({
        "schema": [{"name": f.name, "type": f.dataType.typeName()}
                   for f in schema.fields],
        "pk": pk, "version_cols": version_cols,
        "create_table_argv": argv, "ansi_sql": ansi,
        "executed": False,
    }, indent=2))
    return 0


def cmd_create_table(args) -> int:
    from cds_spark.lake.table import LakeTable

    schema = parse_schema(args.schema)
    extra = {}
    for kv in getattr(args, "property", []) or []:
        if "=" not in kv:
            print(f"--property expects KEY=VALUE, got {kv!r}", file=sys.stderr)
            return 2
        k, v = kv.split("=", 1)
        extra[k] = v
    table = LakeTable.create(
        _spark(args),
        args.root,
        schema,
        pk=args.pk.split(","),
        version_cols=args.version_cols.split(","),
        n_buckets=args.buckets,
        properties={"merge_mode": args.merge_mode, **extra},
    )
    print(json.dumps({"root": table.root, "version": table.version,
                      "schema": [f.name for f in schema.fields]}))
    return 0


def cmd_bootstrap(args) -> int:
    from cds_spark.streaming.pipeline import bootstrap, bootstrap_jdbc

    spark = _spark(args)
    if args.jdbc_url:
        from cds_spark.secrets import expand_env

        # --jdbc-url 'jdbc:mysql://host/db?user=${DB_USER}&password=${DB_PASS}'
        # resolves from the environment at run time; the plaintext never
        # needs to live in a shell history / job file
        table = bootstrap_jdbc(
            spark, expand_env(args.jdbc_url), args.jdbc_table or args.source, args.root,
            pk=args.pk.split(","),
            version_cols=args.version_cols.split(","),
            n_buckets=args.buckets,
            properties=(
                {"driver": args.jdbc_driver} if args.jdbc_driver else None),
        )
    elif args.source:
        src = spark.read.parquet(args.source)
        table = bootstrap(
            spark, src, args.root,
            pk=args.pk.split(","),
            version_cols=args.version_cols.split(","),
            n_buckets=args.buckets,
        )
    else:
        raise SystemExit("bootstrap needs --source (parquet) or --jdbc-url")
    print(json.dumps({"root": table.root, "version": table.version,
                      "rows": table.current().count()}))
    return 0


def cmd_sync(args) -> int:
    from cds_spark.streaming.pipeline import IncrementalSync, JobSpec

    spec = JobSpec(
        job_id=args.job_id,
        table_root=args.root,
        source_dir=args.source_dir,
        checkpoint_dir=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        dlq_dir=args.dlq_dir,
        merge_mode=args.merge_mode,
        evolve_schema=not args.no_evolve,
        auto_rebucket=args.auto_rebucket,
    )
    job = IncrementalSync(_spark(args), spec)
    if args.once:
        job.run_available()
    else:
        q = job.start(processing_time=args.trigger)
        q.awaitTermination()
    print(json.dumps({"job_id": args.job_id, "done": True}))
    return 0


def cmd_status(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    out = {
        "root": table.root,
        "version": table.version,
        "schema_id": table.manifest["schema_id"],
        "n_buckets": table.n_buckets,
        "n_files": len(table.manifest["files"]),
        "stats": table.stats(),
        "summary": table.manifest.get("summary", {}),
        "fences": {k: v for k, v in table.properties.items() if k.startswith("fence.")},
    }
    lineage_dir = os.path.join(args.root, "_lineage")
    if os.path.isdir(lineage_dir):
        tails = {}
        for fn in sorted(os.listdir(lineage_dir)):
            # bounded tail (64KB): status must stay O(1), not O(job lifetime)
            # — a long-running sync job's jsonl grows without bound
            path = os.path.join(lineage_dir, fn)
            with open(path, "rb") as f:
                f.seek(max(0, os.path.getsize(path) - 65536))
                lines = f.read().decode(errors="replace").splitlines()
            # a live sync job may be mid-append: take the last PARSEABLE line
            for line in reversed(lines):
                try:
                    tails[fn.rsplit(".", 1)[0]] = json.loads(line)
                    break
                except ValueError:
                    continue
        out["jobs"] = tails
    print(json.dumps(out, indent=2))
    return 0


def cmd_history(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    print(json.dumps(table.history(), indent=2))
    return 0


def cmd_compact(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    done = table.compact(
        buckets=[int(b) for b in args.buckets.split(",")] if args.buckets else None,
        max_generations=args.max_generations,
        purge_tombstones=args.purge_tombstones,
    )
    print(json.dumps({"root": table.root, "version": table.version,
                      "buckets_rewritten": len(done)}))
    return 0


def cmd_rebucket(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    out = table.rebucket(args.n_buckets, group=args.group)
    print(json.dumps({"root": table.root, **out}))
    return 0


def cmd_expire(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    stats = table.expire_snapshots(keep_last=args.keep_last)
    stats["orphan_dirs_removed"] = table.remove_orphans(
        older_than_s=args.orphan_age_s
    )
    print(json.dumps({"root": table.root, **stats}))
    return 0


def parse_key_spec(spec: str, pk: list[str]) -> dict:
    """Parse one ``--key`` spec. Two forms:

    - JSON object (unambiguous — any value bytes): ``--key '{"repo": "a",
      "path": "x,path=weird.py"}'``. Picked whenever the spec starts with
      ``{``.
    - ``col=val,col=val`` shorthand. Values may contain commas and '='
      (file paths do): a ',' only terminates a value when what follows is
      ANOTHER PK column assignment (``<pk-col>=``), so
      ``repo=org/a,path=src/x,y=1.py`` keys on repo + the full path. A
      value that itself CONTAINS a ``,<pk-col>=`` sequence would be
      mis-split — that case is DETECTED (the same column appears assigned
      twice) and rejected with a pointer at the JSON form instead of
      silently looking up the wrong key.
    """
    import re

    if spec.lstrip().startswith("{"):
        try:
            out = json.loads(spec)
        except json.JSONDecodeError as e:
            raise SystemExit(f"--key JSON form failed to parse: {e}")
        if not isinstance(out, dict):
            raise SystemExit("--key JSON form must be an object")
        extra = [c for c in out if c not in pk]
        if extra:
            raise SystemExit(f"--key JSON sets non-PK column(s) {extra}; PK is {pk}")
        # only strings and numbers have an unambiguous key rendering:
        # str(None) would silently look up the literal key 'None', and
        # arrays/objects have no canonical form here
        bad = {
            c: v for c, v in out.items()
            if not isinstance(v, (str, int, float)) or isinstance(v, bool)
        }
        if bad:
            raise SystemExit(
                f"--key JSON values must be strings or numbers; got "
                f"{ {c: type(v).__name__ for c, v in bad.items()} }"
            )
        out = {
            c: (v if isinstance(v, str) else json.dumps(v))
            for c, v in out.items()
        }
    else:
        starts = sorted(
            m.start()
            for c in pk
            for m in re.finditer(rf"(?:^|,){re.escape(c)}=", spec)
        )
        if not starts or starts[0] not in (0,):
            raise SystemExit(f"--key must start with a PK column assignment, one of {pk}")
        out = {}
        seen = []
        for i, s in enumerate(starts):
            seg = spec[s:starts[i + 1]] if i + 1 < len(starts) else spec[s:]
            seg = seg.lstrip(",")
            c, _, v = seg.partition("=")
            seen.append(c)
            out[c] = v
        if len(seen) != len(set(seen)):
            dups = sorted({c for c in seen if seen.count(c) > 1})
            raise SystemExit(
                f"--key assigns column(s) {dups} more than once — a value "
                f"probably contains a ',<pk-col>=' sequence; pass the key as "
                f"JSON instead: --key '{{\"col\": \"value\"}}'"
            )
    missing = [c for c in pk if c not in out]
    if missing:
        raise SystemExit(f"--key must set every PK column; missing {missing}")
    return out


def cmd_lookup(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    keys = [parse_key_spec(k, table.pk) for k in args.key]
    rows = [json.loads(s) for s in table.lookup(keys).toJSON().collect()]
    print(json.dumps(rows, indent=2))
    return 0


def _parse_into_column_domain(type_name: str, v: str):
    """Parse a CLI string into the Python domain of a table column so
    driver-side zone-map pruning compares like against like (a raw string
    vs int/us-epoch stats would just fall back to keep-every-file) and
    row-level cursor filters bind to the right type. Shared by the page
    cursor and the changed-since bound."""
    if type_name in ("timestamp", "timestamp_ntz"):
        import datetime

        return datetime.datetime.fromisoformat(v)
    if type_name == "date":
        import datetime

        return datetime.date.fromisoformat(v)
    if type_name in ("long", "integer", "short", "byte"):
        return int(v)
    if type_name in ("double", "float"):
        return float(v)
    return v


def cmd_page(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    after = args.after
    if after is not None:
        fields = {f.name: f for f in table.schema.fields}
        if after.lstrip().startswith("["):
            # composite-PK cursor: JSON list in PK order, each element
            # coerced into its own column's domain
            vals = json.loads(after)
            if len(vals) != len(table.pk):
                raise SystemExit(
                    f"--after {after!r} does not match pk {table.pk}")
            after = tuple(
                _parse_into_column_domain(
                    fields[c].dataType.typeName(), str(v))
                for c, v in zip(table.pk, vals))
        else:
            after = _parse_into_column_domain(
                fields[table.pk[0]].dataType.typeName(), after)
    rows = [
        json.loads(s)
        for s in table.keyset_page(after, args.limit).toJSON().collect()
    ]
    print(json.dumps(rows, indent=2))
    return 0


def cmd_changed_since(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    v0 = table.version_cols[0]
    f0 = next((f for f in table.schema.fields if f.name == v0), None)
    t = f0.dataType.typeName() if f0 is not None else "long"
    since = _parse_into_column_domain(t, args.since)
    rows = [
        json.loads(s)
        for s in table.changed_since(since).limit(args.limit).toJSON().collect()
    ]
    print(json.dumps(rows, indent=2))
    return 0


def cmd_changes(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    df = table.changes(args.from_version, args.to_version)
    if args.out:
        # distributed write: never collects; the downstream-consumer path
        df.write.parquet(args.out, mode="errorifexists")
        print(json.dumps({"root": table.root, "from": args.from_version,
                          "to": args.to_version or table.version, "out": args.out}))
    else:
        for s in df.limit(args.limit).toJSON().collect():
            print(s)
    return 0


def cmd_purge(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    out = {"root": table.root, **table.purge_where(args.where)}
    if args.expire:
        # physical erasure: old snapshots can still time-travel to the
        # purged rows until the retained window is trimmed
        out["expired"] = table.expire_snapshots(keep_last=1)
    print(json.dumps(out))
    return 0


def cmd_update(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    assignments = {}
    for a in args.set:
        c, sep, e = a.partition("=")
        if not sep or not c.strip() or not e.strip():
            raise SystemExit(
                f"--set {a!r}: expected col=SQL-expression (got no "
                f"{'=' if not sep else 'expression' if not e.strip() else 'column'})"
            )
        assignments[c.strip()] = e
    print(json.dumps({"root": table.root,
                      **table.update_where(args.where, assignments)}))
    return 0


def cmd_dedup_sync(args) -> int:
    """One incremental near-dup maintenance tick (O(changed docs))."""
    from cds_spark.operators.incdedup import dedup_sync

    res = dedup_sync(
        _spark(args), args.src_root, args.root, args.job_id,
        text_col=args.text_col, n_buckets=args.buckets,
    )
    if args.prune_stale:
        from cds_spark.operators.incdedup import prune_stale_pairs

        res = {**res, **prune_stale_pairs(_spark(args), args.root)}
    print(json.dumps({"root": args.root, **res}))
    return 0


def cmd_alter(args) -> int:
    """DDL executor surface (galaxy's ALTER provisioning analog, but
    applied to the lake table): add / widen / drop are each a metadata-only
    CAS commit — no data rewrite; ordering is adds, widens, drops."""
    from cds_spark.lake.table import LakeTable

    t = LakeTable.load(_spark(args), args.root)
    ops = []
    for spec in args.add or []:
        fields = parse_schema(spec)
        t.alter_add_columns(list(fields.fields))
        ops.append({"add": [f.name for f in fields.fields]})
    for spec in args.widen or []:
        name, _, tn = spec.partition(":")
        if not name or tn.lower() not in _TYPES:
            raise SystemExit(f"bad --widen {spec!r}; types: {sorted(_TYPES)}")
        t.alter_widen_column(name, _TYPES[tn.lower()])
        ops.append({"widen": spec})
    for name in args.drop or []:
        try:
            t.alter_drop_column(name)
        except (ValueError, KeyError) as e:
            raise SystemExit(f"--drop {name!r}: {e}")
        ops.append({"drop": name})
    if not ops:
        raise SystemExit("alter: nothing to do (--add / --widen / --drop)")
    print(json.dumps({"root": t.root, "version": t.version,
                      "schema_id": t.manifest["schema_id"], "ops": ops,
                      "columns": [f.name for f in t.schema.fields]}))
    return 0


def cmd_validate(args) -> int:
    from cds_spark.lake.table import LakeTable

    table = LakeTable.load(_spark(args), args.root)
    buckets = [int(b) for b in args.buckets.split(",")] if args.buckets else None
    print(json.dumps({"root": table.root, **table.validate(buckets=buckets)}))
    return 0


def cmd_sync_many(args) -> int:
    from cds_spark.streaming.pipeline import JobSpec, run_many

    with open(args.jobs) as f:
        job_dicts = json.load(f)
    if not isinstance(job_dicts, list) or not job_dicts:
        raise SystemExit("--jobs must be a JSON array of JobSpec objects")
    specs = [JobSpec(**d) for d in job_dicts]
    spark = _spark(args)
    result = run_many(spark, specs, trigger_once=args.once)
    failed: list[str] = []
    if args.once:
        # drain mode: run_many waited for every query and returned the
        # failures — report each, keep the summary line and exit code
        for jid, err in (result or {}).items():
            failed.append(jid)
            print(json.dumps({"job_id": jid, "error": err[:500]}),
                  file=sys.stderr)
    else:
        queries = result
        # continuous mode: stay up while ANY stream lives — one job's
        # failure must not tear down its siblings (per-job isolation,
        # like the reference's process-per-job deploy). awaitAnyTermination
        # returns/raises on the FIRST termination, so loop + reset; per-
        # query exception() is checked at the end so a failure landing
        # between the await and the reset is still reported.
        while spark.streams.active:
            try:
                spark.streams.awaitAnyTermination()
            except Exception as e:  # failed job: report, keep the rest
                print(json.dumps({"job_failed": str(e)[:500]}), file=sys.stderr)
            spark.streams.resetTerminated()
        for spec, q in zip(specs, queries or []):
            if q.exception() is not None:
                failed.append(spec.job_id)
                print(json.dumps({"job_id": spec.job_id,
                                  "error": str(q.exception())[:500]}),
                      file=sys.stderr)
    print(json.dumps({"jobs": [s.job_id for s in specs], "done": args.once,
                      "failed": failed}))
    return 1 if failed else 0


def cmd_cascade(args) -> int:
    from cds_spark.streaming.pipeline import cascade_sync

    tf = None
    if args.select:
        exprs = list(args.select)
        tf = lambda df: df.selectExpr(*exprs)  # noqa: E731
    r = cascade_sync(_spark(args), args.src_root, args.root, args.job_id,
                     n_buckets=args.buckets, transform=tf)
    print(json.dumps(r))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cds-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, table=True):
        if table:
            sp.add_argument("--root", required=True, help="lake table root dir")
        sp.add_argument("--cores", type=int, default=None)

    sp = sub.add_parser("create-table", help="create an empty lake table")
    common(sp)
    sp.add_argument("--schema", required=True, help="name:type,name:type,...")
    sp.add_argument("--pk", required=True, help="comma-separated PK columns")
    sp.add_argument("--version-cols", required=True,
                    help="comma-separated LWW version columns (may include _offset)")
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--merge-mode", choices=["append", "upsert"], default="append")
    sp.add_argument(
        "--property", action="append", default=[], metavar="KEY=VALUE",
        help="extra table property (repeatable), e.g. write.salt=auto "
             "(picks the spread per batch; prefer it for skewed keys — a "
             "fixed write.salt_n=32 helps at tens of tasks but over-shards "
             "at ~1000), target_file_bytes=134217728")
    sp.set_defaults(fn=cmd_create_table)

    sp = sub.add_parser("generate-create-sql",
                        help="DRY-RUN DDL: introspect a source and emit the "
                             "create-table command + ANSI SQL without executing")
    sp.add_argument("--jdbc-url", default=None)
    sp.add_argument("--jdbc-table", default=None)
    sp.add_argument("--jdbc-driver", default=None)
    sp.add_argument("--schema", default=None, help="name:type,... (instead of JDBC)")
    sp.add_argument("--pk", default=None, help="override/supply PK columns")
    sp.add_argument("--version-cols", default=None)
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--merge-mode", choices=["append", "upsert"], default="append")
    sp.add_argument("--name", default=None, help="target table name in the SQL")
    sp.add_argument("--root", default=None)
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_generate_create_sql)

    sp = sub.add_parser("bootstrap", help="full sync: parquet snapshot or live JDBC -> table")
    common(sp)
    sp.add_argument("--source", default=None, help="source parquet path")
    sp.add_argument("--jdbc-url", default=None,
                    help="live-source mode: JDBC url (driver jar via spark-submit --jars)")
    sp.add_argument("--jdbc-table", default=None, help="source table name for --jdbc-url")
    sp.add_argument("--jdbc-driver", default=None,
                    help="explicit JDBC driver class (Derby/Oracle-style "
                         "sources that DriverManager cannot infer from "
                         "the url; same flag as generate-create-sql)")
    sp.add_argument("--pk", required=True)
    sp.add_argument("--version-cols", required=True)
    sp.add_argument("--buckets", type=int, default=64)
    sp.set_defaults(fn=cmd_bootstrap)

    sp = sub.add_parser("sync", help="incremental sync from a change-feed dir")
    common(sp)
    sp.add_argument("--job-id", required=True)
    sp.add_argument("--source-dir", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--once", action="store_true",
                    help="process available input then exit (Trigger.AvailableNow)")
    sp.add_argument("--trigger", default="2 seconds")
    sp.add_argument("--max-files-per-trigger", type=int, default=8)
    sp.add_argument("--dlq-dir", default=None)
    sp.add_argument("--merge-mode", choices=["append", "upsert"], default=None)
    sp.add_argument("--no-evolve", action="store_true",
                    help="disable per-batch schema evolution (unknown "
                         "payload keys are dropped instead of ALTER ADDed)")
    sp.add_argument("--auto-rebucket", action="store_true",
                    help="maintenance ticks re-shard the table online when "
                         "stats() flags over-cap buckets")
    sp.set_defaults(fn=cmd_sync)

    sp = sub.add_parser("status", help="table + job status (lineage tail)")
    common(sp)
    sp.set_defaults(fn=cmd_status)

    sp = sub.add_parser("history", help="snapshot history (time travel)")
    common(sp)
    sp.set_defaults(fn=cmd_history)

    sp = sub.add_parser("compact", help="rewrite buckets; optionally purge tombstones")
    common(sp)
    sp.add_argument("--purge-tombstones", action="store_true")
    sp.add_argument("--max-generations", type=int, default=None,
                    help="incremental: rewrite only buckets above this many "
                         "row generations (default: all buckets)")
    sp.add_argument("--buckets", default=None,
                    help="comma-separated explicit bucket subset to rewrite "
                         "(for sharding maintenance across parallel jobs)")
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser(
        "rebucket",
        help="online bucket-modulus change (sequence of CAS commits; "
             "readers + concurrent ingest stay consistent)")
    common(sp)
    sp.add_argument("--n-buckets", type=int, required=True)
    sp.add_argument("--group", type=int, default=8,
                    help="old buckets rewritten per commit")
    sp.set_defaults(fn=cmd_rebucket)

    sp = sub.add_parser(
        "expire", help="drop old snapshots + delete unreferenced data files "
                       "(Iceberg expire_snapshots / remove_orphan_files analog)")
    common(sp)
    sp.add_argument("--keep-last", type=int, default=2,
                    help="retain the newest N snapshots (time-travel window)")
    sp.add_argument("--orphan-age-s", type=float, default=86400.0,
                    help="also remove unreferenced txn dirs older than this")
    sp.set_defaults(fn=cmd_expire)

    sp = sub.add_parser(
        "lookup", help="PK point fetch routed to the owning bucket (O(keys))")
    common(sp)
    sp.add_argument("--key", action="append", required=True,
                    help="repeatable: col=val[,col=val...] covering every PK "
                         "column, or a JSON object '{\"col\": \"val\"}' for "
                         "values containing ',<col>=' sequences")
    sp.set_defaults(fn=cmd_lookup)

    sp = sub.add_parser(
        "page", help="keyset page: WHERE pk > after ORDER BY pk LIMIT n, "
                     "zone-map file-skipped (O(page), not O(table))")
    common(sp)
    sp.add_argument("--after", default=None,
                    help="cursor value on the leading PK column "
                         "(omit for the first page)")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_page)

    sp = sub.add_parser(
        "changed-since", help="current state of keys changed at-or-after a "
                              "leading-version cutoff, zone-map-pruned to "
                              "O(recent batches)")
    common(sp)
    sp.add_argument("--since", required=True,
                    help="cutoff in the leading version column's domain "
                         "(ISO timestamp / number / string)")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_changed_since)

    sp = sub.add_parser(
        "changes", help="incremental change read between snapshots (CDF analog)")
    common(sp)
    sp.add_argument("--from-version", type=int, required=True)
    sp.add_argument("--to-version", type=int, default=None)
    sp.add_argument("--out", default=None,
                    help="write the delta as parquet here (distributed); "
                         "default prints up to --limit JSON rows")
    sp.add_argument("--limit", type=int, default=100)
    sp.set_defaults(fn=cmd_changes)

    sp = sub.add_parser(
        "purge", help="physically delete keys whose current row matches a "
                      "predicate (ALTER TABLE ... DELETE mutation analog)")
    common(sp)
    sp.add_argument("--where", required=True,
                    help="SQL predicate over the logical columns")
    sp.add_argument("--expire", action="store_true",
                    help="also expire old snapshots (keep_last=1) so the "
                         "purged rows are physically unreachable — the "
                         "right-to-be-forgotten completion step")
    sp.set_defaults(fn=cmd_purge)

    sp = sub.add_parser(
        "update", help="mutate matching rows in place (ALTER TABLE ... "
                       "UPDATE mutation analog)")
    common(sp)
    sp.add_argument("--where", required=True,
                    help="SQL predicate over the logical columns")
    sp.add_argument("--set", action="append", required=True,
                    help="repeatable: col=SQL-expression (RHS sees OLD values)")
    sp.set_defaults(fn=cmd_update)

    sp = sub.add_parser(
        "dedup-sync", help="incremental near-dup maintenance: tail a doc "
                           "table's snapshots, MinHash only the changed "
                           "docs, upsert <root>/sigs + <root>/pairs")
    common(sp)
    sp.add_argument("--src-root", required=True, help="source doc lake table")
    sp.add_argument("--job-id", required=True)
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--buckets", type=int, default=None,
                    help="bucket count if this run creates the sig/pair tables")
    sp.add_argument("--prune-stale", action="store_true",
                    help="after the tick, rewrite the pairs table down to "
                         "the live-valid rows (discovery-log compaction)")
    sp.set_defaults(fn=cmd_dedup_sync)

    sp = sub.add_parser(
        "alter", help="DDL: add / widen / drop columns "
                      "(each a metadata-only commit, no data rewrite)")
    common(sp)
    sp.add_argument("--add", action="append",
                    help="repeatable: name:type[,name:type...]")
    sp.add_argument("--widen", action="append", help="repeatable: name:type")
    sp.add_argument("--drop", action="append", help="repeatable: column name "
                    "(PK / version columns refused; re-add reads NULL for "
                    "pre-drop rows, never the old bytes)")
    sp.set_defaults(fn=cmd_alter)

    sp = sub.add_parser(
        "validate", help="audit table invariants: bucket placement, PK "
                         "nulls, collapsed-bucket uniqueness")
    common(sp)
    sp.add_argument("--buckets", default=None,
                    help="comma-separated bucket subset (default: all)")
    sp.set_defaults(fn=cmd_validate)

    sp = sub.add_parser(
        "sync-many", help="host several sync jobs in one Spark app "
                          "(JSON array of JobSpec fields, the conf.json analog)")
    sp.add_argument("--jobs", required=True, help="path to the jobs JSON file")
    sp.add_argument("--once", action="store_true",
                    help="drain available input then exit (AvailableNow)")
    sp.add_argument("--cores", type=int, default=None)
    sp.set_defaults(fn=cmd_sync_many)

    sp = sub.add_parser(
        "cascade", help="lake-to-lake incremental sync: tail an upstream "
                        "table's snapshots into this one (O(delta) per run)")
    common(sp)
    sp.add_argument("--src-root", required=True, help="upstream lake table root")
    sp.add_argument("--job-id", required=True)
    sp.add_argument("--buckets", type=int, default=None,
                    help="bucket count if this run creates the destination")
    sp.add_argument("--select", action="append",
                    help="repeatable SQL projection expr — maintain a "
                         "row-wise DERIVED VIEW instead of a copy (must "
                         "keep pk/version/_is_delete/_offset columns)")
    sp.set_defaults(fn=cmd_cascade)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
