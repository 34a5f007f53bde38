"""spark-submit entrypoint: replay a materialized change feed into a lake
table — the north rule's deployment mode, end to end:

    python tools/make_pyfiles.py
    spark-submit --master <cluster> --py-files dist/cds_spark.zip \
        tools/submit_replay.py --feed-dir FEED --table-dir TABLE

``cds_spark`` is imported from the ``--py-files`` zip (driver AND
executors); this script is the only file shipped as the application. The
feed is a directory of ``batch-*`` parquet dirs (tools like
``cds_spark.sources.feed.materialize_feed`` or any Kafka-topic dump with
the F2 envelope schema). Each batch is decoded (map-form decode_feed),
merged under an offset fence, and the final state is summarized with an
order-independent content digest so two independently-launched runs (or an
in-process run) can be compared without shipping rows.

Prints one ``RESULT {json}`` line:
    {"n_batches": B, "rows_merged": N, "live_rows": L,
     "state_digest": D, "sec": S, "events_per_sec": E}
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--feed-dir", required=True,
                    help="dir of batch-* parquet dirs (F2 envelope schema)")
    ap.add_argument("--table-dir", required=True, help="lake table root (created)")
    ap.add_argument("--mode", choices=["append", "upsert"], default="append")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--no-compact", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    # imports resolve from the --py-files zip: nothing here assumes a
    # writable package dir or the repo on PYTHONPATH
    from cds_spark.functions import state_digest
    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.session import submit_session
    from cds_spark.sources.feed import FEED_SCHEMA, REPO_SCHEMA

    spark = submit_session("cds-submit-replay",
                           shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")

    batches = sorted(
        os.path.join(args.feed_dir, d)
        for d in os.listdir(args.feed_dir)
        if d.startswith("batch-")
    )
    if not batches:
        raise SystemExit(f"no batch-* dirs under {args.feed_dir}")

    table = LakeTable.create(
        spark, args.table_dir, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=args.n_buckets,
        properties={"merge_mode": args.mode},
    )
    t0 = time.time()
    merged = 0
    for i, p in enumerate(batches):
        feed = spark.read.schema(FEED_SCHEMA).parquet(p)
        # footer-metadata count (no scan): append-mode MergeStats skips
        # source_rows to avoid an extra count job on the hot path
        merged += feed.count()
        rows, _dlq = events_to_rows(decode_feed(feed, inject={"commit": "commit"}),
                                    table.schema, table.pk)
        table.merge(rows, fence=("submit", i))
    if args.mode == "append" and not args.no_compact:
        table.compact(purge_tombstones=True)
    sec = time.time() - t0
    cur = table.current()
    digest = state_digest(cur, ["repo", "path", "commit", "lang", "content"])
    live = cur.count()
    print("RESULT " + json.dumps({
        "n_batches": len(batches),
        "rows_merged": merged,
        "live_rows": live,
        "state_digest": digest,
        "sec": round(sec, 2),
        "events_per_sec": int(merged / sec) if sec > 0 else 0,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
