"""One side of the MULTI-PROCESS manifest-CAS race test (run under
spark-submit by tests/test_spark_submit.py): either a merge loop or a
compact loop against a shared table root. Two of these run as separate JVM
+ Python process pairs, so the `os.link` exclusive-create CAS is exercised
across real process boundaries — the property it claims (in-process thread
races are covered by test_mutations_are_race_safe).

Prints one `RESULT {json}` line with the loop's outcome counters.
"""

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--role", choices=["merge", "compact"], required=True)
    ap.add_argument("--feed-dir")
    ap.add_argument("--job-id", default="racer")
    ap.add_argument("--iters", type=int, default=6)
    ap.add_argument("--start-at", type=float, required=True,
                    help="epoch seconds: both racers begin their loops here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from cds_spark.lake.table import CommitConflict, LakeTable
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import FEED_SCHEMA

    spark = (
        SparkSession.builder.appName(f"racer-{args.role}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = {"role": args.role, "committed": 0, "skipped": 0, "conflicts": 0}
    if args.role == "merge":
        table = LakeTable.load(spark, args.table_dir)
        feed = spark.read.schema(FEED_SCHEMA).parquet(args.feed_dir)
        batches = [
            feed.filter(f"offset % {args.iters} = {i}") for i in range(args.iters)
        ]
        while time.time() < args.start_at:
            time.sleep(0.01)
        for i, b in enumerate(batches):
            rows, _ = events_to_rows(
                decode_feed(b, inject={"commit": "commit"}), table.schema, table.pk
            )
            stats = table.merge(rows, fence=(args.job_id, i), mode="append")
            out["committed" if not stats.skipped else "skipped"] += 1
    else:
        table = LakeTable.load(spark, args.table_dir)
        while time.time() < args.start_at:
            time.sleep(0.01)
        deadline = time.time() + 60
        for _ in range(args.iters):
            if time.time() > deadline:
                break
            try:
                # reload so each compact sees the newest generations
                table = LakeTable.load(spark, args.table_dir)
                done = table.compact(max_generations=1)
                out["committed"] += 1
                out.setdefault("buckets", 0)
                out["buckets"] += len(done)
            except CommitConflict:
                # a concurrent MUTATION landed (never expected here: the
                # other racer only merges) — count it; the test asserts 0
                out["conflicts"] += 1
            time.sleep(0.2)

    print("RESULT " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
