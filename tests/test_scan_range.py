"""Zone-map-pruned PK range scans and keyset pages (LakeTable.scan_range /
keyset_page).

The reference pages through source tables with ``WHERE pk > ? ORDER BY pk
LIMIT n`` against the MySQL primary index (mysql2clickhouse.go:69-90) and
its CK reads lean on the primary index inside each shard. Here the
manifest's per-file PK bounds (files are written sortWithinPartitions(pk),
so the bounds are tight contiguous slices) play that role: a range or a
page reads O(slice) files, never O(table) — the property that matters at
100 TB where a cursor scan paying a full scan per page is unusable."""

import datetime
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cds_spark.lake.table import LakeTable, _stat_decode_lit, _stat_encode  # noqa: E402

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("ver", T.LongType()),
    ]
)


def _mk_table(spark, root, n=1000, n_buckets=4):
    """ids 0..n-1 in generation 1; ids n//2..n-1 updated in generation 2;
    every id % 10 == 7 tombstoned in generation 3. Three merge commits =
    three file generations per bucket, then a local compact so footer
    stats/zone maps are tight."""
    table = LakeTable.create(
        spark, root, SCHEMA, pk=["id"], version_cols=["ver", "_offset"],
        n_buckets=n_buckets,
        # small target_file_bytes: compact splits each bucket into several
        # pk-sorted chunk files — the layout a 100 TB bucket actually has
        # — so per-file zone maps cover narrow PK slices
        properties={"merge_mode": "append", "target_file_bytes": 4096},
    )
    g1 = spark.range(n).select(
        F.col("id"), F.concat(F.lit("v1-"), F.col("id")).alias("payload"),
        F.lit(1).cast("long").alias("ver"),
    )
    table.merge(g1, fence=("sr", 0))
    g2 = spark.range(n // 2, n).select(
        F.col("id"), F.concat(F.lit("v2-"), F.col("id")).alias("payload"),
        F.lit(2).cast("long").alias("ver"),
    )
    table.merge(g2, fence=("sr", 1))
    g3 = (
        spark.range(n).filter(F.col("id") % 10 == 7)
        .select(
            F.col("id"), F.lit(None).cast("string").alias("payload"),
            F.lit(3).cast("long").alias("ver"),
            F.lit(True).alias("_is_delete"),
        )
    )
    table.merge(g3, fence=("sr", 2))
    table.compact(strategy="local")
    return table


def _expected(table, lo=None, hi=None, strict_lo=False):
    df = table.read()
    if lo is not None:
        df = df.filter(F.col("id") > lo if strict_lo else F.col("id") >= lo)
    if hi is not None:
        df = df.filter(F.col("id") <= hi)
    return sorted((r["id"], r["payload"], r["ver"]) for r in df.collect())


def test_scan_range_matches_full_filter_and_skips_files(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t"))
    got = table.scan_range(200, 299)
    rows = sorted((r["id"], r["payload"], r["ver"]) for r in got.collect())
    assert rows == _expected(table, 200, 299)
    # winners are correct across generations: 200..299 < 500 so v1, minus
    # tombstoned %10==7 ids
    assert len(rows) == 90 and all(p.startswith("v1-") for _, p, _ in rows)

    # file skipping: the 100-id slice must read strictly fewer files than
    # the whole table, and every read file's zone map must overlap the range
    all_files = set(table.read().inputFiles())
    read = set(got.inputFiles())
    assert read and len(read) < len(all_files), (len(read), len(all_files))
    by_path = {f["path"]: f for f in table.manifest["files"]}
    root = str(tmp_path / "t")
    for p in read:
        st = by_path[p.split(root + "/", 1)[1]]["stats"]["id"]
        assert st[0] <= 299 and st[1] >= 200, st

    # open-ended + strict lower bound
    got_tail = table.scan_range(950, lower_inclusive=False)
    assert sorted(r["id"] for r in got_tail.collect()) == [
        i for i in range(951, 1000) if i % 10 != 7
    ]
    # v2 winners visible in the updated half
    assert all(
        r["payload"].startswith("v2-") for r in got_tail.collect()
    )


def test_scan_range_correct_without_compact(spark, tmp_path):
    """Pruning soundness with MULTIPLE live generations per bucket: a
    file holding only the v1 generation of an updated key must still be
    read (its zone map contains the key), so the LWW winner is exact."""
    root = str(tmp_path / "t2")
    table = LakeTable.create(
        spark, root, SCHEMA, pk=["id"], version_cols=["ver", "_offset"],
        n_buckets=2, properties={"merge_mode": "append"},
    )
    base = spark.range(300).select(
        F.col("id"), F.lit("old").alias("payload"),
        F.lit(1).cast("long").alias("ver"),
    )
    table.merge(base, fence=("nc", 0))
    upd = spark.range(100, 120).select(
        F.col("id"), F.lit("new").alias("payload"),
        F.lit(2).cast("long").alias("ver"),
    )
    table.merge(upd, fence=("nc", 1))
    rows = {r["id"]: r["payload"] for r in table.scan_range(90, 130).collect()}
    assert rows == {
        i: ("new" if 100 <= i < 120 else "old") for i in range(90, 131)
    }


def test_keyset_page_matches_oracle_and_reads_a_slice(spark, tmp_path):
    table = _mk_table(spark, str(tmp_path / "t3"))
    page = table.keyset_page(after=249, limit=25)
    got = [(r["id"], r["payload"]) for r in page.collect()]
    exp = _expected(table, 249, None, strict_lo=True)[:25]
    assert got == [(i, p) for i, p, _ in exp]
    # the page reads a bounded file slice, not the table (the returned
    # df is persisted, hiding inputFiles — derive the slice it read from
    # the same manifest helper)
    sl = table._page_file_slice(table.manifest["files"], "id", 249, 75)
    assert sl is not None
    keep, upper = sl
    assert len(keep) < len(table.manifest["files"])
    # soundness of the slice on the real manifest: every file whose zone
    # map intersects (249, upper] is in it
    for f in table.manifest["files"]:
        st = (f.get("stats") or {}).get("id")
        if st and st[1] > 249 and st[0] <= upper:
            assert f["path"] in keep

    # first page (no cursor)
    first = table.keyset_page(after=None, limit=10)
    assert [r["id"] for r in first.collect()] == [
        i for i in range(12) if i % 10 != 7
    ][:10]

    # past-the-end cursor and zero limit
    assert table.keyset_page(after=10_000, limit=5).count() == 0
    assert table.keyset_page(after=0, limit=0).count() == 0


def test_keyset_page_widens_when_tombstones_eat_the_slice(spark, tmp_path):
    """90% of keys after the cursor are tombstoned: the first row-count
    budget can't fill the page, forcing the geometric cutoff widening —
    the page must still be exact."""
    root = str(tmp_path / "t4")
    table = LakeTable.create(
        spark, root, SCHEMA, pk=["id"], version_cols=["ver", "_offset"],
        n_buckets=4,
        properties={"merge_mode": "append", "target_file_bytes": 4096},
    )
    table.merge(
        spark.range(2000).select(
            F.col("id"), F.lit("x").alias("payload"),
            F.lit(1).cast("long").alias("ver"),
        ),
        fence=("wd", 0),
    )
    table.merge(
        spark.range(2000).filter(F.col("id") % 10 != 0).select(
            F.col("id"), F.lit(None).cast("string").alias("payload"),
            F.lit(2).cast("long").alias("ver"),
            F.lit(True).alias("_is_delete"),
        ),
        fence=("wd", 1),
    )
    table.compact(strategy="local")
    page = table.keyset_page(after=99, limit=50)
    assert [r["id"] for r in page.collect()] == list(range(100, 600, 10))


def test_keyset_page_falls_back_without_stats(spark, tmp_path):
    """A manifest whose entries lack row counts (old writer) can't budget
    a cutoff: the page degrades to the plain pruned range scan and stays
    exact."""
    table = _mk_table(spark, str(tmp_path / "t5"), n=400)
    for f in table.manifest["files"]:
        f["rows"] = None
    page = table.keyset_page(after=49, limit=20)
    exp = _expected(table, 49, None, strict_lo=True)[:20]
    assert [(r["id"], r["payload"]) for r in page.collect()] == [
        (i, p) for i, p, _ in exp
    ]


def test_keyset_page_timestamp_pk_bounded_slice(spark, tmp_path):
    """A timestamp leading PK must survive the bounded-slice page path:
    the cutoff comes from the encoded stats domain (UTC microseconds) and
    must be decoded back before the row filter. Also: the served page
    must not be left cached."""
    schema = T.StructType([
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("payload", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "tspage")
    t = LakeTable.create(
        spark, root, schema, pk=["ts"], version_cols=["ver"], n_buckets=2,
        properties={"merge_mode": "upsert", "target_file_bytes": 4_000},
    )
    rows = spark.range(0, 4000).selectExpr(
        "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        "repeat(concat('p', id), 5) AS payload",
        "id AS ver",
    )
    t.merge(rows)
    t.compact()
    t = LakeTable.load(spark, root)
    after = datetime.datetime(2024, 3, 1, 0, 10, 0)
    # the bounded-slice path must actually engage for this layout
    sl = t._page_file_slice(t.manifest["files"], "ts", after, 150)
    assert sl is not None, "layout did not produce a bounded slice; test is vacuous"
    page = t.keyset_page(after, 50)
    got = [(r.ts, r.payload) for r in page.collect()]
    exp = [(r.ts, r.payload) for r in
           t.current().filter(F.col("ts") > F.lit(after))
            .orderBy("ts").limit(50).collect()]
    assert got == exp and len(got) == 50
    assert not page.storageLevel.useMemory, "served page left cached"


def test_stat_decode_lit_roundtrips_temporal(spark):
    d = datetime.date(2024, 1, 5)
    ts = datetime.datetime(2024, 1, 5, 6, 7, 8, 123456,
                           tzinfo=datetime.timezone.utc)
    row = spark.range(1).select(
        _stat_decode_lit(T.DateType(), _stat_encode(d)).alias("d"),
        _stat_decode_lit(T.TimestampType(), _stat_encode(ts)).alias("ts"),
        _stat_decode_lit(T.LongType(), _stat_encode(7)).alias("i"),
    ).first()
    assert row.d == d
    assert row.ts.replace(tzinfo=datetime.timezone.utc) == ts
    assert row.i == 7


def test_keyset_page_composite_pk_tuple_cursor(spark, tmp_path):
    """Composite-PK pages take the full PK tuple as the cursor and apply
    the lexicographic comparison — a page boundary mid-leading-value must
    not skip the remaining rows that share it."""
    schema = T.StructType([
        T.StructField("region", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
        T.StructField("ver", T.LongType()),
    ])
    root = str(tmp_path / "cp")
    t = LakeTable.create(spark, root, schema, pk=["region", "id"],
                         version_cols=["ver"], n_buckets=2,
                         properties={"merge_mode": "upsert"})
    t.merge(spark.range(0, 900).selectExpr(
        "concat('r', id % 3) AS region", "id AS id",
        "concat('v', id) AS v", "id AS ver"))
    expected = [(r.region, r.id) for r in
                t.current().orderBy("region", "id").collect()]
    got, cursor = [], None
    while True:
        page = [(r.region, r.id) for r in t.keyset_page(cursor, 100).collect()]
        if not page:
            break
        got.extend(page)
        cursor = page[-1]
    assert got == expected and len(got) == 900
    with pytest.raises(ValueError, match="full PK tuple"):
        t.keyset_page("r1", 10)
    with pytest.raises(ValueError, match="does not match pk"):
        t.keyset_page(("r1",), 10)


def test_cli_cursor_parser_temporal():
    from cds_spark.cli import _parse_into_column_domain

    assert _parse_into_column_domain("timestamp", "2024-03-01T00:10:00") == \
        datetime.datetime(2024, 3, 1, 0, 10, 0)
    assert _parse_into_column_domain("date", "2024-03-01") == \
        datetime.date(2024, 3, 1)
    assert _parse_into_column_domain("long", "42") == 42
    assert _parse_into_column_domain("string", "abc") == "abc"
