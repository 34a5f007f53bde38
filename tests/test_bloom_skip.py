"""Per-file PK bloom-filter sidecars (cds_spark/lake/bloom.py).

Zone maps prune range scans on pk-sorted files, but point lookups inside a
bucket still open every merge generation (hash-random keys make every
generation's min/max span the whole range). The bloom sidecar — built only
inside the distributed Arrow write tasks (compact / local merge), never
driver-side — lets lookup() skip the generations that cannot hold the key.
ClickHouse's ``bloom_filter`` skip index / Parquet column blooms are the
structures this mirrors; reference analog: PK queries route to one shard
then rely on CK's primary index within it (pkg/ckgroup/dml.go)."""

import os
import random
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cds_spark.lake import bloom  # noqa: E402
from cds_spark.lake.table import LakeTable  # noqa: E402
from cds_spark.operators.decode import decode_feed, events_to_rows  # noqa: E402
from cds_spark.sources.feed import REPO_SCHEMA, change_feed  # noqa: E402


def test_bloom_no_false_negatives_and_bounded_fpr():
    """Soundness: every inserted key probes present (a false negative
    would be a WRONG query result); disjoint keys probe present at no
    more than a few percent (the cost of a false positive is only one
    extra file read)."""
    import pyarrow as pa

    rng = random.Random(20260819)
    keys = list(dict.fromkeys(
        (f"r{rng.randrange(3000)}", rng.randrange(-2**62, 2**62))
        for _ in range(8000)
    ))
    tbl = pa.table({
        "repo": [k[0] for k in keys],
        "oid": pa.array([k[1] for k in keys], pa.int64()),
    })
    meta, data = bloom.build_bloom(tbl, ["repo", "oid"], ["string", "long"])
    assert meta["algo"] == bloom.BLOOM_ALGO and meta["m"] % 64 == 0
    inside = [bloom.canonical_key(k) for k in keys]
    assert bloom.probe(data, meta["m"], meta["k"], inside).all()
    outside = [bloom.canonical_key((f"zz{i}", i)) for i in range(20000)]
    fpr = bloom.probe(data, meta["m"], meta["k"], outside).mean()
    assert fpr < 0.03, f"fpr {fpr}"
    # canonicalization parity: Arrow's cast-to-string rendering (build
    # side) must equal str() (probe side) — the contract that makes
    # integer widening hash-stable
    assert bloom._canonical_array(tbl, ["repo", "oid"]).to_pylist() == inside
    # unsupported PK types and empty tables produce no bloom, never raise
    assert bloom.build_bloom(tbl.slice(0, 0), ["repo"], ["string"]) is None
    assert bloom.build_bloom(tbl, ["oid"], ["double"]) is None


def _bloomed_paths(table: LakeTable) -> set:
    return {e["path"] for e in table.manifest["files"] if e.get("bloom")}


def test_compact_blooms_let_lookup_skip_generations(spark, tmp_path):
    """After compact, a lookup for a key that entered AFTER the compact
    skips the (large) compacted history file entirely; an absent key skips
    every bloomed file; present keys still return exactly their rows."""
    root = str(tmp_path / "t")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=4,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 1500, n_repos=12, paths_per_repo=20, seed=3)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows, fence=("bl", 0))
    table.compact(strategy="local")

    bloomed = _bloomed_paths(table)
    assert bloomed, "local compact should stamp bloom entries"
    for rel in bloomed:
        assert os.path.exists(os.path.join(root, rel + ".bloom"))

    # a second generation with brand-new keys, appended (no bloom: the
    # plan-based append write stays driver-light by design)
    fresh = spark.createDataFrame(
        [(f"fresh-repo-{i}", f"new/p{i}.py", "c999", "py", f"body {i}")
         for i in range(8)],
        REPO_SCHEMA,
    ).withColumn("_offset", F.lit(10_000).cast("long"))
    table.merge(fresh, fence=("bl", 1))

    # fresh key: found, and NO bloomed (pre-compact-history) file is read
    got = table.lookup([{"repo": "fresh-repo-3", "path": "new/p3.py"}])
    assert [(r["repo"], r["commit"]) for r in got.collect()] == [
        ("fresh-repo-3", "c999")
    ]
    read_rel = {p.split(root + "/", 1)[1] for p in got.inputFiles()}
    assert not (read_rel & bloomed), (
        f"bloom should skip compacted files for a post-compact key: "
        f"{read_rel & bloomed}"
    )

    # old key: the bloomed file that owns it IS read and the row is right
    old = feed.orderBy("offset", ascending=False).select(
        "repo", "path").first()
    got_old = table.lookup([{"repo": old["repo"], "path": old["path"]}])
    assert got_old.count() == 1

    # absent key: no rows, and no bloomed file read (only the conservative
    # non-bloomed appends remain in the scan)
    miss = table.lookup([{"repo": "no-such", "path": "nope"}])
    assert miss.count() == 0
    miss_rel = {p.split(root + "/", 1)[1] for p in miss.inputFiles()}
    assert not (miss_rel & bloomed)


def test_local_merge_writes_blooms_and_lookup_stays_exact(spark, tmp_path):
    """The per-bucket Arrow upsert merge stamps blooms too; every live key
    remains findable afterwards (e2e no-false-negative check)."""
    root = str(tmp_path / "t2")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"merge_mode": "upsert"},
    )
    feed = change_feed(spark, 800, n_repos=6, paths_per_repo=10, seed=11)
    events = decode_feed(feed, inject={"commit": "commit"})
    rows, _ = events_to_rows(events, table.schema, table.pk)
    table.merge(rows, fence=("bm", 0))
    rows2, _ = events_to_rows(
        decode_feed(
            change_feed(spark, 400, n_repos=6, paths_per_repo=10, seed=12),
            inject={"commit": "commit"},
        ),
        table.schema, table.pk,
    )
    table.merge(rows2.withColumn("_offset", F.col("_offset") + 800),
                fence=("bm", 1))
    assert _bloomed_paths(table), "local merge should stamp bloom entries"
    live = table.current().select("repo", "path").collect()
    got = table.lookup([{"repo": r["repo"], "path": r["path"]} for r in live])
    assert got.count() == len(live)


def test_expire_removes_bloom_sidecars(spark, tmp_path):
    """A data file's sidecar lives and dies with it: once the compacted
    generation is superseded and expired, its .bloom files are gone."""
    root = str(tmp_path / "t3")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 500, n_repos=5, paths_per_repo=8, seed=5)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}),
        table.schema, table.pk,
    )
    table.merge(rows, fence=("ex", 0))
    table.compact(strategy="local")
    old_bloomed = _bloomed_paths(table)
    assert old_bloomed
    # supersede generation 1's files, then expire them
    rows2, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}),
        table.schema, table.pk,
    )
    table.merge(rows2.withColumn("_offset", F.col("_offset") + 500),
                fence=("ex", 1))
    table.compact(strategy="local")
    table.expire_snapshots(keep_last=1)
    for rel in old_bloomed:
        assert not os.path.exists(os.path.join(root, rel)), rel
        assert not os.path.exists(os.path.join(root, rel + ".bloom")), rel
    # the CURRENT generation's sidecars remain intact and loadable
    cur = _bloomed_paths(table)
    assert cur
    for rel in cur:
        assert os.path.exists(os.path.join(root, rel + ".bloom"))


def test_validate_flags_corrupt_bloom_sidecar(spark, tmp_path):
    """validate() catches the one failure blooms must never have: a
    sidecar that denies keys the file actually holds (corruption or hash
    drift would make lookup() silently skip the file)."""
    root = str(tmp_path / "t4")
    table = LakeTable.create(
        spark, root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=2,
        properties={"merge_mode": "append"},
    )
    feed = change_feed(spark, 400, n_repos=5, paths_per_repo=8, seed=9)
    rows, _ = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}),
        table.schema, table.pk,
    )
    table.merge(rows, fence=("va", 0))
    table.compact(strategy="local")
    v = table.validate()
    assert v["ok"] and v["bloom_files_checked"] > 0 and not v["bloom_violations"]
    # zero out one sidecar: every probe now reads absent -> violation
    victim = sorted(_bloomed_paths(table))[0]
    side = os.path.join(root, victim + ".bloom")
    size = os.path.getsize(side)
    with open(side, "wb") as f:
        f.write(b"\x00" * size)
    v2 = table.validate()
    assert victim in v2["bloom_violations"] and not v2["ok"]
    # ...and lookup stays CORRECT despite the lying sidecar? No — a lying
    # all-zeros bloom is exactly the wrong-result hazard validate exists
    # to surface. Deleting the sidecar restores conservative keeps:
    os.remove(side)
    v3 = table.validate()
    # entry still claims a bloom, sidecar gone -> validate flags it too
    assert victim in v3["bloom_violations"]
    # but lookup() keeps the file conservatively (OSError path) — reads
    # stay correct while ops re-compacts
    any_key = table.current().select("repo", "path").first()
    assert table.lookup([{"repo": any_key["repo"],
                          "path": any_key["path"]}]).count() == 1


def test_probe_sidecar_corrupt_stamp_keeps_file_never_raises(tmp_path):
    """The probe contract is 'never raise, keep the file': a corrupt
    manifest stamp (m=0 with an empty sidecar, m=None, m as a string)
    must return None — not crash the whole lookup with IndexError/
    TypeError out of the narrow except clause."""
    import numpy as np

    h = (np.array([1, 2, 3], np.uint64), np.array([4, 5, 6], np.uint64))
    root = str(tmp_path)
    (tmp_path / "f.parquet.bloom").write_bytes(b"")
    for bad_m in (0, -64, None, "x"):
        entry = {"path": "f.parquet",
                 "bloom": {"algo": bloom.BLOOM_ALGO, "m": bad_m, "k": 7}}
        assert bloom.probe_sidecar(root, entry, h) is None, bad_m
    # a stamp missing 'k' entirely (KeyError path) also degrades
    (tmp_path / "g.parquet.bloom").write_bytes(b"\x00" * 8)
    entry = {"path": "g.parquet",
             "bloom": {"algo": bloom.BLOOM_ALGO, "m": 64}}
    assert bloom.probe_sidecar(root, entry, h) is None
