"""Window-gated resumable full sync — parity with the reference's dm Mongo
lifecycle: pause outside the execution window recording the first unsynced
position (mongo2clickhouse.go:99-108), resume mid-collection from the saved
status (manager.go:45-69), idempotent under replay via chunk fences."""

import datetime
import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cds_spark.lake.table import LakeTable  # noqa: E402
from cds_spark.streaming.pipeline import (  # noqa: E402
    _hour_in_window,
    full_sync_windowed,
)


def test_hour_window_rule():
    assert _hour_in_window(3, 0, 0)        # (0,0) = no window
    assert _hour_in_window(2, 1, 5)
    assert _hour_in_window(1, 1, 5) and _hour_in_window(5, 1, 5)
    assert not _hour_in_window(0, 1, 5)
    assert not _hour_in_window(6, 1, 5)


def test_hour_window_wraps_midnight():
    assert _hour_in_window(23, 22, 5) and _hour_in_window(3, 22, 5)
    assert _hour_in_window(22, 22, 5) and _hour_in_window(5, 22, 5)
    assert not _hour_in_window(12, 22, 5)
    # in-day window unchanged
    assert _hour_in_window(10, 9, 17) and not _hour_in_window(8, 9, 17)
    # (0, 0) = no window
    assert _hour_in_window(0, 0, 0) and _hour_in_window(13, 0, 0)


class FakeClock:
    """Yields a scripted sequence of hours, then repeats the last one."""

    def __init__(self, hours):
        self.hours = list(hours)

    def __call__(self):
        h = self.hours.pop(0) if len(self.hours) > 1 else self.hours[0]
        return datetime.datetime(2026, 1, 1, h, 30)


def test_pause_resume_completes_and_matches(spark, tmp_path):
    from cds_spark.lake.table import LakeTable

    src = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "concat('v-', id) AS val", "id AS ver"
    )
    root = str(tmp_path / "t")
    status_path = str(tmp_path / "status.json")

    # window = hours [2, 4]; clock: 2 checks inside, then outside
    clock = FakeClock([2, 3, 7])
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=5, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="ms", clock=clock,
    )
    assert st["status"] == "PAUSE"
    assert st["next_chunk"] == 2                  # 2 chunks landed
    assert st["next_key"] == 400                  # first unsynced key recorded
    t = LakeTable.load(spark, root)
    assert t.current().count() == 400             # exactly chunks 0-1

    # resume inside the window: picks up at chunk 2 and finishes
    st2 = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=5, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="ms", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    t = LakeTable.load(spark, root)
    got = {r["doc_id"]: r["val"] for r in t.current().collect()}
    assert len(got) == 1000 and got[999] == "v-999"

    # replay after completion: status short-circuits, nothing re-lands
    v = t.version
    st3 = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=5, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="ms", clock=FakeClock([3]),
    )
    assert st3["status"] == "FINISHED"
    assert LakeTable.load(spark, root).version == v


def test_resume_survives_lost_status_file_via_fences(spark, tmp_path):
    """Fences make the chunk loop idempotent even when the status sidecar
    is lost: rerunning from chunk 0 skips already-applied chunks."""
    from cds_spark.lake.table import LakeTable

    src = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('x-', id) AS val", "id AS ver"
    )
    root = str(tmp_path / "t2")
    status_path = str(tmp_path / "s2.json")
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="m2", clock=FakeClock([2, 9]),
    )
    assert st["status"] == "PAUSE" and st["next_chunk"] == 1
    Path(status_path).unlink()  # "etcd wiped"

    v_before = LakeTable.load(spark, root).version
    st2 = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="m2", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    t = LakeTable.load(spark, root)
    assert t.current().count() == 300
    # chunk 0 was fenced out (no duplicate merge commit for it): the rerun
    # added exactly 2 grid commits + the (empty, fence-only) tail-chunk
    # commit; status writes are sidecar-only
    data_versions = t.version - v_before
    assert data_versions == 3
    assert json.load(open(status_path))["status"] == "FINISHED"


def test_non_numeric_keyset_hash_stripes(spark, tmp_path):
    from cds_spark.lake.table import LakeTable

    src = spark.range(0, 120).selectExpr(
        "concat('doc-', id) AS doc_id", "id AS ver"
    )
    root = str(tmp_path / "t3")
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=4, n_buckets=4, status_path=str(tmp_path / "s3.json"),
        job_id="m3", clock=FakeClock([5]),
    )
    assert st["status"] == "FINISHED"
    assert LakeTable.load(spark, root).current().count() == 120


def test_resume_with_grown_source_uses_frozen_grid_and_tail(spark, tmp_path):
    """ADVICE r3 (high): if the source grows during the PAUSE window
    (monotonic ids), resume must NOT recompute the chunk grid — shifted
    boundaries would leave rows in already-fenced chunk indexes unsynced
    forever. Bounds are frozen in the status sidecar on first run; growth
    beyond the frozen grid lands via the tail chunk."""
    from cds_spark.lake.table import LakeTable

    def mk(n):
        return spark.range(0, n).selectExpr(
            "id AS doc_id", "concat('g-', id) AS val", "id AS ver"
        )

    root = str(tmp_path / "tg")
    status_path = str(tmp_path / "sg.json")
    st = full_sync_windowed(
        spark, mk(300), root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="mg", clock=FakeClock([2, 9]),
    )
    assert st["status"] == "PAUSE" and st["next_chunk"] == 1
    assert st["bounds"]["lo"] == 0 and st["bounds"]["span"] == 300

    # source grew 300 -> 500 while paused; resume must still sync rows
    # 100..299 (they'd be skipped if the grid were recomputed over 0..499:
    # fenced chunk 0 would then claim 0..166 unseen) AND pick up 300..499
    st2 = full_sync_windowed(
        spark, mk(500), root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),
        status_path=status_path, job_id="mg", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    t = LakeTable.load(spark, root)
    got = {r["doc_id"] for r in t.current().collect()}
    assert got == set(range(500))


def test_negative_non_integral_bounds_floor_not_truncate(spark, tmp_path):
    """ADVICE r3 (low): int() truncates toward zero, so a keyset min of
    -3.5 would make chunk 0 start at -3 and drop keys in [-3.5, -3)."""
    from cds_spark.lake.table import LakeTable

    src = spark.createDataFrame(
        [(-3.5, 1), (-3.2, 2), (0.0, 3), (2.9, 4)], "doc_id double, ver int"
    )
    root = str(tmp_path / "tf")
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=2, n_buckets=2, status_path=str(tmp_path / "sf.json"),
        job_id="mf", clock=FakeClock([5]),
    )
    assert st["status"] == "FINISHED"
    got = {r["doc_id"] for r in LakeTable.load(spark, root).current().collect()}
    assert got == {-3.5, -3.2, 0.0, 2.9}


def test_resume_with_different_n_chunks_uses_frozen_grid(spark, tmp_path):
    """Round-5 review: n_chunks is PART of the frozen grid. A resume whose
    caller passes a different n_chunks (config drift) must keep the frozen
    chunk count — fences are indexed by position in the ORIGINAL grid, so
    re-interpreting them against a coarser grid would mark unseen key
    ranges as already synced and silently skip them (with a lost sidecar),
    or finish instantly without syncing anything (intact sidecar,
    next_chunk > new total_chunks)."""
    import os

    from cds_spark.lake.table import LakeTable

    src = spark.range(0, 600).selectExpr(
        "id AS doc_id", "concat('c-', id) AS val", "id AS ver"
    )

    # -- intact sidecar, drifted n_chunks ---------------------------------
    root = str(tmp_path / "tc1")
    sp = str(tmp_path / "sc1.json")
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=6, n_buckets=4, window_hours=(2, 4),
        status_path=sp, job_id="mc", clock=FakeClock([2, 2, 2, 2, 9]),
    )
    assert st["status"] == "PAUSE" and st["next_chunk"] == 4
    assert st["bounds"]["n_chunks"] == 6
    st2 = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),   # drifted: 6 -> 3
        status_path=sp, job_id="mc", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    got = {r["doc_id"] for r in LakeTable.load(spark, root).current().collect()}
    assert got == set(range(600))

    # -- lost sidecar, drifted n_chunks: grid recovered from the table ----
    root2 = str(tmp_path / "tc2")
    sp2 = str(tmp_path / "sc2.json")
    st = full_sync_windowed(
        spark, src, root2, pk=["doc_id"], version_cols=["ver"],
        n_chunks=6, n_buckets=4, window_hours=(2, 4),
        status_path=sp2, job_id="mc2", clock=FakeClock([2, 2, 2, 2, 9]),
    )
    assert st["status"] == "PAUSE" and st["next_chunk"] == 4
    os.remove(sp2)
    st2 = full_sync_windowed(
        spark, src, root2, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4),   # drifted: 6 -> 3
        status_path=sp2, job_id="mc2", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    got = {r["doc_id"]
           for r in LakeTable.load(spark, root2).current().collect()}
    assert got == set(range(600))


def test_fullsync_lost_sidecar_recovers_frozen_grid_from_table(spark, tmp_path):
    """The frozen bounds now also live in the table's properties: a lost
    sidecar plus a GROWN source must resume on the original grid (no
    silent row loss) and pick up growth via the tail chunk."""
    from cds_spark.streaming.pipeline import full_sync_windowed

    class FakeClock:
        def __init__(self, hours):
            self.h = list(hours)

        def __call__(self):
            h = self.h.pop(0) if len(self.h) > 1 else self.h[0]
            return datetime.datetime(2024, 1, 1, h, 0, 0)

    src1 = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('x-', id) AS val", "id AS ver")
    root = str(tmp_path / "fs")
    sp = str(tmp_path / "fs.json")
    st = full_sync_windowed(
        spark, src1, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4), status_path=sp,
        job_id="g1", clock=FakeClock([2, 9]),
    )
    assert st["status"] == "PAUSE" and st["next_chunk"] == 1
    os.unlink(sp)  # sidecar wiped
    t = LakeTable.load(spark, root)
    assert "fullsync.g1.bounds" in t.properties
    # source GROWS during the pause (monotonic ids — canonical scenario)
    src2 = spark.range(0, 450).selectExpr(
        "id AS doc_id", "concat('x-', id) AS val", "id AS ver")
    st2 = full_sync_windowed(
        spark, src2, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4), status_path=sp,
        job_id="g1", clock=FakeClock([3]),
    )
    assert st2["status"] == "FINISHED"
    assert LakeTable.load(spark, root).current().count() == 450


def test_fullsync_resume_without_any_bounds_fails_loudly(spark, tmp_path):
    """ADVICE r4: a pre-upgrade sidecar (next_chunk>0, no bounds) on a table
    without recoverable bounds must raise, not recompute a shifted grid."""
    from cds_spark.streaming.pipeline import full_sync_windowed

    class Clock3:
        def __call__(self):
            return datetime.datetime(2024, 1, 1, 3, 0, 0)

    src = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('x-', id) AS val", "id AS ver")
    root = str(tmp_path / "old")
    sp = str(tmp_path / "old.json")
    # build a table state with advanced fences, then strip the bounds
    # property from the manifest on disk (simulating a pre-upgrade table)
    st = full_sync_windowed(
        spark, src, root, pk=["doc_id"], version_cols=["ver"],
        n_chunks=3, n_buckets=4, window_hours=(2, 4), status_path=sp,
        job_id="o1", clock=Clock3(),
    )
    assert st["status"] == "FINISHED"
    t = LakeTable.load(spark, root)
    mpath = LakeTable._meta_path(root, t.version)
    m = json.load(open(mpath))
    m["properties"].pop("fullsync.o1.bounds", None)
    with open(mpath, "w") as f:
        json.dump(m, f)
    # old-format sidecar: mid-run, no bounds
    with open(sp, "w") as f:
        json.dump({"job_id": "o1", "status": "RUNNING", "next_chunk": 2}, f)
    with pytest.raises(RuntimeError, match="frozen chunk grid"):
        full_sync_windowed(
            spark, src, root, pk=["doc_id"], version_cols=["ver"],
            n_chunks=3, n_buckets=4, window_hours=(2, 4), status_path=sp,
            job_id="o1", clock=Clock3(),
        )
