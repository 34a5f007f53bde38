"""Deployment-mode contract: the engine runs under real ``spark-submit
--py-files dist/cds_spark.zip`` (the north rule's launch shape) and its
final table state matches an in-process replay of the same feed bit-for-bit
under the order-independent content digest.

The submit subprocess gets a CLEAN environment (no PYTHONPATH, cwd outside
the repo), so ``import cds_spark`` succeeding proves the zip artifact is
self-sufficient — the same property that ships the package to every
executor on a real cluster.
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    import pyspark

    cand = os.path.join(os.path.dirname(os.path.abspath(pyspark.__file__)),
                        "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def test_spark_submit_pyfiles_replay_matches_inprocess(spark, tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit launcher not available")

    from cds_spark.functions import state_digest
    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import FEED_SCHEMA, REPO_SCHEMA, materialize_feed

    feed_dir = str(tmp_path / "feed")
    kw = dict(n_repos=120, paths_per_repo=40, seed=7)
    paths = materialize_feed(spark, 20_000, feed_dir, 2, n_partitions=4, **kw)

    # expected state: the ordinary in-process path over the same bytes
    table = LakeTable.create(
        spark, str(tmp_path / "t_local"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=16,
        properties={"merge_mode": "append"},
    )
    for i, p in enumerate(paths):
        feed = spark.read.schema(FEED_SCHEMA).parquet(p)
        rows, _ = events_to_rows(decode_feed(feed, inject={"commit": "commit"}),
                                 table.schema, table.pk)
        table.merge(rows, fence=("local", i))
    table.compact(purge_tombstones=True)
    cur = table.current()
    cols = ["repo", "path", "commit", "lang", "content"]
    expected_digest = state_digest(cur, cols)
    expected_live = cur.count()

    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"),
         str(tmp_path / "cds_spark.zip")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert os.path.getsize(zip_path) > 10_000

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--driver-memory", "3g",
            "--py-files", zip_path,
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            os.path.join(REPO, "tools", "submit_replay.py"),
            "--feed-dir", feed_dir,
            "--table-dir", str(tmp_path / "t_submit"),
            "--n-buckets", "16",
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=420,
    )
    result = None
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    assert result is not None, (
        f"no RESULT line\nstdout:\n{out.stdout[-3000:]}\nstderr:\n{out.stderr[-3000:]}"
    )
    assert result["live_rows"] == expected_live
    assert result["state_digest"] == expected_digest
    # the generator injects duplicate deliveries on top of n_events
    assert result["rows_merged"] >= 20_000


def test_multiprocess_cas_race_merge_vs_compact(spark, tmp_path):
    """TWO separate spark-submit processes (not threads) race merge against
    compact on one table: the `os.link` exclusive-create manifest CAS must
    arbitrate across real process boundaries — every merge batch lands
    exactly once (no lost fence), compact never aborts, and the final state
    equals a single-process replay of the same feed."""
    import time

    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit launcher not available")

    from cds_spark.functions import state_digest
    from cds_spark.lake.table import LakeTable
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import FEED_SCHEMA, REPO_SCHEMA, change_feed

    feed_dir = str(tmp_path / "feed")
    feed = change_feed(spark, 6000, n_repos=40, paths_per_repo=20, seed=13)
    feed.write.parquet(feed_dir)

    shared_root = str(tmp_path / "t_shared")
    LakeTable.create(
        spark, shared_root, REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )

    # expected state: one-process replay of the same bytes
    ref = LakeTable.create(
        spark, str(tmp_path / "t_ref"), REPO_SCHEMA, pk=["repo", "path"],
        version_cols=["commit", "_offset"], n_buckets=8,
        properties={"merge_mode": "append"},
    )
    full = spark.read.schema(FEED_SCHEMA).parquet(feed_dir)
    rows, _ = events_to_rows(decode_feed(full, inject={"commit": "commit"}), ref.schema, ref.pk)
    ref.merge(rows, fence=("ref", 0))
    cols = ["repo", "path", "commit", "lang", "content"]
    expected_digest = state_digest(ref.current(), cols)
    expected_live = ref.current().count()

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONPATH"] = REPO  # racers import cds_spark from the repo
    start_at = str(time.time() + 35)  # both loops begin after JVM boot

    def launch(role: str, extra: list[str]):
        return subprocess.Popen(
            [submit, "--master", "local[4]", "--driver-memory", "3g",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--conf", "spark.ui.enabled=false",
             os.path.join(REPO, "tools", "submit_racer.py"),
             "--table-dir", shared_root, "--role", role,
             "--start-at", start_at, *extra],
            cwd=str(tmp_path), env=env,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )

    p_merge = launch("merge", ["--feed-dir", feed_dir, "--iters", "6"])
    p_compact = launch("compact", ["--iters", "10"])
    res = {}
    for role, p in (("merge", p_merge), ("compact", p_compact)):
        stdout, stderr = p.communicate(timeout=420)
        assert p.returncode == 0, f"{role} racer died:\n{stderr[-3000:]}"
        for line in stdout.splitlines():
            if line.startswith("RESULT "):
                res[role] = json.loads(line[len("RESULT "):])
        assert role in res, f"no RESULT from {role}:\n{stdout[-2000:]}"

    assert res["merge"]["committed"] == 6 and res["merge"]["skipped"] == 0
    assert res["compact"]["conflicts"] == 0
    assert res["compact"]["committed"] >= 1

    t = LakeTable.load(spark, shared_root)
    assert t.properties.get("fence.racer") == 5  # no lost fence
    cur = t.current()
    assert cur.count() == expected_live
    assert state_digest(cur, cols) == expected_digest
    audit = t.validate()
    assert audit["ok"], f"invariants violated after race: {audit}"
