"""Spark job counting inside a streaming micro-batch.

Every job of a micro-batch runs under the streaming query's job group, so
a count of ungrouped jobs reads 0 there; the counter must name the
micro-batch's group. Starts a small local Spark session (~15 s)."""

import json

import pytest

import harness


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("jobcount"))
    s = harness.start_session(work, 1)
    yield s
    harness.stop_session(s)


def test_one_action_in_a_micro_batch_is_counted_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(json.dumps({"x": 1}) + "\n")
    jobs = harness.JobCounter(spark)
    seen = {}

    def batch(df, batch_id):
        group = jobs.group()
        first = jobs.next_id()
        ungrouped_before = jobs.count(None, 0)
        spark.range(10).collect()            # the one known action
        seen["group"] = group
        seen["jobs"] = jobs.count(group, first)
        seen["ungrouped"] = jobs.count(None, 0) - ungrouped_before

    q = (spark.readStream.schema("x long").json(str(src)).writeStream
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).foreachBatch(batch).start())
    q.awaitTermination(120)
    assert seen["group"], "micro-batch jobs run under the query's job group"
    assert seen["jobs"] == 1
    assert seen["ungrouped"] == 0


def test_reader_thread_group_is_its_own(spark):
    import threading

    jobs = harness.JobCounter(spark)
    out = {}

    def reader():
        spark.sparkContext.setJobGroup("bench-reader-test", "reader")
        first = jobs.next_id()
        spark.range(5).count()
        out["n"] = jobs.count("bench-reader-test", first)

    t = threading.Thread(target=reader)
    t.start()
    t.join(120)
    assert not t.is_alive()
    assert out["n"] >= 1
    assert jobs.count("bench-reader-test", 0) == out["n"]
