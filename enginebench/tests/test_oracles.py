"""Hand-worked cases for the benchmark's own oracles."""

import json

import numpy as np
import pytest

from oracles import LwwReplay, cosine, cosine_topk, jaccard, shingles

COLS = ["k", "commit", "v", "tag"]


def ev(op, k, commit, offset, **payload):
    p = {"k": k, **payload} if k is not None else dict(payload)
    return {"op": op, "commit": commit, "offset": offset,
            "payload": json.dumps(p)}


def test_lww_duplicate_delivery_is_a_no_op():
    o = LwwReplay(["k"], COLS)
    e = ev("u", "a", "001", 5, v=1)
    assert o.apply(e) == "upsert"
    assert o.apply(dict(e)) == "duplicate"
    assert o.live() == {("a",): {"k": "a", "commit": "001", "v": 1, "tag": None}}


def test_lww_delete_then_reinsert():
    o = LwwReplay(["k"], COLS)
    o.apply(ev("c", "a", "001", 1, v=1))
    o.apply(ev("d", "a", "002", 2))
    assert o.live() == {}
    # an older update arriving late cannot resurrect the key
    assert o.apply(ev("u", "a", "001", 0, v=9)) == "stale"
    assert o.live() == {}
    o.apply(ev("c", "a", "003", 3, v=2))
    assert o.live()[("a",)]["v"] == 2


def test_lww_same_commit_higher_offset_wins_in_any_order():
    a, b = ev("u", "a", "007", 10, v=1), ev("u", "a", "007", 11, v=2)
    for order in ((a, b), (b, a)):
        o = LwwReplay(["k"], COLS)
        o.apply_all(order)
        assert o.live()[("a",)]["v"] == 2


def test_lww_malformed_events_go_to_the_dlq():
    o = LwwReplay(["k"], COLS)
    assert o.apply(ev("u", None, "001", 1, v=1)) == "dlq"        # no PK
    assert o.apply({"op": "u", "commit": "001", "offset": 2,
                    "payload": '{"k": "a", "v'}) == "dlq"          # truncated
    assert o.apply(ev("u", "", "001", 3, v=1)) == "dlq"          # empty PK
    assert o.dlq == [1, 2, 3]
    assert o.live() == {}


def test_lww_composite_pk_needs_every_column():
    o = LwwReplay(["repo", "path"], ["repo", "path", "commit", "v"])
    pay = {"repo": "r", "path": "a.py", "v": 1}
    o.apply({"op": "c", "commit": "001", "offset": 1,
             "payload": json.dumps(pay)})
    # the same path under another repo is another key
    o.apply({"op": "c", "commit": "001", "offset": 2,
             "payload": json.dumps({**pay, "repo": "s", "v": 2})})
    assert o.apply({"op": "u", "commit": "002", "offset": 3,
                    "payload": json.dumps({"path": "a.py", "v": 3})}) == "dlq"
    assert o.apply({"op": "d", "commit": "002", "offset": 4,
                    "payload": json.dumps({"repo": "r", "path": "a.py"})}) == "delete"
    assert o.live() == {("s", "a.py"): {"repo": "s", "path": "a.py",
                                        "commit": "001", "v": 2}}
    assert o.dlq == [3]


def test_lww_column_added_mid_feed_is_null_for_older_winners():
    o = LwwReplay(["k"], COLS)
    o.apply(ev("c", "old", "001", 1, v=1))
    o.apply(ev("c", "new", "002", 2, v=2, tag="t1"))
    live = o.live()
    assert live[("old",)]["tag"] is None
    assert live[("new",)]["tag"] == "t1"
    # the envelope commit is injected
    assert live[("old",)]["commit"] == "001"


def test_shingles_lowercase_prefix():
    assert shingles("ABCDEF") == {"abcde", "bcdef"}
    assert shingles("abcd") == set()
    long = "x" * 300 + "yyyyy"
    assert shingles(long) == {"xxxxx"}   # only the first 256 chars count


def test_jaccard_hand_worked():
    # "abcdef" -> {abcde, bcdef}; "abcdeg" -> {abcde, bcdeg}
    j, union = jaccard("abcdef", "ABCDEG")
    assert union == 3 and j == pytest.approx(1 / 3)
    assert jaccard("same text here", "same text here")[0] == 1.0


def test_cosine_and_brute_force_topk():
    assert cosine([1, 0], [0, 1]) == pytest.approx(0.0)
    assert cosine([1, 1], [2, 2]) == pytest.approx(1.0)
    ids = [10, 11, 12, 13]
    vecs = [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]]
    top = cosine_topk(ids, vecs, [10], k=2)
    assert [n for n, _ in top[10]] == [11, 12]
    assert top[10][0][1] == pytest.approx(0.9 / np.hypot(0.9, 0.1))
    # ties resolve to the smaller id
    tie = cosine_topk([1, 2, 3], [[1, 0], [0, 1], [0, 1]], [1], k=1)
    assert tie[1][0][0] == 2
