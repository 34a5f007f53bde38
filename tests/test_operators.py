"""Unit tests for training-data operators (dedup, similarity, text, media)."""

import hashlib
import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_minhash_lsh_is_subset_of_exact_with_high_recall(spark):
    """LSH candidates that pass the verify filter must be exact-Jaccard
    pairs; recall of the banded scheme should be high at this threshold."""
    from cds_spark.operators.textdedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _docs(spark).limit(150)
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert abs(exact[k] - v) < 1e-9
    strong = {k for k, v in exact.items() if v >= 0.5}
    if strong:
        recall = len(strong & set(lsh)) / len(strong)
        assert recall >= 0.8


def test_simhash_similar_docs_have_small_hamming(spark):
    from cds_spark.operators.textdedup import simhash_signatures

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different words about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    sig = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    d12 = bin(sig[1] ^ sig[2]).count("1")
    d13 = bin(sig[1] ^ sig[3]).count("1")
    assert d12 < d13


def test_spread_reads_the_plan_without_running_it(spark, count_jobs, tmp_path):
    """A plan with an exchange is repartitioned unprobed (asking it for a
    partition count would run its shuffle stages under AQE); a wide
    enough file scan is left as it is."""
    import pyspark.sql.functions as F

    from cds_spark.operators.textdedup import _spread

    agg = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    n, out = count_jobs(lambda: _spread(agg))
    assert n == 0
    assert out._jdf.queryExecution().logical().toString().startswith("Repartition ")
    path = str(tmp_path / "wide")
    spark.range(1000).repartition(16).write.parquet(path)
    scan = spark.read.parquet(path)
    n, out = count_jobs(lambda: _spread(scan))
    assert n == 0 and out is scan


def test_row_level_twins_equal_batch_shingle_sets_and_minhashes(spark):
    """The incremental tick's one-pass row-level shingle set and MinHash
    equal the batch operators' explode + groupBy results doc for doc
    (texts shorter than the shingle width drop out of both)."""
    import pyspark.sql.functions as F

    from cds_spark.operators.textdedup import (
        minhash_exprs, minhash_signatures, shingle_set_expr, shingle_sets)

    docs = _docs(spark).limit(60).select("doc_id", "text").unionByName(
        spark.createDataFrame([(-1, "abc"), (-2, None), (-3, "ÀÉÎ Õü ÀÉÎ Õü")],
                              "doc_id long, text string"))
    batch_sets = {r.doc_id: sorted(r.sset) for r in shingle_sets(docs).collect()}
    batch_mh = {r.doc_id: r.mh for r in minhash_signatures(docs).collect()}
    rows = (docs.select("doc_id", shingle_set_expr(F.col("text")).alias("sset"))
            .select("doc_id", "sset", *minhash_exprs(F.col("sset")))
            .collect())
    row_sets = {r.doc_id: sorted(r.sset) for r in rows if r.sset is not None}
    row_mh = {r.doc_id: r.mh for r in rows if r.sset is not None}
    assert row_sets == batch_sets and -1 not in row_sets and -2 not in row_sets
    assert row_mh == batch_mh


def test_lsh_bucket_and_band_builders_match_numpy_fold(spark):
    """``_bucket_expr`` and ``_band_array_expr`` against an independent
    float64 left fold over ``hyperplanes(dim)``: bit j is the sign of the
    j-th dot product, weighted 2^j within the bucket (LSH_BITS planes) or
    within its band (PAIR_BITS planes, BITS_PER_BAND per band). A zero
    vector, a NULL vector, a NULL component and a 63-element vector have
    no positive dot product, so every bit is 0."""
    from functools import reduce

    import numpy as np

    from cds_spark.operators.similarity import (
        BITS_PER_BAND, LSH_BITS, PAIR_BANDS, PAIR_BITS, _band_array_expr,
        _bucket_expr, hyperplanes)

    dim = 64
    rng = np.random.default_rng(11)
    vecs = {i: [float(x) for x in rng.standard_normal(dim).astype(np.float32)]
            for i in range(40)}
    vecs[40] = [0.0] * dim
    vecs[41] = None
    vecs[42] = vecs[0][:7] + [None] + vecs[0][8:]
    vecs[43] = vecs[1][:dim - 1]

    def bits(v, planes):
        if v is None or None in v or len(v) != dim:
            return [0] * len(planes)
        dots = [reduce(lambda acc, xc: acc + np.float64(xc[0]) * np.float64(xc[1]),
                       zip(v, hp), np.float64(0.0)) for hp in planes]
        return [int(d > 0) for d in dots]

    def weigh(bs):
        return sum(b << j for j, b in enumerate(bs))

    want = {}
    for i, v in vecs.items():
        pb = bits(v, hyperplanes(dim, PAIR_BITS))
        want[i] = (weigh(bits(v, hyperplanes(dim, LSH_BITS))),
                   [weigh(pb[b * BITS_PER_BAND:(b + 1) * BITS_PER_BAND])
                    for b in range(PAIR_BANDS)])
    df = spark.createDataFrame(list(vecs.items()), "id long, v array<float>")
    got = {r.id: (r.bucket, list(r.bands)) for r in df.select(
        "id", _bucket_expr(F.col("v"), dim).alias("bucket"),
        _band_array_expr(F.col("v"), dim).alias("bands")).collect()}
    assert got == want
    assert len({b for b, _ in want.values()}) > 10
    assert all(want[i] == (0, [0] * PAIR_BANDS) for i in (40, 41, 42, 43))


def test_minhash_signature_builders_match_pure_python(spark):
    """``minhash_exprs`` + the dedup index's ``_sig_cols`` (sig_md5 and
    the band keys) against pure Python: shingles hashed with hashlib.md5,
    the minima of (a * h + b) mod p over MINHASH_A / MINHASH_B /
    MINHASH_P, and the md5 of the comma-joined decimal minima (all of
    them for the digest, each band's ROWS_PER_BAND for a band key). A NULL
    shingle set digests the empty string."""
    from cds_spark.operators.incdedup import _sig_cols
    from cds_spark.operators.textdedup import (
        MINHASH_A, MINHASH_B, MINHASH_P, N_BANDS, PREFIX, ROWS_PER_BAND,
        SHINGLE_K, minhash_exprs, shingle_set_expr)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    texts = {1: "The quick brown fox jumps over the lazy dog",
             2: "the quick brown fox jumps over the lazy dog!",
             3: "x" * 300 + " tail beyond the shingle prefix",
             4: "abcde",
             5: "abc"}
    want = {}
    for d, text in texts.items():
        t = text.lower()[:PREFIX]
        sset = {int(md5(t[i:i + SHINGLE_K])[:15], 16) % MINHASH_P
                for i in range(len(t) - SHINGLE_K + 1)}
        mh = [str(min((a * h + b) % MINHASH_P for h in sset))
              for a, b in zip(MINHASH_A, MINHASH_B)] if sset else []
        want[d] = (md5(",".join(mh)),
                   [md5(",".join(mh[j * ROWS_PER_BAND:(j + 1) * ROWS_PER_BAND]))
                    for j in range(N_BANDS)])
    df = spark.createDataFrame(list(texts.items()), "id long, text string")
    got = {r.id: (r.sig_md5, list(r.bands)) for r in (
        df.select("id", shingle_set_expr(F.col("text")).alias("sset"))
        .select("id", *minhash_exprs(F.col("sset")))
        .select("id", *_sig_cols()).collect())}
    assert got == want
    assert want[5] == (md5(""), [md5("")] * N_BANDS)


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    from cds_spark.operators.similarity import N_QUERIES, TOP_K, brute_force_topk

    emb = _emb(spark)
    rows = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    got = brute_force_topk(emb).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q in range(N_QUERIES):
        qv = rows[q]
        sims = {}
        for vid, v in rows.items():
            if vid == q:
                continue
            sims[vid] = round(float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), 6)
        expect = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        mine = sorted(by_q[q], key=lambda r: r.rank)
        assert [m.neighbor_id for m in mine] == [e[0] for e in expect]
        for m, e in zip(mine, expect):
            assert math.isclose(m.cos_sim, e[1], abs_tol=2e-6)


def test_lsh_topk_results_are_true_cosines(spark):
    """LSH top-k is a recall-reduced subset: every reported sim must equal
    the exact cosine for that pair."""
    import numpy as np

    from cds_spark.operators.similarity import lsh_bucketed_topk

    emb = _emb(spark)
    rows = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    for r in lsh_bucketed_topk(emb).collect():
        qv, nv = rows[r.query_id], rows[r.neighbor_id]
        exact = float(np.dot(qv, nv) / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        assert math.isclose(r.cos_sim, round(exact, 6), abs_tol=2e-6)


def test_lsh_near_dup_subset_of_exact_with_high_recall(spark):
    """LSH-mined pairs must be a subset of the exact all-pairs result with
    identical cosines (verify is exact); banded recall should be high at
    the operating threshold (~0.985 analytically)."""
    from cds_spark.operators.similarity import lsh_near_dup_pairs, near_dup_pairs

    emb = _emb(spark)
    exact = {(r.vec_a, r.vec_b): r.cos_sim for r in near_dup_pairs(emb).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cos_sim for r in lsh_near_dup_pairs(emb).collect()}
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert abs(exact[k] - v) < 1e-9
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_multimodal_feature_extraction_arrow_path(spark):
    from cds_spark.operators.multimodal import extract_features, synth_media

    docs = _docs(spark).limit(50)
    media = synth_media(docs)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert set(feats) == set(src)
    for did, text in src.items():
        f = feats[did]
        assert f.n_bytes == len(text.encode())
        assert f.digest == hashlib.sha256(text.encode()).hexdigest()
        assert 1 <= f.n_frames_sampled <= 7


def test_quality_and_tokens_sane(spark):
    from cds_spark.operators.textstats import quality_scores, token_counts

    docs = _docs(spark).limit(20)
    for r in quality_scores(docs).collect():
        assert r.n_words > 0 and r.n_chars > 0
        assert 0 <= r.stop_ratio <= 1 and 0 <= r.alpha_ratio <= 1
        assert 0 <= r.quality_score <= 1.0
    for r in token_counts(docs).collect():
        assert r.n_regex_tokens >= r.n_whitespace_tokens > 0 or r.n_regex_tokens > 0


def test_decode_real_png_wav_mp4_stdlib():
    """decode_real actually parses the three formats the sandbox can handle
    with stdlib only (zlib/struct for PNG, wave for WAV, ISO-BMFF box walk
    for MP4 container metadata); features match the generator's parameters.
    Frame decode for other video types keeps the documented env hook."""
    import pytest as _pytest

    from cds_spark.operators.multimodal import (
        _mp4_bytes,
        _png_bytes,
        _wav_bytes,
        decode_real,
    )

    d = decode_real(_png_bytes(33, 21, 128), "image/png")
    assert (d["width"], d["height"], d["bit_depth"]) == (33, 21, 8)
    assert abs(d["feat_mean"] - 128 / 255.0) < 1e-12
    d = decode_real(_wav_bytes(8000, 200, 700), "audio/wav")
    assert d["sample_rate"] == 8000
    assert d["duration_ms"] == int(200 * 1000 / 8000)
    assert abs(d["feat_mean"] - 700 / 32768.0) < 1e-12
    d = decode_real(_mp4_bytes(42_500, 640, 360), "video/mp4")
    assert (d["width"], d["height"]) == (640, 360)
    assert d["duration_ms"] == 42_500
    assert d["feat_mean"] is None  # no codec -> no frame stats, by design
    with _pytest.raises(NotImplementedError):
        decode_real(b"bytes", "video/webm")
    with _pytest.raises(ValueError):
        decode_real(b"not-a-png", "image/png")
    with _pytest.raises(ValueError):
        decode_real(b"\x00" * 64, "video/mp4")


def test_decode_real_mp4_largesize_mdat_before_moov():
    """A 64-bit largesize box (size field 1) and a to-end box (size field
    0) are valid ISO-BMFF: a large mdat before moov must not stop the box
    walk before moov is found."""
    import struct

    from cds_spark.operators.multimodal import _mp4_bytes, _mp4_walk, decode_real

    buf = _mp4_bytes(7_250, 1920, 1080)
    boxes = {t: buf[a - 8:b] for t, a, b in _mp4_walk(buf, 0, len(buf))}
    media = b"\x01\x02\x03" * 100
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(media)) + media
    tail = struct.pack(">I", 0) + b"free" + b"\x00" * 12
    mp4 = boxes[b"ftyp"] + mdat + boxes[b"moov"] + tail
    walked = [(t, a, b) for t, a, b in _mp4_walk(mp4, 0, len(mp4))]
    assert [t for t, _, _ in walked] == [b"ftyp", b"mdat", b"moov", b"free"]
    _, a, b = walked[1]
    assert mp4[a:b] == media
    assert walked[-1][2] == len(mp4)
    d = decode_real(mp4, "video/mp4")
    assert (d["width"], d["height"], d["duration_ms"]) == (1920, 1080, 7_250)


def test_multimodal_real_decode_arrow_path(spark):
    """End-to-end: synth_media_binary emits GENUINE PNG/WAV bytes; the
    Arrow-batched extract_features_real decodes them and every feature
    matches the generator's doc_id-derived parameters."""
    from cds_spark.operators.multimodal import (
        extract_features_real,
        synth_media_binary,
    )

    docs = _docs(spark).limit(60)
    media = synth_media_binary(docs)
    feats = {r.media_id: r for r in extract_features_real(media).collect()}
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert set(feats) == set(ids)
    for i in ids:
        f = feats[i]
        if i % 3 == 0:
            assert f.media_type == "image/png"
            assert (f.width, f.height) == (i % 32 + 1, i % 24 + 1)
            assert abs(f.feat_mean - (i % 256) / 255.0) < 1e-12
        elif i % 3 == 1:
            assert f.media_type == "audio/wav"
            assert f.sample_rate == 8000
            nf = i % 400 + 40
            assert f.duration_ms == int(nf * 1000 / 8000)
            assert abs(f.feat_mean - (i % 1000) / 32768.0) < 1e-12
        else:
            assert f.media_type == "video/mp4"
            assert (f.width, f.height) == (i % 640 + 16, i % 360 + 16)
            assert f.duration_ms == i % 60000 + 1000
            assert f.feat_mean is None


def test_columnwise_lww_partial_updates(spark):
    """Mongo $set partial updates: later event without a column must not
    clobber the older value (existsKeys semantics, parse.go:268-306)."""
    from cds_spark.operators.dedup import lww_collapse_columnwise

    df = spark.createDataFrame(
        [
            (1, "000001", 10, "a", "x"),
            (1, "000002", 11, None, "y"),   # $set only touched two cols
            (1, "000003", 12, "c", None),
        ],
        "pk long, commit string, _offset long, col1 string, col2 string",
    )
    out = lww_collapse_columnwise(df, ["pk"], ["commit", "_offset"]).collect()[0]
    assert out.col1 == "c" and out.col2 == "y"
    assert out.commit == "000003"


def test_decode_requires_explicit_offset(spark):
    """No monotonically_increasing_id fallback: a layout-dependent offset
    would break LWW replay convergence (same guard as the Arrow path)."""
    import pytest as _pytest

    from cds_spark.operators.decode import decode_canal, decode_debezium_mysql

    df = spark.createDataFrame([('{"type":"INSERT","data":[{"id":"1"}]}',)], "value string")
    with _pytest.raises(ValueError, match="offset"):
        decode_canal(df)
    with _pytest.raises(ValueError, match="offset"):
        decode_debezium_mysql(df)


def test_connector_mongo_removed_fields_reset_to_default(spark):
    """removedFields reset the column to its type default and mark it
    present (connectormongomodel.go:113-118) — NOT silently dropped: stale
    values must lose column-wise LWW to the reset."""
    import json as _json

    from pyspark.sql import types as T

    from cds_spark.operators.decode import decode_connector_mongo, events_to_rows

    env = _json.dumps(
        {
            "operationType": "update",
            "documentKey": {"id": "1"},
            "updateDescription": {
                "updatedFields": {"a": "9", "both": "new"},
                "removedFields": ["b", "both"],
            },
        }
    )
    df = spark.createDataFrame([(env, 7)], "value string, off long")
    ev = decode_connector_mongo(df, offset_col="off").collect()[0]
    # removed fields present as '' (the string form of the type default);
    # a key both updated and removed ends reset (reference loop order)
    assert ev.data == {"id": "1", "a": "9", "b": "", "both": ""}
    assert sorted(ev.exists) == ["a", "b", "both", "id"]
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("both", T.StringType()),
        ]
    )
    rows, dlq = events_to_rows(
        decode_connector_mongo(df, offset_col="off"), schema, pk=["id"]
    )
    r = rows.collect()[0]
    # '' coerces to the per-type default (NullValMap semantics) and is
    # NON-NULL, so it overwrites under lww_collapse_columnwise
    assert r.a == 9 and r.b == 0.0 and r.both == ""


def test_decode_debezium_mongo_dialect(spark):
    """The 4th wire dialect (debeziumsyncmodel.go:106-155): $set patch
    merged with filter key, $v skipped, $-stripped $set keys, _id.$oid
    unwrap (non-oid wrapper keys kept $-stripped), nested -> raw JSON
    string, 'r' dropped, missing members -> undecodable (null data)."""
    import json as _json

    from cds_spark.operators.decode import decode_debezium_mongo

    def env(op, **members):
        p = {"op": op}
        p.update({k: _json.dumps(v) for k, v in members.items()})
        return _json.dumps({"payload": p})

    rows = [
        (env("c", after={"_id": {"$oid": "abc"}, "val": 1.5,
                         "nested": {"a": 1}, "arr": [1, 2]}), 1),
        (env("u", patch={"$v": 1, "$set": {"val": 2.5, "$weird": "w"}},
             filter={"_id": {"$oid": "abc"}}), 2),
        (env("d", filter={"_id": {"$oid": "abc"}}), 3),
        (env("r", after={"_id": "x"}), 4),                     # snapshot: dropped
        (env("u", patch={"$set": {"v": "9"}}), 5),             # no filter: null
        (env("c", after={"_id": 7, "k": {"$numberLong": "5"}}), 6),  # scalar _id
        (env("c", after={"_id": {"$numberLong": "5"}}), 7),    # non-oid _id wrapper
    ]
    df = spark.createDataFrame(rows, "value string, off long")
    out = {r._offset: r for r in decode_debezium_mongo(df, offset_col="off").collect()}
    assert sorted(out) == [1, 2, 3, 5, 6, 7]  # 'r' dropped
    assert out[1].op == "c" and out[1].data == {
        "_id": "abc", "val": "1.5", "nested": '{"a":1}', "arr": "[1,2]"
    }
    assert out[2].op == "u" and out[2].data == {"_id": "abc", "val": "2.5", "weird": "w"}
    assert out[3].op == "d" and out[3].data == {"_id": "abc"}
    assert out[5].data is None  # -> DLQ via events_to_rows
    assert out[5]._raw == rows[4][0]  # the verbatim message, for the DLQ
    assert out[6].data == {"_id": "7", "k": '{"$numberLong":"5"}'}
    assert out[7].data == {"numberLong": "5"}  # reference's $-strip behavior


def _decode_canon(rows):
    return sorted(
        (r["op"], tuple(sorted((r["data"] or {}).items())),
         tuple(sorted(r["exists"] or [])), r["_partition"], r["_offset"])
        for r in rows
    )


def test_arrow_decode_matches_jvm_decode(spark):
    """decode_feed on the generated F2 feed equals a json.loads replay of
    the same envelopes: every whitelisted event kept (duplicate deliveries
    included), data = injected commit + payload keys, exists = data keys.
    (The test name predates the single decoder; the check is decode_feed
    against an independent Python decode.)"""
    import json

    from cds_spark.operators.decode import decode_feed
    from cds_spark.sources.feed import change_feed

    feed = change_feed(spark, 400, n_repos=6, paths_per_repo=9, seed=21)
    got = decode_feed(feed, inject={"commit": "commit"}).collect()
    exp = []
    for r in feed.collect():
        data = {"commit": r["commit"], **json.loads(r["payload"])}
        exp.append({"op": r["op"], "data": data, "exists": list(data),
                    "_partition": r["partition"], "_offset": r["offset"]})
    assert len(exp) > 400  # duplicate deliveries ride along
    assert _decode_canon(got) == _decode_canon(exp)


def test_arrow_decode_parity_on_adversarial_payloads(spark):
    """Non-canonical producers, pinned to the JVM decode's literal output:
    numeric tokens render as Jackson re-serializes them (Java
    Double.toString: '1.50'->'1.5', 12345678.5->'1.23456785E7'; big ints
    keep full digits), nested objects/arrays render as compact JSON,
    booleans/nulls as from_json does, duplicate keys keep the last value,
    malformed or non-object payloads decode to a NULL map, non-whitelisted
    ops drop, and a null partition flows through as null."""
    from cds_spark.operators.decode import decode_feed

    rows = [
        ("c", "a", '{"x": 1.50, "y": "s", "n": null, "b": true}', 0, 1),
        ("u", "b", '{"nested": { "a" : 1.5 , "l": [1, "two", null] }}', 0, 2),
        ("u", "c", '{"big": 12345678901234567890, "neg": -0.0, "e": 1.5e3}', 0, 3),
        ("d", "d", '{"dup": 1, "dup": 2}', 0, 4),
        ("c", "e", "not json at all", 0, 5),
        ("c", "f", '[1,2,3]', 0, 6),
        ("c", "g", '{"k": "v"}', None, 7),  # null partition
        ("c", "h", '{}', 1, 8),
        ("zzz", "i", '{"k":"v"}', 0, 9),  # op not whitelisted -> dropped
        ("u", "j", '{"sci": 12345678.5, "tiny": 0.0001, "exp": 1e20}', 0, 10),
    ]
    df = spark.createDataFrame(
        rows, "op string, commit string, payload string, partition int, offset long"
    )
    got = decode_feed(df, inject={"commit": "commit"}).collect()

    def ev(op, data, part, off):
        return {"op": op, "data": data, "exists": list(data) if data else None,
                "_partition": part, "_offset": off}

    exp = [
        ev("c", {"commit": "a", "x": "1.5", "y": "s", "n": None, "b": "true"}, 0, 1),
        ev("u", {"commit": "b", "nested": '{"a":1.5,"l":[1,"two",null]}'}, 0, 2),
        ev("u", {"commit": "c", "big": "12345678901234567890", "neg": "-0.0",
                 "e": "1500.0"}, 0, 3),
        ev("d", {"commit": "d", "dup": "2"}, 0, 4),
        ev("c", None, 0, 5),
        ev("c", None, 0, 6),
        ev("c", {"commit": "g", "k": "v"}, None, 7),
        ev("c", {"commit": "h"}, 1, 8),
        ev("u", {"commit": "j", "sci": "1.23456785E7", "tiny": "1.0E-4",
                 "exp": "1.0E20"}, 0, 10),
    ]
    assert _decode_canon(got) == _decode_canon(exp)


def test_quadratic_baselines_refuse_large_inputs(spark):
    """The O(n²) exact baselines must refuse above ORACLE_PAIR_CAP rows
    (VERDICT r1: guard the oracle paths so they can't silently become
    production paths); force=True is the explicit escape hatch."""
    import pytest

    from cds_spark.operators import textdedup
    from cds_spark.operators.similarity import near_dup_pairs
    from cds_spark.operators.textdedup import ngram_jaccard_pairs

    big_docs = spark.range(textdedup.ORACLE_PAIR_CAP + 1).select(
        F.col("id").alias("doc_id"), F.lit("hello world text").alias("text")
    )
    with pytest.raises(ValueError, match="O\\(n²\\).*minhash_lsh_pairs"):
        ngram_jaccard_pairs(big_docs)

    big_emb = spark.range(textdedup.ORACLE_PAIR_CAP + 1).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="O\\(n²\\).*lsh_near_dup_pairs"):
        near_dup_pairs(big_emb)

    # force=True builds the plan without tripping the guard (don't execute it)
    assert ngram_jaccard_pairs(big_docs.limit(3), force=True).columns == ["doc_a", "doc_b", "jaccard"]
    assert near_dup_pairs(big_emb.limit(3), force=True).columns == ["vec_a", "vec_b", "cos_sim"]


def test_fused_decode_matches_two_stage(spark):
    """The feed decode (decode_feed + events_to_rows) pinned to literal
    rows and dead letters on adversarial payloads: nested objects,
    duplicate keys, explicit-null / missing / empty pk, malformed JSON,
    non-object JSON, extended-JSON wrapped values, numeric literals,
    non-DML ops, injected commit, an explicit-null cell. A dead letter
    keeps its verbatim wire payload. (The test name predates the single
    decoder.)"""
    from cds_spark.operators.decode import decode_feed, events_to_rows
    from cds_spark.sources.feed import REPO_SCHEMA

    payloads = [
        # (op, payload); event i has offset i + 1, commit i + 1 (12 digits)
        ("c", '{"repo":"r1","path":"p1","lang":"py","content":"x"}'),
        ("u", '{"repo":"r1","path":"p1","content":"y"}'),        # partial
        ("d", '{"repo":"r1","path":"p1"}'),                       # key-only
        ("u", '{"repo":"r2","path":"p2","commit":"inpayload"}'),  # payload commit wins
        ("c", '{"repo":"r3","path":"p3","meta":{"a":1}}'),        # nested object extra key
        ("c", '{"repo":"r4","path":"p4","repo":"r5"}'),           # duplicate key
        ("c", '{"repo":"r6","path":null}'),                       # explicit-null pk -> DLQ
        ("c", '{"repo":"r7"}'),                                   # missing pk -> DLQ
        ("c", '{"repo":"","path":"p"}'),                          # empty pk -> DLQ
        ("c", "not json"),                                        # malformed -> DLQ
        ("c", "[1,2]"),                                           # non-object -> DLQ
        ("TRUNCATE", '{"repo":"r8","path":"p8"}'),                # non-DML dropped
        ("c", '{"repo":{"$oid":"abc123"},"path":"p9","content":{"$numberLong":"42"}}'),
        ("c", '{"repo":"r9","path":"p10","content":1.50}'),      # numeric literal
        ("c", '{"repo":"r10","path":"p11","lang":null}'),         # explicit-null cell
    ]
    feed = spark.createDataFrame(
        [(op, f"{i + 1:012d}", i + 1, 1 if i + 1 in (3, 4) else 0, p)
         for i, (op, p) in enumerate(payloads)],
        "op string, commit string, offset long, partition int, payload string",
    )
    good, dlq = events_to_rows(
        decode_feed(feed, inject={"commit": "commit"}), REPO_SCHEMA, ["repo", "path"])
    assert good.columns == ["repo", "path", "commit", "lang", "content",
                            "_op", "_is_delete", "_partition", "_offset"]
    assert dlq.columns == good.columns + ["_raw"]
    assert dict(dlq.dtypes)["_raw"] == "string"
    by_offset = lambda df: sorted((tuple(r) for r in df.collect()), key=lambda t: t[8])  # noqa: E731
    assert by_offset(good) == [
        ("r1", "p1", "000000000001", "py", "x", "c", False, 0, 1),
        ("r1", "p1", "000000000002", None, "y", "u", False, 0, 2),
        ("r1", "p1", "000000000003", None, None, "d", True, 1, 3),
        ("r2", "p2", "inpayload", None, None, "u", False, 1, 4),
        ("r3", "p3", "000000000005", None, None, "c", False, 0, 5),
        ("r5", "p4", "000000000006", None, None, "c", False, 0, 6),
        ("abc123", "p9", "000000000013", None, "42", "c", False, 0, 13),
        ("r9", "p10", "000000000014", None, "1.5", "c", False, 0, 14),
        # a carried JSON null lands as the type default, an absent key NULL
        ("r10", "p11", "000000000015", "", None, "c", False, 0, 15),
    ]
    # the dead letters carry the failed topic's verbatim message
    assert [(r._offset, r._raw) for r in dlq.orderBy("_offset").collect()] == [
        (i, payloads[i - 1][1]) for i in (7, 8, 9, 10, 11)]


def test_near_dup_clusters_transitive_collapse(spark):
    """a~b and b~c (but a!~c directly) must land in ONE cluster labeled by
    the min doc_id; unrelated docs stay singletons; dedup_keep_list keeps
    exactly one survivor per cluster."""
    from cds_spark.operators.textdedup import dedup_keep_list, near_dup_clusters

    # text chain: neighbors share most shingles, ends differ more
    base = "the quick brown fox jumps over the lazy dog again and again padding "
    docs = spark.createDataFrame(
        [
            (10, base + "alpha beta gamma delta epsilon zeta eta theta"),
            (11, base + "alpha beta gamma delta epsilon zeta eta IOTA!"),
            (12, base + "alpha beta gamma delta epsilon zeta XI IOTA!"),
            (30, "completely different content about spark catalyst plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs).collect()}
    assert out[10] == out[11] == out[12] == 10
    assert out[30] == 30
    keep = sorted(r.doc_id for r in dedup_keep_list(docs).collect())
    assert keep == [10, 30]


def test_connected_components_long_chain_both_algorithms(spark, tmp_path):
    """Adversarial chain graph (0-1-2-...-N): both CC variants must
    converge within the iteration bound — minlabel thanks to pointer
    jumping (O(log diameter)), star by construction (O(log n) rounds).
    The star run exercises RELIABLE checkpointing (sc.setCheckpointDir)."""
    from cds_spark.operators.textdedup import near_dup_clusters

    n = 200  # diameter 200 >> max_iters 25: plain propagation would fail
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(500, 501)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(500,), (501,), (999,)], "doc_id long"
    )
    out_ml = {r.doc_id: r.cluster_id
              for r in near_dup_clusters(nodes, pairs, algorithm="minlabel").collect()}
    assert all(out_ml[i] == 0 for i in range(n))
    assert out_ml[500] == out_ml[501] == 500 and out_ml[999] == 999

    sc = spark.sparkContext
    old_dir = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out_st = {r.doc_id: r.cluster_id
                  for r in near_dup_clusters(nodes, pairs, algorithm="star").collect()}
    finally:
        if old_dir:
            sc.setCheckpointDir(old_dir)
        else:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )
    assert out_st == out_ml  # identical clustering from both variants


def test_chunking_reconstructs_documents(spark):
    """Overlap-stripped chunk concatenation must reproduce every doc."""
    from cds_spark.operators.textstats import (
        CHUNK_CHARS, CHUNK_OVERLAP, chunk_documents)

    docs = _docs(spark)
    stride = CHUNK_CHARS - CHUNK_OVERLAP
    rows = chunk_documents(docs).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk
    originals = {r.doc_id: r.text for r in docs.collect() if len(r.text) > 0}
    assert set(by_doc) == set(originals)
    for doc_id, chunks in by_doc.items():
        parts = [chunks[0]] + [chunks[i][-(len(chunks[i]) - CHUNK_OVERLAP):]
                               if len(chunks[i]) > CHUNK_OVERLAP else ""
                               for i in range(1, len(chunks))]
        # chunk i starts at i*stride: reconstruct = chunk0 + tail of each
        rebuilt = chunks[0]
        for i in range(1, len(chunks)):
            rebuilt = rebuilt[: i * stride] + chunks[i]
        assert rebuilt == originals[doc_id], doc_id


def test_pii_scrub_idempotent_and_complete(spark):
    """Scrubbing scrubbed text is a no-op (tags carry no @/digits), and
    planted PII never survives."""
    from cds_spark.operators.textstats import pii_scrub

    docs = _docs(spark).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" a.b-c_d@mail.example.org 192.168.0.1 +44 20 7946 0958"),
        ).alias("text"),
    )
    once = pii_scrub(docs)
    assert once.filter(
        F.col("clean_text").rlike("@|[0-9]{3}")).count() == 0
    twice = pii_scrub(once.select("doc_id", F.col("clean_text").alias("text")))
    assert twice.filter(
        (F.col("n_emails") > 0) | (F.col("n_ips") > 0) | (F.col("n_phones") > 0)
    ).count() == 0
    joined = once.alias("a").join(twice.alias("b"), "doc_id").filter(
        F.col("a.clean_text") != F.col("b.clean_text"))
    assert joined.count() == 0


def test_split_and_sample_are_deterministic_pure_functions(spark):
    """Holdout split and weighted sample must not depend on partitioning,
    row order, or run count."""
    from cds_spark.operators.textstats import (
        holdout_split, weighted_sample, weighted_sample_rate_expr)

    docs = _docs(spark)
    a = {(r.doc_id): r.split for r in holdout_split(docs).collect()}
    b = {(r.doc_id): r.split
         for r in holdout_split(docs.repartition(13)).collect()}
    assert a == b and set(a.values()) == {"train", "val", "test"}
    s1 = {r.doc_id for r in weighted_sample(docs, weighted_sample_rate_expr()).collect()}
    s2 = {r.doc_id for r in weighted_sample(
        docs.orderBy(F.desc("doc_id")), weighted_sample_rate_expr()).collect()}
    assert s1 == s2 and 0 < len(s1) < docs.count()
    # dict-rate form: 0% drops a source entirely, missing sources keep all
    src = docs.select("source").first()["source"]
    z = weighted_sample(docs, {src: 0})
    assert z.filter(F.col("source") == src).count() == 0
    assert z.count() == docs.filter(F.col("source") != src).count()


def test_asof_join_semantics(spark):
    """Backward match, exact-ts inclusion, no-match NULLs, tolerance cutoff."""
    from cds_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("a", 10.0, 1), ("a", 20.0, 2), ("b", 5.0, 3), ("c", 9.0, 4)],
        "k string, t double, lid int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "lid")
    right = spark.createDataFrame(
        [("a", 10.0, 100), ("a", 15.0, 101), ("b", 6.0, 102)],
        "k string, t double, rid int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rid")

    out = {r["lid"]: r for r in asof_join(left, right, on="k").collect()}
    assert out[1]["rid"] == 100      # equal ts matches
    assert out[2]["rid"] == 101      # latest <= 20 is 15
    assert out[3]["rid"] is None     # right at 6 > left 5: no backward match
    assert out[4]["rid"] is None     # key with no right rows
    # tolerance: the 20s purchase may only look back 4s -> 15s row too old
    out = {r["lid"]: r for r in asof_join(left, right, on="k", tolerance_s=4.0).collect()}
    assert out[2]["rid"] is None and out[1]["rid"] == 100


def test_asof_join_tie_rule(spark):
    """Equal-ts right rows: greatest (right_cols...) tuple wins."""
    from cds_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([("a", 10.0, 1)], "k string, t double, lid int") \
        .select("k", F.timestamp_seconds("t").alias("ts"), "lid")
    right = spark.createDataFrame(
        [("a", 10.0, 7), ("a", 10.0, 9), ("a", 10.0, 8)],
        "k string, t double, rid int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rid")
    rows = asof_join(left, right, on="k").collect()
    assert len(rows) == 1 and rows[0]["rid"] == 9


def test_asof_join_null_timestamps_never_match(spark):
    """DuckDB/pandas ASOF semantics: a NULL right ts matches nothing (it
    must not become a nulls-first carry-forward for every left row), and a
    NULL left ts keeps its row with NULL right columns."""
    from cds_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("a", 10.0, 1), ("a", None, 2)], "k string, t double, lid int"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "lid")
    right = spark.createDataFrame(
        [("a", None, 50), ("a", 5.0, 51)], "k string, t double, rid int"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rid")
    out = {r["lid"]: r for r in asof_join(left, right, on="k").collect()}
    assert len(out) == 2                 # both left rows kept
    assert out[1]["rid"] == 51           # matches the real 5.0 row, not NULL-ts
    assert out[2]["rid"] is None         # NULL left ts: no match
    assert out[2]["ts_r"] is None


def test_sessionize_gap_boundaries(spark):
    from cds_spark.operators.timeseries import sessionize

    df = spark.createDataFrame(
        [("u", 0.0, 1), ("u", 1800.0, 2), ("u", 3600.5, 3), ("v", 9.0, 4)],
        "k string, t double, eid int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "eid")
    s = {r["eid"]: r["session_seq"]
         for r in sessionize(df, key="k", ts="ts", gap_s=1800.0,
                             order_cols=["eid"]).collect()}
    # gap of exactly 1800 does NOT split (> rule); 1800.5 does
    assert s[1] == 1 and s[2] == 1 and s[3] == 2 and s[4] == 1


def test_chunk_documents_rejects_bad_overlap(spark):
    from cds_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_chars=100, overlap=100)
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_chars=10, overlap=-1)


def test_arrow_decoder_matches_jvm_on_nonstandard_json(spark):
    """Jackson (from_json) accepts the non-standard NaN/Infinity tokens and
    re-serializes them as QUOTED strings (Python json would type them
    float); pinned so a decode change cannot silently alter replays."""
    from cds_spark.operators.decode import decode_feed

    feed = spark.createDataFrame(
        [
            ("u", "r", "p", "c1", 0, '{"repo":"r","path":"p","val":NaN}', 0),
            ("u", "r", "q", "c1", 1, '{"repo":"r","path":"q","val":Infinity}', 0),
            ("u", "r", "s", "c1", 2, '{"repo":"r","path":"s","val":1.5}', 0),
        ],
        "op string, repo string, path string, commit string, offset long, payload string, partition int",
    )
    got = decode_feed(feed, inject={"commit": "commit"}).select("_offset", "data").collect()
    assert {r["_offset"]: r["data"] for r in got} == {
        0: {"commit": "c1", "repo": "r", "path": "p", "val": '"NaN"'},
        1: {"commit": "c1", "repo": "r", "path": "q", "val": '"Infinity"'},
        2: {"commit": "c1", "repo": "r", "path": "s", "val": "1.5"},
    }


def test_state_digest_multiplicity_sensitive(spark):
    from cds_spark.functions import state_digest

    a = spark.createDataFrame([("x",), ("x",), ("b",)], "v string")
    b = spark.createDataFrame([("y",), ("y",), ("b",)], "v string")
    c = spark.createDataFrame([("x",), ("b",), ("x",)], "v string")
    empty = spark.createDataFrame([], "v string")
    assert state_digest(a) != state_digest(b)     # xor would have collided
    assert state_digest(a) == state_digest(c)     # order-independent
    assert state_digest(empty) == 0


def test_multiprobe_lsh_recall_on_planted_neighbors(spark):
    """VERDICT r3 #8: Hamming-1 multi-probe must recover >=0.95 of PLANTED
    near neighbors (cos ~0.995 twins — the case ANN retrieval exists for;
    a uniform-random fixture has no true near neighbors, so whole-top-k
    recall there measures noise, not the operator). The probe count is the
    recall lever: single-bucket recall is strictly lower by construction
    (P[0 of 8 sign bits flip] < P[<=1 flips])."""
    import numpy as np

    from cds_spark.operators.similarity import (
        lsh_bucketed_topk,
        lsh_bucketed_topk_multiprobe,
    )

    rng = np.random.default_rng(424242)
    dim, n_corpus, n_q = 64, 180, 20
    corpus = rng.standard_normal((n_corpus, dim))
    # queries = corpus[0..n_q) + tiny noise -> cos ~0.995 planted twins
    noise = rng.standard_normal((n_q, dim)) * 0.07
    queries = corpus[:n_q] + noise
    rows = [(i, [float(x) for x in queries[i]]) for i in range(n_q)] + [
        (n_q + j, [float(x) for x in corpus[j]]) for j in range(n_corpus)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def planted_recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return sum((q, n_q + q) in got for q in range(n_q)) / n_q

    r_single = planted_recall(lsh_bucketed_topk(emb, dim=dim, n_queries=n_q))
    r_multi = planted_recall(
        lsh_bucketed_topk_multiprobe(emb, dim=dim, n_queries=n_q)
    )
    assert r_multi >= 0.95, (r_multi, r_single)
    assert r_multi >= r_single
    # cosines are exact on returned rows
    vecs = {i: np.array(v, dtype="float64") for i, v in rows}
    for r in lsh_bucketed_topk_multiprobe(emb, dim=dim, n_queries=n_q).collect():
        qv, nv = vecs[r.query_id], vecs[r.neighbor_id]
        e = float(np.dot(qv, nv) / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        assert math.isclose(r.cos_sim, round(e, 6), abs_tol=2e-6)


def test_multiprobe_topk_dominates_home_bucket_topk(spark):
    """Multi-probe searches the home bucket plus its Hamming-1 ball, so
    each query's multi-probe top-k dominates the home-bucket top-k: every
    home-bucket answer is returned by multi-probe with the same cosine, or
    ranks below multi-probe's k-th answer (cos desc, neighbor asc). This
    is why the single-bucket variant needs no oracle row of its own."""
    from cds_spark.operators.similarity import (
        TOP_K, lsh_bucketed_topk, lsh_bucketed_topk_multiprobe)

    emb = _emb(spark)
    home = lsh_bucketed_topk(emb).collect()
    multi: dict = {}
    for r in lsh_bucketed_topk_multiprobe(emb).collect():
        multi.setdefault(r.query_id, []).append((-r.cos_sim, r.neighbor_id))
    assert home
    for r in home:
        ranked = sorted(multi[r.query_id])
        key = (-r.cos_sim, r.neighbor_id)
        assert key in ranked or (len(ranked) == TOP_K and ranked[-1] < key), r


def test_decode_canal_batch_same_pk_rows_stay_lww_distinct(spark):
    """Two changes to ONE PK inside one canal batch message must decode to
    DISTINCT _offsets (message offset composed with row position) so the
    LWW winner is the later row, deterministically — not an arbitrary
    same-version tie."""
    from cds_spark.operators.decode import CANAL_BATCH_STRIDE, decode_canal
    from cds_spark.operators.dedup import lww_collapse

    payload = ('{"type":"UPDATE","data":['
               '{"id":"1","v":"first"},{"id":"1","v":"second"}]}')
    df = spark.createDataFrame([(payload, 7)], "value string, off long")
    dec = decode_canal(df, offset_col="off").collect()
    offs = sorted(r["_offset"] for r in dec)
    assert offs == [7 * CANAL_BATCH_STRIDE, 7 * CANAL_BATCH_STRIDE + 1]
    rows = decode_canal(df, offset_col="off").select(
        F.col("data")["id"].alias("id"), F.col("data")["v"].alias("v"),
        "_offset")
    win = lww_collapse(rows, ["id"], ["_offset"]).collect()
    assert len(win) == 1 and win[0]["v"] == "second"


def test_lenient_coercion_never_fails_under_ansi(spark):
    """'NaN'/'Infinity'/overflow strings in numeric/timestamp columns must
    yield the documented fallbacks, not an ANSI cast exception killing
    the batch (Spark 4 runs ANSI by default)."""
    import pyspark.sql.types as T

    from cds_spark.schema import coerce

    df = spark.createDataFrame(
        [("NaN",), ("Infinity",), ("1e30",), ("300",),
         ("99999999999999999",), ("x",)], "s string")
    out = df.select(
        coerce(F.col("s"), T.LongType()).alias("l"),
        coerce(F.col("s"), T.ByteType()).alias("b"),
        coerce(F.col("s"), T.DoubleType()).alias("d"),
        coerce(F.col("s"), T.TimestampType()).alias("t"),
    ).collect()  # must not raise
    by_s = dict(zip(["NaN", "Infinity", "1e30", "300",
                     "99999999999999999", "x"],
                    out))
    assert by_s["NaN"]["l"] == 0 and by_s["Infinity"]["l"] == 0
    assert by_s["1e30"]["l"] == 0          # beyond long: fallback, no throw
    assert by_s["300"]["l"] == 300 and by_s["300"]["b"] == 0  # byte overflow
    assert by_s["x"]["l"] == 0 and by_s["x"]["d"] == 0.0
    # huge epoch-like number: falls back to epoch instead of overflowing
    assert by_s["99999999999999999"]["t"] is not None


def test_quality_scores_empty_doc_and_zero_vector_cosine_never_fail(spark):
    """ANSI divide-by-zero guards: an empty document and an all-zero
    embedding must yield defined results, not kill the job."""
    from cds_spark.functions import cosine
    from cds_spark.operators.textstats import quality_scores

    docs = spark.createDataFrame([(1, ""), (2, "a normal doc here")],
                                 "doc_id long, text string")
    rows = {r.doc_id: r for r in quality_scores(docs).collect()}  # no raise
    assert rows[1].alpha_ratio == 0.0 and rows[1].n_chars == 0

    emb = spark.createDataFrame(
        [(1, [0.0] * 4, [1.0, 0.0, 0.0, 0.0])],
        "id long, za array<float>, b array<float>")
    r = emb.select(cosine("za", "b").alias("c")).collect()[0]  # no raise
    assert r.c is None  # NULL, sorts last / fails thresholds


def test_asof_join_null_keys_never_match(spark):
    """SQL's l.k = r.k is false on NULLs; Window.partitionBy groups them —
    the operator must not let NULL-keyed rows enrich each other."""
    from cds_spark.operators.timeseries import asof_join
    import datetime

    t1 = datetime.datetime(2024, 1, 1)
    t2 = datetime.datetime(2024, 1, 2)
    left = spark.createDataFrame([(None, t2), ("k", t2)],
                                 "k string, ts timestamp")
    right = spark.createDataFrame([(None, t1, "ghost"), ("k", t1, "real")],
                                  "k string, ts timestamp, v string")
    out = {r.k: r for r in asof_join(left, right, on="k").collect()}
    assert out["k"].v == "real"
    assert out[None].v is None, "NULL-keyed right row must not match"


def test_ivf_topk_m1_equals_brute_force_and_sims_exact(spark):
    """IVF sanity: with a single cell (m=1, nprobe=1) every corpus vector is
    a candidate for every query, so IVF-Flat degenerates to brute force
    EXACTLY. And at the default (m=16, nprobe=2) every reported sim must be
    the true cosine for that pair (candidate pruning never alters scores)."""
    import numpy as np

    from cds_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = _emb(spark).limit(400)
    brute = sorted(
        ((r.query_id, r.neighbor_id, r.cos_sim, r.rank)
         for r in brute_force_topk(emb).collect())
    )
    one_cell = sorted(
        ((r.query_id, r.neighbor_id, r.cos_sim, r.rank)
         for r in ivf_topk(emb, m=1, nprobe=1).collect())
    )
    assert one_cell == brute
    rows = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    got = ivf_topk(emb).collect()
    assert len(got) > 0
    for r in got:
        qv, nv = rows[r.query_id], rows[r.neighbor_id]
        exact = float(np.dot(qv, nv) / (np.linalg.norm(qv) * np.linalg.norm(nv)))
        assert math.isclose(r.cos_sim, round(exact, 6), abs_tol=2e-6)


def test_duplicate_spans_planted_passage(spark):
    """A verbatim passage shared by two docs (different surroundings) is
    found by duplicate_spans with token-exact boundaries; a doc with no
    cross-doc duplication yields no spans; per-doc spans are disjoint."""
    from cds_spark.operators.textdedup import duplicate_spans

    passage = " ".join(f"shared{i}" for i in range(20))  # 20 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta"),
            (2, "one two three four " + passage),
            (3, "totally unique tokens " + " ".join(f"u{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    spans = {}
    for r in duplicate_spans(docs, w=16).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert 3 not in spans
    # doc 1: passage occupies token positions [2, 21]; doc 2: [4, 23]
    assert spans[1] == [(2, 21)]
    assert spans[2] == [(4, 23)]
    # disjointness invariant on a corpus with many dup regions
    docs2 = spark.read.parquet(f"{SF}/documents.parquet")
    per_doc = {}
    for r in duplicate_spans(docs2).collect():
        per_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for d, ss in per_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1, f"non-maximal adjacent spans in doc {d}"


def test_winnowed_spans_contained_in_exact_spans(spark):
    """Every winnowed (hash%k-sampled) duplicate span must lie inside some
    exact duplicate span — winnowing drops positions, it can never invent
    duplication; and on a real corpus it still finds most of the dup mass."""
    from cds_spark.operators.textdedup import duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {}
    for r in duplicate_spans(docs).collect():
        exact.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    win = [(r.doc_id, r.span_start, r.span_end)
           for r in duplicate_spans(docs, winnow_k=4).collect()]
    assert win, "winnowed run found nothing — sampling too aggressive"
    for d, s, e in win:
        assert any(s >= s0 and e <= e0 for (s0, e0) in exact.get(d, [])), (
            f"winnowed span ({d},{s},{e}) outside every exact span")
    exact_mass = sum(e - s + 1 for ss in exact.values() for (s, e) in ss)
    win_mass = sum(e - s + 1 for (_, s, e) in win)
    assert win_mass >= 0.3 * exact_mass, (win_mass, exact_mass)
