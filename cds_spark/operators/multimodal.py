"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The container has no image/audio libraries, but three formats parse with
stdlib alone and do so for REAL here: PNG (zlib/struct incl. pixel stats),
WAV (wave incl. amplitude stats), MP4 (ISO/IEC 14496-12 box walk — movie
duration/timescale and track dimensions from the container; FRAME decode
needs a codec and stays the documented environment hook, feat_mean NULL).
Everything Spark-side is real and tested either way: binary columns, typed
metadata struct, Arrow-batched mapInPandas feature extraction (batch shape,
schema, partitioning), and the manifest query surface; `_decode_stub`
remains only as the any-format placeholder pattern.

At 100TB: binaries live in the lake as parquet binary columns (or object
storage refs); decode/feature-extract runs as mapInPandas so each Arrow
batch amortizes Python/JVM transfer; partitioning by media_id hash keeps
batches balanced; never collect binaries to the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("n_frames_sampled", T.IntegerType()),
    ]
)

MEDIA_TYPES = ["image/png", "audio/wav", "video/mp4"]


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media over the documents table: payload = utf-8
    bytes of text; metadata derived from doc_id. Stands in for real blobs
    so the plumbing (binary column through shuffle + Arrow) is exercised."""
    mt = F.element_at(
        F.array(*[F.lit(m) for m in MEDIA_TYPES]), (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(1080)) + 1).cast("int").alias("height"),
            (F.pmod(F.col("doc_id"), F.lit(60000))).cast("long").alias("duration_ms"),
            F.lit("stub").alias("codec"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes, media_type: str) -> dict:
    """STUB decoder. A real deployment would dispatch to PIL/librosa/ffmpeg
    here; those libs are absent in this container, so features are a
    deterministic function of the bytes (keeps tests meaningful)."""
    digest = hashlib.sha256(payload).hexdigest()
    return {
        "n_bytes": len(payload),
        "digest": digest,
        # pseudo-random-in-[0,1] "feature", a pure function of the payload
        # digest so the WHOLE feature row is SQL-expressible and the driver
        # gate can hash-match it (single IEEE divide — bit-identical in
        # Python and DuckDB)
        "feat_mean": int(digest[:8], 16) / 4294967295.0,
        "n_frames_sampled": (len(payload) % 7) + 1,
    }


def synth_media_binary(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media payloads — genuine PNG, WAV and MP4 bytes
    built with stdlib only (zlib/struct/wave), parameters derived from
    doc_id so tests (and the DuckDB oracle) can assert the decoded
    features against the generator's inputs.
    doc_id % 3 == 0 -> PNG (width = doc_id%32+1, height = doc_id%24+1,
    8-bit grayscale, constant pixel doc_id%256); % 3 == 1 -> WAV
    (sample_rate 8000, mono 16-bit, n_frames = doc_id%400+40, constant
    sample value doc_id%1000); % 3 == 2 -> MP4 (ISO BMFF container,
    duration_ms = doc_id%60000+1000, width = doc_id%640+16, height =
    doc_id%360+16). Runs as mapInPandas: payload synthesis is Python-side
    by necessity (byte packing), Arrow-batched, never per-row UDFs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads, types, metas = [], [], []
            for i in ids:
                i = int(i)
                if i % 3 == 0:
                    w, h = i % 32 + 1, i % 24 + 1
                    payloads.append(_png_bytes(w, h, i % 256))
                    types.append("image/png")
                    metas.append({"width": w, "height": h,
                                  "duration_ms": None, "codec": "png"})
                elif i % 3 == 1:
                    nf = i % 400 + 40
                    payloads.append(_wav_bytes(8000, nf, i % 1000))
                    types.append("audio/wav")
                    metas.append({"width": None, "height": None,
                                  "duration_ms": int(nf * 1000 / 8000),
                                  "codec": "pcm_s16le"})
                else:
                    dur, w, h = i % 60000 + 1000, i % 640 + 16, i % 360 + 16
                    payloads.append(_mp4_bytes(dur, w, h))
                    types.append("video/mp4")
                    metas.append({"width": w, "height": h,
                                  "duration_ms": dur, "codec": "mp4"})
            yield pd.DataFrame({
                "media_id": ids.values, "media_type": types,
                "payload": payloads, "meta": metas,
            })

    return docs.select("doc_id").mapInPandas(run, MEDIA_SCHEMA)


def _png_bytes(width: int, height: int, gray: int) -> bytes:
    """Minimal valid 8-bit grayscale PNG, stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, no interlace
    raw = b"".join(b"\x00" + bytes([gray]) * width for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _wav_bytes(sample_rate: int, n_frames: int, value: int) -> bytes:
    """Minimal valid mono 16-bit PCM WAV, stdlib only (wave + struct)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack("<h", value) * n_frames)
    return buf.getvalue()


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(body) + 8) + tag + body


def _mp4_bytes(duration_ms: int, width: int, height: int,
               timescale: int = 1000) -> bytes:
    """Minimal valid ISO BMFF (MP4) container, stdlib only — ftyp + moov
    (mvhd / trak(tkhd + mdia(mdhd))) + empty mdat, version-0 boxes per the
    public ISO/IEC 14496-12 layout. Carries REAL container metadata
    (movie/track duration in the declared timescale, track width/height as
    16.16 fixed point) with no sample data — the shape a metadata pass
    sees before any codec touches frames."""
    import struct

    dur = duration_ms * timescale // 1000
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = _mp4_box(b"mvhd", struct.pack(
        ">I", 0) + struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + b"\x00" * 10
        + struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _mp4_box(b"tkhd", struct.pack(
        ">I", 0x000007) + struct.pack(">IIIII", 0, 0, 1, 0, dur)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16))
    mdhd = _mp4_box(b"mdhd", struct.pack(
        ">I", 0) + struct.pack(">IIII", 0, 0, timescale, dur)
        + struct.pack(">HH", 0x55C4, 0))  # language 'und'
    mdia = _mp4_box(b"mdia", mdhd)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    mdat = _mp4_box(b"mdat", b"")
    return ftyp + moov + mdat


def _mp4_walk(buf: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for the sibling boxes in
    buf[start:end]. ISO/IEC 14496-12 size forms: ``size == 1`` means a
    64-bit largesize follows the type (common for a large ``mdat`` placed
    before ``moov``); ``size == 0`` means the box runs to ``end``. Stops on
    a malformed size rather than looping."""
    import struct

    off = start
    while off + 8 <= end:
        (size,) = struct.unpack(">I", buf[off:off + 4])
        body = off + 8
        if size == 1:
            if off + 16 > end:
                return
            (size,) = struct.unpack(">Q", buf[off + 8:off + 16])
            body = off + 16
        elif size == 0:
            size = end - off
        if size < body - off or off + size > end:
            return
        yield buf[off + 4:off + 8], body, off + size
        off += size


def _mp4_find(buf: bytes, start: int, end: int, tag: bytes):
    for t, a, b in _mp4_walk(buf, start, end):
        if t == tag:
            return a, b
    return None


def decode_real(payload: bytes, media_type: str) -> dict:
    """REAL stdlib decoders for the two formats this sandbox can parse
    without external libraries; anything else (mp4 needs ffmpeg) keeps the
    clearly-marked environment hook.

    - image/png: header + IHDR via struct, pixel stats by zlib-inflating
      the IDAT stream (8-bit grayscale, filter 0 — the synth generator's
      shape; other color types report dimensions only).
    - audio/wav: stdlib ``wave`` — sample rate, frame count, duration,
      mean |amplitude| over the 16-bit PCM frames.
    """
    import struct
    import zlib

    if media_type == "image/png":
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG stream")
        width, height, bit_depth, color_type = struct.unpack(
            ">IIBB", payload[16:26]
        )
        idat = b""
        off = 8
        while off + 8 <= len(payload):
            (ln,) = struct.unpack(">I", payload[off:off + 4])
            tag = payload[off + 4:off + 8]
            if tag == b"IDAT":
                idat += payload[off + 8:off + 8 + ln]
            off += 12 + ln
        feat_mean = None
        if bit_depth == 8 and color_type == 0 and idat:
            raw = zlib.decompress(idat)
            stride = width + 1  # leading filter byte per scanline
            pix = [b for r in range(height)
                   for b in raw[r * stride + 1:(r + 1) * stride]]
            if pix:
                feat_mean = sum(pix) / len(pix) / 255.0
        return {"width": width, "height": height, "bit_depth": bit_depth,
                "feat_mean": feat_mean, "duration_ms": None,
                "sample_rate": None}
    if media_type == "audio/wav":
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            rate, nframes, swidth = (
                w.getframerate(), w.getnframes(), w.getsampwidth()
            )
            frames = w.readframes(nframes)
        feat_mean = None
        if swidth == 2 and nframes:
            vals = struct.unpack(f"<{len(frames) // 2}h", frames)
            feat_mean = sum(abs(v) for v in vals) / len(vals) / 32768.0
        return {"width": None, "height": None, "bit_depth": swidth * 8,
                "feat_mean": feat_mean,
                "duration_ms": int(nframes * 1000 / rate),
                "sample_rate": rate}
    if media_type == "video/mp4":
        # REAL ISO BMFF container parse (public ISO/IEC 14496-12 box
        # layout), stdlib struct only: movie duration/timescale from mvhd,
        # track dimensions from tkhd (16.16 fixed point). This is the
        # honest codec boundary — container METADATA is parseable anywhere;
        # frame decode/sampling needs ffmpeg and stays the environment hook
        # (feat_mean None here, exactly like a non-grayscale PNG).
        moov = _mp4_find(payload, 0, len(payload), b"moov")
        if moov is None:
            raise ValueError("not an MP4/ISO-BMFF stream (no moov box)")
        mvhd = _mp4_find(payload, moov[0], moov[1], b"mvhd")
        if mvhd is None:
            raise ValueError("MP4 moov missing mvhd")
        version = payload[mvhd[0]]
        if version == 0:
            timescale, dur = struct.unpack(
                ">II", payload[mvhd[0] + 12:mvhd[0] + 20])
        else:  # version 1: 64-bit creation/modification/duration
            timescale, = struct.unpack(
                ">I", payload[mvhd[0] + 20:mvhd[0] + 24])
            dur, = struct.unpack(">Q", payload[mvhd[0] + 24:mvhd[0] + 32])
        width = height = None
        trak = _mp4_find(payload, moov[0], moov[1], b"trak")
        if trak is not None:
            tkhd = _mp4_find(payload, trak[0], trak[1], b"tkhd")
            if tkhd is not None:
                w_fixed, h_fixed = struct.unpack(
                    ">II", payload[tkhd[1] - 8:tkhd[1]])
                width, height = w_fixed >> 16, h_fixed >> 16
        return {"width": width, "height": height, "bit_depth": None,
                "feat_mean": None,
                "duration_ms": int(dur * 1000 / timescale) if timescale else None,
                "sample_rate": None}
    raise NotImplementedError(
        f"decode for {media_type!r} requires ffmpeg/PIL, not present in this "
        "environment"
    )


REAL_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
    ]
)


def extract_features_real(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode (PNG/WAV via stdlib) — same mapInPandas
    shape as the stub path; unknown media types surface as NULL features
    rather than failing the batch (DLQ-style leniency)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mt, p in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                try:
                    d = decode_real(bytes(p), mt)
                except Exception:
                    # DLQ-style leniency: decoding arbitrary bytes can
                    # raise wave.Error / struct.error / zlib.error /
                    # EOFError... — a corrupt blob yields NULL features,
                    # never a failed batch
                    d = {"width": None, "height": None, "bit_depth": None,
                         "sample_rate": None, "duration_ms": None,
                         "feat_mean": None}
                rows.append({"media_id": int(mid), "media_type": mt,
                             "n_bytes": len(p), **d})
            yield pd.DataFrame(rows)[
                [f.name for f in REAL_FEATURE_SCHEMA.fields]
            ]

    n = media.sparkSession.sparkContext.defaultParallelism
    balanced = media.repartition(F.pmod(F.xxhash64("media_id"), F.lit(n)))
    return balanced.mapInPandas(run, REAL_FEATURE_SCHEMA)


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).
    This is the pattern for any Python-side media op: iterate pandas
    batches, vectorize inside the batch, never per-row Python UDFs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_stub(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "media_type", pdf["media_type"].values)
            yield out

    # repartition by media hash: balanced Arrow batches regardless of how
    # the source files were laid out; width follows cluster parallelism
    # (never a hardcoded count — 32 would cap a 1000-executor cluster)
    n = media.sparkSession.sparkContext.defaultParallelism
    balanced = media.repartition(F.pmod(F.xxhash64("media_id"), F.lit(n)))
    return balanced.mapInPandas(run, FEATURE_SCHEMA)
