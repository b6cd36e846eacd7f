"""Multimodal columns: binary payloads + typed metadata, Arrow-batched ops.

North-star surface for a training-data pipeline: image/audio/video
travel as opaque ``binary`` columns with a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python
row-at-a-time.

The codec boundary is REAL for images and audio: PNG decode/encode and
WAV PCM parse run on the stdlib (``functions/codecs.py`` — zlib
inflate, scanline-filter reconstruction, ``wave`` frames). Video has
no public stdlib codec, so that path keeps the clearly-marked
deterministic digest stub (``_*_stub`` below); a deployment swaps in
ffmpeg and nothing Spark-side changes.

The synthetic media table writes genuine PNG/WAV payloads whose pixel
and sample patterns have closed-form statistics derivable from
``doc_id`` alone — so the decode queries are checked against a DuckDB
oracle that PREDICTS the stats relationally while Spark must actually
decode the bytes to reproduce them. A broken encoder, inflater, or
filter reconstruction shows up as a hash mismatch, not a silently
matching stub.

Scale notes: media blobs dominate row size, so ops here avoid shuffles
entirely — every stage is a narrow ``mapInPandas`` over the existing
partitioning; frame sampling explodes *after* decode so the wide rows
never shuffle. ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
Arrow batch memory for large blobs.

Reference parity: the reference engine has no media plane (it ships
rows to a warehouse; pkg/sinks/*); this module is part of the
beyond-reference training-data surface the brief mandates.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.functions import codecs
from pgsink_spark.operators.registry import query

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), False),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)

# Synthetic-content closed forms (shared by generator, tests, oracles):
#   image (doc_id % 3 == 0): 32×(16+id%16) 8-bit gray PNG,
#       pixel(x, y) = (id % 160) + x + y   (max 220, never wraps)
#       → mean = id%160 + 15.5 + (H-1)/2, n_px = 32·H
#   audio (doc_id % 3 == 1): 16-bit mono WAV @ 16 kHz, square wave
#       ±amp, amp = 100 + (id % 300)·100, n = 1600 + (id % 10)·160
#       → RMS = amp exactly (every sample² = amp²)
#   video (doc_id % 3 == 2): digest-chain stub bytes (no stdlib codec)
IMG_W = 32
SAMPLE_RATE = 16000


def _png_for(doc_id: int) -> tuple[bytes, int, int]:
    h = 16 + doc_id % 16
    base = doc_id % 160
    y, x = np.mgrid[0:h, 0:IMG_W]
    px = (base + x + y).astype(np.uint8)
    return codecs.encode_png(px), IMG_W, h


def _wav_for(doc_id: int) -> tuple[bytes, int, int]:
    amp = 100 + (doc_id % 300) * 100
    n = 1600 + (doc_id % 10) * 160
    s = np.where(np.arange(n) % 2 == 0, amp, -amp).astype(np.int16)
    return codecs.encode_wav(s, SAMPLE_RATE), amp, n


# PFV ("PNG-frame video") container: the documented stand-in for a real
# video codec — `PFV1` magic, u32 frame count, then length-prefixed REAL
# PNG frames. The container is ours (no stdlib video codec exists), but
# every extracted frame decodes with the real PNG path, so the frame-
# sampling pipeline is exercised end-to-end on genuine image bytes.
_PFV_MAGIC = b"PFV1"


def encode_pfv(frames: list[bytes]) -> bytes:
    import struct as _struct

    out = [_PFV_MAGIC, _struct.pack(">I", len(frames))]
    for f in frames:
        out.append(_struct.pack(">I", len(f)))
        out.append(f)
    return b"".join(out)


def pfv_frame(content: bytes, idx: int) -> bytes | None:
    """Frame ``idx``'s PNG bytes, or None when not a PFV container."""
    import struct as _struct

    if not content.startswith(_PFV_MAGIC):
        return None
    (n,) = _struct.unpack_from(">I", content, 4)
    if not (0 <= idx < n):
        raise IndexError(f"frame {idx} of {n}")
    pos = 8
    for i in range(n):
        (ln,) = _struct.unpack_from(">I", content, pos)
        pos += 4
        if i == idx:
            return content[pos : pos + ln]
        pos += ln
    raise AssertionError("unreachable")


def _pfv_for(doc_id: int) -> tuple[bytes, int]:
    n = doc_id % 7 + 2
    return encode_pfv([_png_for(doc_id * 31 + k)[0] for k in range(n)]), n


_KIND_MOD = {"image": 0, "audio": 1, "video": 2}


def synthesize_media(
    spark: SparkSession,
    sf_dir: str,
    kinds: tuple[str, ...] | None = None,
) -> DataFrame:
    """Deterministic media table derived from ``documents``: REAL PNG
    and WAV payloads (closed-form content, see module header) plus
    digest-stub video bytes. Stands in for a binary-column ingest.

    ``kinds`` prunes synthesis to the named media types (the kind is a
    pure function of doc_id: ``doc_id % 3`` → image/audio/video), so a
    single-type consumer never pays to ENCODE the other two types'
    blobs only to filter them out — the video rows alone cost 2–8 PNG
    encodes each. Rows emitted for a kind are bit-identical with or
    without the pre-filter; consumers keep their own media_type
    filter, which the pre-filter merely makes a no-op."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if kinds is not None:
        mods = sorted(_KIND_MOD[k] for k in kinds)
        docs = docs.where((F.col("doc_id") % 3).isin(mods))

    def _meta(fmt, w=None, h=None, dur=None, rate=None, frames=None):
        return {
            "format": fmt, "width": w, "height": h,
            "duration_ms": dur, "sample_rate": rate, "n_frames": frames,
        }

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                kind = doc_id % 3
                if kind == 0:
                    content, w, h = _png_for(doc_id)
                    rows.append(
                        (doc_id, "image", content, _meta("png", w=w, h=h))
                    )
                elif kind == 1:
                    content, _amp, n = _wav_for(doc_id)
                    rows.append(
                        (doc_id, "audio", content,
                         _meta("wav", dur=n * 1000 // SAMPLE_RATE,
                               rate=SAMPLE_RATE))
                    )
                else:
                    content, n_frames = _pfv_for(doc_id)
                    rows.append(
                        (doc_id, "video", content,
                         _meta("pfv", dur=doc_id % 60000,
                               frames=n_frames))
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content", "metadata"]
            )

    return docs.mapInPandas(batches, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# STUB CODEC BOUNDARY — the video path only (no stdlib video codec).
# Swap for ffmpeg in a real deployment; the Spark plumbing
# (signatures, schemas, batching) is identical.

def _decode_bytes_stub(content: bytes) -> dict:
    """Deterministic fake decode: digest-derived statistics."""
    d = hashlib.md5(content).digest()
    return {"mean_px": sum(d) / len(d), "checksum": d.hex()[:16]}


def _frame_bytes_stub(content: bytes, idx: int) -> bytes:
    """Deterministic fake frame extraction."""
    return hashlib.md5(content + f":frame{idx}".encode()).digest()


# ---------------------------------------------------------------------------
# Decode: real PNG/WAV parse, stub fallback

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("fmt", T.StringType(), False),  # png|wav|stub
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("checksum", T.StringType(), True),
    ]
)


def _decode_one(content: bytes) -> dict:
    content = bytes(content)
    if codecs.is_png(content):
        try:
            px = codecs.decode_png(content)
        except codecs.UnsupportedImage:
            return {"fmt": "stub", **_decode_bytes_stub(content)}
        h, w = px.shape[:2]
        return {
            "fmt": "png",
            "width": w,
            "height": h,
            "n_px": int(w) * int(h),
            "mean_px": float(px.sum()) / px.size,
            "checksum": hashlib.md5(px.tobytes()).hexdigest()[:16],
        }
    if codecs.is_wav(content):
        s, rate = codecs.decode_wav(content)
        flat = s.reshape(-1).astype(np.float64)
        n = s.shape[0]
        return {
            "fmt": "wav",
            "n_samples": int(n),
            "sample_rate": int(rate),
            "rms": float(np.sqrt(np.mean(flat * flat))) if n else 0.0,
            "checksum": hashlib.md5(s.tobytes()).hexdigest()[:16],
        }
    return {"fmt": "stub", **_decode_bytes_stub(content)}


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: binary → per-item pixel/sample statistics.
    PNG and WAV are REALLY decoded (inflate + unfilter / PCM parse);
    anything else takes the digest stub path with ``fmt='stub'``."""

    cols = [f.name for f in DECODED_SCHEMA.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, mt, content in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"]
            ):
                d = {c: None for c in cols}
                d["media_id"] = int(mid)
                d["media_type"] = mt
                d.update(_decode_one(content))
                out.append(tuple(d[c] for c in cols))
            yield pd.DataFrame(out, columns=cols)

    flat = media.select("media_id", "media_type", "content")
    return flat.mapInPandas(batches, DECODED_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize pass for image rows (REAL nearest-neighbor resample:
    decode PNG → resample grid → re-encode); other media pass through
    untouched. Non-PNG image bytes fall back to a digest stub so the
    pass is total."""

    def _resize_one(content: bytes, w: int, h: int) -> bytes:
        content = bytes(content)
        if codecs.is_png(content):
            try:
                px = codecs.decode_png(content)
                return codecs.encode_png(codecs.resize_nearest(px, w, h))
            except codecs.UnsupportedImage:
                pass
        return hashlib.md5(content + f":{w}x{h}".encode()).digest()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            is_img = pdf["media_type"] == "image"
            out = pdf[["media_id", "media_type"]].copy()
            out["content"] = [
                _resize_one(c, width, height) if img else c
                for c, img in zip(pdf["content"], is_img)
            ]
            out["width"] = [width if img else None for img in is_img]
            out["height"] = [height if img else None for img in is_img]
            yield out

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("content", T.BinaryType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
        ]
    )
    return media.select("media_id", "media_type", "content").mapInPandas(
        batches, schema
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    The frame *indices* are computed relationally (sequence + explode —
    cheap, JVM-side); only the per-frame byte extraction crosses the
    codec boundary, Arrow-batched. PFV containers yield their REAL PNG
    frame bytes; unknown containers fall back to the digest stub."""
    vids = media.where(F.col("media_type") == "video").select(
        "media_id",
        "content",
        F.explode(
            F.sequence(
                F.lit(0),
                F.col("metadata.n_frames") - 1,
                F.lit(every_n),
            )
        ).alias("frame_idx"),
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "frame": [
                        pfv_frame(c, i)
                        if c.startswith(_PFV_MAGIC)
                        else _frame_bytes_stub(c, i)
                        for c, i in zip(pdf["content"], pdf["frame_idx"])
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame", T.BinaryType(), False),
        ]
    )
    return vids.mapInPandas(batches, schema)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Binary → embedding ``array<double>``: REAL content features per
    modality — normalized gray-histogram for PNGs, per-segment RMS
    profile for WAVs — digest features for stub payloads. Output feeds
    the similarity operators (operators/similarity.py) unchanged; the
    contract is just (id, embedding array)."""

    def _feat_one(content: bytes) -> list[float]:
        content = bytes(content)
        if codecs.is_png(content):
            try:
                px = codecs.decode_png(content)
                hist, _ = np.histogram(px, bins=dim, range=(0, 256))
                tot = float(hist.sum()) or 1.0
                return [v / tot for v in hist]
            except codecs.UnsupportedImage:
                pass
        elif codecs.is_wav(content):
            s, _rate = codecs.decode_wav(content)
            flat = s.reshape(-1).astype(np.float64)
            segs = np.array_split(flat, dim)
            out = [
                float(np.sqrt(np.mean(seg * seg))) if len(seg) else 0.0
                for seg in segs
            ]
            peak = max(out) or 1.0
            return [v / peak for v in out]
        d = hashlib.md5(content).digest()
        return [b / 255.0 for b in d[:dim]]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "embedding": [_feat_one(c) for c in pdf["content"]],
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return media.select("media_id", "content").mapInPandas(batches, schema)


AUDIO_WINDOW_MS = 25

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("win_idx", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), False),
    ]
)


def audio_windows(media: DataFrame, window_ms: int = AUDIO_WINDOW_MS) -> DataFrame:
    """Audio path: REAL per-window RMS over fixed-length PCM analysis
    windows (the last window may be partial). Non-WAV audio bytes take
    a digest stub so the pass is total.

    Plumbing pinned by tests: the blob never shuffles (narrow
    mapInPandas over audio rows only — media_type filter prunes before
    Python), and the output explodes Python-side inside the Arrow
    batch so one input row → N window rows without a JVM explode of
    binary columns.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, winds, rmss = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content)
                if codecs.is_wav(content):
                    s, rate = codecs.decode_wav(content)
                    flat = s.reshape(-1).astype(np.float64)
                    spw = max(1, rate * window_ms // 1000)
                    n_win = max(1, -(-len(flat) // spw))
                    for w in range(n_win):
                        seg = flat[w * spw : (w + 1) * spw]
                        rms = float(np.sqrt(np.mean(seg * seg))) if len(seg) else 0.0
                        ids.append(mid)
                        winds.append(w)
                        rmss.append(rms)
                else:
                    digest = hashlib.md5(content).digest()
                    ids.append(mid)
                    winds.append(0)
                    rmss.append(int.from_bytes(digest[:8], "big") / 2**64)
            yield pd.DataFrame(
                {"media_id": ids, "win_idx": winds, "rms": rmss}
            )

    auds = media.where(F.col("media_type") == "audio").select(
        "media_id", "content"
    )
    return auds.mapInPandas(batches, AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# queries() wrappers (driver contract). Image/audio decode stats have
# closed-form DuckDB oracles (the oracle PREDICTS the stats from
# doc_id; Spark must actually decode the bytes to match). Video/stub
# and featurizer queries stay rows-only (digest math / float topk).


@query(
    "mm_decode_stats",
    f"""
    SELECT doc_id AS media_id,
           'png' AS fmt,
           CAST({IMG_W} AS INTEGER) AS width,
           CAST(16 + doc_id % 16 AS INTEGER) AS height,
           CAST({IMG_W} * (16 + doc_id % 16) AS BIGINT) AS n_px,
           CAST(doc_id % 160 AS DOUBLE) + {(IMG_W - 1) / 2}
             + (16 + doc_id % 16 - 1) / 2.0 AS mean_px
    FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id
    """,
)
def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the synthetic PNGs for real (inflate + unfilter) and
    surface per-image statistics; the oracle derives the same numbers
    from the closed-form pixel pattern without touching any bytes."""
    return (
        decode_media(
            synthesize_media(spark, sf_dir, kinds=("image",)).where(
                F.col("media_type") == "image"
            )
        )
        .select("media_id", "fmt", "width", "height", "n_px", "mean_px")
        .orderBy("media_id")
    )


@query(
    "mm_audio_stats",
    """
    SELECT doc_id AS media_id,
           'wav' AS fmt,
           CAST(1600 + (doc_id % 10) * 160 AS BIGINT) AS n_samples,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(100 + (doc_id % 300) * 100 AS DOUBLE) AS rms
    FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id
    """,
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the synthetic WAVs' PCM frames for real; a ±amp square
    wave has RMS exactly amp, which the oracle predicts from doc_id."""
    return (
        decode_media(
            synthesize_media(spark, sf_dir, kinds=("audio",)).where(
                F.col("media_type") == "audio"
            )
        )
        .select("media_id", "fmt", "n_samples", "sample_rate", "rms")
        .orderBy("media_id")
    )


@query(
    "mm_audio_windows",
    f"""
    WITH a AS (
      SELECT doc_id,
             100 + (doc_id % 300) * 100 AS amp,
             1600 + (doc_id % 10) * 160 AS n_samples
      FROM documents WHERE doc_id % 3 = 1),
    w AS (
      SELECT doc_id, amp,
             (n_samples + {SAMPLE_RATE * AUDIO_WINDOW_MS // 1000} - 1)
               // {SAMPLE_RATE * AUDIO_WINDOW_MS // 1000} AS n_win
      FROM a)
    SELECT doc_id AS media_id,
           CAST(i.i AS INTEGER) AS win_idx,
           CAST(amp AS DOUBLE) AS rms
    FROM w, LATERAL (
      SELECT unnest(generate_series(0, CAST(n_win AS BIGINT) - 1)) AS i) i
    ORDER BY media_id, win_idx
    """,
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio analysis over real PCM (every 25 ms window of a
    ±amp square wave — full or partial — has RMS exactly amp, so the
    oracle enumerates windows and amplitudes relationally)."""
    return (
        audio_windows(synthesize_media(spark, sf_dir, kinds=("audio",)))
        .orderBy("media_id", "win_idx")
    )


@query(
    "mm_frame_sample",
    """
    WITH v AS (
      SELECT doc_id, doc_id % 7 + 2 AS n_frames FROM documents
      WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT v.doc_id, t.k
      FROM v, unnest(range(0, CAST(v.n_frames AS BIGINT), 2)) AS t(k)
    )
    SELECT doc_id AS media_id,
           CAST(k AS INTEGER) AS frame_idx,
           CAST(16 + (doc_id * 31 + k) % 16 AS INTEGER) AS frame_h,
           CAST((doc_id * 31 + k) % 160 AS INTEGER) AS frame_px0
    FROM f ORDER BY media_id, frame_idx
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sample of the video rows, each sampled frame
    decoded with the REAL PNG path and reduced to (height, first
    pixel). Oracle-checked: the synthesis closed form predicts both
    the sampled index set (stride-2 over n_frames = doc_id%7+2) and
    each frame's decoded stats, so a hash match proves the stride
    arithmetic, the PFV container walk, and the per-frame decode.

    Plan: indices explode relationally (JVM sequence/explode); the
    blob column never shuffles — extraction + decode run where the
    video row lives and only (id, idx, h, px0) rows move."""
    frames = sample_frames(
        synthesize_media(spark, sf_dir, kinds=("video",)), every_n=2
    )

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs, p0 = [], []
            for b in pdf["frame"]:
                px = codecs.decode_png(bytes(b)).reshape(-1, IMG_W)
                hs.append(px.shape[0])
                p0.append(int(px[0, 0]))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "frame_h": hs,
                    "frame_px0": p0,
                }
            )

    return (
        frames.mapInPandas(
            stats, "media_id long, frame_idx int, frame_h int, frame_px0 int"
        )
        .orderBy("media_id", "frame_idx")
    )


def mm_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurize media blobs (real histogram/RMS features) and run
    exact cosine top-5 for one probe — the multimodal → similarity
    interop path. Float top-k ties → rows-only check."""
    from pgsink_spark.operators.similarity import brute_force_topk

    feats = extract_features(synthesize_media(spark, sf_dir), dim=16)
    emb = feats.select(
        F.col("media_id").alias("vec_id"), F.col("embedding")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_topk(emb, q, k=5).orderBy("q_id", "rnk")


@query(
    "mm_embedding_recall",
    "SELECT CAST(0 AS BIGINT) AS q_id, TRUE AS recall_ok",
)
def mm_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for the multimodal→similarity interop: the
    same media-feature top-5 computed by TWO independent kernels —
    the JVM ``zip_with``/``aggregate`` fold (brute_force_topk) and the
    Arrow-batched NumPy scorer (cosine_topk_pandas) — must agree on
    ≥4/5 of the neighbor SET (a boundary tie may legally swap the
    5th member between kernels; everything is deterministic, so the
    boolean cannot flap). The oracle predicts TRUE; a broken featurizer,
    fold, or Arrow scorer flips it and the hash goes red — replacing
    the old rows-only shrug for this slot."""
    from pgsink_spark.operators.similarity import brute_force_topk

    feats = extract_features(synthesize_media(spark, sf_dir), dim=16)
    emb = feats.select(
        F.col("media_id").alias("vec_id"), F.col("embedding")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    jvm_top = brute_force_topk(emb, q, k=5).select("vec_id")

    from pgsink_spark.operators.similarity import cosine_topk_pandas

    q_vec = [
        float(x)
        for x in q.select("q_emb").head()["q_emb"]  # 1-row control read
    ]
    np_top = (
        cosine_topk_pandas(
            emb.where(F.col("vec_id") != 0), q_vec, k=5
        ).select("vec_id")
    )
    n_hit = jvm_top.join(np_top, on="vec_id", how="left_semi").count()
    return spark.createDataFrame(
        [(0, n_hit >= 4)], "q_id long, recall_ok boolean"
    )


@query(
    "mm_frame_stats",
    """
    WITH v AS (
      SELECT doc_id, doc_id % 7 + 2 AS n_frames FROM documents
      WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT v.doc_id, t.k,
             16 + (v.doc_id * 31 + t.k) % 16 AS h,
             (v.doc_id * 31 + t.k) % 160 AS px0
      FROM v, unnest(range(v.n_frames)) AS t(k)
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(h) AS BIGINT) AS sum_heights,
           CAST(sum(px0) AS BIGINT) AS sum_px0
    FROM f GROUP BY doc_id ORDER BY media_id
    """,
)
def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO plane, oracle-checked: sample EVERY frame from the PFV
    containers, decode each frame with the REAL PNG path (inflate +
    unfilter), and aggregate per-video frame statistics. The oracle
    derives the identical numbers from the closed-form synthesis
    without touching any bytes — so a hash match proves the container
    walk, the per-frame PNG decode, and the aggregation end to end.

    Plan: frame indices explode relationally; the only Python is the
    Arrow-batched frame-extract + decode kernel; stats fold with one
    media_id-keyed aggregation. Frames never shuffle — the decode
    happens where the blob row lives and only (id, h, px0) rows move.
    """
    media = synthesize_media(spark, sf_dir, kinds=("video",))
    frames = sample_frames(media, every_n=1)

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hs, p0 = [], []
            for b in pdf["frame"]:
                px = codecs.decode_png(bytes(b)).reshape(-1, IMG_W)
                hs.append(px.shape[0])
                p0.append(int(px[0, 0]))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "h": hs, "px0": p0}
            )

    per_frame = frames.mapInPandas(
        stats, "media_id long, h long, px0 long"
    )
    return (
        per_frame.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("h").alias("sum_heights"),
            F.sum("px0").alias("sum_px0"),
        )
        .orderBy("media_id")
    )


KEYFRAME_DELTA = 8.0  # mean-brightness jump that defines a scene cut


@query(
    "mm_keyframes",
    f"""
    WITH v AS (
      SELECT doc_id, doc_id % 7 + 2 AS n_frames FROM documents
      WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT v.doc_id, t.k,
             ((v.doc_id * 31 + t.k) % 160)
               + {(IMG_W - 1) / 2}
               + (16 + (v.doc_id * 31 + t.k) % 16 - 1) / 2.0 AS mean_px
      FROM v, unnest(range(v.n_frames)) AS t(k)
    ),
    d AS (
      SELECT doc_id, k, mean_px,
             LAG(mean_px) OVER (PARTITION BY doc_id ORDER BY k) AS prev
      FROM f
    )
    SELECT doc_id AS media_id, CAST(k AS INTEGER) AS frame_idx, mean_px
    FROM d
    WHERE prev IS NULL OR ABS(mean_px - prev) >= {KEYFRAME_DELTA}
    ORDER BY media_id, frame_idx
    """,
)
def mm_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe (scene-cut) selection over the video plane: decode
    EVERY frame with the real PNG path, compute its mean brightness,
    and keep frame 0 plus every frame whose mean jumps ≥ 8 levels from
    its predecessor — the standard frame-difference shot detector,
    downstream of which a captioning/embedding stage would run only on
    keyframes.

    Oracle-checked end to end: the synthesis closed form predicts each
    frame's exact mean (the per-frame division is exact in binary —
    the same argument mm_decode_stats relies on), so the DuckDB oracle
    reproduces the selection relationally while Spark must actually
    inflate and unfilter every frame.

    Plan: blob-local decode (mapInPandas where the video row lives),
    then one media_id-keyed window for the lag — the only shuffle
    carries (id, idx, mean) triples, never pixels.
    """
    frames = sample_frames(
        synthesize_media(spark, sf_dir, kinds=("video",)), every_n=1
    )

    def means(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ms = []
            for b in pdf["frame"]:
                px = codecs.decode_png(bytes(b))
                ms.append(float(px.sum()) / px.size)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "mean_px": ms,
                }
            )

    from pyspark.sql import Window as W

    per_frame = frames.mapInPandas(
        means, "media_id long, frame_idx int, mean_px double"
    )
    w = W.partitionBy("media_id").orderBy("frame_idx")
    d = per_frame.withColumn("prev", F.lag("mean_px").over(w))
    return (
        d.where(
            F.col("prev").isNull()
            | (F.abs(F.col("mean_px") - F.col("prev")) >= KEYFRAME_DELTA)
        )
        .select("media_id", "frame_idx", "mean_px")
        .orderBy("media_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup — the multimodal member of the dedup
# family (text dedup lives in operators/dedup.py; this is the image
# twin a training-data pipeline runs before captioning/embedding).

PHASH_BITS = 64
PHASH_BAND_BITS = 16
PHASH_BANDS = PHASH_BITS // PHASH_BAND_BITS  # 4
PHASH_THRESHOLD = 2  # pairs with Hamming distance <= 2 are near-dups


def synthesize_phash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8×8 image-pair table for the perceptual-hash
    pipeline: per document, a base image whose 64 pixels ARE the bits
    of ``md5(doc_id)``'s first 8 bytes (pixel ``i`` = 255 iff bit ``i``
    set), plus a near-duplicate variant with ``doc_id % 5`` pixels
    flipped at closed-form positions ``(doc_id·17 + 29k) mod 64``
    (distinct by construction). Both are REAL PNG payloads — the hash
    query must inflate and unfilter them to recover the bits, while the
    DuckDB oracle reproduces the same 64-bit patterns relationally from
    ``md5`` alone."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                hv = int(
                    hashlib.md5(str(doc_id).encode()).hexdigest()[:16], 16
                )
                px = np.zeros(PHASH_BITS, dtype=np.uint8)
                for i in range(PHASH_BITS):
                    if (hv >> i) & 1:
                        px[i] = 255
                base = px.reshape(8, 8)
                var = base.copy()
                for k in range(doc_id % 5):
                    pos = (doc_id * 17 + 29 * k) % PHASH_BITS
                    var.flat[pos] ^= 255
                rows.append((doc_id * 2, codecs.encode_png(base)))
                rows.append((doc_id * 2 + 1, codecs.encode_png(var)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return docs.mapInPandas(gen, "media_id long, content binary")


def phash_bands(media: DataFrame) -> DataFrame:
    """(media_id, b0..b3) — 64-bit perceptual hash as 4×16-bit bands.

    Real decode: inflate + unfilter each PNG, threshold at mid-gray
    (pixel > 127 → bit set; fixed threshold so the hash is a pure
    function of the pixels), fold row-major pixel ``i`` into bit ``i``.
    Band ``k`` is bits [16k, 16k+16) — the LSH bucketing unit.
    Blob-local (mapInPandas where the image row lives); only the 4
    small ints ever shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(PHASH_BAND_BITS)
        for pdf in it:
            bands = []
            for content in pdf["content"]:
                bits = (
                    codecs.decode_png(bytes(content)).reshape(-1) > 127
                ).astype(np.int64)
                bands.append(
                    [
                        int(
                            bits[
                                k * PHASH_BAND_BITS : (k + 1) * PHASH_BAND_BITS
                            ]
                            @ weights
                        )
                        for k in range(PHASH_BANDS)
                    ]
                )
            out = pd.DataFrame(
                bands, columns=[f"b{k}" for k in range(PHASH_BANDS)]
            )
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(
        batches, "media_id long, b0 int, b1 int, b2 int, b3 int"
    )


@query(
    "mm_phash_neardup",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT
               AS hv
      FROM documents
    ),
    bands AS (
      SELECT doc_id,
             CAST((hv >> 0)  & 65535 AS INTEGER) AS b0,
             CAST((hv >> 16) & 65535 AS INTEGER) AS b1,
             CAST((hv >> 32) & 65535 AS INTEGER) AS b2,
             CAST((hv >> 48) & 65535 AS INTEGER) AS b3
      FROM h
    ),
    m AS (
      SELECT d.doc_id,
             CAST(COALESCE(SUM(CASE WHEN p.pos // 16 = 0
               THEN (1 << (p.pos % 16)) ELSE 0 END), 0) AS INTEGER) AS m0,
             CAST(COALESCE(SUM(CASE WHEN p.pos // 16 = 1
               THEN (1 << (p.pos % 16)) ELSE 0 END), 0) AS INTEGER) AS m1,
             CAST(COALESCE(SUM(CASE WHEN p.pos // 16 = 2
               THEN (1 << (p.pos % 16)) ELSE 0 END), 0) AS INTEGER) AS m2,
             CAST(COALESCE(SUM(CASE WHEN p.pos // 16 = 3
               THEN (1 << (p.pos % 16)) ELSE 0 END), 0) AS INTEGER) AS m3
      FROM documents d
      LEFT JOIN LATERAL (
        SELECT CAST((d.doc_id * 17 + 29 * t.k) % 64 AS INTEGER) AS pos
        FROM unnest(range(d.doc_id % 5)) AS t(k)
      ) p ON TRUE
      GROUP BY d.doc_id
    ),
    media AS (
      SELECT doc_id * 2 AS media_id, b0, b1, b2, b3 FROM bands
      UNION ALL
      SELECT b.doc_id * 2 + 1, xor(b.b0, m.m0), xor(b.b1, m.m1),
             xor(b.b2, m.m2), xor(b.b3, m.m3)
      FROM bands b JOIN m USING (doc_id)
    ),
    pairs AS (
      SELECT a.media_id AS media_a, b.media_id AS media_b,
             bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
             + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
               AS hamming
      FROM media a JOIN media b ON a.media_id < b.media_id
    )
    SELECT media_a, media_b, CAST(hamming AS INTEGER) AS hamming
    FROM pairs WHERE hamming <= 2 ORDER BY media_a, media_b
    """,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: decode every PNG
    (real inflate + unfilter), fold pixels into a 64-bit hash, and
    report pairs with Hamming distance ≤ 2 — the image-dedup stage a
    multimodal training pipeline runs before the expensive caption /
    embed steps.

    Candidate generation is a LOSSLESS banded LSH self-join: the hash
    splits into 4×16-bit bands and ≤ 2 flipped bits can touch at most
    2 bands, so every qualifying pair shares ≥ 2 intact bands
    (pigeonhole: bands > threshold) and is found by an exact-match
    join on (band_idx, band_value) — never an all-pairs product. Band
    values are hash-uniform over 2^16, so bucket sizes are n/65536 per
    band at any corpus size (the hot-shingle problem text dedup has to
    cap away, dedup.py:212, cannot occur here by construction).
    Candidates are exact-verified with xor + bit_count on the 4 bands
    — JVM-side, codegen'd. The only Python is the Arrow-batched
    decode-and-hash kernel, local to the blob row; pixels never
    shuffle, only (media_id, 4 small ints).

    The DuckDB oracle derives the identical 64-bit patterns
    relationally from ``md5(doc_id)`` and the closed-form flip
    positions (verify: tools — prototype cross-checked against an
    independent Python model), so a broken encoder, inflater, band
    split, or join shows up as a hash mismatch.

    Reference parity: the reference engine has no media plane; this is
    the beyond-reference multimodal-dedup surface the brief mandates.
    """
    media = synthesize_phash_images(spark, sf_dir)
    # referenced by the band explode AND both verify branches; persist
    # so decode-and-hash runs once per blob
    hashed = phash_bands(media).persist()

    band_cols = [f"b{k}" for k in range(PHASH_BANDS)]
    bands = hashed.select(
        "media_id",
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band_idx", "band_val"
        ),
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            on=[
                F.col("x.band_idx") == F.col("y.band_idx"),
                F.col("x.band_val") == F.col("y.band_val"),
                F.col("x.media_id") < F.col("y.media_id"),
            ],
        )
        .select(
            F.col("x.media_id").alias("media_a"),
            F.col("y.media_id").alias("media_b"),
        )
        .distinct()
    )
    ha = hashed.select(
        F.col("media_id").alias("media_a"),
        *[F.col(c).alias(f"a_{c}") for c in band_cols],
    )
    hb = hashed.select(
        F.col("media_id").alias("media_b"),
        *[F.col(c).alias(f"b_{c}") for c in band_cols],
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")).cast("long")
        )
        for c in band_cols
    )
    pre = (
        cand.join(ha, "media_a")
        .join(hb, "media_b")
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= PHASH_THRESHOLD)
        .select("media_a", "media_b", "hamming")
        .orderBy("media_a", "media_b")
    )
    out = pre.localCheckpoint(eager=True)
    hashed.unpersist()
    out._plan_audit_df = pre
    return out


def _phash_clusters_oracle() -> str:
    from pgsink_spark.operators.registry import ORACLES as _O

    neardup = _O["mm_phash_neardup"]
    return f"""
    WITH RECURSIVE p AS (
      SELECT media_a, media_b FROM ({neardup}) t
    ),
    reach AS (
      SELECT media_a AS a, media_b AS b FROM p
      UNION SELECT media_b, media_a FROM p
      UNION SELECT r1.a, r2.b
      FROM reach r1 JOIN reach r2 ON r1.b = r2.a
    )
    SELECT a AS media_id,
           LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a ORDER BY media_id
    """


@query("mm_phash_clusters", _phash_clusters_oracle())
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image duplicate CLUSTERS: connected components over the
    perceptual-hash near-dup pair graph (Hamming ≤ 2), cluster id =
    min media id reachable — the "which copy do we keep" step that
    pairwise image dedup feeds, exactly as dedup_cluster does for
    text (dup chains A~B~C collapse into one keep-decision).

    Composition of two proven pieces: mm_phash_neardup's lossless
    banded candidate join produces the edges; hash-to-min label
    propagation (operators/dedup.py connected_components — one
    node-keyed shuffle per round, O(diameter) rounds, lineage
    checkpointed) collapses them. The oracle embeds the near-dup
    oracle as a subquery and closes it transitively with a recursive
    CTE. Only media participating in at least one pair appear (the
    rest are their own cluster by definition and never enter the CC
    loop — at scale the pair graph is tiny next to the corpus).
    """
    from pgsink_spark.operators.dedup import connected_components

    pairs = mm_phash_neardup(spark, sf_dir).select(
        F.col("media_a").alias("d1"), F.col("media_b").alias("d2")
    )
    return (
        connected_components(pairs)
        .select(
            F.col("node").alias("media_id"),
            F.col("component").alias("cluster_id"),
        )
        .orderBy("media_id")
    )


@query(
    "mm_image_resize",
    """
    SELECT doc_id AS media_id,
           CAST(16 AS INTEGER) AS out_w,
           CAST((16 + doc_id % 16) // 2 AS INTEGER) AS out_h,
           CAST(16 * ((16 + doc_id % 16) // 2) AS BIGINT) AS n_px,
           CAST(doc_id % 160 + 15 + (16 + doc_id % 16) // 2 AS DOUBLE)
             AS mean_px
    FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIZE pass with an exact oracle — decode every synthetic PNG
    for real and 2× BOX-DOWNSAMPLE it (each output pixel = mean of a
    2×2 block, the antialiasing reduction real thumbnail pipelines
    use, unlike resize_images' nearest-neighbor), then surface the
    resized geometry and mean. The fixture's closed-form pixel ramp
    pixel(x,y) = base + x + y makes every 2×2 block mean the exact
    integer base + 2x' + 2y' + 1, so the resized mean is
    base + 15 + H//2 — the oracle derives it without touching a byte,
    and the hash pins the whole decode→resample→stat path.

    Scale shape: Arrow-batched mapInPandas over the binary column
    (the designated escape hatch for codec work); one task per
    partition, no shuffle before the presentation sort.
    """
    cols = ["media_id", "out_w", "out_h", "n_px", "mean_px"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = codecs.decode_png(bytes(content))
                h2, w2 = px.shape[0] // 2, px.shape[1] // 2
                small = (
                    px[: 2 * h2, : 2 * w2]
                    .astype(np.float64)
                    .reshape(h2, 2, w2, 2)
                    .mean(axis=(1, 3))
                )
                rows.append(
                    (int(mid), w2, h2, int(small.size), float(small.mean()))
                )
            yield pd.DataFrame(rows, columns=cols)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("out_w", T.IntegerType(), False),
            T.StructField("out_h", T.IntegerType(), False),
            T.StructField("n_px", T.LongType(), False),
            T.StructField("mean_px", T.DoubleType(), False),
        ]
    )
    imgs = synthesize_media(spark, sf_dir, kinds=("image",)).where(
        F.col("media_type") == "image"
    )
    return (
        imgs.select("media_id", "content")
        .mapInPandas(batches, schema)
        .orderBy("media_id")
    )


@query(
    "mm_audio_resample",
    """
    SELECT doc_id AS media_id,
           CAST((1600 + (doc_id % 10) * 160) // 2 AS BIGINT) AS n_out,
           CAST(8000 AS INTEGER) AS rate_out,
           CAST(100 + (doc_id % 300) * 100 AS DOUBLE) AS mean_amp,
           CAST(100 + (doc_id % 300) * 100 AS DOUBLE) AS rms
    FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id
    """,
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLE pass with an exact oracle — decode every
    synthetic WAV for real (PCM parse) and decimate 2× (keep every
    second sample, halving the rate to 8 kHz), then surface the
    resampled stats. The fixture's ±amp square wave alternates
    per-sample, so the kept (even-index) samples are ALL +amp: the
    oracle predicts n//2 samples, mean exactly +amp, RMS exactly amp
    — without touching a byte. Together with mm_image_resize this
    completes the brief's transform verbs (decode / resize /
    frame-sample / resample) as hash-pinned operators.

    Scale shape: Arrow-batched mapInPandas over the binary column;
    one task per partition, no shuffle before the presentation sort.
    (A real anti-aliased resampler would low-pass first; decimation
    keeps the oracle closed-form while exercising the same plumbing.)
    """
    cols = ["media_id", "n_out", "rate_out", "mean_amp", "rms"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = codecs.decode_wav(bytes(content))
                out = samples[::2].astype(np.float64)
                rows.append(
                    (
                        int(mid),
                        int(out.size),
                        rate // 2,
                        float(out.mean()),
                        float(np.sqrt((out * out).mean())),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_out", T.LongType(), False),
            T.StructField("rate_out", T.IntegerType(), False),
            T.StructField("mean_amp", T.DoubleType(), False),
            T.StructField("rms", T.DoubleType(), False),
        ]
    )
    wavs = synthesize_media(spark, sf_dir, kinds=("audio",)).where(
        F.col("media_type") == "audio"
    )
    return (
        wavs.select("media_id", "content")
        .mapInPandas(batches, schema)
        .orderBy("media_id")
    )
