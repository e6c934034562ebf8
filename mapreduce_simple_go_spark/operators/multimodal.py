"""Multimodal column plumbing: opaque binary media + typed metadata.

Pattern for image/audio/video at 100 TB: media as ``binary`` columns with a
typed metadata struct alongside, processed by Arrow-batched ``mapInPandas``
(one Python process per partition, columnar transfer, no per-row overhead).

The container has no image/audio codecs, so no REAL codec ships here, but
the decode step is a dependency-injected seam, not a dead stub: operators
accept a ``decoders`` mapping (fmt -> bytes->bytes) or pick up process-wide
``register_decoder`` registrations; unregistered formats raise
NotImplementedError. The Spark-side contract (schemas, batching,
partitioning, UDF signatures, executor-side codec dispatch) is real and
tested in tests/test_multimodal.py — including an injected custom codec and
a skipped-unless-PIL-available real-PNG decode.

The fixture has no binary table; :func:`synth_media` derives a deterministic
binary column from documents.text (utf-8 bytes as the "payload").
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources import table

FEATURE_DIM = 8


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table: (doc_id, media binary, meta struct).

    Stands in for an ingested image/audio table; payload = utf-8 document
    bytes, metadata = declared format + payload size.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("media"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.octet_length("text").alias("n_bytes"),
            (F.col("doc_id") % 3).cast("int").alias("channel"),
        ).alias("media_meta"),
    )


# Dependency-injected codec seam. A decoder is `bytes -> bytes` (compressed
# payload -> raw sample bytes). The synthetic format ships by default; a
# deployment with real codec libs registers them here (or passes a mapping
# straight to the operators) and every multimodal operator picks them up —
# the decoders dict rides the cloudpickled closure to executors, so no
# executor-side import wiring is needed beyond the codec lib itself.
#
#     import mapreduce_simple_go_spark.operators.multimodal as mm
#     mm.register_decoder("image/png", lambda b: PIL_decode(b))
#
DECODERS: dict[str, Callable[[bytes], bytes]] = {"fake/raw": lambda b: b}


def register_decoder(fmt: str, fn: Callable[[bytes], bytes]) -> None:
    """Register a real codec for ``fmt`` (process-wide default decoders)."""
    DECODERS[fmt] = fn


def decode_media(
    payload: bytes, fmt: str, decoders: dict[str, Callable[[bytes], bytes]] | None = None
) -> bytes:
    """Decode a media payload with the injected (or default) codec table.

    Real formats (image/jpeg, audio/wav, ...) require codec libraries not
    present in this container — unregistered formats raise
    NotImplementedError; the deterministic fake path keeps the pipeline
    testable end-to-end, and tests/test_multimodal.py proves the injection
    seam with a custom codec (plus a skipped-unless-PIL-available real one).
    """
    table = DECODERS if decoders is None else decoders
    fn = table.get(fmt)
    if fn is not None:
        return fn(payload)
    raise NotImplementedError(
        f"no codec for {fmt!r} in this environment; register_decoder() or "
        "pass decoders={...} to plug one in"
    )


def _feature_vector(payload: bytes) -> list[float]:
    """Deterministic FEATURE_DIM-dim feature: bytes of the sha256 digest,
    scaled to [0, 1) — a stand-in for an embedding-model forward pass."""
    digest = hashlib.sha256(payload).digest()
    return [b / 256.0 for b in digest[:FEATURE_DIM]]


FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("format", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def extract_features(
    media: DataFrame,
    decoders: dict[str, Callable[[bytes], bytes]] | None = None,
) -> DataFrame:
    """Batched feature extraction over the binary column via mapInPandas.

    Arrow delivers whole column batches to Python; each batch is processed
    vectorized-ish (per-row hash here, a model batch-forward in real life).
    Column pruning still works: only (doc_id, media, media_meta) are read.
    ``decoders`` injects real codecs (fmt -> bytes->bytes); the mapping is
    captured by the cloudpickled closure, so it reaches executors with no
    extra wiring.
    """
    table = dict(DECODERS if decoders is None else decoders)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [
                decode_media(bytes(m), meta["format"], table)
                for m, meta in zip(pdf["media"], pdf["media_meta"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in payloads],
                    "format": [meta["format"] for meta in pdf["media_meta"]],
                    "feature": [_feature_vector(p) for p in payloads],
                }
            )

    return media.mapInPandas(batches, schema=FEATURES_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", IntegerType()),
        StructField("frame", ArrayType(FloatType())),
    ]
)


def frame_sample(
    media: DataFrame,
    n_frames: int = 4,
    decoders: dict[str, Callable[[bytes], bytes]] | None = None,
) -> DataFrame:
    """'Video' frame sampling: split each payload into n_frames equal chunks,
    one feature row per chunk — the 1:N mapInPandas shape (UDTF-style)."""
    table = dict(DECODERS if decoders is None else decoders)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_id, out_no, out_frame = [], [], []
            for doc_id, m, meta in zip(pdf["doc_id"], pdf["media"], pdf["media_meta"]):
                payload = decode_media(bytes(m), meta["format"], table)
                step = max(1, len(payload) // n_frames)
                for i in range(n_frames):
                    chunk = payload[i * step : (i + 1) * step]
                    out_id.append(doc_id)
                    out_no.append(i)
                    out_frame.append(_feature_vector(chunk))
            yield pd.DataFrame({"doc_id": out_id, "frame_no": out_no, "frame": out_frame})

    return media.mapInPandas(batches, schema=FRAMES_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: synth media -> batched feature extraction.

    The raw ``array<float>`` feature stays a library-level column
    (:func:`extract_features`); the registered query projects it to a
    canonical scalar string so results are sortable/hashable by external
    harnesses. Each feature value is digest_byte/256.0, so ``x*256``
    recovers the byte exactly (powers of two — no float error), making the
    signature reproducible from sha256 in ANY engine.
    """
    feats = extract_features(synth_media(spark, sf_dir))
    byte_of = lambda x: F.round(x * F.lit(256.0)).cast("int").cast("string")
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "format",
        F.concat_ws("-", F.transform("feature", byte_of)).alias("feature_sig"),
    )


# DuckDB oracle: rebuild the sha256-derived signature hex-pair by hex-pair
# (DuckDB has sha256() but no hex->int cast; strpos arithmetic decodes each
# pair). Note sha256 here hashes the utf-8 text bytes — identical to the
# Spark path's encode(text,'utf-8') payload.
_MM_ORACLE = f"""
WITH hexed AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         'fake/raw' AS format,
         lower(sha256(text)) AS h
  FROM documents
)
SELECT doc_id, n_bytes, format,
  array_to_string(
    list_transform(range(0, {FEATURE_DIM}), i ->
      CAST((strpos('0123456789abcdef', substr(h, 2*i + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(h, 2*i + 2, 1)) - 1) AS VARCHAR)),
    '-') AS feature_sig
FROM hexed
"""

QUERIES = {"multimodal_features": multimodal_features}
ORACLES: dict[str, str] = {"multimodal_features": _MM_ORACLE}


N_FRAMES = 4
THUMB_K = 16

# hex-pair -> byte value (DuckDB has no hex->int cast); h must be lowercase
_DUCK_BYTE = (
    "((strpos('0123456789abcdef', substr({h}, 2*{i} + 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr({h}, 2*{i} + 2, 1)) - 1))"
)


def _sig_of_hex(h_expr: str, n_bytes: int) -> str:
    """DuckDB: '-'-joined first ``n_bytes`` byte values of a lowercase hex
    digest string — the same canonical signature the Spark side emits."""
    return (
        "array_to_string(list_transform(range(0, "
        f"{n_bytes}), i -> CAST({_DUCK_BYTE.format(h=h_expr, i='i')} AS VARCHAR)), '-')"
    )


def multimodal_frame_features(
    spark: SparkSession, sf_dir: str, n_frames: int = N_FRAMES
) -> DataFrame:
    """Frame sampling + per-frame feature extraction, oracle-checked.

    The 'video' path of the pipeline: each media payload is decoded, split
    into ``n_frames`` equal character chunks (frames), and each frame gets
    a sha256-derived feature signature — the registered 1:N companion to
    the library-level :func:`frame_sample` (which chunks raw bytes; frames
    here are character-aligned so the DuckDB oracle can recompute every
    chunk with substr + sha256, which only accept VARCHAR). Plan shape: one
    Arrow-batched mapInPandas pass, no shuffle, output n_frames rows per
    doc.
    """

    media = synth_media(spark, sf_dir)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_id, out_no, out_sig = [], [], []
            for doc_id, m, meta in zip(pdf["doc_id"], pdf["media"], pdf["media_meta"]):
                s = decode_media(bytes(m), meta["format"]).decode("utf-8")
                step = max(1, len(s) // n_frames)
                for i in range(n_frames):
                    chunk = s[i * step : (i + 1) * step]
                    digest = hashlib.sha256(chunk.encode("utf-8")).digest()
                    out_id.append(doc_id)
                    out_no.append(i)
                    out_sig.append("-".join(str(b) for b in digest[:FEATURE_DIM]))
            yield pd.DataFrame(
                {"doc_id": out_id, "frame_no": out_no, "frame_sig": out_sig}
            )

    return media.mapInPandas(
        batches, schema="doc_id long, frame_no int, frame_sig string"
    )


_MM_FRAMES_ORACLE = f"""
WITH stepped AS (
  SELECT doc_id, text, greatest(1, length(text) // {N_FRAMES}) AS step
  FROM documents
),
framed AS (
  SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
         lower(sha256(substr(text, CAST(i * step + 1 AS INTEGER), CAST(step AS INTEGER)))) AS h
  FROM stepped, (SELECT unnest(range({N_FRAMES})) AS i)
)
SELECT doc_id, frame_no, {_sig_of_hex('h', 'FEATURE_DIM_PLACEHOLDER')} AS frame_sig
FROM framed
""".replace("FEATURE_DIM_PLACEHOLDER", str(FEATURE_DIM))

QUERIES["multimodal_frame_features"] = multimodal_frame_features
ORACLES["multimodal_frame_features"] = _MM_FRAMES_ORACLE


def multimodal_resize(
    spark: SparkSession, sf_dir: str, k: int = THUMB_K
) -> DataFrame:
    """'Image resize' plumbing: fixed-size thumbnail from each payload.

    Downsampling a variable-size payload to exactly ``k`` bytes sampled at
    evenly spaced offsets (offset_i = floor(i * n / k)) — the nearest-
    neighbor-resize access pattern with a real decoder swapped out for the
    byte-identity stub. Emits the thumbnail as a canonical '-'-joined byte
    string so it is hashable by any engine. One mapInPandas pass, no
    shuffle; thumbnails are constant-size regardless of media size, which
    is the property a 100 TB media pipeline needs from its resize stage.
    """

    media = synth_media(spark, sf_dir)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_id, out_n, out_sig = [], [], []
            for doc_id, m, meta in zip(pdf["doc_id"], pdf["media"], pdf["media_meta"]):
                payload = decode_media(bytes(m), meta["format"])
                n = len(payload)
                thumb = "" if n == 0 else "-".join(
                    str(payload[(i * n) // k]) for i in range(k)
                )
                out_id.append(doc_id)
                out_n.append(n)
                out_sig.append(thumb)
            yield pd.DataFrame(
                {"doc_id": out_id, "n_bytes": out_n, "thumb_sig": out_sig}
            )

    return media.mapInPandas(
        batches, schema="doc_id long, n_bytes long, thumb_sig string"
    )


_MM_RESIZE_ORACLE = f"""
WITH hexed AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         lower(hex(encode(text))) AS h
  FROM documents
)
SELECT doc_id, n_bytes,
       CASE WHEN n_bytes = 0 THEN '' ELSE
         array_to_string(list_transform(range(0, {THUMB_K}), i ->
           CAST({_DUCK_BYTE.format(h='h', i="((i * n_bytes) // " + str(THUMB_K) + ")")} AS VARCHAR)), '-')
       END AS thumb_sig
FROM hexed
"""

QUERIES["multimodal_resize"] = multimodal_resize
ORACLES["multimodal_resize"] = _MM_RESIZE_ORACLE


def _audio_stats_over(
    media: DataFrame,
    decoders: dict[str, Callable[[bytes], bytes]] | None = None,
) -> DataFrame:
    """Amplitude stats (count, mean, RMS) over decoded 8-bit PCM samples.

    Shared engine for the fake-codec and real-WAV registry entries: numpy
    does the per-batch math exactly (integer sums; one float division/sqrt
    at the end, so the result is bit-identical to the oracle's integer-sum
    formulation). One Arrow pass, no shuffle. The final round happens in
    SPARK (HALF_UP, matching DuckDB's round) — Python's round() is
    banker's and would diverge on boundary values.
    """
    import math

    import numpy as np

    table = dict(DECODERS if decoders is None else decoders)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "n_samples": [], "mean_raw": [], "rms_raw": []}
            for doc_id, m, meta in zip(pdf["doc_id"], pdf["media"], pdf["media_meta"]):
                payload = decode_media(bytes(m), meta["format"], table)
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = len(arr)
                s = int(arr.sum()) if n else 0
                sq = int((arr * arr).sum()) if n else 0
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["mean_raw"].append(s / n if n else 0.0)
                out["rms_raw"].append(math.sqrt(sq / n) if n else 0.0)
            yield pd.DataFrame(out)

    raw = media.mapInPandas(
        batches,
        schema="doc_id long, n_samples long, mean_raw double, rms_raw double",
    )
    return raw.select(
        "doc_id",
        "n_samples",
        F.round("mean_raw", 9).alias("mean_amp"),
        F.round("rms_raw", 9).alias("rms_amp"),
    )


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Audio' feature extraction over the byte-identity fake codec —
    see :func:`_audio_stats_over`."""
    return _audio_stats_over(synth_media(spark, sf_dir))


_MM_AUDIO_ORACLE = f"""
WITH hexed AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
         lower(hex(encode(text))) AS h
  FROM documents
),
summed AS (
  SELECT doc_id, n_samples,
         CAST(list_sum(list_transform(range(0, n_samples),
              i -> {_DUCK_BYTE.format(h='h', i='i')})) AS BIGINT) AS s,
         CAST(list_sum(list_transform(range(0, n_samples),
              i -> {_DUCK_BYTE.format(h='h', i='i')} * {_DUCK_BYTE.format(h='h', i='i')})) AS BIGINT) AS sq
  FROM hexed
)
SELECT doc_id, n_samples,
       CASE WHEN n_samples = 0 THEN 0.0 ELSE round(s / n_samples, 9) END AS mean_amp,
       CASE WHEN n_samples = 0 THEN 0.0 ELSE round(sqrt(sq / n_samples), 9) END AS rms_amp
FROM summed
"""

QUERIES["multimodal_audio_stats"] = multimodal_audio_stats
ORACLES["multimodal_audio_stats"] = _MM_AUDIO_ORACLE


# Real-codec path: RIFF/WAVE via the stdlib ``wave`` module — the one audio
# codec every environment ships. The "fixture" WAV files are synthesized
# executor-side (each document's utf-8 bytes as unsigned 8-bit PCM mono
# samples inside a genuine 44-byte-header RIFF container), then DECODED by
# wave_decoder parsing that container — so the registry entry exercises a
# real encode→decode roundtrip, not the byte-identity stub, while the
# DuckDB oracle stays the raw-bytes amplitude profile (WAV 8-bit PCM data
# IS the sample bytes; a header/framing bug would shift every stat and go
# hash-red).
WAV_FRAMERATE = 8000


def wave_encode(payload: bytes) -> bytes:
    """Wrap raw bytes as mono 8-bit PCM WAV (real RIFF container)."""
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(WAV_FRAMERATE)
        w.writeframes(payload)
    return buf.getvalue()


def wave_decoder(b: bytes) -> bytes:
    """REAL ``audio/wav`` codec: parse the RIFF container, return raw
    sample bytes. Registered per-query via the ``decoders`` seam."""
    import io
    import wave as wave_mod

    with wave_mod.open(io.BytesIO(b), "rb") as w:
        if w.getsampwidth() != 1 or w.getnchannels() != 1:
            raise ValueError("expected mono 8-bit PCM")
        return w.readframes(w.getnframes())


def synth_wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, media, media_meta) with media = a real WAV file per doc."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("raw")
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            wavs = [wave_encode(bytes(r)) for r in pdf["raw"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": wavs,
                    "fmt": ["audio/wav"] * len(wavs),
                    "n_bytes": [len(b) for b in wavs],
                }
            )

    wav = docs.mapInPandas(
        batches, schema="doc_id long, media binary, fmt string, n_bytes int"
    )
    return wav.select(
        "doc_id",
        "media",
        F.struct(
            F.col("fmt").alias("format"),
            F.col("n_bytes"),
            (F.col("doc_id") % 3).cast("int").alias("channel"),
        ).alias("media_meta"),
    )


def multimodal_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry decoding REAL WAV containers through the codec seam:
    synth_wav_media writes genuine RIFF files, wave_decoder (stdlib
    ``wave``) parses them back, and the amplitude stats must hash-match
    the raw-byte oracle — the tested-by-decoding proof of the
    register_decoder/decoders contract."""
    return _audio_stats_over(
        synth_wav_media(spark, sf_dir), decoders={"audio/wav": wave_decoder}
    )


QUERIES["multimodal_audio_wav"] = multimodal_audio_wav
ORACLES["multimodal_audio_wav"] = _MM_AUDIO_ORACLE


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup: one row per distinct payload digest.

    The binary-column twin of text dedup_exact: group by md5(media) —
    the shuffle carries 16-byte digests, never payloads — and keep the
    lowest doc_id as the canonical copy. Emitting every group (not just
    dup groups) keeps the oracle evidence non-trivial at fixture scales
    where the corpus has no exact dupes.
    """
    m = synth_media(spark, sf_dir)
    return (
        m.select("doc_id", F.md5(F.col("media")).alias("media_digest"))
        .groupBy("media_digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


MULTIMODAL_DEDUP_SQL = """
SELECT md5(text) AS media_digest,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""

QUERIES["multimodal_dedup"] = multimodal_dedup
ORACLES["multimodal_dedup"] = MULTIMODAL_DEDUP_SQL
