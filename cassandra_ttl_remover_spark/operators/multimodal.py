"""Multimodal column plumbing (north-star surface, SURVEY.md §2.2).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct — the same stance the reference takes on cell values
(opaque ByteBuffers, NoTTLColumnSerializer.java:30,38,44): the engine moves
and organizes bytes; interpretation happens at well-defined UDF boundaries.

The decode/feature-extract steps are STUBBED (image/audio libs are not in
this container): ``decode_stub`` raises NotImplementedError unless
``fake=True``, in which case a deterministic fake (shape from metadata,
content hash from bytes) exercises the real Spark plumbing — schema,
Arrow batching, mapInPandas signature, partition sizing — which IS what this
module is: the scaffolding a real decoder drops into.

Scale notes: media blobs dominate row size, so ops here (a) never shuffle
blobs (metadata-only projections where possible), (b) use mapInPandas with
bounded Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch) so a
4K-frame batch fits executor memory, (c) keep per-file parallelism via
binaryFile's one-row-per-file source.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from struct import error as struct_error

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from cassandra_ttl_remover_spark.plans import fan_out

#: Typed metadata carried beside every media blob.
MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType()),      # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)


def documents_as_media(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Deterministic media-shaped frame from the documents fixture: utf-8
    bytes as payload + synthesized metadata. Exercises the binary/metadata
    schema end-to-end without real media files."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("application/octet-stream").alias("mime"),
            (F.length(text_col) % 64 + 1).cast("int").alias("width"),
            (F.length(text_col) % 48 + 1).cast("int").alias("height"),
            F.lit(1).cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def decode_stub(payload: bytes, meta: dict, *, fake: bool = False) -> list[float]:
    """Decode step. ``fake=True`` returns a deterministic 8-dim
    byte-histogram feature (pure plumbing exercise). With ``fake=False``
    one modality decode is REAL: RIFF/WAVE payloads are parsed by the
    stdlib ``wave`` decoder (see :func:`wav_decode_features`) into an 8-dim
    [sr, channels, width, n_samples, duration_ms, ssq_lo, ssq_hi, peak]
    feature. Other formats (JPEG/MP4/...) still raise — those decoders need
    native libraries not present here; real deployments drop PIL/ffmpeg
    into this same boundary."""
    if not fake:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            sr, nch, sw, n, dur, ssq, peak = _parse_wav(payload)
            # ssq can exceed float53 precision; split into exact halves
            return [
                float(sr), float(nch), float(sw), float(n), float(dur),
                float(ssq % (1 << 32)), float(ssq >> 32), float(peak),
            ]
        if payload[:2] == b"P5":
            w, h, n, s_px, mx = _parse_pgm(payload)
            return [
                float(w), float(h), 1.0, float(n), 0.0,
                float(s_px % (1 << 32)), float(s_px >> 32), float(mx),
            ]
        raise NotImplementedError(
            "only RIFF/WAVE (stdlib wave) and P5 PGM payloads decode "
            "natively; other formats require image/video libraries not "
            "present in this environment — pass fake=True for the "
            "deterministic test path"
        )
    hist = [0] * 8
    for b in payload:
        hist[b & 7] += 1
    n = max(1, len(payload))
    return [h / n for h in hist]


def extract_features(media: DataFrame, *, fake: bool = True,
                     batch_size_hint: int = 256) -> DataFrame:
    """Feature extraction over media blobs via mapInPandas (Arrow-batched —
    the 10-100x-over-row-UDF path). Per batch: decode each payload with
    decode_stub and emit fixed-schema features.

    The plumbing (schema, batching, partition-level iteration) is real; only
    the decode body is stubbed. At scale, pair with
    spark.sql.execution.arrow.maxRecordsPerBatch sized so
    batch_size × max_blob fits executor memory."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                "sha256": pdf["payload"].map(
                    lambda b: hashlib.sha256(b or b"").hexdigest()
                ),
                "width": pdf["meta"].map(lambda m: m["width"] if m else None),
                "height": pdf["meta"].map(lambda m: m["height"] if m else None),
                "features": pdf.apply(
                    lambda r: decode_stub(r["payload"] or b"", r["meta"], fake=fake),
                    axis=1,
                ),
            }
            yield pd.DataFrame(out)

    return fan_out(media, "media_id").mapInPandas(run, schema=FEATURE_SCHEMA)


def resize(media: DataFrame, width: int, height: int, *,
           fake: bool = True) -> DataFrame:
    """Resize step: metadata updates are real (target dims recorded); the
    pixel transformation is the stubbed decode boundary — with ``fake=True``
    a deterministic byte-resampling stands in for a real scaler so the
    binary-in/binary-out mapInPandas plumbing (schema, Arrow batches,
    payload size change) is exercised; ``fake=False`` raises at first batch,
    like decode_stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "resize requires an image library not present in this "
                    "environment; pass fake=True for the deterministic path"
                )

            def scale(b: bytes | None) -> bytes:
                b = b or b"\x00"
                # deterministic nearest-neighbor byte resample to w*h bytes
                n = len(b)
                return bytes(b[(i * n) // target] for i in range(target))

            out = pdf.assign(payload=pdf["payload"].map(scale))
            out["meta"] = out["meta"].map(
                lambda m: {**(m or {}), "width": width, "height": height}
            )
            yield out

    return fan_out(media, "media_id").mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling *plan* for video payloads: metadata-only projection
    computing which frame indices a downstream decoder should materialize.
    No blob movement — the 100 TB-safe way to express sampling."""
    return media.withColumn(
        "sample_frames",
        F.expr(
            f"case when meta.n_frames is null then array() "
            f"else filter(sequence(0, meta.n_frames - 1), i -> i % {every_nth} = 0) end"
        ),
    )


def documents_as_video(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", fps: int = 24) -> DataFrame:
    """Video-shaped media frame from the documents fixture: utf-8 payload
    with synthesized (n_frames, duration_ms) metadata — the frame count
    derives deterministically from the byte length (one frame per 16 bytes,
    min 1), so frame-sampling plans are oracle-checkable without real
    video."""
    # integer-division arithmetic throughout: double-divide-then-cast
    # truncates in Spark but rounds in DuckDB, so `div` keeps the plan
    # oracle-portable
    n_frames = F.greatest(
        F.lit(1).cast("int"),
        F.expr(f"cast(length({text_col}) div 16 as int)"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("video").alias("kind"),
            F.lit("video/raw").alias("mime"),
            F.lit(640).cast("int").alias("width"),
            F.lit(480).cast("int").alias("height"),
            n_frames.cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.expr(
                f"cast(greatest(1, length({text_col}) div 16) as long)"
                f" * 1000 div {fps}"
            ).alias("duration_ms"),
        ).alias("meta"),
    )


def frame_sample_plan(media: DataFrame, every_nth: int = 10,
                      fps: int = 24) -> DataFrame:
    """Exploded frame-sampling plan for video payloads: one row per kept
    frame — ``(media_id, frame_idx, frame_ms)`` — the work-list a 100 TB
    video pipeline hands its decode stage. Metadata-only like
    :func:`audio_chunks` (sequence + filter + explode on n_frames; no blob
    bytes move); clips with no frame metadata contribute no rows. Scale:
    pure per-row explode, no shuffle; fan-out per clip is n_frames/nth."""
    return (
        media.filter(F.col("meta.kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.expr(
                    f"case when meta.n_frames is null then "
                    f"cast(array() as array<int>) "
                    f"else filter(sequence(0, meta.n_frames - 1), "
                    f"i -> i % {every_nth} = 0) end"
                )
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.expr(f"cast(frame_idx as long) * 1000 div {fps}")
            .alias("frame_ms"),
        )
    )


def documents_as_audio(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       sample_rate: int = 16_000) -> DataFrame:
    """Audio-shaped media frame from the documents fixture: utf-8 payload
    with synthesized (sample_rate, duration_ms) metadata — duration derives
    deterministically from the byte length as if payload were 16-bit mono
    PCM, so chunking math is oracle-checkable without real audio."""
    dur = (F.length(text_col).cast("long") * 1000) / F.lit(2 * sample_rate)
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("audio").alias("kind"),
            F.lit("audio/pcm").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(sample_rate).cast("int").alias("sample_rate"),
            dur.cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def audio_chunks(media: DataFrame, chunk_ms: int = 1000) -> DataFrame:
    """Chunking *plan* for audio payloads: one row per ``chunk_ms`` window
    of each clip — ``(media_id, chunk_idx, start_ms, end_ms, sample_rate)``
    with the final chunk truncated at the clip's duration. Metadata-only
    (sequence + explode on duration arithmetic; the payload slice itself
    happens in the decode stage, which is the documented library boundary) —
    so the chunk layout a 100 TB audio pipeline fans out over is planned,
    partitioned, and verified without decoding a byte. Scale: pure per-row
    explode, no shuffle; chunk count per row is duration/chunk_ms, bounded
    by the source's clip-length ceiling."""
    return (
        media.filter(F.col("meta.kind") == "audio")
        .select(
            "media_id",
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.explode(
                F.when(
                    F.col("meta.duration_ms") > 0,
                    F.expr(
                        f"sequence(0, cast((meta.duration_ms + {chunk_ms} - 1)"
                        f" div {chunk_ms} as int) - 1)"
                    ),
                ).otherwise(F.expr("cast(array() as array<int>)")),
            ).alias("chunk_idx"),
        )
        .select(
            "media_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * chunk_ms).cast("long").alias("start_ms"),
            F.least(
                (F.col("chunk_idx") + 1) * chunk_ms, F.col("duration_ms")
            ).cast("long").alias("end_ms"),
            "sample_rate",
        )
    )


# ---------------------------------------------------------------------------
# Real WAV decode path (stdlib `wave` — the one modality whose decoder is
# pure-Python, so the decode boundary is exercised END-TO-END, not stubbed)
# ---------------------------------------------------------------------------

def _text_to_wav_bytes(data: bytes, sample_rate: int) -> bytes:
    """Deterministic real WAV encoder: each input byte becomes one signed
    16-bit mono PCM sample ``(b - 128) * 256``, wrapped in a genuine RIFF
    container by the stdlib ``wave`` writer. The sample mapping is simple
    integer arithmetic so an engine-independent oracle can recompute every
    decoded statistic from the source text."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(
            struct.pack(f"<{len(data)}h", *(((b - 128) * 256) for b in data))
        )
    return buf.getvalue()


def _parse_wav(payload: bytes) -> tuple[int, int, int, int, int, int, int]:
    """REAL RIFF/WAVE decode via the stdlib ``wave`` reader: returns
    (sample_rate, n_channels, sample_width, n_samples, duration_ms,
    sum-of-squares, peak amplitude) — header fields read from the actual
    container, sample statistics from the actual PCM frames (exact integer
    arithmetic; ssq of int16 fits int64 up to ~2^33 samples)."""
    sr, nch, sw, samples = _wav_pcm(payload)
    n = len(samples) // nch
    ssq = sum(s * s for s in samples)
    peak = max((abs(s) for s in samples), default=0)
    return sr, nch, sw, n, n * 1000 // sr, ssq, peak


def _wav_pcm(payload: bytes) -> tuple[int, int, int, tuple]:
    """Decode a WAV container to its raw int16 samples:
    ``(sample_rate, n_channels, sample_width, samples)`` — the shared
    front half of :func:`_parse_wav` and the framed-feature path."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        nch = w.getnchannels()
        sw = w.getsampwidth()
        n = w.getnframes()
        frames = w.readframes(n)
    if sw != 2:
        raise NotImplementedError(f"only 16-bit PCM supported, got width {sw}")
    return sr, nch, sw, struct.unpack(f"<{n * nch}h", frames)


def documents_as_wav(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     sample_rate: int = 16_000) -> DataFrame:
    """Media frame whose payloads are REAL WAV files (RIFF header + 16-bit
    mono PCM) synthesized from the documents fixture via
    :func:`_text_to_wav_bytes`. Unlike :func:`documents_as_audio` (metadata
    stand-in), these bytes round-trip through an actual format decoder.

    Scale: mapInPandas over Arrow batches; payload is built per row with no
    shuffle (fan_out only splits input partitions)."""
    enc_schema = MEDIA_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                _text_to_wav_bytes(t.encode("utf-8"), sample_rate)
                for t in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "meta": [
                        {
                            "kind": "audio",
                            "mime": "audio/wav",
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "sample_rate": sample_rate,
                            # one input BYTE becomes one 16-bit sample
                            # (_text_to_wav_bytes), so sample count is the
                            # byte count — not bytes/2 as raw PCM would be
                            "duration_ms": len(p_bytes) * 1000 // sample_rate,
                        }
                        for p_bytes in (t.encode("utf-8") for t in pdf[text_col])
                    ],
                }
            )

    cols = fan_out(docs.select(id_col, text_col), id_col)
    return cols.mapInPandas(run, schema=enc_schema)


WAV_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("ssq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def wav_decode_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end decode over WAV payloads: every row's binary blob is
    parsed by the stdlib RIFF/WAVE reader (:func:`_parse_wav`) — header
    fields (sample_rate, channels, frame count) come from the container,
    and the sample statistics (exact integer sum-of-squares, peak) from the
    PCM frames themselves. All-scalar output, so the result is
    oracle-checkable when the payload generator is deterministic
    (:func:`documents_as_wav`).

    Scale: mapInPandas with bounded Arrow batches; blobs are decoded where
    they sit (no shuffle), output is a few scalars per blob — the classic
    reduce-at-the-source pattern for 100 TB media scans."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_parse_wav(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [f[0] for f in feats],
                    "n_channels": [f[1] for f in feats],
                    "n_samples": [f[3] for f in feats],
                    "duration_ms": [f[4] for f in feats],
                    "ssq": [f[5] for f in feats],
                    "peak": [f[6] for f in feats],
                }
            )

    return fan_out(media, "media_id").mapInPandas(run, schema=WAV_FEATURES_SCHEMA)


def wav_decode_oracle_sql(sample_rate: int = 16_000, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for documents_as_wav -> wav_decode_features: recomputes
    every decoded statistic straight from the source text under the
    sample mapping s_i = (byte_i - 128) * 256. The fixture text is ASCII
    (same assumption the mm2 oracle already relies on), so per-char ascii()
    equals the utf-8 byte."""
    s = f"((ascii(t[i]) - 128) * 256)"
    return f"""
WITH chars AS (
  SELECT {id_col} AS media_id, text AS t,
         length(text)::BIGINT AS n
  FROM {table}
)
SELECT media_id,
       {sample_rate}::INT AS sample_rate,
       1::INT AS n_channels,
       n AS n_samples,
       n * 1000 // {sample_rate} AS duration_ms,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                  i -> {s}::BIGINT * {s}), 'sum'), 0)::BIGINT AS ssq,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                  i -> abs({s})), 'max'), 0)::INT AS peak
FROM chars ORDER BY media_id
"""


WAV_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ssq", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def wav_frame_energies(media: DataFrame, win: int = 256,
                       hop: int = 128) -> DataFrame:
    """FRAMED feature extraction over decoded PCM — the exact-integer
    precursor of an fbank/spectrogram pipeline: decode each WAV payload,
    slide a ``win``-sample window by ``hop``, and emit one row per frame
    with its energy (sum of squares) and peak. Trailing partial frames
    are dropped (the standard STFT framing convention); a clip shorter
    than one window yields no rows.

    Scale: mapInPandas, blobs decoded where they sit (no shuffle); the
    fan-out is n_frames per clip ≈ n_samples/hop rows of four scalars —
    output stays a small multiple of the metadata, never the media bytes.
    Mono only (the :func:`documents_as_wav` contract); numpy does the
    per-frame reduction vectorized in int64."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fs, ssqs, peaks = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, nch, _, samples = _wav_pcm(payload)
                if nch != 1:
                    raise NotImplementedError(
                        "framed energies are defined for mono PCM"
                    )
                arr = np.asarray(samples, dtype=np.int64)
                nf = (len(arr) - win) // hop + 1 if len(arr) >= win else 0
                for f in range(nf):
                    seg = arr[f * hop:f * hop + win]
                    ids.append(mid)
                    fs.append(f)
                    ssqs.append(int((seg * seg).sum()))
                    peaks.append(int(np.abs(seg).max()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(fs, dtype="int32"),
                 "ssq": pd.Series(ssqs, dtype="int64"),
                 "peak": pd.Series(peaks, dtype="int32")}
            )

    return fan_out(media, "media_id").mapInPandas(run, schema=WAV_FRAME_SCHEMA)


def wav_frame_oracle_sql(win: int = 256, hop: int = 128,
                         table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """DuckDB oracle for documents_as_wav -> wav_frame_energies: frames
    recomputed straight from the source text under the generator's sample
    mapping s_i = (byte_i - 128) * 256 (1-indexed chars; frame f covers
    chars f*hop+1 .. f*hop+win)."""
    s = "((ascii(t[(f * {hop} + j)::INT]) - 128) * 256)".format(hop=hop)
    return f"""
WITH chars AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
),
frames AS (
  SELECT media_id, t, unnest(range(0, (n - {win}) // {hop} + 1)) AS f
  FROM chars WHERE n >= {win}
)
SELECT media_id, f::INT AS frame_idx,
       list_aggregate(list_transform(range(1, {win + 1}),
           j -> {s}::BIGINT * {s}), 'sum')::BIGINT AS ssq,
       list_aggregate(list_transform(range(1, {win + 1}),
           j -> abs({s})), 'max')::INT AS peak
FROM frames
"""


WAV_DECIMATE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_rate", T.IntegerType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("ssq", T.LongType()),
        T.StructField("peak", T.LongType()),
    ]
)


def wav_decimate_features(media: DataFrame, factor: int = 4) -> DataFrame:
    """Sample-rate reduction over decoded PCM — the resample step every
    audio training pipeline runs before feature extraction, in its
    divide-free boxcar form: decode each WAV payload, sum every block of
    ``factor`` consecutive samples (a boxcar low-pass whose 1/factor gain
    is folded into downstream normalization — keeping the path in EXACT
    integer arithmetic, since integer division rounds differently across
    engines on negatives), drop the trailing partial block, and emit the
    decimated stream's statistics:
    ``(media_id, out_rate, n_blocks, ssq, peak)`` with ``ssq``/``peak``
    over the block sums. Mono 16-bit only (the fixture's shape); block
    sums fit int64 for any realistic factor.

    Scale: mapInPandas, blobs decoded and reduced where they sit — no
    shuffle, a few scalars out per blob (the reduce-at-the-source shape
    that makes 100 TB audio scans feasible)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, nbs, ssqs, peaks = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                sr, nch, _, samples = _wav_pcm(payload)
                if nch != 1:
                    raise NotImplementedError(
                        f"media_id={mid}: decimation is mono-only, "
                        f"got {nch} channels"
                    )
                arr = np.asarray(samples, dtype=np.int64)
                nb = len(arr) // factor
                blocks = arr[: nb * factor].reshape(nb, factor).sum(axis=1)
                ids.append(mid)
                rates.append(sr // factor)
                nbs.append(nb)
                ssqs.append(int((blocks * blocks).sum()))
                peaks.append(int(np.abs(blocks).max()) if nb else 0)
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "out_rate": pd.Series(rates, dtype="int32"),
                 "n_blocks": pd.Series(nbs, dtype="int64"),
                 "ssq": pd.Series(ssqs, dtype="int64"),
                 "peak": pd.Series(peaks, dtype="int64")}
            )

    return fan_out(media, "media_id").mapInPandas(
        run, schema=WAV_DECIMATE_SCHEMA
    )


def wav_decimate_oracle_sql(factor: int = 4, sample_rate: int = 16_000,
                            table: str = "documents",
                            id_col: str = "doc_id") -> str:
    """DuckDB oracle for documents_as_wav -> wav_decimate_features: block
    sums recomputed straight from the source text under the generator's
    sample mapping s_i = (byte_i - 128) * 256 (block b covers 1-indexed
    chars b*factor+1 .. b*factor+factor)."""
    s = f"((ascii(t[(b * {factor} + j)::INT]) - 128) * 256)"
    blk = (f"list_aggregate(list_transform(range(1, {factor + 1}), "
           f"j -> {s}::BIGINT), 'sum')")
    return f"""
WITH chars AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
),
blocks AS (
  SELECT media_id, t, n, unnest(range(0, n // {factor})) AS b
  FROM chars
),
sums AS (SELECT media_id, {blk} AS bs FROM blocks)
SELECT c.media_id,
       ({sample_rate} // {factor})::INT AS out_rate,
       (c.n // {factor})::BIGINT AS n_blocks,
       coalesce(sum(s.bs * s.bs), 0)::BIGINT AS ssq,
       coalesce(max(abs(s.bs)), 0)::BIGINT AS peak
FROM chars c LEFT JOIN sums s USING (media_id)
GROUP BY c.media_id, c.n
ORDER BY c.media_id
"""


def patch_grid_plan(media: DataFrame, patch: int = 16) -> DataFrame:
    """Patch-grid *plan* for image payloads: one row per ``patch``×``patch``
    tile — ``(media_id, px, py, x0, y0)`` — the ViT-style tokenization
    work-list an image pipeline hands its decode stage, planned from
    metadata alone like :func:`audio_chunks` and :func:`frame_sample_plan`
    (no payload bytes move; partial edge tiles are dropped, matching the
    crop-to-multiple convention). Scale: pure per-row double explode, no
    shuffle; fan-out per image is (w div patch)·(h div patch)."""
    nx = f"cast(meta.width div {patch} as int)"
    ny = f"cast(meta.height div {patch} as int)"
    return (
        media.filter(F.col("meta.kind") == "image")
        .filter((F.col("meta.width") >= patch) & (F.col("meta.height") >= patch))
        .select(
            "media_id",
            F.explode(F.expr(f"sequence(0, {nx} - 1)")).alias("px"),
            F.col("meta.height").alias("_h"),
        )
        .select(
            "media_id",
            "px",
            F.explode(F.expr(f"sequence(0, cast(_h div {patch} as int) - 1)"))
            .alias("py"),
        )
        .select(
            "media_id",
            F.col("px").cast("int").alias("px"),
            F.col("py").cast("int").alias("py"),
            (F.col("px") * patch).cast("int").alias("x0"),
            (F.col("py") * patch).cast("int").alias("y0"),
        )
    )


# ---------------------------------------------------------------------------
# Real IMAGE decode: P5 (binary PGM) — header + raw pixels, pure Python
# ---------------------------------------------------------------------------

def _text_to_pgm_bytes(data: bytes, width: int) -> bytes:
    """Deterministic real PGM (P5) encoder: one input byte per 8-bit gray
    pixel, row-major at ``width`` pixels per row, final row zero-padded —
    a genuine image container (header + raw raster) that needs no native
    codec, the image analog of _text_to_wav_bytes."""
    import math

    h = max(1, math.ceil(len(data) / width))
    px = data + b"\x00" * (width * h - len(data))
    return f"P5\n{width} {h}\n255\n".encode("ascii") + px


def _documents_as_raster(docs: DataFrame, encode, mime: str, width: int,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         height_fn=None) -> DataFrame:
    """Shared builder for the raster families (PGM raw, PNG/DEFLATE,
    GIF/LZW, JPEG): synthesize ``encode(text_bytes, width)`` payloads.
    ``height_fn(n_bytes)`` overrides the default one-byte-per-PIXEL
    height rule for codecs with a different geometry (JPEG: one byte per
    8x8 BLOCK). One scaffolding, many codecs — a MEDIA_SCHEMA/meta
    change lands once."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        hfn = height_fn or (lambda n: max(1, math.ceil(n / width)))
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [encode(t, width) for t in texts],
                    "meta": [
                        {
                            "kind": "image",
                            "mime": mime,
                            "width": width,
                            "height": hfn(len(t)),
                            "n_frames": 1,
                            "sample_rate": None,
                            "duration_ms": None,
                        }
                        for t in texts
                    ],
                }
            )

    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def _raster_decode_features(media: DataFrame, parse) -> DataFrame:
    """Shared reduce-at-the-source decode for the PGM-statistics codecs:
    ``parse(payload) -> (width, height, n_pixels, sum_px, max_px)``.
    Blobs decode where they sit; five scalars per blob come back."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [parse(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_pixels": [f[2] for f in feats],
                    "sum_px": [f[3] for f in feats],
                    "max_px": [f[4] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PGM_FEATURES_SCHEMA
    )


def documents_as_pgm(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", width: int = 32) -> DataFrame:
    """Media frame whose payloads are REAL PGM images synthesized from the
    documents fixture — real header, real raster, decodable end-to-end
    (unlike the JPEG/MP4 stub boundary)."""
    return _documents_as_raster(docs, _text_to_pgm_bytes,
                                "image/x-portable-graymap", width,
                                text_col, id_col)


def _parse_pgm_header(b: bytes) -> tuple:
    """Strict P5 header parse shared by every PGM consumer (decode AND
    resize — one parser, one quarantine behavior): magic, dimensions,
    maxval checks, raster length check. Returns ``(w, h, raster_bytes)``;
    raises on malformed input rather than guessing (corrupt media should
    hit the quarantine policy, not produce silent numbers)."""
    if not b.startswith(b"P5"):
        raise ValueError("not a P5 PGM payload")
    parts = b.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PGM header")
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    px = parts[3]
    if maxval != 255 or len(px) != w * h:
        raise ValueError("unsupported or truncated PGM raster")
    return w, h, px


def _parse_pgm(b: bytes) -> tuple:
    """Strict P5 parser: header via :func:`_parse_pgm_header`, exact
    integer pixel statistics from the raster."""
    w, h, px = _parse_pgm_header(b)
    return w, h, w * h, sum(px), max(px) if px else 0


PGM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_px", T.LongType()),
        T.StructField("max_px", T.IntegerType()),
    ]
)


def pgm_decode_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end image decode over PGM payloads: dimensions from the
    parsed header, exact integer pixel sum/max from the raster — the
    shared raster-decode shape (see _raster_decode_features)."""
    return _raster_decode_features(media, _parse_pgm)


PGM_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def pgm_resize_features(media: DataFrame, out_w: int,
                        out_h: int) -> DataFrame:
    """REAL image resize over decoded rasters — nearest-neighbor integer
    downscale/upscale (src index = ``out*in_dim div out_dim``, the
    standard NN convention; pure integer arithmetic, so every output
    pixel is an exact function of the source bytes and the DuckDB oracle
    recomputes the resized statistics bit-for-bit). This retires the
    stub boundary for the decodable raster family; :func:`resize` stays
    the documented stub for native-codec formats only.

    Scale: mapInPandas — rasters decoded, resampled (two numpy index
    gathers), and reduced where they sit; only (id, 4 scalars) leave the
    task."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad target dims {out_w}x{out_h}")
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sums, maxs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = _parse_pgm_header(bytes(payload))
                raster = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                out = raster[np.ix_(ys, xs)].astype(np.int64)
                ids.append(mid)
                sums.append(int(out.sum()))
                maxs.append(int(out.max()))
            yield pd.DataFrame(
                {"media_id": pd.Series(ids, dtype="int64"),
                 "out_w": pd.Series([out_w] * len(ids), dtype="int32"),
                 "out_h": pd.Series([out_h] * len(ids), dtype="int32"),
                 "px_sum": pd.Series(sums, dtype="int64"),
                 "px_max": pd.Series(maxs, dtype="int32")}
            )

    return fan_out(media, "media_id").mapInPandas(
        run, schema=PGM_RESIZE_SCHEMA
    )


def pgm_resize_oracle_sql(out_w: int, out_h: int, width: int = 32,
                          table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Recomputes the resized statistics straight from the source text:
    pixel (y, x) = byte y*width+x (zero-padded tail), nearest-neighbor
    source index = (k div out_w)*h_in div out_h rows and
    (k mod out_w)*width div out_w columns."""
    hin = f"greatest(1, (length(text) + {width} - 1) // {width})"
    src = (f"((((k // {out_w}) * {hin}) // {out_h}) * {width}"
           f" + (((k % {out_w}) * {width}) // {out_w}))")
    val = (f"(CASE WHEN {src} < length(text)"
           f" THEN ord(text[({src} + 1)::INT]) ELSE 0 END)")
    return f"""
SELECT {id_col} AS media_id,
       {out_w}::INT AS out_w, {out_h}::INT AS out_h,
       list_aggregate(list_transform(range(0, {out_w * out_h}),
         k -> {val}::BIGINT), 'sum')::BIGINT AS px_sum,
       list_aggregate(list_transform(range(0, {out_w * out_h}),
         k -> {val}), 'max')::INT AS px_max
FROM {table} ORDER BY media_id
"""


def pgm_decode_oracle_sql(width: int = 32, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Recomputes every decoded statistic from the source text: one byte
    per pixel, zero padding to the row boundary (padding affects n_pixels
    only — zeros change neither sum nor the max of non-empty ASCII)."""
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
)
SELECT media_id,
       {width}::INT AS width,
       greatest(1, (n + {width} - 1) // {width})::INT AS height,
       ({width} * greatest(1, (n + {width} - 1) // {width}))::BIGINT AS n_pixels,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                  i -> ascii(t[i])::BIGINT), 'sum'), 0)::BIGINT AS sum_px,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                  i -> ascii(t[i])), 'max'), 0)::INT AS max_px
FROM c ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# Real COLOR image decode: P6 (binary PPM) — header + interleaved RGB raster
# ---------------------------------------------------------------------------

def _text_to_ppm_bytes(data: bytes, width: int) -> bytes:
    """Deterministic real PPM (P6) encoder: input bytes fill an
    interleaved 8-bit RGB raster (byte k is channel k mod 3) row-major at
    ``width`` pixels per row, final row zero-padded — the color sibling
    of _text_to_pgm_bytes, again a genuine container needing no native
    codec."""
    import math

    n_px = max(1, math.ceil(len(data) / 3))
    h = max(1, math.ceil(n_px / width))
    raster = data + b"\x00" * (3 * width * h - len(data))
    return f"P6\n{width} {h}\n255\n".encode("ascii") + raster


def documents_as_ppm(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", width: int = 16) -> DataFrame:
    """Media frame whose payloads are REAL P6 PPM color images synthesized
    from the documents fixture — decodable end-to-end like the WAV and PGM
    families; JPEG/MP4 remain the documented native-codec stub boundary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [_text_to_ppm_bytes(t, width) for t in texts],
                    "meta": [
                        {
                            "kind": "image",
                            "mime": "image/x-portable-pixmap",
                            "width": width,
                            "height": max(
                                1,
                                math.ceil(max(1, math.ceil(len(t) / 3)) / width),
                            ),
                            "n_frames": 1,
                            "sample_rate": None,
                            "duration_ms": None,
                        }
                        for t in texts
                    ],
                }
            )

    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def _parse_ppm(b: bytes) -> tuple:
    """Strict P6 parser: magic, dimensions, maxval from the header; exact
    per-channel integer sums from the interleaved raster. Raises on
    malformed input (quarantine policy, not silent numbers)."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    parts = b.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    px = parts[3]
    if maxval != 255 or len(px) != 3 * w * h:
        raise ValueError("unsupported or truncated PPM raster")
    return (w, h, w * h,
            sum(px[0::3]), sum(px[1::3]), sum(px[2::3]),
            max(px) if px else 0)


PPM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("max_px", T.IntegerType()),
    ]
)


def ppm_decode_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end COLOR image decode over PPM payloads: dimensions
    from the parsed header, exact per-channel integer sums from the
    interleaved raster — the channel split is what distinguishes this
    from the grayscale path and what a real image featurizer (mean color,
    channel histograms) builds on. Same reduce-at-the-source shape as the
    WAV/PGM decoders: blobs decode where they sit, scalars come back."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_parse_ppm(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_pixels": [f[2] for f in feats],
                    "sum_r": [f[3] for f in feats],
                    "sum_g": [f[4] for f in feats],
                    "sum_b": [f[5] for f in feats],
                    "max_px": [f[6] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PPM_FEATURES_SCHEMA
    )


def _text_to_pbm_bytes(data: bytes, width: int) -> bytes:
    """Deterministic real PBM (P4) encoder: input bytes ARE the packed
    1-bit raster (MSB-first, 1 = black), row-major at ``width`` pixels
    per row with ``width % 8 == 0`` so rows pack whole bytes and no
    per-row padding bits exist; final row zero-padded. The bit-packed
    sibling of _text_to_pgm_bytes — a genuinely different decode shape
    (bit unpacking, not byte sampling)."""
    import math

    if width % 8:
        raise ValueError("PBM widths here must be byte-aligned")
    bpr = width // 8
    h = max(1, math.ceil(len(data) / bpr))
    raster = data + b"\x00" * (bpr * h - len(data))
    return f"P4\n{width} {h}\n".encode("ascii") + raster


def _parse_pbm(b: bytes) -> tuple:
    """Strict P4 parser: magic and dimensions from the header, exact
    black-pixel population count from the packed raster (popcount per
    byte). Raises on malformed input — quarantine, not silent numbers."""
    if not b.startswith(b"P4"):
        raise ValueError("not a P4 PBM payload")
    parts = b.split(b"\n", 2)
    if len(parts) < 3:
        raise ValueError("truncated PBM header")
    w, h = (int(x) for x in parts[1].split())
    if w % 8:
        raise ValueError("unsupported non-byte-aligned PBM width")
    px = parts[2]
    if len(px) != (w // 8) * h:
        raise ValueError("truncated PBM raster")
    return (w, h, w * h, sum(byte.bit_count() for byte in px))


PBM_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("n_black", T.LongType()),
        T.StructField("fill_permille", T.LongType()),
    ]
)


def documents_as_pbm(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", width: int = 16) -> DataFrame:
    """Media frame whose payloads are REAL P4 bitmap images synthesized
    from the documents fixture — the fourth decodable modality family
    (16-bit PCM audio, 8-bit grayscale, 8-bit RGB, and now 1-bit packed
    bitmaps)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        bpr = width // 8
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [_text_to_pbm_bytes(t, width) for t in texts],
                    "meta": [
                        {
                            "kind": "image",
                            "mime": "image/x-portable-bitmap",
                            "width": width,
                            "height": max(1, math.ceil(len(t) / bpr)),
                            "n_frames": 1,
                            "sample_rate": None,
                            "duration_ms": None,
                        }
                        for t in texts
                    ],
                }
            )

    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def pbm_decode_features(media: DataFrame) -> DataFrame:
    """REAL 1-bit bitmap decode over PBM payloads: dimensions from the
    parsed header, exact black-pixel count by per-byte popcount over the
    packed raster, and an integer fill ratio (permille, floor-divided so
    it stays engine-exact). Same reduce-at-the-source shape as the other
    decoders: blobs decode where they sit, scalars come back."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_parse_pbm(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_pixels": [f[2] for f in feats],
                    "n_black": [f[3] for f in feats],
                    "fill_permille": [f[3] * 1000 // f[2] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=PBM_FEATURES_SCHEMA
    )


def pbm_decode_oracle_sql(width: int = 16, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Recomputes every decoded statistic from the source text: byte i of
    the text is raster byte i, so n_black is the popcount sum over the
    chars (zero padding adds no set bits)."""
    bpr = width // 8
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n,
         greatest(1, (length(text) + {bpr} - 1) // {bpr})::BIGINT AS h
  FROM {table}
),
s AS (
  SELECT media_id,
         {width}::INT AS width,
         h::INT AS height,
         ({width} * h)::BIGINT AS n_pixels,
         coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                    i -> bit_count(ascii(t[i]))::BIGINT), 'sum'), 0)::BIGINT
           AS n_black
  FROM c
)
SELECT media_id, width, height, n_pixels, n_black,
       (n_black * 1000 // n_pixels)::BIGINT AS fill_permille
FROM s ORDER BY media_id
"""


def ppm_decode_oracle_sql(width: int = 16, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Recomputes every decoded statistic from the source text: byte k
    (0-based) lands in channel k mod 3; zero padding to the pixel/row
    boundary affects n_pixels only (zeros change neither channel sums nor
    the max of non-empty ASCII)."""
    ch = ("coalesce(list_aggregate(list_transform("
          "  list_filter(range(1, (n + 1)::INT), i -> (i - 1) % 3 = {c}),"
          "  i -> ascii(t[i])::BIGINT), 'sum'), 0)::BIGINT")
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n,
         greatest(1, (length(text) + 2) // 3)::BIGINT AS npx
  FROM {table}
)
SELECT media_id,
       {width}::INT AS width,
       greatest(1, (npx + {width} - 1) // {width})::INT AS height,
       ({width} * greatest(1, (npx + {width} - 1) // {width}))::BIGINT AS n_pixels,
       {ch.format(c=0)} AS sum_r,
       {ch.format(c=1)} AS sum_g,
       {ch.format(c=2)} AS sum_b,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
                  i -> ascii(t[i])), 'max'), 0)::INT AS max_px
FROM c ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# Real COMPRESSED image decode: PNG grayscale-8 — DEFLATE + filter recon
# ---------------------------------------------------------------------------

#: PNG is the first *compressed* container in the decodable family: unlike
#: the netpbm rasters above, the payload bytes are NOT the pixels — decoding
#: requires chunk-walking with CRC-32 integrity checks, zlib/DEFLATE
#: inflation, and per-scanline filter reconstruction (the spec's Sub / Up /
#: Average / Paeth predictors). All of it is stdlib-pure (zlib, struct), so
#: this stays inside the no-native-codec boundary while exercising a decode
#: path with real data-dependent control flow.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): pick the neighbor (left, up,
    up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _text_to_png_bytes(data: bytes, width: int) -> bytes:
    """Deterministic real PNG encoder (grayscale, 8-bit, non-interlaced):
    input bytes fill the raster row-major at ``width`` px/row, final row
    zero-padded. Rows deliberately cycle ALL five scanline filters
    (Sub, Up, Average, Paeth, None by row index mod 5) so the decoder's
    filter reconstruction is genuinely exercised, then the filtered stream
    is DEFLATE-compressed into IDAT. Output opens in any PNG viewer."""
    import math
    import struct
    import zlib

    h = max(1, math.ceil(len(data) / width))
    px = data + b"\x00" * (width * h - len(data))
    out = bytearray()
    prior = bytes(width)
    for r in range(h):
        raw = px[r * width:(r + 1) * width]
        ft = (1, 2, 3, 4, 0)[r % 5]
        if ft == 0:
            row = raw
        elif ft == 1:   # Sub
            row = bytes((raw[i] - (raw[i - 1] if i else 0)) & 0xFF
                        for i in range(width))
        elif ft == 2:   # Up
            row = bytes((raw[i] - prior[i]) & 0xFF for i in range(width))
        elif ft == 3:   # Average
            row = bytes(
                (raw[i] - (((raw[i - 1] if i else 0) + prior[i]) >> 1)) & 0xFF
                for i in range(width)
            )
        else:           # Paeth
            row = bytes(
                (raw[i] - _paeth(raw[i - 1] if i else 0, prior[i],
                                 prior[i - 1] if i else 0)) & 0xFF
                for i in range(width)
            )
        out.append(ft)
        out += row
        prior = raw
    ihdr = struct.pack(">IIBBBBB", width, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _parse_png(b: bytes) -> tuple:
    """Strict PNG decoder for the grayscale-8 non-interlaced profile:
    verifies the signature and every chunk's CRC-32, parses IHDR, inflates
    the concatenated IDAT stream, and reconstructs all five filter types
    per scanline. Raises on malformed input — corrupt media hits the
    quarantine policy, never silent numbers. Returns
    (width, height, n_pixels, sum_px, max_px) over the recovered raster."""
    import struct
    import zlib

    if not b.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, bytearray()
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos:pos + 4])
        tag = b[pos + 4:pos + 8]
        body = b[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", b[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} fails CRC")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError("unsupported PNG profile (need grayscale-8, "
                         "non-interlaced)")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (w + 1) * h:
        raise ValueError("PNG raster size mismatch")
    px = bytearray()
    prior = bytes(w)
    for r in range(h):
        ft = raw[r * (w + 1)]
        row = bytearray(raw[r * (w + 1) + 1:(r + 1) * (w + 1)])
        if ft == 1:     # Sub
            for i in range(1, w):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:   # Up
            for i in range(w):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif ft == 3:   # Average
            for i in range(w):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ft == 4:   # Paeth
            for i in range(w):
                row[i] = (row[i] + _paeth(row[i - 1] if i else 0, prior[i],
                                          prior[i - 1] if i else 0)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        prior = bytes(row)
        px += row
    return w, h, w * h, sum(px), max(px) if px else 0


def documents_as_png(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", width: int = 32) -> DataFrame:
    """Media frame whose payloads are REAL PNG images synthesized from the
    documents fixture — the fifth decodable modality family and the first
    COMPRESSED one (CRC-checked chunks, DEFLATE, filter prediction)."""
    return _documents_as_raster(docs, _text_to_png_bytes, "image/png",
                                width, text_col, id_col)


def png_decode_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end compressed-image decode over PNG payloads: CRC
    verification, DEFLATE inflation, filter reconstruction, then exact
    integer pixel statistics. Because the recovered raster must equal the
    zero-padded source bytes, the statistics are text-recomputable — the
    oracle is the PGM one — and any defect anywhere in the codec chain
    (CRC, inflate, any of the five filters) breaks the hash match."""
    return _raster_decode_features(media, _parse_png)


def png_decode_oracle_sql(width: int = 32, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """The PNG round-trip recovers exactly the zero-padded source bytes, so
    the decoded statistics are the PGM ones — one shared oracle, two
    independent codecs that must agree on it."""
    return pgm_decode_oracle_sql(width=width, table=table, id_col=id_col)


# ---------------------------------------------------------------------------
# Real LZW-compressed image decode: GIF87a grayscale — second compression
# codec (LZW), after PNG's DEFLATE
# ---------------------------------------------------------------------------

def _lzw_compress(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW: variable-width codes starting at
    ``min_code_size + 1`` bits, LSB-first bit packing, CLEAR/EOI control
    codes, dictionary capped at 4096 entries (emit CLEAR and reset).
    Width grows when ``next_code == 2^width + 1`` — the encoder-side
    convention that pairs with the decoder's ``next_code == 2^width``
    (the decoder's dictionary lags by exactly one insertion)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += width
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    def fresh() -> tuple[dict, int, int]:
        return ({bytes([i]): i for i in range(clear)}, eoi + 1,
                min_code_size + 1)

    table, next_code, width = fresh()
    emit(clear, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code == 4096:
            emit(clear, width)
            table, next_code, width = fresh()
        else:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    # EOI width parity: during the stream the encoder's counter leads the
    # decoder's by one add (final data code's add has no encoder
    # counterpart), so the checks == 2^w+1 (enc) / == 2^w (dec) pair up.
    # At EOI time the counters are EQUAL — the decoder adds on the final
    # data code and may grow width before reading EOI while the encoder's
    # +1 check never fired. Mirror the decoder's check here so EOI is
    # written at the exact width it will be read with (reachable when the
    # segment since the last CLEAR has exactly 2^w - eoi - 1 adds, e.g.
    # 254/766/1790 for min_code_size=8).
    if next_code == (1 << width) and width < 12:
        width += 1
    emit(eoi, width)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(payload: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of _lzw_compress; raises on malformed streams (unknown
    code, missing EOI) rather than guessing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = acc = n_bits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, n_bits
        while n_bits < width:
            if pos >= len(payload):
                raise ValueError("LZW stream truncated before EOI")
            acc |= payload[pos] << n_bits
            pos += 1
            n_bits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    next_code = eoi + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if not table:
            raise ValueError("LZW data before first CLEAR code")
        if code < len(table) and code != next_code:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]          # the KwKwK special case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


def _text_to_gif_bytes(data: bytes, width: int) -> bytes:
    """Deterministic real GIF87a encoder (grayscale, 256-entry global
    palette where index i is gray level i): input bytes ARE the palette
    indices, row-major at ``width`` px/row, final row zero-padded, LZW-
    compressed into 255-byte sub-blocks. Opens in any GIF viewer; with
    PNG's DEFLATE this makes two genuinely different compression codecs
    in the decodable family."""
    import math
    import struct

    h = max(1, math.ceil(len(data) / width))
    px = data + b"\x00" * (width * h - len(data))
    out = bytearray(b"GIF87a")
    # logical screen descriptor: global color table, 8 bits/pixel
    out += struct.pack("<HHBBB", width, h, 0xF7, 0, 0)
    for i in range(256):                      # grayscale palette
        out += bytes((i, i, i))
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, width, h, 0)  # image desc
    out.append(8)                             # LZW minimum code size
    lzw = _lzw_compress(px, 8)
    for off in range(0, len(lzw), 255):
        block = lzw[off:off + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3B"                        # block terminator + trailer
    return bytes(out)


def _parse_gif(b: bytes) -> tuple:
    """Strict GIF87a decoder for the grayscale profile this family
    writes: signature, screen/image descriptors, palette-is-grayscale
    check, sub-block reassembly, full LZW decompression. Raises on
    malformed input. Returns (width, height, n_pixels, sum_px, max_px)
    over the recovered index raster (== gray values under the identity
    palette)."""
    import math
    import struct

    if not b.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    if not flags & 0x80:
        raise ValueError("GIF without a global color table")
    n_colors = 2 << (flags & 0x07)
    pos = 13
    pal = b[pos:pos + 3 * n_colors]
    pos += 3 * n_colors
    if any(pal[3 * i] != pal[3 * i + 1] or pal[3 * i] != pal[3 * i + 2]
           for i in range(n_colors)):
        raise ValueError("unsupported non-grayscale GIF palette")
    if pos >= len(b) or b[pos] != 0x2C:
        raise ValueError("expected image descriptor")
    _l, _t, iw, ih, iflags = struct.unpack("<HHHHB", b[pos + 1:pos + 10])
    if iflags & 0xC0:
        raise ValueError("unsupported local-palette/interlaced GIF")
    pos += 10
    min_code = b[pos]
    pos += 1
    lzw = bytearray()
    while True:
        if pos >= len(b):
            raise ValueError("GIF sub-blocks truncated")
        n = b[pos]
        pos += 1
        if n == 0:
            break
        lzw += b[pos:pos + n]
        pos += n
    px = _lzw_decompress(bytes(lzw), min_code)
    if len(px) != iw * ih:
        raise ValueError("GIF raster size mismatch")
    return iw, ih, iw * ih, sum(px), max(px) if px else 0


def documents_as_gif(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", width: int = 32) -> DataFrame:
    """Media frame whose payloads are REAL GIF87a images synthesized from
    the documents fixture — the sixth decodable modality family and the
    second compressed one (LZW, after PNG's DEFLATE)."""
    return _documents_as_raster(docs, _text_to_gif_bytes, "image/gif",
                                width, text_col, id_col)


def gif_decode_features(media: DataFrame) -> DataFrame:
    """REAL end-to-end LZW decode over GIF payloads. The recovered index
    raster equals the zero-padded source bytes under the identity
    palette, so the statistics share the PGM text oracle — a defect in
    the sub-block walk, the variable-width bit reader, the dictionary
    growth/reset, or the KwKwK path breaks the hash match."""
    return _raster_decode_features(media, _parse_gif)


def gif_decode_oracle_sql(width: int = 32, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """The GIF round-trip recovers exactly the zero-padded source bytes
    (identity palette), so the decoded statistics are the PGM ones —
    three independent codecs (raw, DEFLATE, LZW) against one oracle."""
    return pgm_decode_oracle_sql(width=width, table=table, id_col=id_col)


# ---------------------------------------------------------------------------
# JPEG baseline (ITU-T T.81) — the third compressed container, and the first
# ENTROPY-CODED TRANSFORM codec in the decodable family: canonical Huffman
# tables parsed from DHT, a byte-stuffed bitstream, differential DC
# prediction, AC run-length/EOB symbols, dequantization through the zigzag
# order, and a full 8x8 inverse DCT (numpy separable form). The decoder is
# GENERAL baseline-grayscale; the fixture ENCODER keeps the transform stage
# exactly invertible by construction: each source byte becomes one FLAT 8x8
# block, whose forward DCT is a single integer DC coefficient
# (F(0,0) = 8*(v-128), AC all zero) — so the full lossy pipeline
# quantize -> Huffman -> parse -> dequantize -> IDCT -> round reconstructs
# every pixel bit-exactly (IDCT float error ~1e-13 << the 0.5 rounding
# margin), keeping the whole path on the hash-matched oracle surface.
# Reference scope note: the reference engine ships no media decode at all
# (SURVEY.md §2.2 additions); native-codec formats beyond these stdlib-pure
# ones remain the documented stub boundary (decode_stub above).
# ---------------------------------------------------------------------------

def _jpeg_zigzag() -> list:
    """The spec's zigzag scan as (row, col) pairs, computed (not typed)."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        if s % 2 == 0:
            diag = diag[::-1]
        order.extend(diag)
    return order


_JPEG_ZZ = _jpeg_zigzag()
#: quant table in natural (row, col) order: DC step 8 (exactly cancels the
#: 8x DC gain of a flat block), AC step 16 (never used by the encoder but
#: exercised generally by the decoder).
_JPEG_QUANT = [[8 if (r, c) == (0, 0) else 16 for c in range(8)]
               for r in range(8)]
#: DC table: symbols 0..11 (bit-category of the DC diff), all 4-bit codes.
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_JPEG_DC_VALS = list(range(12))
#: AC table: single 1-bit EOB symbol — all fixture blocks are DC-only.
_JPEG_AC_BITS = [1] + [0] * 15
_JPEG_AC_VALS = [0x00]


def _huff_codes(bits: list, vals: list) -> dict:
    """Canonical Huffman code assignment per T.81 Annex C:
    symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit emitter with the spec's 0xFF -> 0xFF 0x00 stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _jpeg_category(v: int) -> int:
    """Bit-category (magnitude size) of a DC/AC value, per F.1.2.1.1."""
    return 0 if v == 0 else abs(v).bit_length()


def _text_to_jpeg_bytes(data: bytes, width: int) -> bytes:
    """Deterministic baseline-grayscale JPEG: one source byte per FLAT 8x8
    block, ``width`` pixels (= width//8 blocks) per row, zero-byte-valued
    padding blocks to the row boundary. Real SOI/DQT/SOF0/DHT/SOS/EOI
    segment stream, real canonical-Huffman entropy coding with DC
    prediction and byte stuffing."""
    import math
    import struct

    bpr = width // 8
    nrows = max(1, math.ceil(len(data) / bpr))
    blocks = list(data) + [0] * (bpr * nrows - len(data))
    height = nrows * 8

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(_JPEG_QUANT[r][c]
                                      for (r, c) in _JPEG_ZZ))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
              + bytes([1, 0x11, 0]))
    dht = seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
              + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos_hdr = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    prev = 0
    for v in blocks:
        dc = v - 128  # flat block: F(0,0)/8 = v-128, quant step 8 -> v-128
        diff = dc - prev
        prev = dc
        s = _jpeg_category(diff)
        code, length = dc_codes[s]
        w.put(code, length)
        if s:
            bits = diff if diff >= 0 else diff + (1 << s) - 1
            w.put(bits, s)
        code, length = ac_codes[0x00]  # EOB: all 63 AC coefficients zero
        w.put(code, length)
    return (b"\xff\xd8" + dqt + sof + dht + sos_hdr + w.flush() + b"\xff\xd9")


class _JpegBitReader:
    """MSB-first bit reader over the entropy segment, un-stuffing
    0xFF 0x00 and stopping at any other marker."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.buf[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.buf):
                    raise ValueError("JPEG entropy stream truncated at FF")
                nxt = self.buf[self.pos]
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("unexpected marker inside entropy data")
            self.acc = byte
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v


def _huff_decode_table(bits: list, vals: list) -> dict:
    """(length, code) -> symbol, for generic canonical decode."""
    return {(length, code): sym
            for sym, (code, length) in _huff_codes(bits, vals).items()}


def _jpeg_read_symbol(rd: "_JpegBitReader", table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rd.bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code in JPEG stream")


def _jpeg_extend(bits: int, s: int) -> int:
    """Sign-extend an s-bit magnitude value per F.2.2.1 EXTEND."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _parse_jpeg(b: bytes) -> tuple:
    """General baseline-grayscale JPEG decoder: segment walk, DQT/DHT/SOF0
    parse, entropy decode (DC prediction + AC run-length/EOB), dequantize
    through the zigzag order, full separable IDCT (numpy), level shift,
    clamp, round. Returns the shared raster feature tuple
    ``(width, height, n_pixels, sum_px, max_px)``. Strict: raises on any
    malformed structure (quarantine policy, not silent numbers)."""
    import struct

    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    quant = None
    dc_tab = ac_tab = None
    width = height = None
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG segment desync")
        marker = struct.unpack(">H", b[pos:pos + 2])[0]
        if marker == 0xFFD9:
            raise ValueError("EOI before SOS")
        pos += 2
        ln = struct.unpack(">H", b[pos:pos + 2])[0]
        body = b[pos + 2:pos + ln]
        if marker == 0xFFDB:
            if body[0] != 0x00:
                raise ValueError("only 8-bit quant tables supported")
            quant = np.zeros((8, 8), dtype=np.int64)
            for k, (r, c) in enumerate(_JPEG_ZZ):
                quant[r, c] = body[1 + k]
        elif marker == 0xFFC0:
            prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp != 1:
                raise ValueError("only 8-bit grayscale baseline supported")
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = list(body[off + 1:off + 17])
                nv = sum(bits)
                vals = list(body[off + 17:off + 17 + nv])
                tab = _huff_decode_table(bits, vals)
                if tc_th >> 4 == 0:
                    dc_tab = tab
                else:
                    ac_tab = tab
                off += 17 + nv
        elif marker == 0xFFDA:
            pos += ln
            break
        else:
            pass  # APPn/COM: ignored, as the spec allows
        pos += ln
    if quant is None or dc_tab is None or ac_tab is None or width is None:
        raise ValueError("missing DQT/DHT/SOF0 before SOS")

    if width * height > (1 << 24):
        # corrupt-SOF guard: a torn header advertising absurd dimensions
        # must quarantine (ValueError), not drive the coefficient
        # allocation into a MemoryError that fails the whole task. 2^24
        # pixels bounds the int64 coefficient buffer at ~128 MB per blob
        # (the census additionally catches MemoryError as belt-and-braces)
        raise ValueError("JPEG dimensions exceed the sanity bound")
    bw, bh = (width + 7) // 8, (height + 7) // 8
    rd = _JpegBitReader(b, pos)
    coefs = np.zeros((bw * bh, 8, 8), dtype=np.int64)
    pred = 0
    for blk in range(bw * bh):
        s = _jpeg_read_symbol(rd, dc_tab)
        pred += _jpeg_extend(rd.bits(s), s)
        coefs[blk, 0, 0] = pred
        k = 1
        while k < 64:
            rs = _jpeg_read_symbol(rd, ac_tab)
            if rs == 0x00:  # EOB
                break
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError("invalid AC run symbol")
                k += 16  # ZRL
                continue
            k += run
            if k > 63:
                raise ValueError("AC index overflow")
            r, c = _JPEG_ZZ[k]
            coefs[blk, r, c] = _jpeg_extend(rd.bits(size), size)
            k += 1
    # dequantize + separable IDCT over all blocks at once
    deq = coefs * quant[None, :, :]
    n = np.arange(8)
    cmat = np.cos((2 * n[:, None] + 1) * n[None, :] * np.pi / 16) / 2.0
    cmat[:, 0] /= np.sqrt(2.0)
    px = np.einsum("ik,bkl,jl->bij", cmat, deq.astype(np.float64), cmat)
    px = np.clip(np.rint(px + 128.0), 0, 255).astype(np.int64)
    # assemble block grid, crop to (height, width)
    img = (px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
           .reshape(bh * 8, bw * 8)[:height, :width])
    return (int(width), int(height), int(width) * int(height),
            int(img.sum()), int(img.max()) if img.size else 0)


def documents_as_jpeg(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", width: int = 64) -> DataFrame:
    """Media frame whose payloads are REAL baseline JPEGs synthesized from
    the documents fixture. Shares the raster scaffold with a JPEG-specific
    height rule: one byte is one 8x8 BLOCK, so meta.height =
    8 * ceil(len / (width // 8)) — matching the SOF dimensions the
    decoder will read (regression-tested)."""
    import math

    bpr = width // 8
    return _documents_as_raster(
        docs, _text_to_jpeg_bytes, "image/jpeg", width, text_col, id_col,
        height_fn=lambda n: 8 * max(1, math.ceil(n / bpr)),
    )


def jpeg_decode_features(media: DataFrame) -> DataFrame:
    """End-to-end ENTROPY-CODED TRANSFORM decode: Huffman + bitstream +
    dequant + IDCT per blob, exact integer pixel statistics out — the
    shared raster-decode shape."""
    return _raster_decode_features(media, _parse_jpeg)


def jpeg_decode_oracle_sql(width: int = 64, table: str = "documents",
                           id_col: str = "doc_id") -> str:
    """Recomputes every decoded statistic from the source text: byte i is
    a flat 8x8 block, so it contributes 64 copies of its value; geometry
    follows the block grid (width//8 blocks per row, zero-valued padding
    blocks to the row boundary)."""
    bpr = width // 8
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
)
SELECT media_id,
       {width}::INT AS width,
       (8 * greatest(1, (n + {bpr} - 1) // {bpr}))::INT AS height,
       ({width} * 8 * greatest(1, (n + {bpr} - 1) // {bpr}))::BIGINT
         AS n_pixels,
       (64 * coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
          i -> ord(t[i])), 'sum'), 0))::BIGINT AS sum_px,
       coalesce(list_aggregate(list_transform(range(1, (n + 1)::INT),
          i -> ord(t[i])), 'max'), 0)::INT AS max_px
FROM c
ORDER BY media_id
"""


def corrupt_every_nth(media: DataFrame, n: int = 7,
                      strip_bytes: int = 8) -> DataFrame:
    """Deterministic corruption injector for quarantine-policy tests and
    the declared census query: every blob whose ``media_id % n == 0``
    loses its final ``strip_bytes`` bytes (kills the EOI marker and tail
    entropy bits — the classic torn-write shape). Pure projection."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            mask = (pdf["media_id"] % n) == 0
            pdf.loc[mask, "payload"] = pdf.loc[mask, "payload"].map(
                lambda b: bytes(b)[:max(0, len(b) - strip_bytes)]
            )
            yield pdf

    return media.mapInPandas(run, schema=media.schema)


DECODE_CENSUS_SCHEMA = T.StructType([
    T.StructField("n_total", T.LongType()),
    T.StructField("n_decoded", T.LongType()),
    T.StructField("n_quarantined", T.LongType()),
    T.StructField("sum_px_decoded", T.LongType()),
])


def decode_census(media: DataFrame, parse) -> DataFrame:
    """End-to-end QUARANTINE POLICY over a media column: attempt
    ``parse`` on every blob; malformed payloads are counted, never
    propagated and never fatal (the markSuspect analog of the reference's
    corrupt-SSTable handling — SURVEY §4 — applied to media decode).
    Returns ONE row ``(n_total, n_decoded, n_quarantined,
    sum_px_decoded)``.

    Scale shape: per-partition try/except inside one Arrow-batched pass
    emitting 4 longs per batch; the final combine is a 1-row sum. A bad
    blob costs one exception, not a job failure — at 100 TB with
    billions of blobs, fail-the-task semantics would make completion
    probability approach zero."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec = quar = 0
            spx = 0
            for payload in pdf["payload"]:
                try:
                    feats = parse(bytes(payload))
                    dec += 1
                    spx += int(feats[3])
                except (ValueError, IndexError, struct_error,
                        OverflowError, MemoryError):
                    quar += 1
            yield pd.DataFrame(
                {"n_total": [dec + quar], "n_decoded": [dec],
                 "n_quarantined": [quar], "sum_px_decoded": [spx]}
            )

    return (
        media.select("payload")
        .mapInPandas(run, schema=DECODE_CENSUS_SCHEMA)
        .agg(
            F.sum("n_total").alias("n_total"),
            F.sum("n_decoded").alias("n_decoded"),
            F.sum("n_quarantined").alias("n_quarantined"),
            F.sum("sum_px_decoded").alias("sum_px_decoded"),
        )
    )


def jpeg_quarantine_oracle_sql(n: int = 7, width: int = 64,
                               table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """The census is fully predictable from the corruption rule: id % n
    blobs always fail (the tail strip removes EOI + entropy bits), the
    rest decode exactly; sum_px over survivors = 64 * their byte sums."""
    return f"""
SELECT count(*)::BIGINT AS n_total,
       sum(CASE WHEN {id_col} % {n} <> 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_decoded,
       sum(CASE WHEN {id_col} % {n} = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_quarantined,
       sum(CASE WHEN {id_col} % {n} <> 0 THEN
         64 * coalesce(list_aggregate(list_transform(
           range(1, (length(text) + 1)::INT), i -> ord(text[i])), 'sum'), 0)
         ELSE 0 END)::BIGINT AS sum_px_decoded
FROM {table}
"""


# ---------------------------------------------------------------------------
# Animated (multi-frame) GIF — the first genuinely MULTI-FRAME container in
# the decodable family: several image descriptors in one GIF89a stream, each
# LZW-compressed independently, with graphic-control extensions between
# frames. This makes frame-level operators (sample every Nth frame, per-
# frame statistics) run against REAL decoded frames instead of the
# documents_as_video synthetic frame list.
# ---------------------------------------------------------------------------

def _text_to_animated_gif_bytes(data: bytes, width: int,
                                frame_rows: int = 4) -> bytes:
    """GIF89a with one frame per ``width * frame_rows`` input bytes (the
    text plays back as a scrolling raster). Real structure: NETSCAPE2.0
    loop extension, per-frame graphic-control extension + image
    descriptor + independent LZW stream."""
    import struct

    per = width * frame_rows
    chunks = [data[i:i + per] for i in range(0, max(len(data), 1), per)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, frame_rows, 0xF7, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))
    # application extension: NETSCAPE2.0 infinite loop
    out += b"\x21\xFF\x0BNETSCAPE2.0\x03\x01\x00\x00\x00"
    for chunk in chunks:
        px = chunk + b"\x00" * (per - len(chunk))
        # graphic control extension: 10cs delay, no transparency
        out += b"\x21\xF9\x04\x00\x0A\x00\x00\x00"
        out += b"\x2C" + struct.pack("<HHHHB", 0, 0, width, frame_rows, 0)
        out.append(8)
        lzw = _lzw_compress(px, 8)
        for off in range(0, len(lzw), 255):
            block = lzw[off:off + 255]
            out.append(len(block))
            out += block
        out.append(0)
    out += b"\x3B"
    return bytes(out)


ANIMATED_FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("sum_px", T.LongType()),
    T.StructField("max_px", T.IntegerType()),
])


def _parse_animated_gif(b: bytes) -> list:
    """Strict GIF89a multi-frame decoder: skips extensions (0x21 blocks),
    decodes EVERY image descriptor's LZW stream, returns per-frame
    ``(frame_idx, n_pixels, sum_px, max_px)``. Raises on malformed
    structure (quarantine policy)."""
    import struct

    if not b.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("not a GIF payload")
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    if not flags & 0x80:
        raise ValueError("GIF without a global color table")
    n_colors = 2 << (flags & 0x07)
    pos = 13 + 3 * n_colors
    frames = []
    while True:
        if pos >= len(b):
            raise ValueError("GIF truncated before trailer")
        tag = b[pos]
        pos += 1
        if tag == 0x3B:  # trailer
            break
        if tag == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(b):
                    raise ValueError("extension sub-blocks truncated")
                n = b[pos]
                pos += 1
                if n == 0:
                    break
                pos += n
            continue
        if tag != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{tag:02x}")
        _l, _t, iw, ih, iflags = struct.unpack("<HHHHB", b[pos:pos + 9])
        if iflags & 0xC0:
            raise ValueError("unsupported local-palette/interlaced GIF")
        pos += 9
        min_code = b[pos]
        pos += 1
        lzw = bytearray()
        while True:
            if pos >= len(b):
                raise ValueError("GIF sub-blocks truncated")
            n = b[pos]
            pos += 1
            if n == 0:
                break
            lzw += b[pos:pos + n]
            pos += n
        px = _lzw_decompress(bytes(lzw), min_code)
        if len(px) != iw * ih:
            raise ValueError("GIF raster size mismatch")
        frames.append((len(frames), iw * ih, sum(px),
                       max(px) if px else 0))
    if not frames:
        raise ValueError("GIF with no image descriptors")
    return frames


def documents_as_animated_gif(docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", width: int = 32,
                              frame_rows: int = 4) -> DataFrame:
    """Media frame of REAL multi-frame GIF89a payloads: one frame per
    ``width * frame_rows`` text bytes."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        per = width * frame_rows
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [
                        _text_to_animated_gif_bytes(t, width, frame_rows)
                        for t in texts
                    ],
                    "meta": [
                        {
                            "kind": "video",
                            "mime": "image/gif",
                            "width": width,
                            "height": frame_rows,
                            "n_frames": max(1, math.ceil(len(t) / per)),
                            "sample_rate": None,
                            "duration_ms": None,
                        }
                        for t in texts
                    ],
                }
            )

    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def animated_gif_frames(media: DataFrame, every_nth: int = 1) -> DataFrame:
    """Decode every frame of every multi-frame GIF blob, keep every
    ``every_nth``-th frame (frame sampling AFTER a real decode — the
    training-pipeline "sample frames from video" step, previously only
    exercised on synthetic frame lists). Blobs decode where they sit;
    per-frame scalar stats come back."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "n_pixels": [],
                    "sum_px": [], "max_px": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for idx, npx, spx, mx in _parse_animated_gif(bytes(payload)):
                    if idx % every_nth:
                        continue
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["n_pixels"].append(npx)
                    rows["sum_px"].append(spx)
                    rows["max_px"].append(mx)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=ANIMATED_FRAMES_SCHEMA
    )


def animated_gif_frames_oracle_sql(every_nth: int = 2, width: int = 32,
                                   frame_rows: int = 4,
                                   table: str = "documents",
                                   id_col: str = "doc_id") -> str:
    """Per-frame stats recomputed from text: frame f covers bytes
    [f*per, (f+1)*per), zero-padded; sampling keeps f % every_nth == 0."""
    per = width * frame_rows
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
), f AS (
  SELECT media_id, t, n, (fi - 1)::INT AS frame_idx
  FROM c, LATERAL UNNEST(generate_series(1,
       greatest((n + {per} - 1) // {per}, 1))) AS u(fi)
)
SELECT media_id, frame_idx,
       {per}::BIGINT AS n_pixels,
       coalesce(list_aggregate(list_transform(
         range((frame_idx * {per} + 1)::INT,
               (least((frame_idx + 1) * {per}, n) + 1)::INT),
         i -> ord(t[i])), 'sum'), 0)::BIGINT AS sum_px,
       coalesce(list_aggregate(list_transform(
         range((frame_idx * {per} + 1)::INT,
               (least((frame_idx + 1) * {per}, n) + 1)::INT),
         i -> ord(t[i])), 'max'), 0)::INT AS max_px
FROM f
WHERE frame_idx % {every_nth} = 0
ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# G.711 mu-law companding — the first AUDIO CODEC in the decodable family
# (WAV above is raw PCM). mu-law is lossy 2:1 compression whose
# quantization is fully DETERMINISTIC integer arithmetic (ITU-T G.711,
# public spec), so the companded roundtrip decode(encode(x)) is an exact
# function of x that an ANSI-SQL oracle recomputes — the audio analog of
# the flat-block JPEG construction (real codec machinery, hash-matched).
# ---------------------------------------------------------------------------

_ULAW_BIAS = 0x84
_ULAW_CLIP = 32_635


def _ulaw_encode(sample: int) -> int:
    """Encode one int16 PCM sample to a G.711 mu-law byte (sign +
    3-bit exponent + 4-bit mantissa, ones-complemented)."""
    sign = 0x80 if sample < 0 else 0
    s = min(-sample if sample < 0 else sample, _ULAW_CLIP) + _ULAW_BIAS
    e = s.bit_length() - 8  # s >= 0x84 -> bit 7 set -> e in 0..7
    mant = (s >> (e + 3)) & 0x0F
    return ~(sign | (e << 4) | mant) & 0xFF


def _ulaw_decode(code: int) -> int:
    """Exact inverse quantization: mu-law byte -> int16 sample."""
    c = ~code & 0xFF
    e = (c >> 4) & 0x07
    mant = c & 0x0F
    val = (((mant << 3) + _ULAW_BIAS) << e) - _ULAW_BIAS
    return -val if c & 0x80 else val


def _text_to_wav_ulaw_bytes(data: bytes, sample_rate: int) -> bytes:
    """Deterministic WAV container with format tag 7 (mu-law): each input
    byte b becomes the PCM sample (b - 128) * 256, companded to ONE
    mu-law byte. Hand-built RIFF (the stdlib wave module is PCM-only):
    fmt chunk with wFormatTag=7, 8-bit samples, then the data chunk."""
    import struct

    pcm = [(b - 128) * 256 for b in data]
    body = bytes(_ulaw_encode(s) for s in pcm)
    fmt = struct.pack("<HHIIHH", 7, 1, sample_rate, sample_rate, 1, 8)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + body
              + (b"\x00" if len(body) % 2 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


ULAW_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_dec", T.LongType()),
    T.StructField("ssq_dec", T.LongType()),
    T.StructField("peak_dec", T.IntegerType()),
])


def _parse_wav_ulaw(payload: bytes) -> tuple:
    """General RIFF chunk walker + G.711 mu-law expander: locates the fmt
    chunk (must be wFormatTag=7, mono, 8-bit), expands every data byte
    through the exact inverse quantization, returns
    ``(sample_rate, n_samples, sum_dec, ssq_dec, peak_dec)``. Strict on
    structure (quarantine policy)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sr = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        ln = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated RIFF chunk")
        if tag == b"fmt ":
            wtag, nch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if wtag != 7 or nch != 1 or bits != 8:
                raise ValueError("unsupported WAV format (need mono mu-law)")
        elif tag == b"data":
            data = body
        pos += 8 + ln + (ln % 2)
    if sr is None or data is None:
        raise ValueError("missing fmt or data chunk")
    dec = [_ulaw_decode(b) for b in data]
    return (int(sr), len(dec), sum(dec), sum(d * d for d in dec),
            max((abs(d) for d in dec), default=0))


def documents_as_wav_ulaw(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          sample_rate: int = 8_000) -> DataFrame:
    """Media frame of REAL G.711 mu-law WAV payloads (format tag 7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [t.encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [
                        _text_to_wav_ulaw_bytes(t, sample_rate) for t in texts
                    ],
                    "meta": [
                        {
                            "kind": "audio",
                            "mime": "audio/basic",
                            "width": None,
                            "height": None,
                            "n_frames": len(t),
                            "sample_rate": sample_rate,
                            "duration_ms": len(t) * 1000 // sample_rate,
                        }
                        for t in texts
                    ],
                }
            )

    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def wav_ulaw_decode_features(media: DataFrame) -> DataFrame:
    """End-to-end COMPANDED AUDIO decode: RIFF walk + exact mu-law
    expansion per blob; integer sample statistics out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_parse_wav_ulaw(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [f[0] for f in feats],
                    "n_samples": [f[1] for f in feats],
                    "sum_dec": [f[2] for f in feats],
                    "ssq_dec": [f[3] for f in feats],
                    "peak_dec": [f[4] for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=ULAW_FEATURES_SCHEMA
    )


def wav_ulaw_oracle_sql(sample_rate: int = 8_000, table: str = "documents",
                        id_col: str = "doc_id") -> str:
    """Recomputes the companded roundtrip per text byte in pure integer
    SQL: sample s = (b-128)*256, mu-law quantization q(s) via the G.711
    exponent thresholds (s is a multiple of 256 and |s| <= 32512, so the
    clip never engages), then the decoded statistics. A DIFFERENT
    mechanism (threshold CASE ladder vs bit_length arithmetic) that must
    agree byte-for-byte. The clip DOES engage for byte 0 (sample -32768),
    so the oracle applies it like the encoder."""
    # exponent e = bit_length(min(|s|, 32635) + 132) - 8, expressed as a
    # CASE ladder on m in [2^(e+7), 2^(e+8))
    e_case = ("CASE " + " ".join(
        f"WHEN m < {1 << (k + 8)} THEN {k}" for k in range(7)
    ) + " ELSE 7 END")
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n
  FROM {table}
), s AS (
  SELECT media_id, ((ord(t[i]) - 128) * 256)::BIGINT AS pcm
  FROM c, LATERAL UNNEST(generate_series(1, n::INT)) AS u(i)
), q AS (
  SELECT media_id, pcm,
         least(CASE WHEN pcm < 0 THEN -pcm ELSE pcm END, 32635) + 132 AS m
  FROM s
), e AS (
  SELECT media_id, pcm, m, ({e_case})::BIGINT AS ex FROM q
), d AS (
  -- m >> (e+3) = 16 + mantissa (hidden leading bit), so the G.711
  -- expansion (8*mant + 132)*2^e - 132 becomes ((m>>(e+3))*8 + 4)*2^e - 132
  SELECT media_id,
         (CASE WHEN pcm < 0 THEN -1 ELSE 1 END)
         * (((m // (2 ** (ex + 3))::BIGINT) * 8 + 4)
            * (2 ** ex)::BIGINT - 132) AS dec
  FROM e
)
SELECT c.media_id,
       {sample_rate}::INT AS sample_rate,
       c.n AS n_samples,
       coalesce(sum(d.dec), 0)::BIGINT AS sum_dec,
       coalesce(sum(d.dec * d.dec), 0)::BIGINT AS ssq_dec,
       coalesce(max(abs(d.dec)), 0)::INT AS peak_dec
FROM c LEFT JOIN d ON c.media_id = d.media_id
GROUP BY c.media_id, c.n
ORDER BY c.media_id
"""


# ---------------------------------------------------------------------------
# Perceptual hash: row-gradient dHash over decoded rasters
# ---------------------------------------------------------------------------

def _pgm_row_dhash(b: bytes) -> tuple:
    """Difference hash (dHash), row direction, over a parsed P5 raster:
    per-row pixel sums, then one bit per adjacent row pair —
    ``'1' if sum(row r) > sum(row r+1) else '0'`` — the classic
    gradient fingerprint (the column-direction 8x8 form is the common
    photo variant; rows are the natural axis for this fixture's
    one-byte-per-pixel rasters). Height-1 images hash to the empty
    string. Returns ``(height, dhash)``."""
    if not b.startswith(b"P5"):
        raise ValueError("not a P5 PGM payload")
    parts = b.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PGM header")
    w, h = (int(x) for x in parts[1].split())
    px = parts[3]
    if len(px) != w * h:
        raise ValueError("truncated PGM raster")
    sums = [sum(px[r * w:(r + 1) * w]) for r in range(h)]
    return h, "".join(
        "1" if sums[r] > sums[r + 1] else "0" for r in range(h - 1)
    )


def pgm_dhash(media: DataFrame) -> DataFrame:
    """Perceptual near-duplicate detection over REAL decoded rasters:
    each PGM payload decodes where it sits (Arrow pass, no pixel ever
    shuffles) into its row-gradient dHash, then one map-side-combined
    count per hash flags perceptual duplicates — the image-side
    companion to the text MinHash/SimHash family (two images whose
    row-brightness gradients agree collide even when absolute levels
    shift). Output ``(media_id, height, dhash, n_same)``.

    Scale: the only shuffle is the hash-keyed count (dictionary-sized);
    the broadcast-back join is hash-keyed too. At 100 TB of imagery the
    pixels never leave their scan tasks."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_pgm_row_dhash(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": [f[0] for f in feats],
                    "dhash": [f[1] for f in feats],
                }
            )

    hashed = media.select("media_id", "payload").mapInPandas(
        run, schema="media_id bigint, height int, dhash string"
    )
    counts = hashed.groupBy("dhash").agg(
        F.count("*").cast("long").alias("n_same")
    )
    return hashed.join(counts, "dhash").select(
        "media_id", "height", "dhash", "n_same"
    )


def pgm_dhash_oracle_sql(width: int = 32, table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """Recomputes each row-gradient hash from the source text (one byte
    per pixel, zero-padded final row — padding zeros DO lower the last
    row's sum, exactly as the raster does) and the per-hash counts."""
    w = width
    return f"""
WITH c AS (
  SELECT {id_col} AS media_id, text AS t, length(text)::BIGINT AS n,
         greatest(1, (length(text) + {w} - 1) // {w})::INT AS h
  FROM {table}
),
rs AS (
  SELECT media_id, h,
         list_transform(range(0, h),
           r -> coalesce(list_aggregate(
                  list_transform(range(r * {w} + 1,
                                       (least((r + 1) * {w}, n) + 1)::INT),
                                 i -> ascii(t[i])::BIGINT),
                  'sum'), 0)) AS sums
  FROM c
),
hashed AS (
  SELECT media_id, h AS height,
         array_to_string(
           list_transform(range(1, h),
             r -> CASE WHEN sums[r] > sums[r + 1]
                       THEN '1' ELSE '0' END), '') AS dhash
  FROM rs
)
SELECT media_id, height, dhash,
       count(*) OVER (PARTITION BY dhash)::BIGINT AS n_same
FROM hashed ORDER BY media_id
"""
