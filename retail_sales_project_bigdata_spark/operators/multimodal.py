"""Multimodal (image/audio/video) column pipeline (north-star op).

Treats media as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched pandas UDFs over ``mapInPandas`` — the Spark-idiomatic shape
for media pipelines at 100 TB:

- media rows travel as (id, modality, payload binary, metadata) — the
  payload never deserializes JVM-side; Arrow moves it to Python in
  columnar batches.
- decode / feature-extract / resize / frame-sample are per-batch pandas
  functions.  The actual codec calls (PIL/ffmpeg/soundfile) are NOT in
  this container, so the decode step is STUBBED: a deterministic
  fake decoder derived from the payload bytes, clearly marked.  The
  Spark-side plumbing — schema, partitioning, UDF signature, batch
  shape — is real and tested.
- Spark's own ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MiB by
  default) bounds each JVM→Python Arrow batch by bytes, on whatever
  session the caller passes.  Media rows are MBs at scale, where the
  10,000-row ``maxRecordsPerBatch`` default alone would ship GB-sized
  batches; the byte cap cuts those to tens of rows, while small-payload
  corpora still get 10,000-row batches.  The target is Spark's 64 MiB,
  not the 32 MiB an earlier per-table row-count estimate aimed at.

The synthetic corpus derives a binary payload from ``documents.text``
(deterministic, so the oracle-checked metadata query has a DuckDB analog).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_sales_project_bigdata_spark.functions import pround
from retail_sales_project_bigdata_spark.sources import fan_out, read_table


def _media_source(
    spark: SparkSession, sf_dir: str, modality: str | None = None
) -> DataFrame:
    """The media frame every Arrow op starts from, on the caller's
    session.  When an op consumes ONE modality, the modality filter runs
    BEFORE the Python boundary, so the decode step never ships or decodes
    payloads the op will drop (the manual analog of predicate pushdown,
    which cannot cross a mapInPandas)."""
    media = media_table(spark, sf_dir)
    if modality is not None:
        media = media.filter(F.col("modality") == modality)
    return media


def _compose_batches(*stages):
    """Chain Iterator[pd.DataFrame] → Iterator[pd.DataFrame] stages inside
    ONE mapInPandas: each extra mapInPandas node is a full JVM→Python→JVM
    Arrow round trip, so decode→transform pipelines fuse here instead of
    stacking plan nodes.  Stages stay individually testable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        it = batches
        for stage in stages:
            it = stage(it)
        return it

    return run


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal table: binary payload + typed metadata.

    Synthesized deterministically from documents (payload = utf-8 bytes;
    modality assigned round-robin by doc_id) — stands in for a real
    (id, payload, modality, width, height, sample_rate, duration) table.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        F.length("text").alias("payload_bytes"),
        F.col("source").alias("origin"),
    )


MEDIA_TABLE_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       length(text) AS payload_bytes,
       source AS origin
FROM documents
"""


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only projection — the query planners must never touch the
    payload column for this (column pruning keeps the binary out of the
    scan; asserted in tests via the physical plan's ReadSchema)."""
    return media_table(spark, sf_dir).select(
        "media_id", "modality", "payload_bytes", "origin"
    )


def _fake_decode(payload: bytes, modality: str) -> dict:
    """STUB decoder — deterministic fake in place of PIL/ffmpeg/soundfile
    (not installed in this container).  Derives plausible media properties
    from the payload bytes so downstream plumbing is exercised end-to-end.
    A real deployment replaces ONLY this function."""
    n = len(payload)
    checksum = sum(payload[:64]) % 997
    if modality == "image":
        return {"width": 64 + checksum % 512, "height": 64 + n % 512, "frames": 1}
    if modality == "audio":
        return {"width": 0, "height": 0, "frames": 8000 + (n * 13 + checksum) % 80000}
    return {"width": 320, "height": 240, "frames": 24 + (checksum * 7 + n) % 240}


_DECODED_SCHEMA = (
    "media_id long, modality string, payload_bytes long,"
    " width long, height long, frames long"
)


def _decode_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """The decode stage body (binary payload in → typed properties out),
    module-level so single-modality ops can fuse it with their own stage
    via :func:`_compose_batches`."""
    use_real = _real_decode_enabled()
    for pdf in batches:
        props = [
            (use_real and _try_real_decode(p, m)) or _fake_decode(p, m)
            for p, m in zip(pdf["payload"], pdf["modality"])
        ]
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "payload_bytes": pdf["payload_bytes"],
                "width": [r["width"] for r in props],
                "height": [r["height"] for r in props],
                "frames": [r["frames"] for r in props],
            }
        )


_REAL_DECODE_STATE: list = []  # lazily-resolved [bool], per Python process


def _real_decode_enabled() -> bool:
    """True when the user OPTS IN with ``SPARK_GRAFT_REAL_DECODE=1`` and
    at least one real codec (Pillow / soundfile / PyAV) is importable.
    Default OFF: real-decoded properties diverge from the oracle-mirrored
    stub on any payload a codec accepts, so an environment with codecs
    installed and decodable payloads would silently fail the DuckDB
    correctness gate if this defaulted on — deterministic stub by
    default, real codecs on request.  Resolved once per Python process
    (driver AND each Arrow worker resolve independently — the batch
    functions below are shipped to workers, where the driver's answer
    would be meaningless)."""
    if not _REAL_DECODE_STATE:
        import importlib.util
        import os

        _REAL_DECODE_STATE.append(
            os.environ.get("SPARK_GRAFT_REAL_DECODE", "0") == "1"
            and any(
                importlib.util.find_spec(m) is not None
                for m in ("PIL", "soundfile", "av")
            )
        )
    return _REAL_DECODE_STATE[0]


def _try_real_decode(payload: bytes, modality: str) -> dict | None:
    """Import-gated real decode, one codec per modality — Pillow for
    images, soundfile for audio, PyAV for video (none installed in this
    container — the gates keep the stub as the tested path).  Returns
    None on a missing codec or any decode failure so the caller falls
    back per-row to :func:`_fake_decode`.  The gate-SF payloads are
    synthetic text bytes, which no codec accepts, so the oracle-mirrored
    stub keeps producing the gate values even when codecs ARE installed;
    real corpora get real dimensions."""
    try:
        if modality == "image":
            return _decode_image_pil(payload)
        if modality == "audio":
            return _decode_audio_soundfile(payload)
        if modality == "video":
            return _decode_video_av(payload)
    except Exception:
        return None
    return None


def _decode_image_pil(payload: bytes) -> dict:
    import io

    from PIL import Image

    with Image.open(io.BytesIO(bytes(payload))) as im:
        return {
            "width": int(im.width),
            "height": int(im.height),
            "frames": int(getattr(im, "n_frames", 1)),
        }


def _decode_audio_soundfile(payload: bytes) -> dict:
    """Audio properties via soundfile (libsndfile): frames = sample
    count; width/height 0 to match the stub's audio row shape."""
    import io

    import soundfile as sf

    info = sf.info(io.BytesIO(bytes(payload)))
    return {"width": 0, "height": 0, "frames": int(info.frames)}


def _decode_video_av(payload: bytes) -> dict:
    """Video properties via PyAV (ffmpeg bindings): first video stream's
    geometry and frame count (falls back to duration x rate when the
    container does not carry an exact count)."""
    import io

    import av

    with av.open(io.BytesIO(bytes(payload))) as container:
        stream = next(
            s for s in container.streams if s.type == "video"
        )
        frames = int(stream.frames or 0)
        if not frames and stream.duration and stream.average_rate:
            frames = int(stream.duration * stream.time_base * stream.average_rate)
        return {
            "width": int(stream.codec_context.width),
            "height": int(stream.codec_context.height),
            "frames": frames,
        }


def decode_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode step over ``mapInPandas``: binary in → typed properties out.

    Batch iterator signature (Iterator[pd.DataFrame] → Iterator[pd.DataFrame])
    is the real production shape: per-partition, Arrow-batched, zero JVM
    deserialization of payloads.
    """
    return _media_source(spark, sf_dir).mapInPandas(
        _decode_batches, schema=_DECODED_SCHEMA
    )


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling step: one output row per sampled frame (every 24th),
    video only — the explode-shaped media op (1 input row → N output rows),
    again as mapInPandas so a real sampler slots in per-batch.

    Fused: the video filter runs BEFORE the Python boundary and the
    decode + sample stages share one mapInPandas (see _compose_batches)."""
    media = _media_source(spark, sf_dir, "video")

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["media_id", "frame_no", "width", "height"]
        for pdf in batches:
            # vectorized explode: row i emits ceil(frames/24) rows with
            # frame_no 0, 24, 48, ... — no per-row Python loop
            counts = (pdf["frames"].to_numpy(dtype="int64") + 23) // 24
            counts = np.maximum(counts, 0)
            total = int(counts.sum())
            if total == 0:
                yield pd.DataFrame(
                    {c: pd.Series([], dtype="int64") for c in cols}
                )
                continue
            row_idx = np.repeat(np.arange(len(pdf)), counts)
            row_starts = np.cumsum(counts) - counts
            frame_no = (np.arange(total) - row_starts[row_idx]) * 24
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[row_idx],
                    "frame_no": frame_no,
                    "width": pdf["width"].to_numpy()[row_idx],
                    "height": pdf["height"].to_numpy()[row_idx],
                }
            )

    return media.mapInPandas(
        _compose_batches(_decode_batches, sample_batches),
        schema="media_id long, frame_no long, width long, height long",
    )


RESIZE_TARGET = 224


def resize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize step (images only): fit into a {RESIZE_TARGET}² box
    preserving aspect ratio, shrink-only — the standard training-data
    normalization pass.

    The geometry uses integer rational math (``new = old·T // max_dim``)
    so the DuckDB oracle mirrors it exactly; the byte size scales by
    pixel ratio as the stand-in for the re-encoded payload (a real
    deployment swaps the batch body for PIL/ffmpeg — the mapInPandas
    signature, Arrow batching, and schema stay as-is).

    Fused: image filter before the Python boundary; decode + resize share
    one mapInPandas (_compose_batches)."""
    media = _media_source(spark, sf_dir, "image")

    def resize_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            w = pdf["width"].to_numpy(dtype="int64")
            h = pdf["height"].to_numpy(dtype="int64")
            m = np.maximum(w, h)
            shrink = m > RESIZE_TARGET
            nw = np.where(shrink, (w * RESIZE_TARGET) // m, w)
            nh = np.where(shrink, (h * RESIZE_TARGET) // m, h)
            px_old = np.maximum(w * h, 1)
            out_bytes = (
                pdf["payload_bytes"].to_numpy(dtype="int64") * (nw * nh)
            ) // px_old
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": w,
                    "height": h,
                    "new_width": nw,
                    "new_height": nh,
                    "resized_bytes": out_bytes,
                }
            )

    return media.mapInPandas(
        _compose_batches(_decode_batches, resize_batches),
        schema=(
            "media_id long, width long, height long,"
            " new_width long, new_height long, resized_bytes long"
        ),
    )


def media_stats_by_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-decode rollup — metadata aggregation over the decoded frame
    (the query a curation pipeline runs to budget a training mix)."""
    decoded = decode_media(spark, sf_dir)
    return decoded.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("payload_bytes").alias("total_bytes"),
        pround(F.sum("frames") / F.count(F.lit(1)), 6).alias("avg_frames"),
    )


# Oracle mirror of the stub decoder: the synthetic payload is the utf-8
# bytes of documents.text, which the testdata guarantees is pure ASCII
# (length == strlen), so DuckDB's per-character ord() sums the same BYTE
# values Python's sum(payload[:64]) sums.  This value-checks the whole
# Arrow/mapInPandas decode path — batch iteration, schema, explode
# fan-out — against an independent SQL evaluation of the same math.
_DECODE_CTE = """
base AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality,
         CAST(length(text) AS BIGINT) AS n,
         CAST(list_sum(list_transform(
             generate_series(1, least(length(text), 64)),
             i -> ord(substr(text, i, 1)))) % 997 AS BIGINT) AS checksum
  FROM documents
),
decoded AS (
  SELECT media_id, modality, n AS payload_bytes,
         CAST(CASE WHEN modality = 'image' THEN 64 + checksum % 512
                   WHEN modality = 'audio' THEN 0
                   ELSE 320 END AS BIGINT) AS width,
         CAST(CASE WHEN modality = 'image' THEN 64 + n % 512
                   WHEN modality = 'audio' THEN 0
                   ELSE 240 END AS BIGINT) AS height,
         CAST(CASE WHEN modality = 'image' THEN 1
                   WHEN modality = 'audio' THEN 8000 + (n * 13 + checksum) % 80000
                   ELSE 24 + (checksum * 7 + n) % 240 END AS BIGINT) AS frames
  FROM base
)"""

DECODE_MEDIA_SQL = f"""
WITH {_DECODE_CTE}
SELECT media_id, modality, payload_bytes, width, height, frames FROM decoded
"""

FRAME_SAMPLE_SQL = f"""
WITH {_DECODE_CTE}
SELECT media_id,
       CAST(unnest(generate_series(0, frames - 1, 24)) AS BIGINT) AS frame_no,
       width, height
FROM decoded WHERE modality = 'video'
"""

MEDIA_STATS_BY_MODALITY_SQL = f"""
WITH {_DECODE_CTE}
SELECT modality,
       COUNT(*) AS n_items,
       CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes,
       ROUND(CAST(SUM(frames) AS DOUBLE) / COUNT(*), 6) AS avg_frames
FROM decoded GROUP BY modality
"""


AUDIO_SR = 8000  # stub decoder's base sample rate (frames = samples)


def audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction step for audio: one row per 1-second window
    (``AUDIO_SR`` samples) with a deterministic energy stand-in — the
    explode-shaped analog of :func:`frame_sample` for the audio modality
    (a real deployment computes RMS from the decoded samples inside the
    same batch function).

    Energy stub = ``(payload_bytes * 31 + window_no * 17) % 1000 / 1000``
    — integer math, mirrored exactly in the oracle."""
    media = _media_source(spark, sf_dir, "audio")

    def window_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            frames = pdf["frames"].to_numpy(dtype="int64")
            counts = (frames + AUDIO_SR - 1) // AUDIO_SR
            total = int(counts.sum())
            if total == 0:
                yield pd.DataFrame(
                    {
                        c: pd.Series([], dtype="int64")
                        for c in ("media_id", "window_no", "n_samples")
                    }
                    | {"energy": pd.Series([], dtype="float64")}
                )
                continue
            row_idx = np.repeat(np.arange(len(pdf)), counts)
            row_starts = np.cumsum(counts) - counts
            window_no = np.arange(total) - row_starts[row_idx]
            f = frames[row_idx]
            n_samples = np.minimum(f - window_no * AUDIO_SR, AUDIO_SR)
            pb = pdf["payload_bytes"].to_numpy(dtype="int64")[row_idx]
            energy = ((pb * 31 + window_no * 17) % 1000) / 1000.0
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[row_idx],
                    "window_no": window_no,
                    "n_samples": n_samples,
                    "energy": energy,
                }
            )

    return media.mapInPandas(
        _compose_batches(_decode_batches, window_batches),
        schema="media_id long, window_no long, n_samples long, energy double",
    )


AUDIO_WINDOWS_SQL = f"""
WITH {_DECODE_CTE},
wins AS (
  SELECT media_id, frames, payload_bytes,
         CAST(unnest(generate_series(
             0, CAST(CEIL(frames / {AUDIO_SR}.0) AS BIGINT) - 1)) AS BIGINT)
           AS window_no
  FROM decoded WHERE modality = 'audio'
)
SELECT media_id, window_no,
       least(frames - window_no * {AUDIO_SR}, {AUDIO_SR}) AS n_samples,
       ((payload_bytes * 31 + window_no * 17) % 1000) / 1000.0 AS energy
FROM wins
"""


RESIZE_MEDIA_SQL = f"""
WITH {_DECODE_CTE},
resized AS (
  SELECT media_id, width, height,
         CASE WHEN greatest(width, height) > {RESIZE_TARGET}
              THEN (width * {RESIZE_TARGET}) // greatest(width, height)
              ELSE width END AS new_width,
         CASE WHEN greatest(width, height) > {RESIZE_TARGET}
              THEN (height * {RESIZE_TARGET}) // greatest(width, height)
              ELSE height END AS new_height,
         payload_bytes
  FROM decoded WHERE modality = 'image'
)
SELECT media_id, width, height, new_width, new_height,
       (payload_bytes * (new_width * new_height))
         // greatest(width * height, 1) AS resized_bytes
FROM resized
"""


PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAMMING_MAX = 6


def _phash_pairs_from(media: DataFrame) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over an image frame
    (media_id, payload): the image-dedup operator every multimodal
    training pipeline runs before captioning/packing.

    1. **dHash** (difference hash) per image, computed batch-vectorized
       in the SAME stubbed-decode discipline as the rest of this module:
       the deterministic fake decoder cycles payload bytes into an
       8×9 grayscale grid (a real deployment swaps in
       PIL → resize(9, 8) → grayscale); bit (r, c) = grid[r][c+1] >
       grid[r][c] → 64-bit signature.  Python ONLY computes the hash —
       this is the genuinely non-relational step.
    2. **Banded candidate generation** (the simhash/minhash discipline):
       each signature splits into {PHASH_BANDS} × {PHASH_BAND_BITS}-bit
       bands; only pairs sharing ≥1 exact band meet — never all-pairs.
       Pairs differing in ≤{PHASH_HAMMING_MAX} of 64 bits always share a
       clean 16-bit band when the flips spread across ≤3 bands; the
       recall trade-off is the documented LSH contract.
    3. **Hamming verification JVM-side**: ``bit_count(a ^ b) ≤
       {PHASH_HAMMING_MAX}`` — codegen'd, no Python in the join path.

    Scale: hash is map-only Arrow batches; the band self-join keys on
    (band_id, band_value) — collision-bounded like ``minhash_lsh_pairs``;
    verification carries both 8-byte hashes through the join, touching
    the image table exactly once.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        powers = (1 << np.arange(63, -1, -1)).astype(np.uint64)
        for pdf in batches:
            hashes = []
            for p in pdf["payload"]:
                raw = np.frombuffer(bytes(p), dtype=np.uint8)
                if raw.size == 0:
                    hashes.append(0)
                    continue
                grid = np.resize(raw, (8, 9)).astype(np.int16)
                bits = (grid[:, 1:] > grid[:, :-1]).ravel().astype(np.uint64)
                hashes.append(int(bits @ powers))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    # wrap uint64 into the signed long Spark stores
                    "dhash": pd.array(
                        [h - (1 << 64) if h >= (1 << 63) else h for h in hashes],
                        dtype="int64",
                    ),
                }
            )

    hashed = media.select("media_id", "payload").mapInPandas(
        hash_batches, schema="media_id long, dhash long"
    )
    band_mask = (1 << PHASH_BAND_BITS) - 1
    bands = hashed.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("dhash", b * PHASH_BAND_BITS)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("band_val"),
                    )
                    for b in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("media_id", "dhash", "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
            F.col("a.dhash").alias("dhash_a"),
            F.col("b.dhash").alias("dhash_b"),
        )
        .distinct()
    )
    return cand.select(
        "media_id_a",
        "media_id_b",
        F.bit_count(
            F.col("dhash_a").bitwiseXOR(F.col("dhash_b"))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= PHASH_HAMMING_MAX)


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs over the corpus media table (see
    ``_phash_pairs_from``).  Rows-only in the driver gate (the dHash
    derivation is the stubbed Python decode step); value-checked in
    tests against a pure-Python reference pipeline, both on the corpus
    and on crafted near-duplicate payloads."""
    return _phash_pairs_from(_media_source(spark, sf_dir, "image"))


ORACLES: dict[str, str] = {
    "media_metadata": MEDIA_TABLE_METADATA_SQL,
    "decode_media": DECODE_MEDIA_SQL,
    "resize_media": RESIZE_MEDIA_SQL,
    "audio_windows": AUDIO_WINDOWS_SQL,
    "frame_sample": FRAME_SAMPLE_SQL,
    "media_stats_by_modality": MEDIA_STATS_BY_MODALITY_SQL,
}

QUERIES = {
    "image_phash_pairs": image_phash_pairs,
    "media_metadata": media_metadata,
    "decode_media": decode_media,
    "resize_media": resize_media,
    "audio_windows": audio_windows,
    "frame_sample": frame_sample,
    "media_stats_by_modality": media_stats_by_modality,
}
