"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched Pandas UDFs.

The Spark-side machinery — schemas, partitioning, ``mapInPandas``
signatures, batch shapes — is real and tested.  The actual media
decoding is STUBBED: this container has no image/audio libraries, so
``decode_image`` raises ``NotImplementedError`` unless PIL is present,
and the tested path uses ``fake_decode`` (deterministic bytes-derived
features).  Swap ``fake_decode`` for a real decoder on a cluster with
the codec libraries installed; nothing else changes.

At 100 TB: binary payloads dominate partition size — repartition by
byte budget (``mapInPandas`` sees Arrow batches, so a handful of 100 MB
blobs per batch is fine), keep metadata in separate narrow columns so
non-decoding queries never read the bytes (parquet column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: A multimodal asset row: opaque payload + typed metadata.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FEATURE_DIM = 16

#: Extracted features: fixed-dim vector + shape metadata.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def decode_image(payload: bytes) -> "object":
    """Real image decode — requires PIL, absent in this container.

    STUB: the import guard is the entire implementation until a codec
    library exists in the runtime image.
    """
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "image decoding requires PIL; install it on the cluster image"
        ) from exc


def fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: a 16-bin byte
    histogram, L1-normalized.  Exercises the full Spark plumbing with
    CI-reproducible numbers."""
    if not payload:
        return [0.0] * FEATURE_DIM
    bins = [0] * FEATURE_DIM
    for b in payload:
        bins[b % FEATURE_DIM] += 1
    total = float(len(payload))
    return [c / total for c in bins]


def synthesize_assets(docs: DataFrame) -> DataFrame:
    """Derive a deterministic binary corpus from ``documents`` (md5
    bytes repeated) — the CI stand-in for a real media lake."""
    payload = F.unhex(F.repeat(F.md5(F.col("text")), 4))  # 64 bytes
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def extract_features(assets: DataFrame, batch_partitions: int | None = None) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Error isolation mirrors the probe stage: a failing asset yields a
    row with ``error`` set, never a failed task.
    """
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    feat = fake_decode(row.payload)
                    out.append((row.asset_id, row.kind, row.n_bytes, feat, None))
                except Exception as exc:  # dead-letter per asset
                    out.append((row.asset_id, row.kind, row.n_bytes, None, str(exc)[:200]))
            yield pd.DataFrame(
                out, columns=["asset_id", "kind", "n_bytes", "feature", "error"]
            )

    src = assets
    if batch_partitions:
        src = src.repartition(batch_partitions)
    return src.mapInPandas(run, FEATURE_SCHEMA)


#: One row per sampled frame (UDTF shape: 1 video → N frames).
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_frac", T.DoubleType(), True),  # position in [0,1)
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def sample_frames(assets: DataFrame, n_frames: int = 4) -> DataFrame:
    """Uniform frame sampling over video assets — 1 row in → N rows out
    (``mapInPandas`` yielding an exploded frame table).

    The deterministic fake slices the payload into ``n_frames`` equal
    chunks standing in for decoded frames at ``i/n`` positions; a real
    decoder (pyav/ffmpeg seek) drops into ``_frame_of`` unchanged.  At
    scale the explode happens executor-side inside Arrow batches — the
    driver never sees frame bytes, and downstream per-frame operators
    (feature-extract → dedup) compose on this table.
    """
    import pandas as pd

    def _frame_of(payload: bytes, i: int) -> bytes:
        chunk = max(len(payload) // n_frames, 1)
        return payload[i * chunk : (i + 1) * chunk]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = row.payload or b""
                for i in range(n_frames):
                    frame = _frame_of(payload, i)
                    out.append((row.asset_id, i, i / n_frames, frame, len(frame)))
            yield pd.DataFrame(
                out, columns=["asset_id", "frame_idx", "ts_frac", "frame", "n_bytes"]
            )

    return assets.filter(F.col("kind") == "video").mapInPandas(run, FRAME_SCHEMA)


#: Fixed audio analysis window (bytes of the fake PCM stream).
AUDIO_WINDOW_BYTES = 16

AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("window_idx", T.IntegerType(), False),
        T.StructField("level", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def audio_windows(
    assets: DataFrame, window_bytes: int = AUDIO_WINDOW_BYTES
) -> DataFrame:
    """Windowed audio features over binary payloads: treat each payload
    byte as an unsigned PCM sample, cut the stream into fixed windows,
    and emit per-window level (mean), RMS, and peak — the 1→N shape a
    real audio featurizer (VAD frames, loudness curves) has, on the
    deterministic fake stream.

    Exactness: window sums are small exact integers and the window
    size is a power of two, so level and mean-square are EXACT dyadic
    doubles and rms is one correctly-rounded IEEE sqrt — both engines
    agree bit-for-bit per window, which is what lets a Pandas-UDF path
    carry a FULL value oracle.  Scale: mapInPandas over Arrow batches;
    the payload bytes never leave the executor."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows: list[tuple] = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                if payload is None or len(payload) < window_bytes:
                    continue
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_win = len(b) // window_bytes
                w = (
                    b[: n_win * window_bytes]
                    .reshape(n_win, window_bytes)
                    .astype(np.float64)
                )
                level = w.mean(axis=1)
                rms = np.sqrt((w * w).mean(axis=1))
                peak = w.max(axis=1)
                rows.extend(
                    (int(aid), i, float(level[i]), float(rms[i]), int(peak[i]))
                    for i in range(n_win)
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "window_idx", "level", "rms", "peak"]
            )

    return assets.select("asset_id", "payload").mapInPandas(
        run, AUDIO_WINDOW_SCHEMA
    )
