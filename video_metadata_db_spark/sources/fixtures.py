"""Deterministic video-domain fixtures (FIXTURES.md group A).

CI has no media files and no ffprobe, so the parity pipeline's inputs —
file listing, probe results, subtitle sidecars — are generated tables
(seed fixed, no wall clock).  Shapes and edge-case quotas follow
FIXTURES.md A.1-A.3: filtered directories, non-video and UPPERCASE
extensions, missing dimensions, ``N/A`` durations, audio-less rows,
probe failures, orphan sidecars, non-ASCII names.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from ..functions.scalar import DIRECTORY_FILTERS
from ..schemas import LISTING_SCHEMA, PROBE_SCHEMA, SIDECAR_SCHEMA

SEED = 42

_CODECS = (
    "Alliance for Open Media AV1",
    "H.265 / HEVC (High Efficiency Video Coding)",
    "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
    "MPEG-4 part 2",
    "VP9",
)
_CONTAINERS = ("Matroska / WebM", "QuickTime / MOV", "MPEG-4", "AVI (Audio Video Interleaved)")
_DIMS = ((640, 480), (1280, 720), (1920, 1080), (3840, 2160), (None, None))
_DURATIONS = (None, 0.37, 42.6, 3599.5, 3600.0, 5025.0, 7265.25, 90.0, 59.5)
_TITLES = ("Avatar", "Heat", "Ran", "Léon", "千と千尋", "The Deer Hunter", None, None)
_VOLUMES = ("disk1", "disk2", "nas")
_EXTS_GOOD = ("mkv", "mp4", "avi", "webm", "MKV", "MP4")
_EXTS_BAD = ("txt", "srt", "jpg", "nfo")
_BASE_TS = datetime(2020, 1, 6, 12, 0, 0)


def _filename(rng: random.Random, i: int) -> str:
    year = 1980 + rng.randrange(45)
    title = rng.choice([t for t in _TITLES if t] + ["Solaris", "Stalker", "Alien"])
    idents = rng.choice(["", " [4K]", " [3D]", " [AV1][4K]", " [3D][AV1][4K]"])
    ext = rng.choice(_EXTS_GOOD) if rng.random() > 0.15 else rng.choice(_EXTS_BAD)
    multi = ".part1" if rng.random() < 0.05 else ""
    return f"[{year}] {title}{idents}{multi}.{ext}"


def file_listing(spark: SparkSession, n: int = 500) -> DataFrame:
    rng = random.Random(SEED)
    rows = []
    for i in range(n):
        name = _filename(rng, i)
        vol = rng.choice(_VOLUMES)
        if rng.random() < 0.10:  # under a filtered directory
            parent = rng.choice(DIRECTORY_FILTERS)
            path = f"/media/{vol}/Movies/{parent}/{name}"
        else:
            parent = f"Collection {rng.randrange(8)}"
            path = f"/media/{vol}/Movies/{parent}/{name}"
        ext = name.rpartition(".")[2]
        size = int(10 ** rng.uniform(5, 11))
        mtime = _BASE_TS + timedelta(minutes=i)
        rows.append((path, parent, name, ext, size, mtime, vol))
    return spark.createDataFrame(rows, LISTING_SCHEMA)


def probe_results(spark: SparkSession, listing: DataFrame) -> DataFrame:
    """One probe row per *video* listing row (FK = path), deterministic
    per-path via a hash-seeded RNG so it's stable across partitionings."""
    paths = [r["path"] for r in listing.collect()]
    rows = []
    for p in sorted(paths):
        rng = random.Random(f"{SEED}:{p}")
        if rng.random() < 0.05:  # dead-letter row
            rows.append((p, None, None, None, None, None, None, None, None, None,
                         "ffprobe error: Invalid data found when processing input"))
            continue
        w, h = rng.choice(_DIMS)
        if rng.random() < 0.05:
            h = None
        silent = rng.random() < 0.12
        rows.append(
            (
                p,
                rng.choice(_CODECS),
                w,
                h,
                rng.randrange(1, 7),
                rng.choice(_CONTAINERS),
                rng.choice(_DURATIONS),
                rng.choice(_TITLES),
                None if silent else "AAC (Advanced Audio Coding)",
                None if silent else rng.choice([1, 2, 6, 8]),
                None,
            )
        )
    return spark.createDataFrame(rows, PROBE_SCHEMA)


def sidecar_files(spark: SparkSession, listing: DataFrame) -> DataFrame:
    paths = [r["path"] for r in listing.collect()]
    rows = []
    for p in sorted(paths):
        rng = random.Random(f"{SEED}:sc:{p}")
        stem = p.rsplit(".", 1)[0]
        if rng.random() < 0.30:
            rows.append((f"{stem}.en.srt", rng.randrange(10**3, 10**6)))
        if rng.random() < 0.15:
            rows.append((f"{stem}.en.hi.srt", rng.randrange(10**3, 10**6)))
    rows.append(("/media/disk1/Movies/orphan.en.srt", 4242))  # matches no video
    return spark.createDataFrame(rows, SIDECAR_SCHEMA)
