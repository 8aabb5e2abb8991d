"""The probe stage: path → media metadata struct, as a mapInPandas operator.

The reference shells out to ffprobe twice per file with positional text
output and parses by line index (``video_metadata_db.py:596-634``,
constants ``:219-229``).  Here one ``ffprobe -print_format json
-show_streams -show_format`` call per file returns everything, invoked
inside ``mapInPandas`` so each Spark task amortizes Python/process
startup over an Arrow batch of paths; probe concurrency is governed by
partition count (the analogue of the reference's ``COUNT_THREADS = 4 ×
cores``, ``:39``) instead of a thread pool + five mutexes.

Failures never kill the job: the returned struct carries an ``error``
column (dead-letter channel, ``:635-676``); downstream splits on
``error IS NULL``.

This is the only probe path: tests and the benchmark drive it through
an ``ffprobe_bin`` stand-in that prints the probed file's bytes, so the
same ``subprocess.run`` code runs with or without a real ffprobe.
"""

from __future__ import annotations

import json
import subprocess
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame

from ..schemas import PROBE_SCHEMA

FFPROBE_TIMEOUT_S = 30


def _probe_one(
    path: str,
    ffprobe_bin: str = "ffprobe",
    timeout_s: float = FFPROBE_TIMEOUT_S,
) -> dict[str, Any]:
    """Run one ffprobe JSON call; parse the fields the schema needs.

    Field mapping mirrors the reference's two probes: format-level
    ``nb_streams``/``format_long_name``/``duration``/``tags.title`` and
    the first video/audio stream's codec/width/height/channels
    (video_metadata_db.py:596-634).  Output without a video stream
    dead-letters like any other probe failure.
    """
    out: dict[str, Any] = {"path": path, "error": None}
    try:
        proc = subprocess.run(
            [ffprobe_bin, "-v", "error", "-print_format", "json",
             "-show_streams", "-show_format", "-i", path],
            capture_output=True,
            timeout=timeout_s,
            check=False,
        )
        if proc.returncode != 0:
            out["error"] = proc.stderr.decode("utf-8", "replace")[:500] or "ffprobe failed"
            return out
        data = json.loads(proc.stdout.decode("utf-8", "replace"))
        fmt = data.get("format", {})
        streams = data.get("streams", [])
        video = next((s for s in streams if s.get("codec_type") == "video"), None)
        if video is None:
            out["error"] = "no video stream"
            return out
        audio = next((s for s in streams if s.get("codec_type") == "audio"), {})
        dur = fmt.get("duration")
        out.update(
            video_codec=video.get("codec_long_name"),
            width=video.get("width"),
            height=video.get("height"),
            n_streams=fmt.get("nb_streams"),
            container=fmt.get("format_long_name"),
            # ffprobe emits "N/A" for unseekable input (:271-277) → NULL
            duration_s=float(dur) if dur not in (None, "N/A") else None,
            title=fmt.get("tags", {}).get("title"),
            audio_codec=audio.get("codec_long_name"),
            audio_channels=audio.get("channels"),
        )
    except subprocess.TimeoutExpired:
        out["error"] = f"ffprobe timeout after {timeout_s}s"
    except Exception as exc:  # dead-letter, never raise (:635-676)
        out["error"] = f"{type(exc).__name__}: {exc}"[:500]
    return out


def probe_videos(
    listing: DataFrame,
    ffprobe_bin: str = "ffprobe",
    timeout_s: float = FFPROBE_TIMEOUT_S,
) -> DataFrame:
    """Probe every listed path with ffprobe → PROBE_SCHEMA rows, one
    ffprobe call per path, on the listing's partitions."""
    import pandas as pd

    cols = [f.name for f in PROBE_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ffprobe_bin/timeout_s are captured in this closure, so they
        # ship to executors with the serialized task — no env plumbing
        for pdf in batches:
            rows = [_probe_one(p, ffprobe_bin, timeout_s) for p in pdf["path"]]
            yield pd.DataFrame(rows, columns=cols)

    return listing.select("path").mapInPandas(run, PROBE_SCHEMA)
