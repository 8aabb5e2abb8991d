"""The flagship parity pipeline, assembled end-to-end.

Reference build mode (``video_metadata_db.py:1475-1602``, SURVEY.md
§3.1):  walk → filter → probe (thread pool) → TSV row under mutex →
external sort → optional variant report.

Spark shape::

    listing ─filter(ext/dirs)─▶ probe (mapInPandas) ─┬─ error IS NULL ─▶
        join sidecars (left) ─▶ typed records ─▶ TSV sink (sorted)
                                                 └─ error IS NOT NULL ─▶ dead-letter

Every stage is a DataFrame; no mutexes, no thread pool, no external
processes besides ffprobe itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import in_filtered_directory, is_video_file, sidecar_path
from ..schemas import METADATA_SCHEMA


def filter_candidates(listing: DataFrame, assume_pruned: bool = False) -> DataFrame:
    """Extension whitelist + directory filter (:993-1046).

    ``assume_pruned=True`` skips the directory predicate when the lister
    already pruned during the walk (don't pay the split/array scan twice).
    """
    out = listing.filter(is_video_file(F.col("name")))
    if not assume_pruned:
        out = out.filter(~in_filtered_directory(F.col("path")))
    return out


def join_sidecars(videos: DataFrame, sidecars: DataFrame) -> DataFrame:
    """Subtitle existence + size via two left joins on derived paths.

    Replaces per-row ``os.path.exists`` (:355-382): at scale a
    filesystem stat per row is a metadata-server DDoS; a listing join is
    one shuffle (or a broadcast when the sidecar side is small).
    """
    en = sidecars.select(
        F.col("path").alias("_en_path"), F.col("size_bytes").alias("sub_en_size")
    )
    hi = sidecars.select(
        F.col("path").alias("_hi_path"), F.col("size_bytes").alias("sub_en_hi_size")
    )
    out = (
        videos.withColumn("_want_en", sidecar_path("path", "en"))
        .withColumn("_want_hi", sidecar_path("path", "en.hi"))
        .join(F.broadcast(en), F.col("_want_en") == F.col("_en_path"), "left")
        .join(F.broadcast(hi), F.col("_want_hi") == F.col("_hi_path"), "left")
    )
    return (
        out.withColumn("sub_en", F.col("sub_en_size").isNotNull())
        .withColumn("sub_en_hi", F.col("sub_en_hi_size").isNotNull())
        .drop("_want_en", "_want_hi", "_en_path", "_hi_path")
    )


def build_metadata_records(
    listing: DataFrame,
    probed: DataFrame,
    sidecars: DataFrame,
    assume_pruned: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Assemble (records, dead_letter) from the three stage outputs.

    ``records`` matches METADATA_SCHEMA (+ ``name`` retained for the
    variant report); ``dead_letter`` carries path + error (:635-676,
    :1328-1339).
    """
    candidates = filter_candidates(listing, assume_pruned)
    joined = candidates.join(probed, "path", "left")
    dead_letter = joined.filter(F.col("error").isNotNull()).select("path", "error")
    ok = joined.filter(F.col("error").isNull())
    with_subs = join_sidecars(ok, sidecars)
    records = with_subs.withColumnRenamed("size_bytes", "raw_size").select(
        *[f.name for f in METADATA_SCHEMA.fields], "name"
    )
    return records, dead_letter
