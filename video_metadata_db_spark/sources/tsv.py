"""TSV "database" sink/source with the reference's boundary encoding.

Internally the engine keeps clean types and real NULLs; every quirk of
the reference's TSV serialization (``video_metadata_db.py:215-413``) is
applied exactly once, on write, and undone on read:

- width/height right-justified to 4 (``{:>4}``); missing → ``"0000"``
  (:245-267)
- duration → concise h:m:s string; missing (ffprobe ``"N/A"``) → the
  literal ``N/A`` (:269-279)
- size → IEC human units (:284); raw size in bytes (:288)
- candidate flag / subtitle availability → ``Y``/``N`` (:296-304,
  :360-380)
- missing title → ``<Title Not Set>`` (:345-347); missing subtitle
  size → a single space (:370, :382)
- Windows drive letter stripped from the path (:396-397)

Documented divergences (SURVEY.md §7 "hard parts"): rows with no audio
stream get empty audio cells instead of the reference's ragged
(truncated) rows (:333-339); sort order is the Windows branch's
whole-line descending (`sort /R`, :767-833) on both platforms — the
reference's Unix branch passes a bad operand and never worked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalar import (
    TITLE_NOT_SET,
    compression_candidate,
    duration_hms,
    sizeof_fmt,
    strip_drive_letter,
)
from ..schemas import METADATA_SCHEMA, TSV_HEADER


def _bcol(name: str) -> F.Column:
    # header names contain '.' — backtick-quote so Spark doesn't parse
    # them as struct field access
    return F.col(f"`{name}`")


def _yn(flag) -> F.Column:
    return F.when(F.col(flag) == True, "Y").otherwise("N")  # noqa: E712


def _pad4(c: str) -> F.Column:
    # "{:>4}".format(n) for present, "{:>04}".format("") == "0000" missing
    return F.when(F.col(c).isNotNull(), F.lpad(F.col(c).cast("string"), 4, " ")).otherwise(
        F.lit("0000")
    )


def to_boundary(records: DataFrame) -> DataFrame:
    """Internal typed records → the 18 exact-header string columns."""
    cols = {
        "Width": _pad4("width"),
        "Height": _pad4("height"),
        "Duration (in s)": F.coalesce(duration_hms("duration_s", concise=True), F.lit("N/A")),
        "Size": sizeof_fmt("raw_size"),
        "Raw Size": F.col("raw_size").cast("string"),
        "Video Codec Name": F.col("video_codec"),
        "AV1/HEVC Compression Candidate": compression_candidate("video_codec"),
        "Total # of Streams": F.col("n_streams").cast("string"),
        "Container Name": F.col("container"),
        "# of Audio Channels (@Index 0)": F.col("audio_channels").cast("string"),
        "Audio Codec Name (@Index 0)": F.col("audio_codec"),
        "Title": F.coalesce(F.col("title"), F.lit(TITLE_NOT_SET)),
        "Ext. English Subtitle Availability": _yn("sub_en"),
        "Ext. English Subtitle Size": F.coalesce(F.col("sub_en_size").cast("string"), F.lit(" ")),
        "Ext. Hearing Impaired English Subtitle Availability": _yn("sub_en_hi"),
        "Ext. Hearing Impaired English Subtitle Size": F.coalesce(
            F.col("sub_en_hi_size").cast("string"), F.lit(" ")
        ),
        "Volume Label": F.col("volume_label"),
        "Path on Drive Label": strip_drive_letter("path"),
    }
    return records.select(*[expr.alias(name) for name, expr in cols.items()])


def boundary_sorted(boundary: DataFrame) -> DataFrame:
    """Whole-line descending sort, parity with Windows ``sort /R``
    (:767-833): the line = tab-joined fields, width padded to 4 leads,
    so this approximates ORDER BY width DESC with missing ("0000") last.

    Scale: a range-partitioned shuffle sort on one string key — Spark
    samples ranges, sorts each partition, spills as needed.
    """
    line = F.concat_ws("\t", *[_bcol(c) for c in boundary.columns])
    return boundary.orderBy(line.desc())


def write_boundary_tsv(
    boundary: DataFrame, path: str, header: bool = False, mode: str = "overwrite"
) -> None:
    """Boundary string columns → whole-line sorted TSV db directory: the
    one place the CSV writer options are spelled (build, update and merge
    all write through here).

    ``mode='append'`` is update mode's ``"a"`` (:1529-1532); the
    reference's single-writer mutex (:44, :682-690) disappears — each
    task writes its own part file.
    """
    (
        boundary_sorted(boundary)
        .write.mode(mode)
        .option("sep", "\t")
        .option("header", str(header).lower())
        .option("emptyValue", "")
        .option("nullValue", "")
        # the writer trims cells by default, which would undo the "{:>4}"
        # padding and the single-space missing subtitle sizes
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def write_metadata_tsv(
    records: DataFrame, path: str, header: bool = False, mode: str = "overwrite"
) -> None:
    """Typed records → sorted TSV db directory."""
    write_boundary_tsv(to_boundary(records), path, header=header, mode=mode)


_BOUNDARY_READ_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType(), True) for name in TSV_HEADER]
)


def read_metadata_tsv(spark: SparkSession, paths: str | list[str], header: bool = False) -> DataFrame:
    """Read TSV db(s) back into boundary (string) columns."""
    return (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .option("encoding", "UTF-8")
        .schema(_BOUNDARY_READ_SCHEMA)
        .csv(paths)
    )


def from_boundary(boundary: DataFrame) -> DataFrame:
    """Boundary strings → internal typed records (inverse of to_boundary,
    minus the derived Size/Duration/candidate columns which are
    recomputable).

    All numeric casts are ``try_cast``: under ANSI mode a single
    corrupt line in a billion-row db would otherwise fail the whole
    read — malformed cells decode to NULL instead (dead-letterable
    downstream)."""
    b = boundary
    width = F.trim(_bcol("Width"))
    height = F.trim(_bcol("Height"))
    out = b.select(
        F.when(width != "0000", width.try_cast("int")).alias("width"),
        F.when(height != "0000", height.try_cast("int")).alias("height"),
        F.lit(None).cast("double").alias("duration_s"),  # hms is lossy; keep NULL
        _bcol("Raw Size").try_cast("long").alias("raw_size"),
        _bcol("Video Codec Name").alias("video_codec"),
        _bcol("Total # of Streams").try_cast("int").alias("n_streams"),
        _bcol("Container Name").alias("container"),
        _bcol("# of Audio Channels (@Index 0)").try_cast("int").alias("audio_channels"),
        _bcol("Audio Codec Name (@Index 0)").alias("audio_codec"),
        F.when(_bcol("Title") != TITLE_NOT_SET, _bcol("Title")).alias("title"),
        (_bcol("Ext. English Subtitle Availability") == "Y").alias("sub_en"),
        F.when(_bcol("Ext. English Subtitle Size") != " ", _bcol("Ext. English Subtitle Size"))
        .try_cast("long")
        .alias("sub_en_size"),
        (_bcol("Ext. Hearing Impaired English Subtitle Availability") == "Y").alias("sub_en_hi"),
        F.when(
            _bcol("Ext. Hearing Impaired English Subtitle Size") != " ",
            _bcol("Ext. Hearing Impaired English Subtitle Size"),
        )
        .try_cast("long")
        .alias("sub_en_hi_size"),
        _bcol("Volume Label").alias("volume_label"),
        _bcol("Path on Drive Label").alias("path"),
    )
    assert [f.name for f in METADATA_SCHEMA.fields] == out.columns
    return out
