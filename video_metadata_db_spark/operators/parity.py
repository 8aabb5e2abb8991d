"""Parity operators — the reference's "queries", as Catalyst plans.

The reference has exactly one true query: the **variant report**
(``video_metadata_db.py:1106-1213``) — group rows by a title parsed from
the filename and report titles with more than one file (duplicate
detection).  Its in-memory ``dict[title] → list[tuple]`` multimap is a
``groupBy(title).agg(collect_list(struct(...)), count(*))`` here; the
``>1 member`` rule is a post-aggregation filter.

Also here: merge mode (union-all + global sort,
``video_metadata_db.py:1361-1456``) and update mode's membership check
(anti-join, ``:427-452`` — implemented with the *correct* key, the full
path; the reference's parent-dir-basename key is a documented bug).

Scale notes: the group-by shuffles on ``title`` — fine at any scale
because titles are near-unique (low skew).  ``collect_list`` keeps only
the projected 6-column struct, not whole rows.  The merge sort is a
range-partitioned shuffle sort (Spark's UnsafeExternalSorter spills),
replacing the reference's single-node external OS ``sort``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import parse_release_year, parse_title


def with_parsed_title(df: DataFrame, filename_col: str = "name") -> DataFrame:
    """Add ``title`` and ``release_year`` parsed from a filename column.

    The extension is stripped first (the reference's caller does this via
    ``os.path.splitext`` before ``parse_file_name_from_path``, :1017).
    """
    stem = F.regexp_replace(F.col(filename_col), r"\.[^.]*$", "")
    return df.withColumn("title", parse_title(stem)).withColumn(
        "release_year", parse_release_year(stem)
    )


def variant_report(
    df: DataFrame,
    filename_col: str = "name",
    detail_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Titles with >1 file, with their variant details collected.

    Mirrors ``variant_report`` (:1147-1213): key = parsed title, output =
    member count + the projected per-variant tuples (the reference
    projects width/height/duration/size/volume/path, :1124).
    """
    parsed = with_parsed_title(df, filename_col)
    aggs = [F.count(F.lit(1)).alias("n_variants")]
    if detail_cols:
        aggs.append(F.collect_list(F.struct(*[F.col(c) for c in detail_cols])).alias("variants"))
    return (
        parsed.groupBy("title")
        .agg(*aggs)
        .filter(F.col("n_variants") > 1)
        .orderBy(F.col("n_variants").desc(), F.col("title"))
    )


def variant_report_flat(df: DataFrame, filename_col: str = "name") -> DataFrame:
    """Oracle-friendly variant report: scalar columns only.

    Adds year spread per title — the analytical payload of "which titles
    have multiple variants" without the nested ``variants`` array.

    min/max run on the year cast to int: string min/max buffers are not
    fixed-width, which silently demotes the whole aggregate to
    SortAggregate (sort + sort-based merge per grouping) — the int cast
    keeps it a HashAggregate with map-side partials.
    """
    parsed = with_parsed_title(df, filename_col).withColumn(
        "_year_i", F.col("release_year").try_cast("int")
    )
    return (
        parsed.groupBy("title")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("release_year").alias("n_years"),
            F.min("_year_i").alias("min_year"),
            F.max("_year_i").alias("max_year"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy(F.col("n_variants").desc(), F.col("title"))
    )


def synthetic_part_filenames(part: DataFrame) -> DataFrame:
    """Deterministic ``"[yyyy] Title [identifiers].mkv"`` filenames from ``part``.

    The driver corpus has no filesystem, so the parity pipeline's input
    convention (README naming scheme, ``video_metadata_db.py:1079-1085``)
    is synthesized from ``p_partkey``/``p_name`` — same expression is
    reproducible in ANSI SQL for the DuckDB oracle.
    """
    year = (F.lit(1990) + (F.col("p_partkey") % 30)).cast("string")
    idents = (
        F.when(F.col("p_partkey") % 4 == 0, F.lit(" [4K]"))
        .when(F.col("p_partkey") % 4 == 1, F.lit(" [3D][AV1]"))
        .when(F.col("p_partkey") % 4 == 2, F.lit(""))
        .otherwise(F.lit(" [AV1][4K]"))
    )
    name = F.concat(F.lit("["), year, F.lit("] "), F.col("p_name"), idents, F.lit(".mkv"))
    return part.withColumn("name", name)


#: The SQL fragment the DuckDB oracle uses to rebuild the same filenames.
SYNTHETIC_FILENAME_SQL = (
    "'[' || CAST(1990 + p_partkey % 30 AS VARCHAR) || '] ' || p_name || "
    "CASE p_partkey % 4 WHEN 0 THEN ' [4K]' WHEN 1 THEN ' [3D][AV1]' "
    "WHEN 2 THEN '' ELSE ' [AV1][4K]' END || '.mkv'"
)


def merge_metadata_dbs(dbs: list[DataFrame], sort_cols: list[Column]) -> DataFrame:
    """Merge mode: union-all N databases then globally sort (:1361-1456).

    The reference concatenates TSV files and shells out to OS ``sort``
    over the whole line; here it is ``unionByName`` + a typed ``orderBy``
    (range-partitioned shuffle sort — scales out, spills natively).
    Empty ``sort_cols`` leaves the order to the caller's writer (the
    CLI's whole-line sort).  Every db must carry the same columns.
    """
    unioned = reduce(lambda a, b: a.unionByName(b), dbs)
    return unioned.orderBy(*sort_cols) if sort_cols else unioned


def update_new_files(candidates: DataFrame, existing: DataFrame, key: str = "path") -> DataFrame:
    """Update mode's membership check as a left-anti join (:427-452, :579-582).

    Returns candidate rows whose ``key`` is absent from the existing db —
    the set to probe and append.  Broadcast the existing-key side when it
    is small; at 100 TB both sides are large → shuffled hash anti-join on
    the key, which AQE will convert to broadcast if stats allow.
    """
    existing_keys = existing.select(key).distinct()
    return candidates.join(existing_keys, on=key, how="left_anti")
