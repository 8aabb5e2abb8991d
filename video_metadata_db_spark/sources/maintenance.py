"""Table maintenance: small-file compaction and sort-clustered rewrite.

A 100 TB lake accretes files from every ingest batch and streaming
micro-batch; thousands of small files per partition turn scan planning
and task scheduling into the bottleneck (the metadata analogue of the
reference's per-file ffprobe overhead).  Compaction rewrites a
directory to ~target-size files; clustering additionally range-sorts
rows so each output file owns a disjoint key range — parquet footer
min/max stats then prune whole FILES for key-range predicates, the
poor-engine's zone map.

Sizing reads the Hadoop ``ContentSummary`` of the input path (no data
scan), so the decision "how many output files" costs one namenode
call at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — works
    for local paths, HDFS, and object stores alike; never scans data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> DataFrame:
    """Rewrite ``in_dir`` into ``out_dir`` as ≈``target_bytes`` files.

    ``sort_col=None``: round-robin ``repartition`` — pure compaction,
    one shuffle.  With ``sort_col``: ``repartitionByRange`` +
    ``sortWithinPartitions`` — same shuffle count, but each output file
    covers a DISJOINT sort-key range, so key-range scans prune at file
    granularity via footer stats.  Returns the frame read back from
    ``out_dir`` (callers verify row parity against the source cheaply).
    """
    df = spark.read.parquet(in_dir)
    n_files = max(1, math.ceil(input_bytes(spark, in_dir) / target_bytes))
    if sort_col is not None:
        out = df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


ZORDER_BITS = 16


def zorder_bits(n_cols: int) -> int:
    """Per-column rank resolution for an ``n_cols``-way interleave.

    The interleaved value must fit in a LONG's 63 value bits — with the
    full ZORDER_BITS=16 and 4+ columns the top bit would land at
    position ≥ 63 (the sign bit), making high-rank z-values negative
    and silently breaking the Morton sort order.  Shrinking resolution
    as width grows (63 // n) keeps the curve correct at any width; for
    ≤3 columns the full 16 bits are retained."""
    if n_cols < 1:
        raise ValueError("zorder needs at least one column")
    return min(ZORDER_BITS, 63 // n_cols)


def zorder_value(
    ranks: list,  # list[Column] of integer ranks in [0, 2^zorder_bits(n))
) -> "F.Column":
    """Morton (Z-order) interleave of per-column rank integers.

    Bit b of rank i lands at position ``b * n_cols + i`` — points close
    in EVERY dimension get close z-values, so a z-sorted file layout
    gives footer-stat pruning on ALL clustered columns at once, where a
    lexicographic sort prunes only its leading column.  Pure codegen
    bit arithmetic.

    Ranks MUST be built with :func:`zorder_bits(len(ranks))` bits —
    the interleave reads exactly that many low bits of each rank, so a
    rank built wider (e.g. ``_minmax_rank`` at the full 16 bits fed to
    a 4-column interleave) would have its high bits silently ignored
    and alias distant keys onto the same curve position.  The guard
    below can't see runtime values, but callers that scale ranks from
    data (``zorder_parquet``) are wired to the same ``zorder_bits``
    source; direct callers own the contract."""
    n = len(ranks)
    bits = zorder_bits(n)
    assert bits * n <= 63, (bits, n)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranks):
            bit = F.shiftright(r.cast("long"), b).bitwiseAND(F.lit(1).cast("long"))
            z = z + F.shiftleft(bit, b * n + i)
    return z


def _minmax_rank(col: "F.Column", lo: float, hi: float, bits: int) -> "F.Column":
    """Linear rank of ``col`` into [0, 2^bits) given driver-side
    min/max.  ``bits`` is required and must be ``zorder_bits(n_cols)``
    of the interleave this rank feeds (a defaulted 16 here fed to a
    4-column interleave would silently truncate high bits).  Right for
    roughly-uniform keys; for skewed keys substitute approx-quantile
    boundaries (same literal-embedding discipline as
    operators/packing.py) — the interleave is agnostic to how ranks
    are made."""
    span = max(hi - lo, 1e-12)
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
    return F.least(
        F.floor(scaled * (1 << bits)).cast("long"),
        F.lit((1 << bits) - 1).cast("long"),
    )


def zorder_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    cols: list[str],
    target_bytes: int = 128 << 20,
) -> DataFrame:
    """Rewrite ``in_dir`` Z-ORDERED on ``cols``: every output file
    covers a compact hyper-rectangle of the clustered key space, so
    min/max footer stats prune files for predicates on ANY of the
    clustered columns — the multi-column generalization of
    :func:`compact_parquet`'s single-key clustering (what Delta/Iceberg
    ship as OPTIMIZE ZORDER BY).

    Cost model is identical to clustered compaction: one range shuffle
    on the z-value + a within-partition sort; the per-column min/max
    used for rank scaling is ONE tiny aggregate (2·n_cols doubles to
    the driver, never row data)."""
    df = spark.read.parquet(in_dir)
    stats = df.agg(
        *[f(F.col(c)).alias(f"{tag}_{c}") for c in cols for tag, f in (("lo", F.min), ("hi", F.max))]
    ).first()
    bits = zorder_bits(len(cols))
    ranks = [
        _minmax_rank(F.col(c), float(stats[f"lo_{c}"]), float(stats[f"hi_{c}"]), bits)
        for c in cols
    ]
    n_files = max(1, math.ceil(input_bytes(spark, in_dir) / target_bytes))
    out = (
        df.withColumn("_z", zorder_value(ranks))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    out.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)
