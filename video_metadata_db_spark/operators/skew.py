"""Skew mitigation: salted joins and two-stage distinct aggregation.

AQE's skew-join splitting (on in session.py) handles sort-merge skew at
runtime; these are the PLAN-level tools for the cases AQE can't fix:

- ``salted_join``: a shuffle join where a handful of hot keys would pin
  single tasks.  The large side gets a deterministic salt, the small
  side is replicated ×``n_salts`` — each hot key's rows spread over
  ``n_salts`` tasks.  Use when the small side is too big to broadcast
  but cheap to replicate (dim tables in the 100 MB–few GB range).
- ``two_stage_distinct_count``: COUNT(DISTINCT v) GROUP BY k where one
  k holds most rows.  Stage 1 dedups on (k, v) — the shuffle spreads a
  hot k across partitions because v varies; stage 2 counts per k.
  Catalyst's own distinct-agg rewrite does the same expansion; this
  makes the technique explicit and composable with salts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the large side salted and the small side
    replicated.  Result is row-identical to ``large.join(small, key,
    how)`` for ``inner``/``left`` — each large row carries exactly one
    salt and meets exactly one replica of its key's small rows.

    The salt must be DETERMINISTIC per row (here: hash of the key plus
    a per-row split on a monotonic id would break retries — so we hash
    the entire large row).  Retried tasks then re-derive the same salt.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(n_salts))
    salted_large = large.withColumn("_salt", salt)
    replicas = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    return (
        salted_large.join(replicas, [key, "_salt"], how)
        .drop("_salt")
    )


def two_stage_distinct_count(
    df: DataFrame, key: str, value: str, out_col: str = "n_distinct"
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, skew-safe: the first-stage
    shuffle partitions on (key, value) so a hot key fans out, then the
    tiny per-(key,value) set shuffles once more on key alone."""
    return (
        df.select(key, value)
        .distinct()
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(out_col))
    )

