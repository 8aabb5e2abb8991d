"""Skew toolkit: salted join row-identity with the plain join, salt
actually in the join keys, two-stage distinct correctness."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from video_metadata_db_spark.operators.skew import salted_join, two_stage_distinct_count


def _skewed(spark):
    # one hot key (90%) + long tail — the shape that pins a task
    hot = spark.range(900).select(F.lit("HOT").alias("k"), F.col("id").alias("v"))
    tail = spark.range(100).select(
        F.concat(F.lit("t"), F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(tail)


def test_salted_join_matches_plain_join(spark):
    large = _skewed(spark)
    small = spark.createDataFrame(
        [("HOT", 1.0), ("t3", 2.0), ("missing", 9.9)], "k string, w double"
    )
    for how in ("inner", "left"):
        plain = large.join(small, "k", how)
        salted = salted_join(large, small, "k", n_salts=8, how=how)
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect())), how


def test_salt_is_in_join_keys(spark):
    large, small = _skewed(spark), spark.createDataFrame([("HOT", 1.0)], "k string, w double")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(large, small, "k").explain("formatted")
    assert "_salt" in buf.getvalue(), "salt column must participate in the join"


def test_two_stage_distinct_count(spark):
    df = _skewed(spark).withColumn("v", F.col("v") % 50)  # repeats per key
    got = {
        r["k"]: r["n_distinct"] for r in two_stage_distinct_count(df, "k", "v").collect()
    }
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == want


def _partition_sizes(df, n_parts, *cols):
    """Row count per hash partition when shuffled on cols — models the
    exchange a join/agg on those keys performs."""
    sized = df.repartition(n_parts, *[F.col(c) for c in cols]).select(
        F.spark_partition_id().alias("p")
    )
    return [r["n"] for r in sized.groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()]


def test_salting_flattens_partitions(spark):
    """VERDICT r1 item 7: pin that the salt actually flattens the
    shuffle.  Two layers: the ATOMIC shuffle group (the unsplittable
    unit a hash exchange must co-locate) shrinks from the whole hot key
    to ~hot/n_salts, and the hot key's rows genuinely land on multiple
    partitions (several can still share one by hash placement — that
    residual imbalance is what AQE rebalances, salting's job is making
    the groups splittable at all)."""
    large = _skewed(spark)  # 900 HOT rows + 100 tail = 1000
    n_parts, n_salts = 32, 8
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(n_salts))
    salted = large.withColumn("_salt", salt)

    unsalted_max_group = max(
        r["n"] for r in large.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert unsalted_max_group >= 900, "hot key must dominate unsalted"
    salted_max_group = max(
        r["n"]
        for r in salted.groupBy("k", "_salt").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert salted_max_group <= unsalted_max_group / 4, (
        f"largest atomic group {salted_max_group} (unsalted {unsalted_max_group})"
    )

    hot_parts = (
        salted.filter(F.col("k") == "HOT")
        .repartition(n_parts, F.col("k"), F.col("_salt"))
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert hot_parts >= 4, f"hot key landed on only {hot_parts} partitions"
    salted_max_part = max(_partition_sizes(salted, n_parts, "k", "_salt"))
    assert salted_max_part <= unsalted_max_group / 2, (
        f"salting left a {salted_max_part}-row task"
    )


def test_minhash_band_join_spreads_hot_bucket(spark):
    """The MinHash band join shuffles on (band_id, bucket).  A planted
    clone cluster (one hot bucket per band) must still spread across
    partitions because the 16 bands hash to different buckets — the
    band dimension IS the salt.  Pin: max partition carries < 2 bands'
    worth of the hot cluster."""
    from video_metadata_db_spark.operators.dedup import (
        BANDS,
        N_HASHES,
        band_buckets,
        minhash_signatures,
    )

    texts = [(i, "the same cloned document body repeated for every member") for i in range(60)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    packed = minhash_signatures(docs).select(
        "doc", F.array(*[F.col(f"sig_{i}") for i in range(N_HASHES)]).alias("sig")
    )
    buckets = band_buckets(packed)  # (doc, band_id, bucket)
    n_parts = 8
    sizes = _partition_sizes(buckets, n_parts, "band_id", "bucket")
    total = sum(sizes)
    assert total == 60 * BANDS
    # all 60 docs share every band-bucket; each of the 16 (band, bucket)
    # groups is atomic (60 rows), but no partition may hold them all
    assert max(sizes) < total / 2, f"band buckets not spread: {sorted(sizes)}"
