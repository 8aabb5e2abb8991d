"""Observation-based pipeline metrics: one pass, no rescans."""

from __future__ import annotations

from pyspark.sql import functions as F

from video_metadata_db_spark.operators.metrics import observe_dead_letter, observe_stage
from video_metadata_db_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_observe_stage_counts_in_one_action(spark):
    docs = load_table(spark, SF, "documents")
    instrumented, obs = observe_stage(
        docs,
        "scan",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
    )
    kept = instrumented.filter(F.col("n_chars") > 50)
    n_kept = kept.count()  # ONE action executes scan + filter + metrics
    got = obs.get
    assert got["n_rows"] == docs.count()
    assert got["n_rows"] >= n_kept
    assert got["total_chars"] > 0


def test_observe_dead_letter_fraction(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "boom"), (3, None), (4, "bad"), (5, None)],
        "id long, error string",
    )
    instrumented, obs = observe_dead_letter(df)
    good = instrumented.filter(F.col("error").isNull())
    assert good.count() == 3
    got = obs.get
    assert got["n_rows"] == 5
    assert got["n_failed"] == 2
    assert got["failed_frac"] == 0.4


def test_observe_dead_letter_on_empty_frame(spark):
    """An empty frame has no failure fraction: failed_frac is NULL, and
    reading the Observation returns instead of blocking on a metric
    that failed to compute."""
    import threading

    df = spark.createDataFrame([], "id long, error string")
    instrumented, obs = observe_dead_letter(df)
    assert instrumented.count() == 0
    got = {}
    reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    reader.start()
    reader.join(timeout=60)
    assert not reader.is_alive(), "Observation.get blocked"
    assert got["n_rows"] == 0 and got["n_failed"] == 0
    assert got["failed_frac"] is None


def test_observe_probe_pipeline_end_to_end(spark):
    """The §2.9 integration: fixture probe results instrumented at the
    dead-letter split — failure stats come from the SAME job that
    produces the good rows."""
    from video_metadata_db_spark.sources.fixtures import file_listing, probe_results

    probed = probe_results(spark, file_listing(spark, n=200))
    instrumented, obs = observe_dead_letter(probed)
    ok = instrumented.filter(F.col("error").isNull()).count()
    got = obs.get
    assert got["n_rows"] == ok + got["n_failed"]
    assert 0.0 <= got["failed_frac"] <= 1.0
