"""Structured Streaming tests: batch/stream equivalence, watermark
late-data policy, cross-run stateful dedup, foreachBatch sinks.

Every test drives a REAL file-source stream with Trigger.AvailableNow
and a checkpoint dir; two successive runs over the same checkpoint
reproduce the reference's build-then-update lifecycle
(video_metadata_db.py:1529-1532) with streaming state as the membership
book-keeping."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from video_metadata_db_spark.sources.tables import load_table
from video_metadata_db_spark.streaming.runner import (
    file_stream,
    run_available_now,
    run_available_now_to_parquet,
    run_foreach_batch,
)
from video_metadata_db_spark.streaming.windows import stream_dedup, tumbling_counts

SF = "/root/testdata/sf0.001"

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _t(h: int, m: int) -> dt.datetime:
    return dt.datetime(2024, 3, 1, h, m, 0)


def _write_batch(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, EVENT_SCHEMA).repartition(1).write.mode("append").parquet(path)


def test_stream_equals_batch(spark, tmp_path):
    """The same tumbling_counts transformation must produce identical
    results via readStream (complete mode) and via batch — the unified
    Dataset API contract."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF, "events").select("event_id", "ts", "event_type", "value")
    events.write.parquet(src)

    stream = file_stream(spark, src, events.schema)
    got = run_available_now(
        tumbling_counts(stream), str(tmp_path / "cp"), output_mode="complete"
    )
    want = tumbling_counts(spark.read.schema(events.schema).parquet(src))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_watermark_drops_late_window(spark, tmp_path):
    """Run 1 advances the watermark past an old window; run 2 delivers a
    row for that window late → it must be silently dropped, while a
    fresh row still closes newer windows."""
    src, cp, out = str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "out")
    _write_batch(
        spark,
        src,
        [
            (1, _t(10, 0), "a", 1.0),
            (2, _t(10, 3), "a", 2.0),
            (3, _t(11, 0), "a", 3.0),  # max ts → watermark 10:50 after run 1
        ],
    )
    stream = tumbling_counts(
        file_stream(spark, src, EVENT_SCHEMA), watermark="10 minutes"
    )
    first = run_available_now_to_parquet(stream, cp, out)
    starts1 = {r["win_start"] for r in first.collect()}
    assert _t(10, 0) in starts1  # closed by the 10:50 watermark

    _write_batch(
        spark,
        src,
        [
            (4, _t(9, 5), "a", 9.0),  # window [9:00,9:10) ended < watermark → late
            (5, _t(11, 30), "a", 4.0),  # advances watermark to 11:20, closes [11:00,11:10)
        ],
    )
    stream2 = tumbling_counts(
        file_stream(spark, src, EVENT_SCHEMA), watermark="10 minutes"
    )
    cumulative = run_available_now_to_parquet(stream2, cp, out)
    starts2 = {r["win_start"] for r in cumulative.collect()} - starts1
    assert _t(9, 0) not in starts2, "late row must be dropped by the watermark"
    assert _t(11, 0) in starts2, "newly closed window must flush"


def test_dedup_state_survives_restart(spark, tmp_path):
    """dropDuplicates state persists in the checkpoint: keys seen in run
    1 are still duplicates in run 2 (the update-mode anti-join,
    video_metadata_db.py:427-452, as streaming state)."""
    src, cp, out = str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "out")
    _write_batch(spark, src, [(1, _t(10, 0), "a", 1.0), (2, _t(10, 1), "a", 2.0)])
    first = run_available_now_to_parquet(
        stream_dedup(file_stream(spark, src, EVENT_SCHEMA)), cp, out
    )
    assert {r["event_id"] for r in first.collect()} == {1, 2}

    _write_batch(
        spark,
        src,
        [(2, _t(10, 1), "a", 2.0), (1, _t(10, 0), "a", 1.0), (9, _t(10, 2), "a", 9.0)],
    )
    cumulative = run_available_now_to_parquet(
        stream_dedup(file_stream(spark, src, EVENT_SCHEMA)), cp, out
    )
    assert {r["event_id"] for r in cumulative.collect()} == {1, 2, 9}


def test_stateful_totals_accumulate_across_runs(spark, tmp_path):
    """applyInPandasWithState state survives the checkpoint: run 2's
    emitted totals include run 1's events (lifetime, not per-batch)."""
    from video_metadata_db_spark.streaming.stateful import running_user_totals

    src, cp, out = str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "out")
    # independent StructType — .add on EVENT_SCHEMA would mutate it in place
    schema = StructType(EVENT_SCHEMA.fields + [StructField("user_id", LongType())])

    def sink(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    def run() -> None:
        run_foreach_batch(
            running_user_totals(file_stream(spark, src, schema)),
            cp,
            sink,
            output_mode="update",
        )

    spark.createDataFrame(
        [(1, _t(10, 0), "a", 1.0, 7), (2, _t(10, 1), "a", 2.0, 7), (3, _t(10, 2), "a", 5.0, 8)],
        schema,
    ).repartition(1).write.mode("append").parquet(src)
    run()
    rows1 = spark.read.parquet(out).collect()
    hi1 = max(r["batch_id"] for r in rows1)
    got1 = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows1}
    assert got1 == {7: (2, 3.0), 8: (1, 5.0)}

    spark.createDataFrame([(4, _t(11, 0), "a", 10.0, 7)], schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    run()
    rows2 = [r for r in spark.read.parquet(out).collect() if r["batch_id"] > hi1]
    got2 = {r["user_id"]: (r["n_events"], r["total_value"]) for r in rows2}
    assert got2 == {7: (3, 13.0)}, "run-2 emission must be lifetime totals for user 7 only"


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream attribution join: only right events in
    [left.ts, left.ts + 10m] for the same key match."""
    from video_metadata_db_spark.streaming.joins import interval_join

    imp_src, clk_src, cp = str(tmp_path / "imp"), str(tmp_path / "clk"), str(tmp_path / "cp")
    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("ts", TimestampType())]
    )
    clk_schema = StructType(
        [
            StructField("ad_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("click_id", LongType()),
        ]
    )
    spark.createDataFrame([(1, _t(10, 0)), (2, _t(10, 0))], imp_schema).repartition(
        1
    ).write.parquet(imp_src)
    spark.createDataFrame(
        [
            (1, _t(10, 5), 100),  # within 10m of impression → match
            (1, _t(10, 20), 101),  # outside the bound → no match
            (3, _t(10, 2), 102),  # no impression for ad 3 → no match
        ],
        clk_schema,
    ).repartition(1).write.parquet(clk_src)

    joined = interval_join(
        file_stream(spark, imp_src, imp_schema),
        file_stream(spark, clk_src, clk_schema),
        key="ad_id",
    )
    got = run_available_now(joined, cp)
    rows = [(r["ad_id"], r["r_click_id"]) for r in got.collect()]
    assert rows == [(1, 100)]

    # ADVICE r9: only modes with a designed+tested eviction contract
    # are accepted (inner/left_outer, and full_outer as of r11 —
    # `stream_full_outer_join` oracles it); right_outer stays rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="interval_join supports"):
        interval_join(
            file_stream(spark, imp_src, imp_schema),
            file_stream(spark, clk_src, clk_schema),
            key="ad_id",
            how="right_outer",
        )


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """foreachBatch: arbitrary batch-DataFrame sink logic (the
    reference's side-effect channels, SURVEY.md §2.10)."""
    src, cp, out = str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "out")
    rows = [(i, _t(10, i % 60), "a", float(i)) for i in range(100)]
    _write_batch(spark, src, rows)

    def sink(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    run_foreach_batch(file_stream(spark, src, EVENT_SCHEMA), cp, sink)
    written = spark.read.parquet(out)
    assert written.count() == 100
    assert written.select(F.sum("value")).first()[0] == sum(float(i) for i in range(100))


@pytest.mark.parametrize(
    "drain",
    [
        lambda df, cp, out: run_available_now(df, cp, timeout_s=0.05),
        lambda df, cp, out: run_available_now_to_parquet(df, cp, out, timeout_s=0.05),
        lambda df, cp, out: run_foreach_batch(df, cp, lambda b, i: b.count(), timeout_s=0.05),
    ],
    ids=["memory", "parquet", "foreach_batch"],
)
def test_drain_timeout_stops_the_query_and_raises(spark, tmp_path, drain):
    """A drain that outlives its timeout must neither hand back a
    half-filled sink nor leave its query running: 20 one-file
    micro-batches cannot finish in 50 ms."""
    src, cp, out = str(tmp_path / "src"), str(tmp_path / "cp"), str(tmp_path / "out")
    rows = [(i, _t(10, i % 60), "a", float(i)) for i in range(100)]
    spark.createDataFrame(rows, EVENT_SCHEMA).repartition(20).write.parquet(src)

    stream = file_stream(spark, src, EVENT_SCHEMA, max_files_per_trigger=1)
    with pytest.raises(TimeoutError):
        drain(stream, cp, out)
    assert spark.streams.active == []


def test_memory_sink_drains_leave_no_view_behind(spark, tmp_path):
    """Every memory-sink drain registers a temp view; run_available_now
    must drop it before returning, or each drain's rows stay in driver
    memory for the session's life.  Three drains leave the catalog as
    it was, and each returned frame keeps exactly its own run's rows."""

    def rows_of(frame):
        return sorted((r["event_id"], r["event_type"], r["value"]) for r in frame.collect())

    before = sorted(t.name for t in spark.catalog.listTables())
    drained = []
    for k in range(3):
        src = str(tmp_path / f"src{k}")
        rows = [(i, _t(10, i % 60), f"run{k}", float(i)) for i in range(10 * (k + 1))]
        _write_batch(spark, src, rows)
        got = run_available_now(file_stream(spark, src, EVENT_SCHEMA), str(tmp_path / f"cp{k}"))
        want = sorted((r[0], r[2], r[3]) for r in rows)
        assert rows_of(got) == want
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        drained.append((got, want))
    for got, want in drained:
        assert rows_of(got) == want


def test_stream_sentinel_is_newer_than_every_real_file(tmp_path):
    """The file source hands files over oldest first, so a sentinel
    that must arrive in the last micro-batch needs a later mtime than
    every real file, even one stamped 60 s in the future."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from video_metadata_db_spark.plans.streaming_queries import (
        _SENTINEL_TS,
        _stage_sentinel,
    )

    real = tmp_path / "part-00000.parquet"
    pq.write_table(pa.table({"event_id": pa.array([1], pa.int64())}), real)
    future = time.time() + 60
    os.utime(real, (future, future))
    schema = StructType(
        [StructField("event_id", LongType()), StructField("ts", TimestampType())]
    )
    _stage_sentinel(str(tmp_path), schema, [(-1, _SENTINEL_TS)])
    assert os.path.getmtime(tmp_path / "sentinel.parquet") > os.path.getmtime(real)


def test_stateful_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The cluster-scale state backend: RocksDB spills dedup state to
    local disk, so state size is bounded by storage, not executor heap
    — the provider a 100 TB streaming dedup must run on.  Same
    semantics as the default HDFS-backed store: duplicates staged into
    a LATER micro-batch (maxFilesPerTrigger=1) are dropped against
    RocksDB state, and output equals the distinct corpus."""
    from video_metadata_db_spark.sources.tables import load_table
    from video_metadata_db_spark.streaming.runner import file_stream, run_available_now
    from video_metadata_db_spark.streaming.windows import stream_dedup

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        events = load_table(spark, "/root/testdata/sf0.001", "events")
        src = str(tmp_path / "src")
        events.coalesce(1).write.mode("overwrite").parquet(src)
        events.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
        out = run_available_now(stream_dedup(stream), str(tmp_path / "cp"))
        assert out.count() == events.count()
        assert out.select("event_id").distinct().count() == events.count()
    finally:
        spark.conf.set(key, before)


def test_materialized_totals_accumulate_across_batches(spark, tmp_path):
    """Incremental materialized view: per-user totals upserted via
    foreachBatch with versioned snapshot commits — after two
    micro-batches the table equals the full batch aggregate, and a
    restart from the same checkpoint adds no new version (idempotent
    exactly-once maintenance)."""
    from video_metadata_db_spark.streaming.materialized import (
        _committed_versions,
        read_materialized,
        upsert_user_totals,
    )
    from video_metadata_db_spark.streaming.runner import (
        file_stream,
        run_foreach_batch,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    # two staged files + maxFilesPerTrigger=1 → two refresh cycles
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    table = str(tmp_path / "mv")
    cp = str(tmp_path / "cp")
    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    run_foreach_batch(stream, cp, upsert_user_totals(table))

    versions = _committed_versions(table)
    assert len(versions) == 2, versions

    got = {
        (r["user_id"], r["n_events"], round(r["total_value"], 6))
        for r in read_materialized(spark, table).collect()
    }
    exp = {
        (r["user_id"], r["n"], round(r["t"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == exp

    # restart with the same checkpoint: nothing new to process
    stream2 = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    run_foreach_batch(stream2, cp, upsert_user_totals(table))
    assert _committed_versions(table) == versions


def test_materialized_replay_same_batch_is_idempotent(spark, tmp_path):
    """Crash-replay idempotency: if snapshot v=N committed but the
    stream checkpoint's commit log for batch N did not, the restart
    re-invokes the callback with the SAME batch_id.  The merge must
    anchor its read strictly below batch_id — reading the global
    latest (= v=N itself, already containing batch N) would merge the
    batch's events twice."""
    from video_metadata_db_spark.streaming.materialized import (
        _committed_versions,
        read_materialized,
        upsert_user_totals,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    table = str(tmp_path / "mv")
    merge = upsert_user_totals(table)

    merge(b0, 0)
    merge(b1, 1)
    totals_after = {
        (r["user_id"], r["n_events"], round(r["total_value"], 6))
        for r in read_materialized(spark, table).collect()
    }

    # the crash-replay: batch 1 runs again (same batch_id) against a
    # table whose latest version is v=1
    merge(b1, 1)
    assert _committed_versions(table) == [0, 1]
    replayed = {
        (r["user_id"], r["n_events"], round(r["total_value"], 6))
        for r in read_materialized(spark, table).collect()
    }
    assert replayed == totals_after

    # and the replay of the FIRST batch (no committed version below 0)
    # degrades to the no-previous-snapshot path rather than merging v=1
    merge(b0, 0)
    first = {
        (r["user_id"], r["n_events"])
        for r in read_materialized(spark, table, 0).collect()
    }
    exp0 = {
        (r["user_id"], r["n"])
        for r in b0.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert first == exp0


def test_materialized_time_travel_and_retention(spark, tmp_path):
    """Versioned snapshots give time travel (read any retained version)
    and VACUUM-style retention (drop all but the last N)."""
    from video_metadata_db_spark.streaming.materialized import (
        _committed_versions,
        read_materialized,
        retain_versions,
        upsert_user_totals,
    )
    from video_metadata_db_spark.streaming.runner import (
        file_stream,
        run_foreach_batch,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    first = events.filter(F.col("event_id") % 2 == 0)
    first.coalesce(1).write.mode("overwrite").parquet(src)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    table = str(tmp_path / "mv")
    stream = file_stream(spark, src, events.schema, max_files_per_trigger=1)
    run_foreach_batch(stream, str(tmp_path / "cp"), upsert_user_totals(table))
    v0, v1 = _committed_versions(table)

    # time travel: the first snapshot is exactly the first batch's totals
    old = {
        (r["user_id"], r["n_events"]) for r in read_materialized(spark, table, v0).collect()
    }
    exp0 = {
        (r["user_id"], r["n"])
        for r in first.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert old == exp0

    # retention drops v0, keeps the current snapshot readable
    assert retain_versions(table, keep_last=1) == [v0]
    assert _committed_versions(table) == [v1]
    assert read_materialized(spark, table).count() > 0
    with pytest.raises(ValueError, match="not committed"):
        read_materialized(spark, table, v0)


def test_incremental_dedup_stream_matches_full_recompute(spark, tmp_path):
    """Streaming dedup maintenance: after draining the corpus in two
    micro-batches, the stored labels equal a from-scratch recompute
    over all pairs; a crash-replay of the last batch (same batch_id)
    leaves them unchanged; and the OPPOSITE arrival order lands on the
    same labels (merging commutes)."""
    from video_metadata_db_spark.operators.components import connected_components_star
    from video_metadata_db_spark.operators.dedup import simhash_near_pairs
    from video_metadata_db_spark.streaming.incremental_dedup import (
        dedup_state_maintainer,
        read_dedup_labels,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    halves = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    full = {
        (r["doc"], r["component"])
        for r in connected_components_star(simhash_near_pairs(docs)).collect()
    }

    state = str(tmp_path / "state")
    step = dedup_state_maintainer(state)
    step(halves[0], 0)
    step(halves[1], 1)
    got = {
        (r["doc"], r["component"])
        for r in read_dedup_labels(spark, state).collect()
    }
    assert got == full and got

    # crash-replay: batch 1 re-runs with the same batch_id against a
    # state whose latest snapshots are v=1 — reads anchor below 1
    step(halves[1], 1)
    replayed = {
        (r["doc"], r["component"])
        for r in read_dedup_labels(spark, state).collect()
    }
    assert replayed == full

    # arrival order commutes
    state2 = str(tmp_path / "state2")
    step2 = dedup_state_maintainer(state2)
    step2(halves[1], 0)
    step2(halves[0], 1)
    swapped = {
        (r["doc"], r["component"])
        for r in read_dedup_labels(spark, state2).collect()
    }
    assert swapped == full


def test_snapshot_diff_between_materialized_versions(spark, tmp_path):
    """Time-travel CDC over the versioned MV: diffing v=0 → v=1 must
    report exactly the keys batch 1 touched (changed where the user
    existed, added where it didn't), and diffing a version against
    itself is empty."""
    import pytest as _pytest

    from video_metadata_db_spark.streaming.materialized import (
        snapshot_diff,
        upsert_user_totals,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    table = str(tmp_path / "mv")
    merge = upsert_user_totals(table)
    merge(b0, 0)
    merge(b1, 1)

    diff = {
        r["user_id"]: r["change"]
        for r in snapshot_diff(spark, table, 0, 1, ["user_id"]).collect()
    }
    u0 = {r["user_id"] for r in b0.select("user_id").distinct().collect()}
    u1 = {r["user_id"] for r in b1.select("user_id").distinct().collect()}
    assert {u: c for u, c in diff.items() if c == "added"}.keys() == u1 - u0
    # every user batch 1 touched that already existed must read changed
    # (totals strictly grow — n_events increases)
    assert {u for u, c in diff.items() if c == "changed"} == u1 & u0
    assert not any(c == "removed" for c in diff.values())

    assert snapshot_diff(spark, table, 1, 1, ["user_id"]).count() == 0
    with _pytest.raises(ValueError):
        snapshot_diff(spark, table, 0, 99, ["user_id"])


def test_stateful_gap_sessions_both_emission_paths(spark, tmp_path):
    """Crafted two-batch stream: user 1's first session closes
    INTRA-BATCH (a later event arrives past the gap inside batch 1);
    every final open session flushes via the EVENT-TIME TIMEOUT after
    the sentinel advances the watermark — both paths must emit, with
    exact (start, end, count)."""
    from video_metadata_db_spark.streaming.stateful import gap_sessions

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    rows = [
        (1, _t(10, 0)),   # session A: 10:00-10:05, 2 events
        (1, _t(10, 5)),
        (1, _t(12, 0)),   # gap 1h55m > 1 hour -> session B opens
        (2, _t(10, 30)),  # user 2: single open session
    ]
    spark.createDataFrame(rows, schema).repartition(1).write.parquet(src)
    spark.createDataFrame(
        [(-1, _t(23, 59))], schema
    ).repartition(1).write.mode("append").parquet(src)

    sessions = gap_sessions(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        gap="1 hours",
        watermark="1 minutes",
    )
    got = run_available_now(sessions, cp, output_mode="update")
    out = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in got.filter(F.col("user_id") >= 0).collect()
    )
    us = lambda h, m: int(_t(h, m).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000  # noqa: E731
    assert out == [
        (1, us(10, 0), us(10, 5), 2),   # intra-batch close
        (1, us(12, 0), us(12, 0), 1),   # timeout flush
        (2, us(10, 30), us(10, 30), 1), # timeout flush
    ]


def test_stateful_gap_sessions_out_of_order_across_batches(spark, tmp_path):
    """An out-of-order event arriving in a LATER micro-batch (legal
    while above the watermark) must only ever GROW the open session:
    a t earlier than the stored end extends n but neither regresses
    session_end_us nor shrinks the event-time timeout (the old
    ``e = t`` assignment did both, and a shrunken timeout can land
    below the watermark — a query-killing runtime error)."""
    from video_metadata_db_spark.streaming.stateful import gap_sessions

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    # batch 1: session spans 10:00-12:00 (watermark after = 10:00)
    spark.createDataFrame(
        [(1, _t(10, 0)), (1, _t(12, 0))], schema
    ).repartition(1).write.parquet(src)
    # batch 2: OUT-OF-ORDER 11:00 (above watermark, before stored end)
    spark.createDataFrame([(1, _t(11, 0))], schema).repartition(1).write.mode(
        "append"
    ).parquet(src)
    # batch 3: sentinel pushes the watermark past end + gap -> flush
    spark.createDataFrame([(-1, _t(23, 59))], schema).repartition(1).write.mode(
        "append"
    ).parquet(src)

    sessions = gap_sessions(
        file_stream(spark, src, schema, max_files_per_trigger=1),
        gap="3 hours",
        watermark="120 minutes",
    )
    got = run_available_now(sessions, cp, output_mode="update")
    out = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in got.filter(F.col("user_id") >= 0).collect()
    )
    us = lambda h, m: int(_t(h, m).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000  # noqa: E731
    # end stays 12:00 — NOT regressed to the late 11:00 arrival
    assert out == [(1, us(10, 0), us(12, 0), 3)]
