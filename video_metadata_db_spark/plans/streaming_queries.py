"""Event-time window queries (SURVEY.md §2.10, §7 Phase 3).

Each runs the SAME transformation the streaming tests run
(streaming/windows.py) — here in batch mode so DuckDB can oracle-check
values.  Tumbling/sliding oracles bucket epoch seconds arithmetically
(Spark's window() origin is the epoch, and 1970-01-01 is itself
10-minute aligned); the session oracle is the classic gap-and-island
rewrite (lag → new-session flag → running sum → group).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from pyspark.sql.types import LongType, StringType, StructType, TimestampType

from ..sources.tables import load_table
from ..streaming.joins import interval_join
from ..streaming.runner import (
    file_stream,
    run_available_now,
    run_available_now_to_parquet,
)
from ..streaming.stateful import running_user_totals
from ..streaming.windows import session_stats, sliding_avg, stream_dedup, tumbling_counts
from .registry import query

#: The fixed far-future watermark-advancing timestamp every sentinel
#: row carries (past any real event + delay at every SF).
_SENTINEL_TS = "2099-01-01 00:00:00"


def _stage_sentinel(path: str, schema: StructType, rows: list[tuple]) -> None:
    """Write a 1-2 row far-future SENTINEL parquet file directly from
    the driver (pyarrow), bypassing Spark's write path.

    The sentinel is O(1) rows whose only job is to arrive in a LATER
    micro-batch and advance the watermark; staging it through
    ``spark.createDataFrame(...).repartition(1).write`` costs a full
    Spark job (~0.3-0.5 s of pure scheduling per streaming query —
    measured in the r12 staging/drain phase split).  A driver-side
    pyarrow write is the same bytes with zero jobs.  Its modification
    time is then set 2 s past the newest parquet file under ``path``
    (write order alone does not guarantee that: a clock step or a real
    file with a future mtime reorders them), so the file source's
    oldest-first ordering (maxFilesPerTrigger=1) delivers it in its own
    trailing batch.  Timestamps are written as tz-aware UTC
    micros (isAdjustedToUTC=true), which Spark's parquet reader maps to
    TimestampType exactly like its own INT96/INT64 output.
    """
    import datetime as _dt

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    def _pa_type(dt):
        if isinstance(dt, LongType):
            return _pa.int64()
        if isinstance(dt, StringType):
            return _pa.string()
        if isinstance(dt, TimestampType):
            return _pa.timestamp("us", tz="UTC")
        raise TypeError(f"sentinel staging: unmapped Spark type {dt}")

    def _conv(v, dt):
        if isinstance(dt, TimestampType) and isinstance(v, str):
            return _dt.datetime.strptime(v, "%Y-%m-%d %H:%M:%S").replace(
                tzinfo=_dt.timezone.utc
            )
        return v

    import os as _os

    _os.makedirs(path, exist_ok=True)
    cols = list(schema.fields)
    table = _pa.Table.from_arrays(
        [
            _pa.array([_conv(r[i], f.dataType) for r in rows], _pa_type(f.dataType))
            for i, f in enumerate(cols)
        ],
        names=[f.name for f in cols],
    )
    sentinel = f"{path}/sentinel.parquet"
    _pq.write_table(table, sentinel)
    newest = max(
        _os.path.getmtime(_os.path.join(d, f))
        for d, _, files in _os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    _os.utime(sentinel, (newest + 2, newest + 2))


@query(
    "stream_tumbling_counts",
    oracle="""
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 * 1000000) AS win_start,
       event_type,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window × event_type counts + mean value."""
    return tumbling_counts(load_table(spark, sf_dir, "events")).orderBy(
        "win_start", "event_type"
    )


@query(
    "stream_sliding_counts",
    oracle="""
WITH doubled AS (
  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - s.off) * 1000000) AS win_start,
         event_type, value
  FROM events, (VALUES (0), (300)) s(off)
)
SELECT win_start, event_type, count(*) AS n_events, round(avg(value), 6) AS avg_value
FROM doubled
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5: each event lands in exactly
    its 5-minute bucket's window and the previous one, so the oracle is
    a 2-way unnest — no containment filter needed."""
    return sliding_avg(load_table(spark, sf_dir, "events")).orderBy(
        "win_start", "event_type"
    )


@query(
    "stream_session_windows",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id,
       min(ts) AS session_start,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap session windows.  Spark sessions are
    half-open (an event exactly gap-after the previous one opens a new
    session), hence ``>=`` in the oracle's island condition."""
    return session_stats(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


@query(
    "stream_stateful_user_totals",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 6) AS total_value,
       epoch_us(max(ts)) AS last_seen_us
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under a REAL
    AvailableNow stream: events staged as one parquet file (one
    micro-batch, so update mode emits each user exactly once), per-user
    state updated in the state store, memory sink returned.  The oracle
    is the equivalent batch aggregate — state starting empty makes the
    single-batch totals equal lifetime totals."""
    work = tempfile.mkdtemp(prefix="vmdb_stateful_")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(1).write.mode("overwrite").parquet(f"{work}/src")
    stream = file_stream(spark, f"{work}/src", events.schema)
    sink = run_available_now(
        running_user_totals(stream), f"{work}/cp", output_mode="update"
    )
    return sink.orderBy("user_id")


@query(
    "stream_dedup",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events
ORDER BY event_id
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicates on event_id) under a
    REAL AvailableNow run: the corpus plus a byte-identical re-ingestion
    of every third event, staged as two files read with
    ``maxFilesPerTrigger=1`` so the duplicate file arrives in a LATER
    micro-batch — the drop happens against the STATE STORE, not within
    a batch.  Duplicates being byte-identical makes first-seen-wins
    deterministic; output = the distinct corpus, which is exactly the
    events table.  State at scale is one key per event_id, bounded by
    the watermark in the `dropDuplicatesWithinWatermark` variant
    (tests/test_streaming.py pins state survival across restart)."""
    work = tempfile.mkdtemp(prefix="vmdb_sdedup_")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(1).write.mode("overwrite").parquet(f"{work}/src")
    events.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{work}/src")
    stream = file_stream(spark, f"{work}/src", events.schema, max_files_per_trigger=1)
    sink = run_available_now(stream_dedup(stream), f"{work}/cp")
    return sink.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).orderBy("event_id")


@query(
    "stream_parquet_sink",
    oracle="""
SELECT event_id, user_id, event_type, round(value, 6) AS value
FROM events
WHERE event_type IN ('view', 'click')
ORDER BY event_id
""",
)
def q_stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sink path: file-source stream → filter projection
    → ``writeStream`` parquet sink with checkpoint recovery (exactly-once
    file bookkeeping), then read the sink back.  The memory sink the
    other streaming queries use is test plumbing; this is the shape a
    real pipeline ships — same checkpoint dir across restarts continues
    where the previous run stopped (`runner.run_available_now_to_parquet`)."""
    work = tempfile.mkdtemp(prefix="vmdb_psink_")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(1).write.mode("overwrite").parquet(f"{work}/src")
    stream = file_stream(spark, f"{work}/src", events.schema)
    out = stream.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    sink = run_available_now_to_parquet(out, f"{work}/cp", f"{work}/out")
    return sink.orderBy("event_id")


@query(
    "stream_interval_join",
    oracle="""
SELECT a.user_id,
       a.event_id AS l_event_id, a.ts AS l_ts,
       b.event_id AS r_event_id, b.ts AS r_ts
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'click'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
ORDER BY l_event_id, r_event_id
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join under a REAL
    AvailableNow run: view events joined to click events of the same
    user within 10 minutes.  Each side is staged as one file (single
    micro-batch), so the watermark evicts state only after every pair
    has been emitted — output equals the batch interval join the oracle
    computes."""
    work = tempfile.mkdtemp(prefix="vmdb_ssjoin_")
    events = load_table(spark, sf_dir, "events")
    for side, etype in (("views", "view"), ("clicks", "click")):
        events.filter(F.col("event_type") == etype).select(
            "user_id", "ts", "event_id"
        ).coalesce(1).write.mode("overwrite").parquet(f"{work}/{side}")
    schema = events.select("user_id", "ts", "event_id").schema
    joined = interval_join(
        file_stream(spark, f"{work}/views", schema),
        file_stream(spark, f"{work}/clicks", schema),
        key="user_id",
    )
    return (
        run_available_now(joined, f"{work}/cp")
        .select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts")
        .orderBy("l_event_id", "r_event_id")
    )


@query(
    "stream_static_enrich",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
       round(e.value, 6) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type IN ('view', 'click', 'purchase')
ORDER BY e.event_id
""",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under a REAL AvailableNow run: the
    event stream joined to a STATIC dimension (customer segment) — the
    canonical production lookup-join.  No watermark is needed: the
    static side is re-resolved per micro-batch and holds no state.

    At scale the static side broadcasts (explicit hint here — per-batch
    rebuild of a small dim hash map), so the stream never shuffles; a
    dim too big to broadcast would instead be a shuffled join per batch
    and usually argues for pre-denormalizing the stream at ingest."""
    work = tempfile.mkdtemp(prefix="vmdb_senrich_")
    events = load_table(spark, sf_dir, "events")
    events.filter(F.col("event_type").isin("view", "click", "purchase")).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{work}/src")
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = file_stream(spark, f"{work}/src", events.schema)
    enriched = stream.join(F.broadcast(customers), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        "c_mktsegment",
        F.round("value", 6).alias("value"),
    )
    return run_available_now(enriched, f"{work}/cp").orderBy("event_id")


@query(
    "stream_cdc_apply",
    oracle="""
WITH spend AS (
  SELECT o_custkey AS k, count(*) AS cnt,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
chg AS (
  SELECT k AS c_custkey, 'U' AS op,
         'upd_' || CAST(k AS VARCHAR) AS c_name, cents AS acctbal_cents
  FROM spend WHERE cnt > 10 AND k % 89 <> 0
  UNION ALL
  SELECT k + 10000000, 'I', 'new_' || CAST(k AS VARCHAR), cents
  FROM spend WHERE k % 97 = 0
  UNION ALL
  SELECT k, 'D', NULL, NULL FROM spend WHERE k % 89 = 0
),
b AS (
  SELECT c_custkey, c_name,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
  FROM customer
)
SELECT COALESCE(c.c_custkey, b.c_custkey) AS c_custkey,
       CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name
            ELSE b.c_name END AS c_name,
       CASE WHEN c.c_custkey IS NOT NULL THEN c.acctbal_cents
            ELSE b.acctbal_cents END AS acctbal_cents
FROM b FULL OUTER JOIN chg c ON b.c_custkey = c.c_custkey
WHERE c.op IS NULL OR c.op <> 'D'
ORDER BY c_custkey
""",
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC replication: the `merge_cdc_apply` changefeed
    arrives as a file stream in TWO key-disjoint batches
    (maxFilesPerTrigger=1), and a ``foreachBatch`` callback applies
    each batch to a copy-on-write versioned table via
    ``operators/mor.cdc_apply`` — the Debezium→lakehouse replication
    loop end to end.  Key-disjoint batches make sequential apply
    equal one-shot apply, so the BATCH oracle verifies the streamed
    result value-for-value.

    Exactly-once (``operators/mor.VersionedParquetTable``): each batch
    reads the highest committed version <= batch_id — never its own
    output — applies, and commits ``v{batch_id+1}`` via staging dir +
    atomic rename, so both a retry after its own commit and a crash
    mid-write replay to the identical snapshot.  Scale:
    per batch, ONE full-outer join of the current snapshot with the
    (small) batch — the same cost the batch operator pays, amortized
    over the stream."""
    from ..operators.mor import VersionedParquetTable, cdc_apply

    work = tempfile.mkdtemp(prefix="vmdb_scdc_")
    table = VersionedParquetTable(spark, f"{work}/table")
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
    )
    table.init(base)

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "cents"
            ),
        )
    )
    upd = spend.filter((F.col("cnt") > 10) & (F.col("k") % 89 != 0)).select(
        F.col("k").alias("c_custkey"),
        F.lit("U").alias("op"),
        F.concat(F.lit("upd_"), F.col("k").cast("string")).alias("c_name"),
        F.col("cents").alias("acctbal_cents"),
    )
    ins = spend.filter(F.col("k") % 97 == 0).select(
        (F.col("k") + 10000000).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("new_"), F.col("k").cast("string")).alias("c_name"),
        F.col("cents").alias("acctbal_cents"),
    )
    dels = spend.filter(F.col("k") % 89 == 0).select(
        F.col("k").alias("c_custkey"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("long").alias("acctbal_cents"),
    )
    changes = upd.unionByName(ins).unionByName(dels)
    # two key-disjoint batch files -> two micro-batches
    changes.filter(F.col("c_custkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{work}/chg")
    changes.filter(F.col("c_custkey") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{work}/chg")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # retry safety (ADVICE r7): read_for_batch pins the base to the
        # highest version <= batch_id, so a batch retried after (or
        # during) its own v{batch_id+1} commit re-applies against the
        # PRE-batch snapshot instead of its own output; commit stages +
        # atomically renames so a crash mid-write never leaves a
        # half-version a later read resolves as latest.
        cur = table.read_for_batch(batch_id)
        table.commit(cdc_apply(cur, batch_df, ["c_custkey"]), batch_id)

    stream = file_stream(
        spark, f"{work}/chg", changes.schema, max_files_per_trigger=1
    )
    from ..streaming.runner import run_foreach_batch

    run_foreach_batch(stream, f"{work}/cp", apply_batch)
    return table.latest().orderBy("c_custkey")


@query(
    "stream_late_data_drop",
    oracle="""
WITH cutoff AS (SELECT max(ts) - INTERVAL 2 HOUR AS lo FROM events),
recent AS (SELECT * FROM events, cutoff WHERE ts >= lo)
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 * 1000000)
         AS win_start,
       event_type,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM recent
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def q_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SEMANTICS under real checkpointed runs: run 1 drains
    the recent 2 hours of events, committing a 30-minute watermark
    (max(ts) − 30 min) to the checkpoint; run 2 (same checkpoint)
    drains everything older — ALL of it late, every 10-minute window
    long closed — and must emit nothing.  The result is the union of
    both runs' update-mode emissions, so the oracle is the tumbling
    rollup over ONLY the recent slice: one surviving late row breaks
    the hash match, upgrading the suite-level watermark tests to a
    driver-checked value contract.

    Why two RUNS, not two micro-batches (measured, Spark 4.1.2):
    within a single AvailableNow trigger the late-data filter
    evaluates against the TRIGGER-START watermark — a two-batch
    single-trigger staging drops nothing
    (``numRowsDroppedByWatermark=0``) even while the progress line
    shows the advanced watermark; across triggers the commit log
    persists the watermark and the drop fires
    (``numRowsDroppedByWatermark`` = the late count).  The restart
    path is exactly the `stream_parquet_sink` recovery discipline, so
    this also pins watermark survival across restarts.  State stays
    bounded by the watermark horizon regardless of how old the late
    firehose is — the bound this query asserts.

    The drains run at 8 shuffle partitions (the
    `stream_stateful_sessions` discipline): per-micro-batch cost here
    is state-store open/commit per partition, not row work, and 32
    idle-ish stores cost ~2 s/run at bench SF (measured 3.5 → 1.65 s
    for run 1, 1.0 → 0.63 s for run 2; identical output).  On a real
    cluster the partition count follows data volume instead."""
    work = tempfile.mkdtemp(prefix="vmdb_slate_")
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("lo")
    )
    split = events.crossJoin(F.broadcast(bounds))

    def drain() -> None:
        stream = file_stream(spark, f"{work}/src", events.schema)
        agg = tumbling_counts(stream, watermark="30 minutes")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.isEmpty():
                batch_df.coalesce(1).write.mode("append").parquet(
                    f"{work}/out"
                )

        from ..streaming.runner import run_foreach_batch

        run_foreach_batch(
            agg, f"{work}/cp", sink, output_mode="update"
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        split.filter(F.col("ts") >= F.col("lo")).drop("lo").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{work}/src")
        drain()  # run 1: recent slice; watermark committed to checkpoint
        split.filter(F.col("ts") < F.col("lo")).drop("lo").coalesce(
            1
        ).write.mode("append").parquet(f"{work}/src")
        drain()  # run 2: all-late slice; must emit nothing
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{work}/out").orderBy("win_start", "event_type")


@query(
    "stream_scd2_enrich",
    oracle="""
WITH dim_src AS (
  SELECT * FROM events WHERE event_type <> 'purchase'
),
ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM dim_src
),
runs AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM (SELECT * FROM ordered)
),
intervals AS (
  SELECT user_id, event_type, run_id, MIN(ts) AS valid_from
  FROM runs GROUP BY user_id, event_type, run_id
),
scd2 AS (
  SELECT user_id, event_type AS then_state,
         CAST(run_id AS BIGINT) AS version, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
           AS valid_to
  FROM intervals
),
facts AS (
  SELECT event_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts, f.cents, s.then_state, s.version
FROM facts f
LEFT JOIN scd2 s
  ON s.user_id = f.user_id
 AND s.valid_from <= f.ts
 AND (s.valid_to IS NULL OR f.ts < s.valid_to)
ORDER BY f.event_id
""",
)
def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DIMENSION ENRICHMENT against a versioned (SCD2) dim —
    the Kappa-architecture composition every CDP runs: purchase facts
    arrive as a file stream in two micro-batches, and each batch is
    enriched via ``foreachBatch`` with the user's THEN-CURRENT state
    (the SCD2 interval containing the fact's event time), not today's
    state — the correctness property that separates as-of enrichment
    from a naive dim join.  Enrichment is per-row, so the result is
    batch-split-invariant and the BATCH oracle (same SCD2 build + one
    containment join) verifies the streamed output value-for-value.

    Scale: the dim builds ONCE outside the stream (run-length SCD2 —
    one user_id exchange) and persists; each micro-batch pays one join
    of the batch against it (broadcast when the batch is small, the
    usual case).  Per-user intervals partition the timeline, so the
    containment join matches at most one dim row per fact."""
    import os

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim_src = events.filter(F.col("event_type") != "purchase")
    runs = dim_src.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    scd2 = intervals.select(
        "user_id",
        F.col("event_type").alias("then_state"),
        F.col("run_id").cast("long").alias("version"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    ).persist()
    scd2.count()  # materialize the dim once, outside the stream

    work = tempfile.mkdtemp(prefix="vmdb_sscd2_")
    facts = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    facts.filter(F.col("user_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{work}/facts")
    facts.filter(F.col("user_id") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{work}/facts")

    os.makedirs(f"{work}/out", exist_ok=True)

    def enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = batch_df.join(
            F.broadcast(scd2),
            (batch_df["user_id"] == scd2["user_id"])
            & (scd2["valid_from"] <= batch_df["ts"])
            & (
                scd2["valid_to"].isNull()
                | (batch_df["ts"] < scd2["valid_to"])
            ),
            "left",
        ).select(
            batch_df["event_id"],
            batch_df["user_id"],
            batch_df["ts"],
            batch_df["cents"],
            scd2["then_state"],
            scd2["version"],
        )
        out.coalesce(1).write.mode("append").parquet(f"{work}/out")

    stream = file_stream(
        spark, f"{work}/facts", facts.schema, max_files_per_trigger=1
    )
    from ..streaming.runner import run_foreach_batch

    run_foreach_batch(stream, f"{work}/cp", enrich_batch)
    scd2.unpersist()
    return spark.read.parquet(f"{work}/out").orderBy("event_id")


@query(
    "stream_left_outer_join",
    oracle="""
SELECT a.user_id,
       a.event_id AS l_event_id, a.ts AS l_ts,
       b.event_id AS r_event_id, b.ts AS r_ts
FROM events a LEFT JOIN events b
  ON a.user_id = b.user_id AND b.event_type = 'click'
 AND b.user_id % 10 = 3
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
WHERE a.event_type = 'view' AND a.user_id % 10 = 3
ORDER BY l_event_id, r_event_id
""",
)
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream join under a REAL
    AvailableNow run — the attribution join that also reports the
    NON-converting impressions (view with no click inside 4 hours →
    null-match row), the semantics an inner interval join cannot give.
    The 4-hour window keeps BOTH output paths non-vacuous at every SF
    (clicks are sparse per user; a 10-minute window matches nothing at
    the oracle scale).

    Outer results only materialize when the GLOBAL watermark (min
    across both sources) passes ``view.ts + delay`` — in a LATER
    micro-batch, never the one that buffered the row.  The staging
    makes that eviction REAL: each side is two files drained with
    ``maxFilesPerTrigger=1`` — reals buffer in batch 1, a far-future
    sentinel row (negative user id) arrives in batch 2 and advances
    the watermark past every real view, and the trailing NO-DATA
    micro-batch (``noDataMicroBatches``, on by default) evicts under
    it, flushing all real null-matches; the sentinel's own unexpired
    state is discarded with the filter.  State-store partitions are
    pinned to 8 at the checkpoint's first start (sized to the sliced
    stream; a cluster sizes this to executors).  At scale the sentinel
    role is played by the stream
    itself — continuous arrivals keep the watermark moving; the state
    bound (left rows buffered ≤ delay + watermark) is unchanged.  Both
    sides take a deterministic 10% user slice (user_id % 10 = 3) — the
    outer-join semantics and the three-batch eviction path are
    identical, the buffered state is benchmark-sized.  The DuckDB
    oracle is the batch LEFT JOIN with the same slice and time
    predicate — value-checking both the matched AND the null rows."""
    work = tempfile.mkdtemp(prefix="vmdb_ssoj_")
    events = load_table(spark, sf_dir, "events")
    cols = ["user_id", "ts", "event_id"]
    # staging is TWO write jobs total, not four: one partitionBy job
    # lands both sides' reals (repartition on the partition column ->
    # one file per side, parallel scan), one lands both sentinels.
    # Tiny single-file write jobs cost ~1 s each of pure scheduling in
    # local mode — the job count IS the staging cost.
    reals = events.filter(
        F.col("event_type").isin("view", "click") & (F.col("user_id") % 10 == 3)
    ).select("event_type", *cols)
    reals.repartition("event_type").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(f"{work}/src")
    # fixed far-future sentinel ts — no max(ts) scan needed; any value
    # past every real event + delay advances the watermark.  Driver-side
    # pyarrow write into each partition dir: zero Spark jobs
    # (_stage_sentinel; was a ~0.5 s repartition(1) write job)
    schema = events.select(*cols).schema
    _stage_sentinel(
        f"{work}/src/event_type=view", schema, [(-1, _SENTINEL_TS, -1)]
    )
    _stage_sentinel(
        f"{work}/src/event_type=click", schema, [(-2, _SENTINEL_TS, -2)]
    )
    joined = interval_join(
        file_stream(
            spark, f"{work}/src/event_type=view", schema, max_files_per_trigger=1
        ),
        file_stream(
            spark, f"{work}/src/event_type=click", schema, max_files_per_trigger=1
        ),
        key="user_id",
        max_delay="4 hours",
        watermark="10 minutes",
        how="left_outer",
    )
    # state-partition count is pinned by shuffle.partitions at the
    # checkpoint's FIRST start; 8 stores per side is plenty for the
    # sliced stream and saves ~32-store open/commit overhead per
    # micro-batch (local-mode measurement; a real cluster sizes this
    # to executor count).  Restored immediately after the drain.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_available_now(joined, f"{work}/cp")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        out.filter(F.col("user_id") >= 0)
        .select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts")
        .orderBy("l_event_id", "r_event_id")
    )


@query(
    "stream_chained_windows",
    oracle="""
WITH hourly AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
                        * 3600 * 1000000) AS h,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT make_timestamp(CAST(floor(epoch(h) / 86400) AS BIGINT)
                      * 86400 * 1000000) AS day_start,
       event_type,
       max(n) AS peak_hourly_events,
       CAST(sum(n) AS BIGINT) AS n_events_day,
       CAST(count(*) AS BIGINT) AS n_active_hours
FROM hourly
GROUP BY 1, 2
ORDER BY day_start, event_type
""",
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED WINDOWED AGGREGATION under a REAL AvailableNow run —
    Spark 3.4's window-on-window: hourly counts per event type
    re-aggregated into per-day peak hourly rate / total / active
    hours, both aggregates streaming in ONE query (the second windows
    over ``window_time`` of the first, so append mode stays legal).
    Pre-3.4 this took two jobs and an intermediate table; it is the
    canonical "daily peak QPS" rollup.

    Staging reuses the `stream_left_outer_join` recipe: reals in batch
    1, one far-future sentinel row in batch 2 advances the watermark,
    the trailing no-data batch closes every real hourly AND daily
    window (two stacked eviction passes — exactly the path being
    demonstrated).  The sentinel's own windows never close, so it
    self-excludes from the append output.  Oracle: the batch
    hour→day double aggregate."""
    from ..streaming.windows import chained_daily_peak

    work = tempfile.mkdtemp(prefix="vmdb_chw_")
    events = load_table(spark, sf_dir, "events")
    cols = ["ts", "event_type"]
    events.select(*cols).repartition(1).write.mode("overwrite").parquet(
        f"{work}/src"
    )
    # driver-side pyarrow sentinel — zero Spark jobs (_stage_sentinel)
    _stage_sentinel(
        f"{work}/src",
        events.select(*cols).schema,
        [(_SENTINEL_TS, "zz_sentinel")],
    )
    stream = file_stream(
        spark, f"{work}/src", events.select(*cols).schema, max_files_per_trigger=1
    )
    daily = chained_daily_peak(stream, watermark="1 hour")
    # state partitions pinned at first start (hours x types entries --
    # 8 stores ample; see stream_left_outer_join)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_available_now(daily, f"{work}/cp")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # the sentinel self-excludes today (its windows never close), but
    # that is an accident of the staging order — filter it explicitly
    # so a future watermark/ts tweak can't leak it into the oracle hash
    # (ADVICE r9, mirrors stream_left_outer_join's user_id guard)
    return out.filter(F.col("event_type") != "zz_sentinel").orderBy(
        "day_start", "event_type"
    )


@query(
    "stream_stateful_sessions",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE user_id % 10 = 7
),
flagged AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
               OR us - lag(us) OVER w > 43200000000
              THEN 1 ELSE 0 END AS new_s
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
sess AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(us) AS session_start_us,
       max(us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
""",
)
def q_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL SESSIONIZATION under a REAL AvailableNow run —
    ``applyInPandasWithState`` with EVENT-TIME TIMEOUT, the custom-
    state shape neither the built-in ``session_window`` aggregate nor
    `stream_stateful_user_totals`' NoTimeout variant exercises: a
    user's open session lives in the state store until the WATERMARK
    passes its gap horizon, at which point the TIMEOUT CALLBACK (not
    an arriving row) emits it.  Staging makes both emission paths
    real: reals in file 1 close intra-batch sessions immediately, the
    far-future sentinel (user −1) in file 2 advances the watermark,
    and the trailing no-data batch fires every timeout — flushing each
    user's final open session.  The 10% user slice keeps state
    benchmark-sized; a 12-hour gap yields a mix of singleton and
    multi-event sessions at every SF.

    Oracle: the batch gap-sessionization (lag → new-session flag →
    running session id), value-matched on (user, start, end, count) —
    microsecond-exact because both sides aggregate the same integer
    ``unix_micros``.  Scale: state = one small row per ACTIVE user,
    Arrow-batched updates, bounded by concurrency not history."""
    from ..streaming.stateful import gap_sessions

    work = tempfile.mkdtemp(prefix="vmdb_sess_")
    events = load_table(spark, sf_dir, "events")
    cols = ["user_id", "ts"]
    reals = events.filter(F.col("user_id") % 10 == 7).select(*cols)
    reals.repartition(1).write.mode("overwrite").parquet(f"{work}/src")
    # driver-side pyarrow sentinel — zero Spark jobs (_stage_sentinel)
    _stage_sentinel(f"{work}/src", reals.schema, [(-1, _SENTINEL_TS)])
    stream = file_stream(
        spark, f"{work}/src", reals.schema, max_files_per_trigger=1
    )
    sessions = gap_sessions(stream, gap="12 hours", watermark="10 minutes")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_available_now(sessions, f"{work}/cp", output_mode="update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start_us"
    )


@query(
    "stream_dynamic_gap_sessions",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN 1800000000
              ELSE 600000000 END AS gap_us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE user_id % 10 = 3
),
flagged AS (
  SELECT event_id, user_id, us, gap_us, cents,
         CASE WHEN max(us + gap_us) OVER
                (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR us >= max(us + gap_us) OVER
                (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
sess AS (
  SELECT user_id, us, gap_us, cents,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(us) AS session_start_us,
       max(us + gap_us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS total_cents
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
""",
)
def q_stream_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows under a REAL checkpointed
    AvailableNow run — ``session_window(ts, CASE ...)`` with a
    PER-ROW gap expression, the Spark capability neither the
    fixed-gap built-in (`stream_session_windows`) nor the custom
    stateful sessionizer (`stream_stateful_sessions`) exercises: a
    purchase holds its session open for 30 minutes, any other event
    for 10 — per-event-type engagement timeouts without custom
    state.  Each merged session's end is max(ts_i + gap_i); Spark
    sessions are half-open, so an event landing exactly at that
    horizon opens a NEW session (hence ``>=`` in the oracle's
    running-max island test, which replays the merge rule as a
    per-user ROWS window over the total order (ts, event_id)).

    Determinism: bounds are exact microsecond integers, money is
    cents longs — no floats anywhere.  Scale: session state is
    bounded by ACTIVE sessions x watermark horizon; the shuffle key
    is user_id, and the drain runs at 8 shuffle partitions for the
    same idle-state-store reason as `stream_late_data_drop` (a
    cluster sizes partitions to data instead)."""
    work = tempfile.mkdtemp(prefix="vmdb_dyng_")
    events = load_table(spark, sf_dir, "events")
    reals = events.filter(F.col("user_id") % 10 == 3).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    reals.repartition(1).write.mode("overwrite").parquet(f"{work}/src")
    # session-window aggregations only support APPEND mode: sessions
    # emit once the watermark passes their horizon, so a far-future
    # sentinel staged as a SECOND micro-batch flushes every real
    # session (its own open session stays in state, filtered out).
    # Driver-side pyarrow write — zero Spark jobs (_stage_sentinel)
    _stage_sentinel(
        f"{work}/src", reals.schema, [(-1, -1, _SENTINEL_TS, "view", 0)]
    )
    stream = file_stream(
        spark, f"{work}/src", reals.schema, max_files_per_trigger=1
    )
    # gap must be CalendarIntervalType: ANSI INTERVAL literals are
    # DayTimeIntervalType in Spark 4 and are rejected, so pass the
    # per-row gap as a string column (parsed as calendar intervals)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("total_cents"),
        )
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_available_now(agg, f"{work}/cp", output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
        "n_events",
        "total_cents",
    ).orderBy("user_id", "session_start_us")


@query(
    "stream_full_outer_join",
    oracle="""
WITH v AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'view' AND user_id % 10 = 6
),
c AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'click' AND user_id % 10 = 6
)
SELECT COALESCE(v.user_id, c.user_id) AS user_id,
       v.event_id AS l_event_id, v.ts AS l_ts,
       c.event_id AS r_event_id, c.ts AS r_ts
FROM v FULL JOIN c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
ORDER BY l_event_id, r_event_id
""",
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-OUTER watermarked stream-stream join under a REAL
    AvailableNow run — `stream_left_outer_join` plus the THIRD output
    path: orphan clicks (a click with no view in the preceding 4
    hours → null LEFT row), the "conversion with no tracked
    impression" rows an attribution audit must surface.  Exercises
    the eviction horizon full-outer adds: a right row's null-match
    flushes once the watermark passes its OWN timestamp (no future
    view can precede it), earlier than the left side's
    ``view.ts + 4h`` horizon — one sentinel staging past
    ``max(ts) + delay`` flushes both (streaming/joins.py:interval_join
    docstring derives this).  Right-only rows keep their key via the
    coalesced join key.

    Same staging economics as the left-outer query (one partitionBy
    job for both sides' reals, one for both sentinels, 8 state
    partitions, maxFilesPerTrigger=1 so eviction happens across REAL
    micro-batches); a disjoint 10% user slice (% 10 = 6) keeps the
    two queries' state footprints equivalent.  The DuckDB oracle is
    the batch FULL JOIN with side filters INSIDE the join inputs
    (a WHERE would discard the null-extended rows it filters on)."""
    work = tempfile.mkdtemp(prefix="vmdb_sfoj_")
    events = load_table(spark, sf_dir, "events")
    cols = ["user_id", "ts", "event_id"]
    reals = events.filter(
        F.col("event_type").isin("view", "click") & (F.col("user_id") % 10 == 6)
    ).select("event_type", *cols)
    reals.repartition("event_type").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(f"{work}/src")
    # driver-side pyarrow sentinels — zero Spark jobs (_stage_sentinel)
    schema = events.select(*cols).schema
    _stage_sentinel(
        f"{work}/src/event_type=view", schema, [(-1, _SENTINEL_TS, -1)]
    )
    _stage_sentinel(
        f"{work}/src/event_type=click", schema, [(-2, _SENTINEL_TS, -2)]
    )
    joined = interval_join(
        file_stream(
            spark, f"{work}/src/event_type=view", schema, max_files_per_trigger=1
        ),
        file_stream(
            spark, f"{work}/src/event_type=click", schema, max_files_per_trigger=1
        ),
        key="user_id",
        max_delay="4 hours",
        watermark="10 minutes",
        how="full_outer",
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = run_available_now(joined, f"{work}/cp")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        out.filter(F.col("user_id") >= 0)
        .select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts")
        .orderBy("l_event_id", "r_event_id")
    )
