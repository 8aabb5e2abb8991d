"""File-source streams and deterministic stream execution helpers.

``Trigger.AvailableNow`` + a checkpoint dir is the bridge between
streaming semantics and testability: each ``run_available_now`` call
processes exactly the files not yet recorded in the checkpoint, updates
watermark/dedup state, then stops.  Two successive calls with the same
checkpoint ARE the reference's build-then-update lifecycle
(video_metadata_db.py:1529-1532) with exactly-once bookkeeping replacing
the broken mmap membership scan (:427-452).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a directory of files.  Schema is mandatory
    for streams (no inference).  ``max_files_per_trigger`` bounds batch
    size — at scale it caps per-batch work; in tests it forces files
    into SEPARATE micro-batches so cross-batch state-store paths are
    actually exercised (AvailableNow otherwise drains everything in one
    batch)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def _drain(writer: DataStreamWriter, timeout_s: int) -> None:
    """Start ``writer`` as an AvailableNow query and wait for it to
    drain.  A query still running after ``timeout_s`` is stopped and
    ``TimeoutError`` raised, so a caller never reads a half-filled sink
    and no query outlives the call."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain in {timeout_s} s"
        )


def run_available_now(
    result: DataFrame,
    checkpoint: str,
    output_mode: str = "append",
    timeout_s: int = 120,
) -> DataFrame:
    """Drain everything currently available into a memory sink; return
    the rows THIS run emitted.  The memory sink is test/debug plumbing —
    production sinks are parquet/Delta via the same writeStream.

    The sink registers itself as temp view ``name``.  The returned frame
    is resolved against the sink before that view is dropped, so it
    holds the sink's rows by reference and the session's catalog keeps
    nothing once the caller lets go of the frame."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    _drain(
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint),
        timeout_s,
    )
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows


def run_available_now_to_parquet(
    result: DataFrame,
    checkpoint: str,
    out_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """Drain to a parquet file sink (append mode) and return the
    CUMULATIVE sink contents.  Unlike the memory sink, the file sink
    supports checkpoint recovery, so successive calls with the same
    checkpoint continue exactly where the previous run stopped — the
    production-shaped update lifecycle."""
    _drain(
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        timeout_s,
    )
    return result.sparkSession.read.parquet(out_dir)


def run_foreach_batch(
    result: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    timeout_s: int = 120,
) -> None:
    """AvailableNow drain through a ``foreachBatch`` callback — the
    escape hatch for sinks Spark lacks natively (the reference's
    toast/notify side-channel, §2.10, maps here)."""
    _drain(
        result.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint),
        timeout_s,
    )
