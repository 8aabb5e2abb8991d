"""Loaders for the driver's synthetic parquet corpus (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``.  Parquet is
the engine's native format: columnar, predicate-pushdown- and
column-pruning-friendly — ``df.explain`` on any downstream query should
show ``PushedFilters`` / a narrowed ``ReadSchema``.

A load launches no Spark job: the schema comes from the file's parquet
footer, read on the driver through pyarrow, and is handed to the reader
explicitly.  Left to itself, ``spark.read.parquet`` runs one job per
call just to infer that same schema, and ``register_views`` loads all
ten tables for every SQL query.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

if TYPE_CHECKING:
    import pyarrow as pa

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Spark's inference widens an unsigned parquet int to the next signed type.
_UNSIGNED = {8: ShortType(), 16: IntegerType(), 32: LongType(), 64: DecimalType(20, 0)}


def _spark_type(t: pa.DataType, int96: bool = False) -> DataType:
    """The type Spark's parquet schema inference gives a column of
    Arrow type ``t``, at any nesting depth: timestamps without a zone
    are TIMESTAMP_NTZ, TIMESTAMP(NANOS) is its raw int64 (the
    ``nanosAsLong`` flag), INT96 — Spark's own default timestamp
    encoding, which pyarrow also reports as nanos — is a plain
    timestamp, a duration is its int64 storage, unsigned ints widen,
    an all-null column is int, and every nested field is nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if int96:
        return TimestampType()
    if pa.types.is_timestamp(t) and t.unit == "ns" or pa.types.is_duration(t):
        return LongType()
    if pa.types.is_unsigned_integer(t):
        return _UNSIGNED[t.bit_width]
    if pa.types.is_null(t):
        return IntegerType()
    if pa.types.is_dictionary(t):
        return _spark_type(t.value_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ArrayType(_spark_type(t.value_type), True)
    if pa.types.is_map(t):
        return MapType(_spark_type(t.key_type), _spark_type(t.item_type), True)
    if pa.types.is_struct(t):
        return StructType([StructField(f.name, _spark_type(f.type), True) for f in t])
    return from_arrow_type(t, prefer_timestamp_ntz=True)


def _footer_schema(path: str) -> StructType:
    """The schema Spark would infer for ``path``, built from a parquet
    footer on the driver, so the read that uses it launches no job.
    ``path`` is one parquet file or, as Spark writes a table, a
    directory of part files; like Spark, take the first data file's
    footer (pyarrow resolves local paths and URIs alike, and skips
    ``_``/``.`` files).  Every field is nullable, as in Spark's own
    inference.  An INT96 timestamp inside a nested column raises
    ``ValueError``: pyarrow reports it as nanos, which inference types
    differently.

    pyarrow (and pandas, under ``from_arrow_type``) is imported here,
    not at module level: the CLI imports this package but reads no
    corpus table, and the two add about 70 MB to its driver process."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    dataset = ds.dataset(path, format="parquet")
    if not dataset.files:
        raise FileNotFoundError(f"no parquet data file under {path}")
    parquet_schema = pq.read_metadata(dataset.files[0], filesystem=dataset.filesystem).schema
    int96 = {
        parquet_schema.column(i).path
        for i in range(len(parquet_schema))
        if parquet_schema.column(i).physical_type == "INT96"
    }
    nested_int96 = sorted(p.split(".")[0] for p in int96 if "." in p)
    if nested_int96:
        raise ValueError(
            f"column {nested_int96[0]!r} of {path}: a nested INT96 timestamp "
            "has no footer-schema mapping"
        )
    return StructType(
        [
            StructField(f.name, _spark_type(f.type, f.name in int96), True)
            for f in parquet_schema.to_arrow_schema()
        ]
    )


def _normalize_events(raw: DataFrame) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects — read as raw int64 nanos via the
    legacy flag and truncate to micros, matching DuckDB/Arrow) and plain
    TIMESTAMP(MICROS), with or without a zone.  Adapt to whichever the
    footer says so regenerated corpora don't break every events query:
    ``ts`` is always TimestampType micros."""
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer `div`, not `/`: epoch-2024 nanos (~1.7e18) exceed a
        # double's 53-bit mantissa, so float division truncates wrong
        # by up to 1 µs — caught by the session-window oracle on min(ts)
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # normalize to TimestampType so unix_micros/window/watermark
        # operators downstream see one type; session tz is UTC
        # (session.py:40), so the wall-clock value is unchanged
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.select("event_id", "ts", "user_id", "event_type", "value", "props")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table with the schema its parquet footer declares
    — never ``inferSchema`` over text, and no schema-inference job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; corpus tables: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # lets the reader take TIMESTAMP(NANOS) as int64 (_normalize_events)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(_footer_schema(path)).parquet(path)
    return _normalize_events(raw) if name == "events" else raw


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
