"""Corpus-loader schema adaptivity.

Round 2 regression class: the driver regenerated events.parquet with
``ts`` as TIMESTAMP(MICROS) where the round-1 corpus used
TIMESTAMP(NANOS), and the loader's fixed int64-nanos conversion then
broke every events query.  load_table must adapt to whichever flavor
the footer declares and always emit TimestampType micros.

load_table builds each schema from the parquet footer instead of
letting Spark infer it, so a load launches no Spark job; that schema
must be exactly the one inference gives.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from video_metadata_db_spark.sources.tables import (
    TABLES,
    _footer_schema,
    _normalize_events,
    load_table,
    register_views,
)

from .conftest import SF_SMOKE

#: the three corpus scales, siblings of the smoke corpus
SF_DIRS = tuple(f"{os.path.dirname(SF_SMOKE)}/sf{sf}" for sf in ("0.001", "0.01", "0.1"))

#: events.ts flavors the corpus has shipped (or may ship) with
TS_FLAVORS = {
    "micros": (pa.timestamp("us"), False),
    "nanos": (pa.timestamp("ns"), False),
    "micros_tz": (pa.timestamp("us", tz="UTC"), False),
    "int96": (pa.timestamp("us"), True),
}

_ROWS = [
    (1, dt.datetime(2024, 3, 1, 12, 0, 0, 123456), 7, "view", 1.5, "{}"),
    (2, dt.datetime(2024, 3, 1, 12, 10, 0, 654321), 8, "click", 2.5, "{}"),
]


def _write_events(tmp, ts_type, ts_vals, int96=False):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array(ts_vals, ts_type),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS], pa.string()),
        }
    )
    pq.write_table(
        table,
        f"{tmp}/events.parquet",
        store_schema=False,
        use_deprecated_int96_timestamps=int96,
    )


def _ts_vals(ts_type):
    if ts_type.tz is None:
        return [r[1] for r in _ROWS]
    return [r[1].replace(tzinfo=dt.timezone.utc) for r in _ROWS]


def _assert_matches_inference(spark, sf_dir, name):
    """The footer schema is exactly what Spark's own inference gives
    (with the nanos flag the loader sets), before and after the events
    normalisation."""
    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(path)
    assert _footer_schema(path) == inferred.schema
    if name == "events":
        inferred = _normalize_events(inferred)
    assert load_table(spark, sf_dir, name).schema == inferred.schema


def _check(spark, tmp):
    df = load_table(spark, str(tmp), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r["event_id"]: r["ts"] for r in df.collect()}
    assert got == {r[0]: r[1] for r in _ROWS}


def test_events_ts_micros(spark, tmp_path):
    _write_events(tmp_path, pa.timestamp("us"), [r[1] for r in _ROWS])
    _check(spark, tmp_path)


def test_events_ts_nanos(spark, tmp_path):
    _write_events(tmp_path, pa.timestamp("ns"), [r[1] for r in _ROWS])
    _check(spark, tmp_path)


def test_events_ts_micros_tz(spark, tmp_path):
    """A tz-tagged micros flavor reads as plain TimestampType with the
    same UTC wall-clock (session tz is UTC)."""
    vals = [r[1].replace(tzinfo=dt.timezone.utc) for r in _ROWS]
    _write_events(tmp_path, pa.timestamp("us", tz="UTC"), vals)
    _check(spark, tmp_path)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_matches_inference(spark, sf_dir, name):
    _assert_matches_inference(spark, sf_dir, name)


@pytest.mark.parametrize("flavor", sorted(TS_FLAVORS))
def test_events_footer_schema_matches_inference(spark, tmp_path, flavor):
    """Every flavor, INT96 included (Spark's default encoding, which
    pyarrow reports as nanos), gets the inferred schema and reads back
    as TimestampType micros."""
    ts_type, int96 = TS_FLAVORS[flavor]
    _write_events(tmp_path, ts_type, _ts_vals(ts_type), int96=int96)
    _assert_matches_inference(spark, str(tmp_path), "events")
    _check(spark, tmp_path)


def test_spark_written_table_directory_matches_inference(spark, tmp_path):
    """A table Spark wrote itself is a directory of part files with
    ``ts`` stored as INT96 (Spark's default); the loader reads the
    first part's footer and still matches inference."""
    load_table(spark, SF_DIRS[0], "events").repartition(3).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    _assert_matches_inference(spark, str(tmp_path), "events")


#: Arrow column types whose Spark type is not ``from_arrow_type``'s:
#: inference widens unsigned ints, reads a duration or a nested nanos
#: timestamp as its int64 storage, types an all-null column int, and
#: makes every nested field nullable
FOOTER_TYPES = {
    "uint8": pa.uint8(),
    "uint16": pa.uint16(),
    "uint32": pa.uint32(),
    "uint64": pa.uint64(),
    "duration": pa.duration("us"),
    "null": pa.null(),
    "dictionary_uint16": pa.dictionary(pa.int8(), pa.uint16()),
    "list_timestamp_ns": pa.list_(pa.timestamp("ns")),
    "list_uint8": pa.list_(pa.uint8()),
    "list_required": pa.list_(pa.field("x", pa.int64(), nullable=False)),
    "struct_timestamp_ns": pa.struct([("t", pa.timestamp("ns"))]),
    "struct_required_uint32": pa.struct([pa.field("u", pa.uint32(), nullable=False)]),
    "map_timestamp_ns": pa.map_(pa.string(), pa.timestamp("ns")),
}


@pytest.mark.parametrize("name", sorted(FOOTER_TYPES))
def test_footer_schema_matches_inference_for_remapped_types(spark, tmp_path, name):
    """A one-column file of each type gets the inferred schema, whether
    or not pyarrow stored its Arrow schema in the footer."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for store in (True, False):
        path = f"{tmp_path}/{name}_{store}.parquet"
        table = pa.table({"c": pa.array([None], FOOTER_TYPES[name])})
        pq.write_table(table, path, store_schema=store)
        assert _footer_schema(path) == spark.read.parquet(path).schema


def test_footer_schema_rejects_nested_int96(spark, tmp_path):
    """Spark writes timestamps as INT96, which pyarrow reports as nanos;
    nested in an array that cannot be told apart from TIMESTAMP(NANOS),
    so the footer schema names the column and raises."""
    path = f"{tmp_path}/t.parquet"
    spark.sql("SELECT 1 AS id, array(TIMESTAMP'2024-03-01 12:00:00') AS stamps").write.parquet(
        path
    )
    with pytest.raises(ValueError, match="'stamps'"):
        _footer_schema(path)


def test_table_loads_launch_no_spark_job(spark, sf_dir):
    """Schema inference costs one Spark job per parquet read, and
    register_views loads every table for each SQL query; a load whose
    schema comes from the footer launches none."""
    sc = spark.sparkContext
    group = "test_table_loads_launch_no_spark_job"
    sc.setJobGroup(group, "corpus table loads")
    try:
        for name in TABLES:
            load_table(spark, sf_dir, name)
        register_views(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
