"""Local replica of the driver's Spark-vs-DuckDB comparison.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet files, then compares row count, column names, and an
order-insensitive value multiset (values normalized to strings, floats
rounded, sorted by all columns).
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from video_metadata_db_spark.sources.tables import TABLES

_FLOAT_DECIMALS = 6


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, _FLOAT_DECIMALS):.{_FLOAT_DECIMALS}f}"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return conn


# The driver fetches the DuckDB side via ``.df()``, where HUGEINT and
# DECIMAL land as float64 — so an oracle column of either type against a
# Spark integral column hash-mismatches on dtype even when every value is
# identical (this sank ``variant_json_path`` in round 5).  Classify both
# sides into the pandas "kind" the driver would see and require equality.
_DUCK_KIND = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "HUGEINT": "float", "UHUGEINT": "float",  # .df() → float64
    "FLOAT": "float", "DOUBLE": "float",
    "BOOLEAN": "bool", "VARCHAR": "str", "DATE": "date",
}


def _duck_kind(t: str) -> str:
    t = t.upper()
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "UNION")):
        return "complex"
    if t.startswith("DECIMAL"):
        return "float"  # .df() → float64
    if t.startswith(("TIMESTAMP", "DATETIME")):
        return "datetime"
    return _DUCK_KIND.get(t, t.lower())


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        return "complex"
    return type(dt).__name__.lower()


def assert_dtype_classes_match(sdf, oracle_sql: str, conn, name: str) -> None:
    """Driver-hashability fence: per column, the pandas dtype class the
    driver derives from the DuckDB oracle must equal the Spark side's.
    DESCRIBE is binding-only, so this costs no extra query execution."""
    desc = conn.execute(f"DESCRIBE {oracle_sql}").fetchall()
    duck = {r[0].lower(): _duck_kind(r[1]) for r in desc}
    spark = {f.name.lower(): _spark_kind(f.dataType) for f in sdf.schema.fields}
    bad = {
        c: (spark[c], duck[c])
        for c in spark
        if c in duck and spark[c] != duck[c]
    }
    assert not bad, (
        f"{name}: oracle dtype class mismatch (spark, duck) per column: {bad} — "
        "identical values will still fail the driver's dtype-sensitive hash; "
        "CAST the oracle aggregate (e.g. CAST(SUM(..) AS BIGINT)) or align the "
        "Spark output type"
    )


def compare_query(spark, name: str, sf_dir: str) -> int:
    """Assert Spark result == oracle result for a registered query;
    return the Spark row count."""
    from video_metadata_db_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    conn = duckdb_conn(sf_dir)
    try:
        res = conn.execute(ORACLES[name])
        duck_cols = [d[0].lower() for d in res.description]
        duck_rows = res.fetchall()
        assert_dtype_classes_match(sdf, ORACLES[name], conn, name)
    finally:
        conn.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    if ns != nd:
        diff_s = [r for r in ns if r not in set(nd)][:5]
        diff_d = [r for r in nd if r not in set(ns)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n only-spark: {diff_s}\n only-duck:  {diff_d}"
        )
    return len(spark_rows)
