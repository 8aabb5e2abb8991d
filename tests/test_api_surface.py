"""Import sanity: every module in the package imports cleanly and the
declared __all__ names resolve — catches broken imports/renames that
query-level tests might route around."""

from __future__ import annotations

import importlib
import pkgutil
import subprocess
import sys
from pathlib import Path

import video_metadata_db_spark as pkg


def test_every_module_imports():
    failures = []
    for mod in pkgutil.walk_packages(pkg.__path__, prefix="video_metadata_db_spark."):
        try:
            importlib.import_module(mod.name)
        except Exception as exc:  # noqa: BLE001
            failures.append((mod.name, repr(exc)))
    assert not failures, failures


def test_all_exports_resolve():
    for name in ("functions", "operators", "sources", "plans", "streaming"):
        m = importlib.import_module(f"video_metadata_db_spark.{name}")
        for sym in getattr(m, "__all__", []):
            assert getattr(m, sym, None) is not None, f"{name}.{sym} missing"


def test_checked_window_invariants():
    """The driver hash-checks only the first 50 registered queries —
    pin that the window is exactly CHECKED_FIRST, every name in it has
    a value oracle (no rows-only entry wastes a checked slot), and
    nothing reorders silently."""
    from video_metadata_db_spark.plans import CHECKED_FIRST, ORACLES, QUERIES

    assert len(CHECKED_FIRST) == 50
    assert list(QUERIES)[:50] == CHECKED_FIRST
    missing = [n for n in CHECKED_FIRST if n not in ORACLES]
    assert not missing, f"checked-window queries without oracle: {missing}"


#: Queries that share one oracle on purpose: the same result reached as
#: a batch build, an incremental maintainer and a stream, so each run
#: checks a different capability against one truth.
SHARED_ORACLES = [
    {"heavy_hitters_cms", "stream_cms_heavy_hitters"},
    {"dedup_components", "dedup_components_incremental", "stream_incremental_dedup"},
]


def test_no_two_queries_share_an_oracle_unless_allowed():
    """Two queries checked against the same oracle SQL compute the same
    thing; unless they are listed batch/incremental/streaming forms, the
    second one is a fork of the first and belongs in the same entry."""
    from video_metadata_db_spark.plans import ORACLES

    by_sql: dict[str, set[str]] = {}
    for name, sql in ORACLES.items():
        by_sql.setdefault(" ".join(sql.split()), set()).add(name)
    shared = [names for names in by_sql.values() if len(names) > 1]
    unexpected = [sorted(n) for n in shared if n not in SHARED_ORACLES]
    assert not unexpected, f"queries with identical oracle SQL: {unexpected}"


def test_broken_query_module_fails_the_registry_import():
    """A query module that cannot be imported must fail
    ``from ...plans import QUERIES`` — never leave a registry with that
    module's queries missing and the checked window out of order."""
    code = (
        "import sys\n"
        "sys.modules['video_metadata_db_spark.plans.lake_queries'] = None\n"
        "from video_metadata_db_spark.plans import QUERIES\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    # ModuleNotFoundError is the ImportError subclass a None entry raises
    error = proc.stderr.strip().splitlines()[-1].partition(":")[0]
    assert error in ("ImportError", "ModuleNotFoundError"), proc.stderr


def test_checked_window_output_types_are_driver_hashable(spark, sf_dir):
    """The driver's pandas-based canonicalizer cannot hash Decimal,
    array, map, or struct output columns (cost a checked slot in rounds
    2 AND 3: decimal revenue in join_salted_skew, array feature in
    multimodal_features).  Every checked-window query must emit only
    scalar, hash-stable types — serialize complex values to strings at
    the query boundary."""
    from pyspark.sql import types as T

    from video_metadata_db_spark.plans import CHECKED_FIRST, QUERIES

    banned = (T.DecimalType, T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    offenders = []
    for name in CHECKED_FIRST:
        schema = QUERIES[name](spark, sf_dir).schema
        for field in schema.fields:
            if isinstance(field.dataType, banned):
                offenders.append((name, field.name, field.dataType.simpleString()))
    assert not offenders, f"non-hashable checked-window output columns: {offenders}"
