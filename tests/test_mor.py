"""Round-trip tests for the MERGE / merge-on-read surface:
relational merge semantics and the delete-beats-upsert overlay rule.  (The registry value oracles for
merge_upsert_customers / mor_snapshot_read run in
test_registry_queries.py.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.operators.mor import merge_upsert, snapshot_read


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )


def _updates(spark):
    # id=2 updated, id=9 inserted
    return spark.createDataFrame(
        [(2, "B", 200), (9, "z", 900)], "id long, name string, v long"
    )


def test_merge_upsert_semantics(spark):
    got = {
        r["id"]: (r["name"], r["v"], r["merge_action"])
        for r in merge_upsert(
            _base(spark), _updates(spark), ["id"], mark_col="merge_action"
        ).collect()
    }
    assert got == {
        1: ("a", 10, "base"),
        2: ("B", 200, "updated"),
        3: ("c", 30, "base"),
        9: ("z", 900, "inserted"),
    }


def test_merge_upsert_null_payload_overwrites(spark):
    """UPDATE SET * writes a legitimate NULL from the changefeed — the
    r5 coalesce form silently kept the base value (ADVICE r5)."""
    upd = spark.createDataFrame([(2, None, 200)], "id long, name string, v long")
    got = {
        r["id"]: (r["name"], r["v"])
        for r in merge_upsert(_base(spark), upd, ["id"]).collect()
    }
    assert got[2] == (None, 200)
    assert got[1] == ("a", 10) and got[3] == ("c", 30)


def test_merge_upsert_duplicate_update_keys_raise(spark):
    """Duplicate changefeed keys must raise at execution (Delta/Iceberg
    multiple-match semantics), not silently multiply base rows."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    dup = spark.createDataFrame(
        [(2, "B", 200), (2, "BB", 201)], "id long, name string, v long"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="duplicate update key"):
        merge_upsert(_base(spark), dup, ["id"]).collect()


def test_merge_upsert_rejects_missing_payload(spark):
    bad = spark.createDataFrame([(2, "B")], "id long, name string")
    with pytest.raises(ValueError, match="missing payload"):
        merge_upsert(_base(spark), bad, ["id"])


def test_snapshot_read_delete_beats_upsert(spark):
    base = _base(spark)
    ups = spark.createDataFrame([(2, "B", 200), (9, "z", 900)], base.schema)
    dels = spark.createDataFrame([(2,), (9,)], "id long")
    cur = snapshot_read(base, ["id"], delete_keys=dels, upserts=ups)
    assert sorted(r["id"] for r in cur.collect()) == [1, 3]


def test_merge_schema_evolution_add_and_preserve(spark):
    """Delta autoMerge semantics (VERDICT r6 item 7): the changefeed
    adds `score` (base rows backfill NULL) and omits `name` (matched
    rows PRESERVE the base value; inserts get NULL)."""
    upd = spark.createDataFrame(
        [(2, 200, 0.9), (9, 900, 0.1)], "id long, v long, score double"
    )
    out = merge_upsert(
        _base(spark), upd, ["id"], mark_col="merge_action", evolve_schema=True
    )
    assert out.columns == ["id", "name", "v", "score", "merge_action"]
    got = {
        r["id"]: (r["name"], r["v"], r["score"], r["merge_action"])
        for r in out.collect()
    }
    assert got == {
        1: ("a", 10, None, "base"),
        2: ("b", 200, 0.9, "updated"),    # name preserved, v + score updated
        3: ("c", 30, None, "base"),
        9: (None, 900, 0.1, "inserted"),  # no base name to preserve
    }


def test_merge_schema_evolution_strict_mode_unchanged(spark):
    """Without evolve_schema the strict contract holds: a missing
    payload column still raises, and extra changefeed columns are
    ignored (no silent schema widening)."""
    upd = spark.createDataFrame(
        [(2, 200, 0.9)], "id long, v long, score double"
    )
    with pytest.raises(ValueError, match="missing payload"):
        merge_upsert(_base(spark), upd, ["id"])
    full = spark.createDataFrame(
        [(2, "B", 200, 0.9)], "id long, name string, v long, score double"
    )
    out = merge_upsert(_base(spark), full, ["id"])
    assert out.columns == ["id", "name", "v"]


def test_merge_schema_evolution_duplicate_keys_still_raise(spark):
    """The dup-key assert survives the evolved projection."""
    upd = spark.createDataFrame(
        [(2, 200, 0.9), (2, 300, 0.2)], "id long, v long, score double"
    )
    with pytest.raises(Exception, match="duplicate update key"):
        merge_upsert(
            _base(spark), upd, ["id"], evolve_schema=True
        ).collect()


def test_cdc_apply_semantics(spark):
    """I/U/D in one batch: delete removes, update replaces, insert
    appends, untouched base carries through, absent-key delete no-ops."""
    from video_metadata_db_spark.operators.mor import cdc_apply

    changes = spark.createDataFrame(
        [
            (2, "U", "B", 200),
            (9, "I", "z", 900),
            (3, "D", None, None),
            (77, "D", None, None),  # absent key: no-op
        ],
        "id long, op string, name string, v long",
    )
    got = {
        r["id"]: (r["name"], r["v"], r["cdc_action"])
        for r in cdc_apply(
            _base(spark), changes, ["id"], mark_col="cdc_action"
        ).collect()
    }
    assert got == {
        1: ("a", 10, "base"),
        2: ("B", 200, "updated"),
        9: ("z", 900, "inserted"),
    }


def test_cdc_apply_rejects_bad_batches(spark):
    """Duplicate keys and unknown ops fail loudly at execution."""
    from video_metadata_db_spark.operators.mor import cdc_apply

    dup = spark.createDataFrame(
        [(2, "U", "B", 200), (2, "D", None, None)],
        "id long, op string, name string, v long",
    )
    with pytest.raises(Exception, match="duplicate change key"):
        cdc_apply(_base(spark), dup, ["id"]).collect()

    badop = spark.createDataFrame(
        [(2, "X", "B", 200)], "id long, op string, name string, v long"
    )
    with pytest.raises(Exception, match="unknown op"):
        cdc_apply(_base(spark), badop, ["id"]).collect()


def test_versioned_table_retry_replays_pre_batch_snapshot(spark, tmp_path):
    """ADVICE r7: a foreachBatch retry of batch N after its own
    v{N+1} commit must re-apply against the PRE-batch snapshot (it
    would otherwise read its own output and double-apply), and a
    half-written version directory must never be resolvable as the
    latest snapshot (commits are staging-dir + atomic rename)."""
    from video_metadata_db_spark.operators.mor import (
        VersionedParquetTable,
        cdc_apply,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"))
    t.init(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"))
    batch = spark.createDataFrame([(1, "U", 11), (3, "I", 30)], "k int, op string, v int")

    def run_batch(batch_id: int) -> None:
        t.commit(cdc_apply(t.read_for_batch(batch_id), batch, ["k"]), batch_id)

    run_batch(0)
    after_first = sorted((r.k, r.v) for r in t.latest().collect())
    run_batch(0)  # retry AFTER its own commit: base must be v0 again
    assert sorted((r.k, r.v) for r in t.latest().collect()) == after_first
    assert after_first == [(1, 11), (2, 20), (3, 30)]

    # a crashed commit leaves only a staging dir, which reads ignore
    (tmp_path / "tbl" / ".v2.staging").mkdir()
    assert sorted((r.k, r.v) for r in t.latest().collect()) == after_first
    # and read_for_batch(0) still resolves v0, not v1
    assert sorted((r.k, r.v) for r in t.read_for_batch(0).collect()) == [
        (1, 10),
        (2, 20),
    ]
