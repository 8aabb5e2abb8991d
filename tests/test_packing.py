"""Distributed prefix-sum packing == the naive global-window form."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from video_metadata_db_spark.functions.text import token_count
from video_metadata_db_spark.operators.packing import pack_blocks, sequence_offsets
from video_metadata_db_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _weighted(spark):
    docs = load_table(spark, SF, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def test_distributed_offsets_match_global_window(spark):
    w = _weighted(spark).filter(F.col("n_tokens") > 0)
    naive_w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r["doc_id"]: r["off"]
        for r in w.select(
            "doc_id",
            F.coalesce(F.sum("n_tokens").over(naive_w), F.lit(0)).cast("long").alias("off"),
        ).collect()
    }
    # several range widths, incl. more ranges than rows
    for num_ranges in (1, 4, 32, 10_000):
        got = {
            r["doc_id"]: r["start_offset"]
            for r in sequence_offsets(w, num_ranges=num_ranges).collect()
        }
        assert got == naive, f"num_ranges={num_ranges}"


def test_global_row_number_with_colliding_order_keys(spark):
    """Distributed rank == row_number() over (order, tiebreak), with
    DUPLICATE order-key values straddling bucket boundaries — the case
    the strict-less-than bucketing must keep in one bucket so the
    tiebreak window can order them."""
    from video_metadata_db_spark.operators.packing import global_row_number

    rows = [(v, i) for i, v in enumerate([5, 3, 5, 1, 3, 5, 9, 1, 7, 5] * 20)]
    df = spark.createDataFrame(rows, "k long, id long")
    got = {
        r["id"]: r["position"]
        for r in global_row_number(df, "k", "id", num_ranges=7).collect()
    }
    expect = {
        id_: pos
        for pos, (_, id_) in enumerate(sorted(rows, key=lambda r: (r[0], r[1])))
    }
    assert got == expect


def test_pack_blocks_invariants(spark):
    out = pack_blocks(_weighted(spark), block_size=512).collect()
    assert out, "corpus must pack"
    total = sum(r["n_tokens"] for r in out)
    by_id = sorted(out, key=lambda r: r["doc_id"])
    # stream is gapless: offsets are consecutive in doc order
    run = 0
    for r in by_id:
        assert r["start_offset"] == run, r
        run += r["n_tokens"]
    assert run == total
    for r in by_id:
        assert r["first_block"] == r["start_offset"] // 512
        assert r["last_block"] == (r["start_offset"] + r["n_tokens"] - 1) // 512
        assert r["n_blocks"] == r["last_block"] - r["first_block"] + 1

