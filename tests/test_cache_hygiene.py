"""Cache hygiene: the dedup family's load-bearing persists must not
accumulate across calls in a long-lived session (VERDICT r4 item 3).

The signature/fingerprint persists are required for plan reuse (both
sides of each LSH self-join consume them), but they can only be
released after the caller materializes the lazy result — so the
operators bound the leak with a small LRU scope: a semantically
identical input reuses the live cache (repeated dedup over one corpus
pays the signature pass once), distinct inputs rotate through at most
``_MAX_SCOPED`` frames, and ``release_dedup_caches`` clears the tail.
These tests pin all three behaviors, that evicting a frame whose cache
was never built warns, and that k-means (which unpersists in-function)
leaves nothing behind.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.operators import dedup as D
from video_metadata_db_spark.operators.clustering import kmeans_assign
from video_metadata_db_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def persistent_rdd_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_dedup_cache_scope_is_bounded_and_releasable(spark):
    docs = load_table(spark, SF, "documents")
    D.release_dedup_caches()  # isolate from anything the session did
    base = persistent_rdd_ids(spark)

    D.minhash_lsh_dedup(docs, threshold=0.5).count()
    assert len(D._SCOPED_CACHES) == 1

    # a semantically identical call REUSES the live cache — the repeat
    # pays no second signature pass and adds no second entry
    D.minhash_lsh_dedup(docs, threshold=0.5).count()
    assert len(D._SCOPED_CACHES) == 1

    D.simhash_near_pairs(docs, max_hamming=8).count()
    assert len(D._SCOPED_CACHES) == 2

    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    D.minhash_incremental_pairs(new, corpus, threshold=0.5).count()
    assert len(D._SCOPED_CACHES) == 4  # + new & corpus signatures

    half = docs.filter(F.col("doc_id") % 2 == 0)
    D.minhash_lsh_dedup(half, threshold=0.5).count()
    assert len(D._SCOPED_CACHES) == 5

    # distinct frames beyond the bound evict the oldest: the scope
    # never exceeds _MAX_SCOPED however many dedup calls a session makes
    for mod in (3, 4, 5):
        D.minhash_lsh_dedup(
            docs.filter(F.col("doc_id") % mod == 0), threshold=0.5
        ).count()
    assert len(D._SCOPED_CACHES) == D._MAX_SCOPED

    assert D.release_dedup_caches() == D._MAX_SCOPED
    assert not D._SCOPED_CACHES
    # nothing the dedup calls persisted remains in the executor store
    assert persistent_rdd_ids(spark) <= base


def _distinct_frames(spark, n):
    return [spark.range(8).select((F.col("id") + i).alias("v")) for i in range(n)]


def test_scope_eviction_of_an_unbuilt_cache_warns(spark):
    """One frame past the bound evicts the oldest; none was ever acted
    on, so its consumer would recompute it — that eviction warns once."""
    D.release_dedup_caches()
    with pytest.warns(RuntimeWarning, match="never built") as record:
        for df in _distinct_frames(spark, D._MAX_SCOPED + 1):
            D._scoped_persist(df)
    assert len([w for w in record if w.category is RuntimeWarning]) == 1
    assert len(D._SCOPED_CACHES) == D._MAX_SCOPED
    D.release_dedup_caches()


def test_scope_eviction_of_consumed_frames_is_silent(spark):
    D.release_dedup_caches()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        for df in _distinct_frames(spark, D._MAX_SCOPED + 2):
            D._scoped_persist(df).agg(F.sum("v")).collect()
    assert len(D._SCOPED_CACHES) == D._MAX_SCOPED
    D.release_dedup_caches()


def test_released_dedup_result_still_correct(spark):
    """Releasing caches before the consumer materializes must only cost
    a recompute, never change results."""
    docs = load_table(spark, SF, "documents")
    pairs = D.minhash_lsh_dedup(docs, threshold=0.5)
    expected = sorted(map(tuple, pairs.collect()))
    again = D.minhash_lsh_dedup(docs, threshold=0.5)
    D.release_dedup_caches()  # released BEFORE the action
    assert sorted(map(tuple, again.collect())) == expected


def test_kmeans_leaves_no_persistent_rdds(spark):
    emb = load_table(spark, SF, "embeddings")
    base = persistent_rdd_ids(spark)
    kmeans_assign(emb, k=4, n_iter=2).count()
    # in-function persist/unpersist (blocking=False) — poll briefly for
    # the async removal before asserting
    import time

    for _ in range(50):
        if persistent_rdd_ids(spark) <= base:
            break
        time.sleep(0.1)
    assert persistent_rdd_ids(spark) <= base
