"""Operator-level tests for the corpus-mining layer (clustering,
TF-IDF, vocab induction) — properties the value oracle can't express:
determinism across reruns, seed/empty-cluster edge cases, and the
objective actually improving across Lloyd's iterations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.operators.clustering import (
    cluster_profile,
    kmeans_assign,
)
from video_metadata_db_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_kmeans_deterministic_across_runs(spark):
    emb = load_table(spark, SF, "embeddings")
    a = sorted(map(tuple, kmeans_assign(emb, k=4, n_iter=2).collect()))
    b = sorted(map(tuple, kmeans_assign(emb, k=4, n_iter=2).collect()))
    assert a == b


def test_kmeans_covers_all_vectors_once(spark):
    emb = load_table(spark, SF, "embeddings")
    out = kmeans_assign(emb, k=4, n_iter=1)
    n_vec = emb.count()
    assert out.count() == n_vec
    assert out.select("vec_id").distinct().count() == n_vec
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert clusters <= set(range(4))


def test_kmeans_objective_monotone_nonincreasing(spark):
    """Lloyd's guarantee: total within-cluster squared distance after
    more update rounds never exceeds fewer rounds (with the same
    deterministic seeds)."""
    emb = load_table(spark, SF, "embeddings")

    def sse(n_iter: int) -> float:
        return (
            kmeans_assign(emb, k=4, n_iter=n_iter)
            .agg(F.sum("sq_dist"))
            .first()[0]
        )

    s1, s2, s3 = sse(0), sse(1), sse(2)
    assert s1 >= s2 - 1e-6
    assert s2 >= s3 - 1e-6


def test_kmeans_requires_enough_seeds(spark):
    emb = load_table(spark, SF, "embeddings").limit(3)
    with pytest.raises(ValueError, match="need >= 8"):
        kmeans_assign(emb, k=8, n_iter=1)


def test_cluster_profile_shape(spark):
    emb = load_table(spark, SF, "embeddings")
    assigned = kmeans_assign(emb, k=4, n_iter=1)
    prof = cluster_profile(assigned, emb)
    rows = prof.collect()
    assert {r["cluster"] for r in rows} == {
        r["cluster"] for r in assigned.select("cluster").distinct().collect()
    }
    for r in rows:
        assert 0 < r["purity"] <= 1.0
        assert r["size"] > 0


def test_tfidf_rare_term_outranks_common(spark):
    """A term unique to one doc must score above 'the' within that doc
    (idf dominance) — the semantic point of TF-IDF."""
    from video_metadata_db_spark.plans import QUERIES

    out = QUERIES["tfidf_top_terms"](spark, SF)
    # every doc's top-1 term must have df strictly below the corpus
    # 'the'-level ubiquity unless its tf compensates: assert no top-1
    # is a term present in ALL docs (idf ~ ln(1)+1 = 1, the floor)
    n_docs = load_table(spark, SF, "documents").count()
    top1 = out.filter(F.col("rnk") == 1)
    assert top1.filter(F.col("df") == n_docs).count() == 0


def test_vocab_bigrams_threshold_and_order(spark):
    from video_metadata_db_spark.plans import QUERIES

    rows = QUERIES["vocab_bigrams"](spark, SF).collect()
    assert rows, "vocab must be non-empty at smoke scale"
    counts = [r["n_occurrences"] for r in rows]
    assert min(counts) >= 5
    assert counts == sorted(counts, reverse=True)


def _near_dup_reference(rows, threshold: float) -> list[tuple]:
    """Numpy top-1 per vector within its block: (vec_id, neighbor_id,
    6-dp cosine, flag), ties at equal rounded cosine to the smallest
    neighbor id."""
    import numpy as np

    blocks: dict = {}
    for vid, blk, v in rows:
        blocks.setdefault(blk, []).append((vid, np.asarray(v, dtype=np.float64)))
    out = []
    for members in blocks.values():
        for vid, v in members:
            cands = [
                (-round(float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))), 6), nid)
                for nid, w in members
                if nid != vid
            ]
            if cands:
                neg_cos, nid = min(cands)
                out.append((vid, nid, -neg_cos, -neg_cos >= threshold))
    return sorted(out)


def test_arrow_and_fold_near_dup_agree(spark):
    """The Arrow gram-matmul scoring must equal a plain numpy top-1
    reference — same neighbor, same 6-dp cosine, same flag — on both
    the label and the k-means blocking."""
    from video_metadata_db_spark.operators.similarity import embedding_near_dup

    emb = load_table(spark, SF, "embeddings")
    # the k-means-derived blocking is the one dedup_semantic actually
    # ships — check both keys
    assigned = kmeans_assign(emb, k=4, n_iter=1).select(
        "vec_id", F.col("cluster").alias("kblock")
    )
    emb_k = emb.join(assigned, "vec_id")
    for frame, block in ((emb, "label"), (emb_k, "kblock")):
        got = sorted(map(tuple, embedding_near_dup(frame, 0.5, block).collect()))
        ref = _near_dup_reference(
            [(r["vec_id"], r[block], r["embedding"]) for r in frame.collect()], 0.5
        )
        assert [r[:2] + r[3:] for r in got] == [r[:2] + r[3:] for r in ref] and got, block
        assert all(abs(g[2] - e[2]) < 1e-9 for g, e in zip(got, ref)), block


def test_arrow_near_dup_singleton_blocks_emit_nothing(spark):
    from video_metadata_db_spark.operators.similarity import embedding_near_dup

    emb = load_table(spark, SF, "embeddings").limit(3).withColumn(
        "blk", F.col("vec_id")  # every vector alone in its block
    )
    assert embedding_near_dup(emb, 0.5, "blk").count() == 0


@pytest.mark.parametrize("k", [5, 16])
def test_kmeans_matches_pure_python_reference(spark, k):
    """The distributed Lloyd's must equal a sequential numpy reference
    run under the same determinism contract (smallest-id seeds,
    left-to-right float64 sums via dtype, 6-dp centroid rounding,
    lowest-cluster argmin ties) over the whole smoke corpus — at a
    small k and at a k where clusters get small."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"], dtype=np.float64)) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = [i for i, _ in rows]
    vecs = np.stack([v for _, v in rows])
    n_iter = 2
    centroids = vecs[:k].copy()

    def assign_ref(c):
        # per-vector distances to each centroid; argmin ties -> lowest
        d = ((vecs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        cl = d.argmin(axis=1)
        return cl, d[np.arange(len(ids)), cl]

    for _ in range(n_iter):
        cl, _ = assign_ref(centroids)
        for c in range(k):
            members = vecs[cl == c]
            if len(members):
                centroids[c] = np.round(members.mean(axis=0), 6)
    cl, dist = assign_ref(centroids)
    expected = {
        ids[i]: (int(cl[i]), round(float(dist[i]), 6)) for i in range(len(ids))
    }

    got = {
        r["vec_id"]: (r["cluster"], r["sq_dist"])
        for r in kmeans_assign(emb, k=k, n_iter=n_iter).collect()
    }
    assert len(got) == len(expected)
    mismatches = {
        i: (got[i], expected[i]) for i in expected
        if got[i][0] != expected[i][0] or abs(got[i][1] - expected[i][1]) > 1e-6
    }
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:3]}"


def test_incremental_pairs_equal_full_pairs_across_split(spark):
    """Consistency contract: batch-vs-corpus incremental LSH must find
    exactly the full-corpus pairs that cross the split (reoriented to
    (new, old)) — batching changes cost, never results."""
    from video_metadata_db_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_dedup,
    )

    docs = load_table(spark, SF, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    inc = {
        (r["doc_new"], r["doc_old"], r["est_jaccard"])
        for r in minhash_incremental_pairs(new, corpus, threshold=0.5).collect()
    }
    full_cross = set()
    for r in minhash_lsh_dedup(docs, threshold=0.5).collect():
        a, b, j = r["doc_a"], r["doc_b"], r["est_jaccard"]
        if (a % 10 == 0) != (b % 10 == 0):  # crosses the split
            n, o = (a, b) if a % 10 == 0 else (b, a)
            full_cross.add((n, o, j))
    assert inc == full_cross and inc


def test_bpe_merge_is_greedy_left_to_right_non_overlapping(spark):
    """The merge contract on the adversarial overlap case: pair (a,a)
    applied to 'aaaa' must yield [aa, aa] (greedy non-overlapping,
    never [aa, a, a] or a cascading [aaaa]), and the next round merges
    the new symbols, not stale ones."""
    from video_metadata_db_spark.operators.bpe import bpe_train

    words = spark.createDataFrame([("aaaa", 5), ("aab", 3)], "word string, cnt long")
    merges, seg = bpe_train(words, 2)
    # round 1: (a,a) = 3*5 + 1*3 = 18 beats (a,b) = 3
    assert merges[0] == ("a", "a", "aa", 18)
    # round 2: (aa,aa) = 5 beats (aa,b) = 3
    assert merges[1] == ("aa", "aa", "aaaa", 5)
    got = {r["word"]: r["seg_str"] for r in seg.collect()}
    assert got == {"aaaa": "aaaa", "aab": "aa b"}

    # one-round view: 'aaaa' is [aa, aa], proving non-overlap directly
    m1, seg1 = bpe_train(words, 1)
    got1 = {r["word"]: r["seg_str"] for r in seg1.collect()}
    assert got1["aaaa"] == "aa aa" and got1["aab"] == "aa b"

    # exhaustion: more rounds than mergeable pairs stops cleanly
    tiny = spark.createDataFrame([("xy", 1)], "word string, cnt long")
    m, s = bpe_train(tiny, 10)
    assert [t[:2] for t in m] == [("x", "y")]
    assert s.collect()[0]["seg_str"] == "xy"
