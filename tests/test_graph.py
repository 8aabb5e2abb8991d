"""Unit tests for the round-5 retrieval/graph batch: PageRank on known
graphs, prefix-filter losslessness, BM25/RRF/A-Priori properties.

(The full value oracles run in test_registry_queries.py; these pin the
ALGORITHMIC properties a hash compare can't articulate.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from video_metadata_db_spark.operators.dedup import (
    jaccard_prefix_pairs,
    ngram_jaccard_pairs,
)
from video_metadata_db_spark.operators.graph import pagerank
from video_metadata_db_spark.plans import QUERIES
from video_metadata_db_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _edges(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_pagerank_star_center_dominates(spark):
    """On a 5-leaf undirected star, the hub must outrank every leaf and
    all leaves must tie exactly (rank quantization is deterministic)."""
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(
            _edges(spark, [(0, i) for i in range(1, 6)]), iterations=5
        ).collect()
    }
    assert ranks[0] > max(ranks[i] for i in range(1, 6))
    assert len({ranks[i] for i in range(1, 6)}) == 1, "leaves must tie exactly"


def test_pagerank_mass_conservation(spark):
    """Σ rank stays ≈ 1 on a graph with no dangling nodes (symmetric
    edges): teleport + damped redistribution conserve probability mass
    up to the 12-dp per-round quantization."""
    ranks = pagerank(
        _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3)]), iterations=4
    ).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 1.0) < 1e-9, total


def test_pagerank_regular_graph_is_uniform(spark):
    """On a k-regular graph (a 4-cycle) PageRank's fixed point is the
    uniform distribution — and because init IS uniform, every iterate
    must stay exactly uniform; any asymmetry is an implementation bug
    (e.g. degree miscount or a dropped node in the gather)."""
    ranks = pagerank(
        _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)]), iterations=3
    ).collect()
    assert len({r["rank"] for r in ranks}) == 1
    assert len(ranks) == 4


def test_prefix_filter_is_lossless_vs_inverted_index(spark):
    """THE prefix-filtering claim: the candidate-pruned join returns
    exactly the pairs the uncapped inverted-index join returns at the
    same threshold (both sides compare with the identical integer
    test, so no rounding edge can split them)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    via_prefix = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_prefix_pairs(docs, threshold_tenths=6).collect()
    }
    # exact side built from the same primitives, with the identical
    # integer threshold test (so no 6-dp rounding edge can split them)
    from video_metadata_db_spark.operators.dedup import shingles_of_tokens, tokens_of

    sh = docs.select(
        F.col("doc_id").alias("doc"), tokens_of(F.col("text")).alias("_t")
    ).select("doc", F.explode(shingles_of_tokens(F.col("_t"), 3)).alias("s"))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    via_index = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a"
        )
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(
            F.lit(10) * F.col("inter")
            >= F.lit(6) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .collect()
    }
    assert via_prefix == via_index
    assert via_prefix, "vacuous fixture: no pairs at threshold 0.6"


def test_frequent_pairs_downward_closure(spark):
    """A-Priori invariant: every emitted pair's support ≤ each member
    item's support (a violation means the item prune was applied after
    the expansion, i.e. the prune is cosmetic)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    item_support = {
        r["item"]: r["n"]
        for r in li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("item"))
        .distinct()
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = QUERIES["frequent_brand_pairs"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_orders"] >= 5
        assert r["n_orders"] <= item_support[r["brand_a"]]
        assert r["n_orders"] <= item_support[r["brand_b"]]
        assert 0.0 < r["support"] <= 1.0


def test_rrf_doc_in_both_lists_beats_single_list_peer(spark):
    """Fusion sanity: any doc present in BOTH rankings scores strictly
    above a doc whose single rank is no better than either of the dual
    doc's ranks."""
    rows = QUERIES["hybrid_rrf_search"](spark, SF_SMOKE).collect()
    assert rows
    dual = [r for r in rows if r["lex_rank"] is not None and r["sem_rank"] is not None]
    single = [r for r in rows if (r["lex_rank"] is None) != (r["sem_rank"] is None)]
    for d in dual:
        for s in single:
            s_rank = s["lex_rank"] if s["lex_rank"] is not None else s["sem_rank"]
            if s_rank >= max(d["lex_rank"], d["sem_rank"]):
                assert d["rrf_score"] > s["rrf_score"], (d, s)


def test_bm25_rewards_term_frequency(spark):
    """Higher tf at equal length must not score lower: verified on a
    synthetic two-doc corpus written as parquet so the query runs
    unchanged."""
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as td:
        docs = spark.createDataFrame(
            [
                (1, "spark spark spark pad pad pad", "en", "s", 30),
                (2, "spark pad pad pad pad pad", "en", "s", 26),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(str(Path(td) / "documents.parquet"))
        rows = {
            r["doc_id"]: r["score"]
            for r in QUERIES["bm25_search"](spark, td).collect()
        }
    assert rows[1] > rows[2]


def test_label_propagation_toy_graph(spark):
    """Path graph 1-2-3-4-5 with seeds at the ends — checks the exact
    synchronous recurrence round by round: labels flood one hop per
    round, equal-count ties break to the SMALLEST label (which lets the
    smaller label invade past the midpoint in later rounds — the
    documented deterministic behavior), and seeds stay clamped."""
    from video_metadata_db_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "s1 long, s2 long"
    )
    seeds = spark.createDataFrame([(1, 10), (5, 20)], "node long, label int")

    def run(rounds):
        return {
            r["node"]: (r["label"], r["is_seed"])
            for r in label_propagation(edges, seeds, rounds=rounds).collect()
        }

    r1 = run(1)
    assert r1[1] == (10, True) and r1[5] == (20, True)  # clamped
    assert r1[2] == (10, False) and r1[4] == (20, False)  # one hop
    assert r1[3] == (None, False)  # no labeled neighbor yet

    r2 = run(2)
    # node 3 hears 10 (from 2) and 20 (from 4) with equal counts -> min
    assert r2[3] == (10, False)

    r3 = run(3)
    assert r3[1] == (10, True) and r3[5] == (20, True)  # still clamped
    # round 3: node 4 now ties between 3's label 10 and seed 5's 20 ->
    # the min rule lets 10 take node 4; node 2 stays 10
    assert r3[2] == (10, False) and r3[3] == (10, False)
    assert r3[4] == (10, False)


def test_label_propagation_unreachable_stays_null(spark):
    """A component with no seed keeps NULL labels at every round."""
    from video_metadata_db_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (8, 9)], "s1 long, s2 long"
    )
    seeds = spark.createDataFrame([(1, 7)], "node long, label int")
    got = {r["node"]: r["label"] for r in label_propagation(edges, seeds).collect()}
    assert got[2] == 7
    assert got[8] is None and got[9] is None


def test_triangle_substrate_cache_scope_bounded(spark):
    """r12: the oriented edge frame persists (MEMORY_AND_DISK — lineage
    kept, recompute on executor loss) instead of localCheckpoint.  It
    joins the one bounded persist scope: every call adds its own entry
    (no cross-call reuse), and ``release_dedup_caches`` releases them,
    so a long mixed session cannot accumulate edge-sized cache entries."""
    from video_metadata_db_spark.operators import dedup as D
    from video_metadata_db_spark.operators import graph as g

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "s1 long, s2 long"
    )
    D.release_dedup_caches()
    for _ in range(3):
        g.triangle_counts(e).collect()
    assert len(D._SCOPED_CACHES) == 3
    assert D.release_dedup_caches() == 3
    assert not D._SCOPED_CACHES
