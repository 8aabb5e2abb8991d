"""Extension-operator quality tests: LSH recall vs brute force, MinHash
agreement with exact Jaccard, SimHash locality, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.operators.dedup import (
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from video_metadata_db_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    fake_decode,
    synthesize_assets,
)
from video_metadata_db_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from video_metadata_db_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_minhash_finds_true_near_dups(spark):
    """Every exact-Jaccard ≥0.8 pair must be recovered by MinHash-LSH
    at threshold 0.5 (banding catches j≥~0.5 w.h.p.; j≥0.8 certainly)."""
    docs = load_table(spark, SF, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert truth, "corpus must contain planted near-dups"
    found = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    missed = truth - found
    assert not missed, f"LSH missed true near-dups: {missed}"


def test_simhash_pairs_overlap_truth(spark):
    docs = load_table(spark, SF, "documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    near = {
        (r["doc_a"], r["doc_b"]) for r in simhash_near_pairs(docs, max_hamming=10).collect()
    }
    # unigram SimHash is coarser than trigram Jaccard; require majority recall
    recall = len(truth & near) / len(truth)
    assert recall >= 0.5, f"simhash recall {recall:.2f} over {len(truth)} true pairs"


def test_lsh_topk_recall(spark):
    """Multiprobe hyperplane LSH must recover a decent fraction of the
    exact top-10 (8 planes / 500 vectors → modest but real recall)."""
    emb = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = lsh_topk(emb, qids, k=10, dim=64).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"LSH recall {recall:.2f}"
    # scores for recovered pairs must equal the exact scores
    exact_scores = {(r["query_id"], r["cand_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["cand_id"])
        if key in exact_scores:
            assert abs(r["cos_sim"] - exact_scores[key]) < 1e-9


def test_ivf_topk_recall(spark):
    """IVF with 4/16 lists probed must recover a solid fraction of the
    exact top-10, and every recovered score must be exact."""
    emb = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = ivf_topk(emb, qids, k=10).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall {recall:.2f}"
    exact_scores = {(r["query_id"], r["cand_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["cand_id"])
        if key in exact_scores:
            assert abs(r["cos_sim"] - exact_scores[key]) < 1e-9


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    assets = synthesize_assets(docs)
    feats = extract_features(assets, batch_partitions=4)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["error"] is None
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-9  # L1-normalized
    # deterministic: same payload → same feature, independent of Spark
    one = assets.filter(F.col("asset_id") == rows[0]["asset_id"]).collect()[0]
    assert fake_decode(bytes(one["payload"])) == list(rows[0]["feature"])


def test_decode_image_is_gated():
    from video_metadata_db_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub gate not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_sample_frames_shape(spark):
    """Frame sampling: N rows per video, reassembling frames == payload."""
    from video_metadata_db_spark.operators.multimodal import (
        sample_frames,
        synthesize_assets,
    )
    from video_metadata_db_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    assets = synthesize_assets(docs).cache()
    frames = sample_frames(assets, n_frames=4).collect()
    vids = {r["asset_id"]: bytes(r["payload"]) for r in assets.filter(F.col("kind") == "video").collect()}
    assert len(frames) == 4 * len(vids) > 0
    by_asset: dict[int, list] = {}
    for r in sorted(frames, key=lambda r: (r["asset_id"], r["frame_idx"])):
        by_asset.setdefault(r["asset_id"], []).append(bytes(r["frame"]))
    assert {a: b"".join(fs) for a, fs in by_asset.items()} == vids


def test_star_components_match_label_propagation(spark):
    """Large-star/small-star gives every vertex the min id of its
    component — the label-propagation fixpoint, computed here by a
    plain-Python union-find — on a random graph, and converges in
    O(log n) rounds on a 64-deep chain (where label propagation would
    need 64)."""
    import random

    from video_metadata_db_spark.operators.components import connected_components_star

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(v, find(v)) for v in list(parent)}
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    st = {(r["doc"], r["component"]) for r in connected_components_star(df).collect()}
    assert st == want

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    got = connected_components_star(chain, max_rounds=10).collect()
    assert all(r["component"] == 0 for r in got) and len(got) == 65


def test_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_mode='reliable' (cluster-safe: survives executor
    loss) produces identical labels via sc.setCheckpointDir storage
    (the star loop cuts lineage every round, so its reliable path runs
    many real checkpoints on a multi-round chain), and an unknown mode
    fails fast."""
    import pytest

    from video_metadata_db_spark.operators.components import connected_components_star

    # 40-deep chain: several star contraction rounds, each checkpointed
    chain = [(i, i + 1) for i in range(40)]
    chain_df = spark.createDataFrame(chain, "doc_a long, doc_b long")

    star_local = {
        (r["doc"], r["component"]) for r in connected_components_star(chain_df).collect()
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    star_reliable = {
        (r["doc"], r["component"])
        for r in connected_components_star(chain_df, checkpoint_mode="reliable").collect()
    }
    assert star_local == star_reliable
    assert star_reliable == {(i, 0) for i in range(41)}
    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components_star(chain_df, checkpoint_mode="bogus").collect()


def test_components_plan_stays_bounded_across_rounds(spark):
    """The per-round lineage cut must keep the FINAL plan size flat —
    without it the plan string grows with every iteration (the classic
    iterative-Spark trap) and a 100 TB run dies in the optimizer.  A
    64-chain forces several star rounds; the result's plan must stay
    within a small constant of the 1-round plan."""
    from video_metadata_db_spark.operators.components import connected_components_star

    tiny = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    plan_1round = connected_components_star(tiny)._jdf.queryExecution().toString()
    plan_many = connected_components_star(chain)._jdf.queryExecution().toString()
    assert len(plan_many) < 3 * max(len(plan_1round), 2_000)


def test_ngram_df_cap_engages_and_preserves_pairs(spark):
    """The registered dedup_ngram_jaccard runs with max_df=NGRAM_MAX_DF
    (VERDICT r1 item 4: the cap existed but was dead).  Two pins:
    the cap actually drops shingle types on this corpus (it ENGAGES),
    and the capped pair set still contains every uncapped pair at the
    registered threshold (hot shingles are noise, not signal)."""
    from video_metadata_db_spark.operators.dedup import shingles_of_tokens, tokens_of
    from video_metadata_db_spark.plans.dedup_queries import NGRAM_MAX_DF

    docs = load_table(spark, SF, "documents")
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(shingles_of_tokens(tokens_of(F.col("text")), 3)).alias("s"),
    ).distinct()
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_MAX_DF)
        .count()
    )
    assert hot > 0, f"cap {NGRAM_MAX_DF} never engages on this corpus"

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df=NGRAM_MAX_DF).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert uncapped <= capped, f"cap dropped true pairs: {uncapped - capped}"


def test_udtf_positional_tokens_double_space_golden(spark, tmp_path):
    """ADVICE r4: the UDTF numbers pos over NON-EMPTY tokens; the oracle
    must index after filtering empties or consecutive/leading spaces
    shift every position.  Golden cross-engine check on texts the main
    fixtures don't contain (double, leading, trailing spaces)."""
    import duckdb

    from video_metadata_db_spark.plans import ORACLES, QUERIES

    docs = spark.createDataFrame(
        [
            (1, "alpha  beta gamma delta"),
            (2, " lead  double trail "),
            (3, "one"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "sf")
    docs.write.parquet(f"{d}/documents.parquet")

    got = [
        (r["doc_id"], r["token"], r["pos"])
        for r in QUERIES["udtf_positional_tokens"](spark, d).collect()
    ]
    # positions count tokens, not split slots: 'beta' is pos 1 even
    # though it sits at raw split index 2
    assert (1, "beta", 1) in got and (1, "gamma", 2) in got
    assert (2, "lead", 0) in got and (2, "trail", 2) in got

    conn = duckdb.connect()
    try:
        conn.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )
        exp = [tuple(r) for r in conn.execute(ORACLES["udtf_positional_tokens"]).fetchall()]
    finally:
        conn.close()
    assert sorted(got) == sorted(exp)


def test_incremental_components_equal_full_recompute(spark):
    """components_incremental(stored labels, new edges) must reproduce
    the full recompute over old ∪ new edges exactly — on random graphs
    where batches merge existing components, extend them, bring brand
    new vertices, and leave old singletons untouched."""
    import random

    from video_metadata_db_spark.operators.components import (
        components_incremental,
        connected_components_star,
    )

    rng = random.Random(17)
    for trial in range(3):
        old = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
        old = [(a, b) for a, b in old if a != b]
        # new edges reach into the old id space AND a fresh range
        new = [(rng.randrange(60), rng.randrange(60)) for _ in range(15)]
        new = [(a, b) for a, b in new if a != b]
        old_df = spark.createDataFrame(old, "doc_a long, doc_b long")
        new_df = spark.createDataFrame(new, "doc_a long, doc_b long")

        labels = connected_components_star(old_df)
        inc = {
            (r["doc"], r["component"])
            for r in components_incremental(labels, new_df).collect()
        }
        full = {
            (r["doc"], r["component"])
            for r in connected_components_star(old_df.unionByName(new_df)).collect()
        }
        assert inc == full, f"trial {trial}"

    # old singleton (self-labeled) untouched by the batch survives
    labels = spark.createDataFrame(
        [(1, 0), (0, 0), (99, 99)], "doc long, component long"
    )
    out = {
        (r["doc"], r["component"])
        for r in components_incremental(
            labels, spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        ).collect()
    }
    assert out == {(0, 0), (1, 0), (2, 0), (99, 99)}


def test_simhash_block_recall_contract(spark):
    """Pins the pigeonhole honestly: with B blocks, recall at Hamming h
    is guaranteed only for h < B.  A pair whose 8 differing bits spread
    2 per default block shares NO 15-bit block (missed — by contract,
    not by bug), while n_blocks=9 > h finds it; and a 3-bit pair is
    always found at the default (3 < 4 blocks)."""
    from video_metadata_db_spark.operators.dedup import simhash_block_pairs

    spread8 = sum(1 << p for p in (0, 1, 15, 16, 30, 31, 45, 46))  # 2 per block
    three = sum(1 << p for p in (2, 17, 33))
    fps = spark.createDataFrame(
        [(1, 0), (2, spread8), (3, three)], "doc long, simhash long"
    )

    default = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_block_pairs(fps, max_hamming=8, n_blocks=4).collect()
    }
    assert (1, 2) not in default  # the documented miss
    assert (1, 3) in default  # h=3 < 4 blocks: guaranteed

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_block_pairs(fps, max_hamming=8, n_blocks=9).collect()
    }
    assert (1, 2) in exact and (1, 3) in exact  # h=8 < 9 blocks: guaranteed


def test_pq_adc_recall_and_compression_shape(spark):
    """PQ sanity: (a) codes span multiple values per subspace (the
    quantizer engages), (b) ADC top-10 recovers a real fraction of the
    exact top-10 (coarse 4×16 codebooks → modest recall, but far above
    the ~2% random floor), (c) estimated distances are non-negative
    and monotone with the ranking."""
    from video_metadata_db_spark.operators.quantization import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, SF, "embeddings")
    books = pq_codebooks(emb)
    codes = pq_encode(emb, books)
    for s in range(4):
        assert codes.select(f"code_{s}").distinct().count() > 1

    qids = [0, 1, 2, 3, 4]
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = pq_adc_topk(emb, qids, topk=10).collect()
    exact_set = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_set = {(r["query_id"], r["cand_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"PQ recall {recall:.2f}"

    by_q: dict[int, list[float]] = {}
    for r in sorted(approx, key=lambda r: (r["query_id"], r["approx_sq_dist"])):
        assert r["approx_sq_dist"] >= 0
        by_q.setdefault(r["query_id"], []).append(r["approx_sq_dist"])
    assert all(len(v) == 10 for v in by_q.values())


def test_pq_codebooks_match_per_subspace_lloyds(spark):
    """The fused one-pass multi-subspace trainer must reproduce m
    INDEPENDENT per-subspace Lloyd's runs exactly — same seeds, same
    6-dp means, same books — at n_iter where the update actually moves
    the centroids (the DuckDB oracle replays the per-subspace form)."""
    from pyspark.sql import functions as F

    from video_metadata_db_spark.operators.clustering import lloyds_centroids
    from video_metadata_db_spark.operators.quantization import _slice, pq_codebooks

    emb = load_table(spark, SF, "embeddings")
    for n_iter in (1, 2):
        fused = pq_codebooks(emb, m=4, k=8, n_iter=n_iter)
        for s in range(4):
            df = emb.select(
                F.col("vec_id"), _slice("embedding", s, 16).alias("v")
            )
            assert fused[s] == lloyds_centroids(df, k=8, n_iter=n_iter), (s, n_iter)


def test_sq_dist_sql_matches_column_fold(spark):
    """The SQL-string distance fold (_dists_array — one JVM-side parse)
    must be BIT-identical to the nested-Column form it replaced,
    including full-precision (un-rounded) centroid literals surviving
    the repr→parse round trip."""
    from pyspark.sql import functions as F

    from video_metadata_db_spark.operators.clustering import (
        _dists_array,
        _sq_dist_to,
    )

    emb = load_table(spark, SF, "embeddings").limit(64)
    cents = [list(r["embedding"]) for r in emb.limit(3).collect()]
    cents = [[float(x) for x in c] for c in cents]
    cents.append([1e-17, -3.5e12, 0.0, 2.5] + [0.125] * 60)  # parser edge shapes
    df = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = df.select("vec_id", _dists_array("v", cents).alias("d")).collect()
    b = df.select(
        "vec_id", F.array(*[_sq_dist_to(F.col("v"), c) for c in cents]).alias("d")
    ).collect()
    assert [(r["vec_id"], list(r["d"])) for r in a] == [
        (r["vec_id"], list(r["d"])) for r in b
    ]


def test_corpus_diff_classification_and_null_safety(spark):
    """added/removed/changed classification, including the null cases
    a naive != compare gets wrong: null→value and value→null are
    CHANGED, null→null is unchanged (suppressed by default)."""
    from video_metadata_db_spark.operators.diff import corpus_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", None), (4, None, 40), (5, "e", 50)],
        "k long, t string, x long",
    )
    new = spark.createDataFrame(
        [(2, "b2", 20), (3, "c", None), (4, None, 41), (5, "e", 50), (6, "f", 60)],
        "k long, t string, x long",
    )
    got = {r["k"]: r["change"] for r in corpus_diff(old, new, ["k"]).collect()}
    # 1 removed; 2 null→value changed; 3 identical incl. null x (absent);
    # 4 x changed under a still-null t; 5 identical (absent); 6 added
    assert got == {1: "removed", 2: "changed", 4: "changed", 6: "added"}

    full = {
        r["k"]: r["change"]
        for r in corpus_diff(old, new, ["k"], include_unchanged=True).collect()
    }
    assert full[3] == "unchanged" and full[5] == "unchanged" and len(full) == 6

    # compare_cols restricts the payload: diff on x only → 2 unchanged
    only_x = {
        r["k"]: r["change"]
        for r in corpus_diff(old, new, ["k"], compare_cols=["x"]).collect()
    }
    assert 2 not in only_x and only_x[4] == "changed"


def test_ivf_adc_composition_and_recall(spark):
    """IVFADC structural contract: every returned candidate belongs to
    one of its query's probed lists AND carries the same ADC distance
    the flat-ADC path assigns; recall vs brute force stays above the
    random floor despite scoring only n_probe/16 of the corpus."""
    from video_metadata_db_spark.operators.quantization import (
        ivf_adc_topk,
        pq_adc_topk,
    )
    from video_metadata_db_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    qids = [0, 1, 2, 3, 4]
    ivf = ivf_adc_topk(emb, qids, topk=10).collect()
    assert ivf and all(r["approx_sq_dist"] >= 0 for r in ivf)
    by_q: dict[int, int] = {}
    for r in ivf:
        by_q[r["query_id"]] = by_q.get(r["query_id"], 0) + 1
    assert set(by_q) == set(qids) and all(n <= 10 for n in by_q.values())

    # distances must agree with the flat-ADC scorer on shared pairs
    # (IVF restricts WHICH candidates are scored, never HOW)
    flat = {
        (r["query_id"], r["cand_id"]): r["approx_sq_dist"]
        for r in pq_adc_topk(emb, qids, topk=10_000).collect()
    }
    for r in ivf:
        key = (r["query_id"], r["cand_id"])
        assert key in flat and flat[key] == r["approx_sq_dist"], key

    exact = {
        (r["query_id"], r["cand_id"])
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    got = {(r["query_id"], r["cand_id"]) for r in ivf}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.1, f"IVFADC recall {recall:.2f}"


def test_phrase_search_adjacency_golden(spark, tmp_path):
    """Phrase match requires ADJACENCY over non-empty tokens: 'hash
    join' must match across a double space (positions index filtered
    tokens), must NOT match 'hash X join', and overlapping occurrences
    count independently."""
    from video_metadata_db_spark.plans import QUERIES

    docs = spark.createDataFrame(
        [
            (1, "hash  join"),  # double space: still adjacent after filter
            (2, "hash scan join"),  # gap: no match
            (3, "hash join hash join"),  # two matches
            (4, "join hash"),  # wrong order: no match
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "sf")
    docs.write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in QUERIES["phrase_search_positional"](spark, d).collect()
    }
    assert got == {1: (1, 0), 3: (2, 0)}


def test_sample_weighted_aes_is_weighted_and_fixed_size(spark, sf_dir):
    """A-ES invariants on the real fixture: exactly k distinct docs,
    deterministic across runs, and the selected set is length-biased —
    mean token count of the sample exceeds the corpus mean (weights
    span a wide range, k ≪ n, so this holds by a large margin)."""
    from video_metadata_db_spark.plans import QUERIES

    a = QUERIES["sample_weighted_aes"](spark, sf_dir).collect()
    b = QUERIES["sample_weighted_aes"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    ids = {r["doc_id"] for r in a}
    assert len(ids) == len(a) == 25

    from video_metadata_db_spark.functions.text import token_count
    from video_metadata_db_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg(token_count(F.col("text")))).first()[0]
    sample_mean = sum(r["n_tokens"] for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_frequent_triples_prune_matches_naive(spark, tmp_path):
    """On a basket set where the item/pair prune ENGAGES (a rare brand
    below min-support rides along in two baskets), the A-Priori plan
    must still return exactly the naive 3-way-join answer — downward
    closure in action, on data the uniform main fixture can't produce."""
    import pyspark.sql.functions as F

    from video_metadata_db_spark.plans import QUERIES

    # 6 baskets with {A,B,C}; the rare brand R only in 2 of them
    rows, pid = [], 0
    parts = []
    for okey in range(1, 7):
        for brand in ("A", "B", "C") + (("R",) if okey <= 2 else ()):
            pid += 1
            parts.append((pid, f"Brand#{brand}"))
            rows.append((okey, pid))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(parts, "p_partkey long, p_brand string")
    d = str(tmp_path / "sf")
    li.write.parquet(f"{d}/lineitem.parquet")
    part.write.parquet(f"{d}/part.parquet")

    got = [
        (r["brand_a"], r["brand_b"], r["brand_c"], r["n_orders"])
        for r in QUERIES["frequent_brand_triples"](spark, d).collect()
    ]
    # naive: only {A,B,C} reaches support 5 (6 baskets); every
    # R-containing triple has an infrequent sub-pair (2 baskets)
    assert got == [("Brand#A", "Brand#B", "Brand#C", 6)]


def test_wau_hll_tracks_exact(spark, sf_dir):
    """The sketch-merge WAU must track the exact rolling distinct count
    within HLL's error envelope (lgK=12 default → ~1.6% std error; 5%
    is a generous pin) on every report day."""
    from video_metadata_db_spark.plans import QUERIES

    exact = {
        r["day"]: r["wau7"]
        for r in QUERIES["rolling_active_users"](spark, sf_dir).collect()
    }
    est = {
        r["day"]: r["wau7_estimate"]
        for r in QUERIES["wau_hll_rollup"](spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    worst = max(abs(est[d] - exact[d]) / exact[d] for d in exact)
    assert worst < 0.05, f"HLL WAU off by {worst:.3%}"


def test_sequence_gap_audit_bridges_empty_buckets(spark, tmp_path):
    """The distributed gap decomposition must bridge ENTIRELY EMPTY
    buckets (rank-adjacency join, not bucket-id adjacency): keys 5, 7,
    2500 span buckets 0 and 2 with bucket 1 missing — one within-bucket
    gap (6..6) and one boundary gap crossing the empty bucket
    (8..2499)."""
    from video_metadata_db_spark.plans import QUERIES

    orders = spark.createDataFrame(
        [(5, "O"), (7, "O"), (2500, "O"), (6, "F")],
        "o_orderkey long, o_orderstatus string",
    )
    d = str(tmp_path / "sf")
    orders.write.parquet(f"{d}/orders.parquet")

    got = [
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in QUERIES["sequence_gap_audit"](spark, d).collect()
    ]
    assert got == [(8, 2499, 2492), (6, 6, 1)]


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The sketch's guarantee is in RANK space (GK: |rank(est) − p·n|
    ≤ ε·n), not value space — assert the empirical CDF position of
    each estimate sits within 3% + 2/n of its target percentile (the
    2/n term covers the no-interpolation discretization on small
    groups)."""
    import pyspark.sql.functions as F

    from video_metadata_db_spark.plans import QUERIES
    from video_metadata_db_spark.sources.tables import load_table

    approx = {
        r["event_type"]: (r["p50"], r["p90"], r["p99"])
        for r in QUERIES["percentiles_approx_sketch"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    counts = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(approx) == set(counts)
    for t, ests in approx.items():
        n = counts[t]
        for p, a in zip((0.5, 0.9, 0.99), ests):
            frac = (
                ev.filter((F.col("event_type") == t) & (F.col("value") <= a)).count()
                / n
            )
            assert abs(frac - p) <= 0.03 + 2 / n, (t, p, a, frac)
