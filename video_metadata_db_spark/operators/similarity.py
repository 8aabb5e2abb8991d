"""Similarity search over an embedding column (``array<float>``).

- **Brute-force cosine top-k** — the exact baseline: broadcast the
  query set, score every (query, candidate) pair with a JVM-side
  fold (``zip_with`` + ``aggregate``), rank per query.  At 100 TB this
  is one full scan per query batch — correct, predictable, and the
  right answer when the query set is small and scans are cheap.
- **Random-hyperplane LSH** — the scale path: N deterministic
  hyperplanes → sign-bit bucket per vector; candidates share a bucket
  (or a neighbor bucket within 1 bit), then exact re-scoring.  Recall
  is tunable by planes/probes; candidate generation is an equi-join on
  the bucket id instead of a cross join.  Plane count scales with
  corpus size (keep expected bucket population ≫ k): 4 planes for the
  10³-vector test corpus, 20+ at billions of rows.

All arithmetic is double-precision, sequential over the vector index
(``aggregate`` folds left), so scores are bit-reproducible.
Ranking sorts on the 6-decimal-rounded score with the vector id as
tiebreak — deterministic under any FP jitter.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_PLANES = 4


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every non-query vector per query vector.

    Plan shape: broadcast(queries) × corpus → project score → per-query
    window top-k (WindowGroupLimit keeps k rows per partition before the
    final sort).  The corpus is scanned exactly once.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    c = embeddings.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("cand_id"), _to_double(F.col(vec_col)).alias("cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


def hyperplane(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    md5-derived on the driver and baked into the plan as literals —
    identical everywhere, zero per-row hashing cost, nothing to
    broadcast.
    """
    h = int(hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return h / float(2**59) - 1.0


def lsh_bucket(vec: Column, dim: int, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket id of ``vec`` against the deterministic planes."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(hyperplane(p, d)) for d in range(dim)])
        d = dot(vec, plane)
        bucket = bucket + F.when(d >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: equi-join on hyperplane buckets, then
    exact re-scoring of the (much smaller) candidate set.

    ``multiprobe_bits=1`` also probes every bucket at Hamming distance
    1 (n_planes+1 candidate buckets, much better recall for
    near-boundary vectors — the standard multi-probe trade).

    Bucket count (2^N_PLANES) is the recall/cost dial: size it so the
    expected bucket population is ≫ k — at 100 TB that means more
    planes, not fewer, and the candidate join stays an equi-join.
    """
    emb = embeddings.select(
        F.col(id_col),
        _to_double(F.col(vec_col)).alias("v"),
        lsh_bucket(_to_double(F.col(vec_col)), dim).alias("bucket"),
    )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    if multiprobe_bits >= 1:
        probes = F.array(
            F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)]
        )
    else:
        probes = F.array(F.col("qb"))
    q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))
    c = emb.filter(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("cand_id"), F.col("v").alias("cv"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .select(
            "query_id", "cand_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim")
        )
        .distinct()  # a pair can collide in several probe buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


# ----------------------------------------------------------------- IVF ---

N_CENTROIDS = 16
N_PROBE = 4


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Coarse quantization: each vector → its ``n_probe`` nearest
    centroids (by cosine), via ONE vectorized Pandas UDF.

    This is the documented Python escape hatch (SURVEY.md §2.11): a
    C×dim matmul per Arrow batch (numpy BLAS) beats C×dim column
    expressions per row by orders of magnitude, and assignment is
    embarrassingly parallel — no shuffle.  The centroid matrix rides
    along as a closure (KBs; a broadcast variable at larger C).
    """
    cent_ids = [c[0] for c in centroids]
    cmat = np.array([c[1] for c in centroids], dtype="float64")
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    probe = min(n_probe, len(centroids))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest(batch: pd.Series) -> pd.Series:
        m = np.array(batch.tolist(), dtype="float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cmat.T  # (batch, C)
        # top-probe centroid indices, best first; stable sort keeps the
        # lower centroid index on ties → deterministic
        order = np.argsort(-sims, axis=1, kind="stable")[:, :probe]
        return pd.Series([[int(cent_ids[j]) for j in row] for row in order])

    return embeddings.withColumn("clusters", nearest(F.col(vec_col)))


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    centroid_ids: list[int] | None = None,
    n_probe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in exactly one
    centroid's inverted list; queries probe their ``n_probe`` nearest
    lists; candidates re-score exactly.

    Deterministic "training": centroids are corpus vectors at fixed ids
    (k-medoids-style seeding — data-distributed, reproducible, no
    iterative k-means job; swap in KMeans|| offline at real scale, the
    dataflow is unchanged).  Scan cost ≈ n_probe/C of the corpus per
    query versus 1.0 for brute force; the candidate join is an equi-join
    on cluster id, partition-prunable when the corpus is written
    bucketed/partitioned by cluster.

    ``candidate_ids`` (optional, an ``id_col`` allow-list frame) is the
    FILTERED-search form: the index is built over the full corpus (the
    stored physical layout never changes per-query), and the metadata
    predicate prunes the inverted lists with one semi-join BEFORE any
    distance arithmetic — the PRE-filter strategy, which keeps recall
    semantics honest at selective filters where post-filtering a
    fixed-k result under-fills.  Broadcast when the allow-list is
    small; a pure column predicate can instead be pushed to the
    corpus scan.
    """
    if centroid_ids is None:
        # spread through the id space (present at every SF), away from
        # the test query ids
        step = 25
        centroid_ids = [10 + step * i for i in range(N_CENTROIDS)]
    emb = embeddings.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    # sorted by id: collect() returns partition order, which is NOT
    # stable across partition counts — and the centroid LIST POSITION
    # is the assignment tie-break, so an unsorted list would make
    # results depend on the physical layout
    centroids = sorted(
        (r[id_col], list(r["v"]))
        for r in emb.filter(F.col(id_col).isin(centroid_ids)).collect()
    )

    cand_src = emb.filter(~F.col(id_col).isin(query_ids))
    if candidate_ids is not None:
        # metadata pre-filter: prune inverted lists before distances
        cand_src = cand_src.join(
            candidate_ids.select(F.col(id_col)), id_col, "left_semi"
        )
    corpus = ivf_assign(
        cand_src, centroids, n_probe=1, id_col=id_col
    ).select(
        F.col(id_col).alias("cand_id"),
        F.col("v").alias("cv"),
        F.element_at("clusters", 1).alias("cluster"),
    )
    queries = ivf_assign(
        emb.filter(F.col(id_col).isin(query_ids)), centroids, n_probe=n_probe, id_col=id_col
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.explode("clusters").alias("cluster"),
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "cluster")
        .select(
            "query_id", "cand_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos_sim", "rank")
    )


_NEAR_DUP_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
        T.StructField("is_near_dup", T.BooleanType()),
    ]
)


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.5,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup candidates: each vector's most-similar
    neighbor *within its block*, flagged ``is_near_dup`` at ``threshold``.

    The blocking key turns the O(n²) all-pairs cosine into per-block
    work: pairs are only scored inside a block (the corpus ``label``,
    or the k-means cluster in semantic dedup; at 100 TB a coarse
    quantizer / LSH bucket plays the same role — see ``lsh_bucket``).
    Each block is scored by ONE numpy gram matmul inside
    ``applyInPandas`` — the documented Python escape hatch (SURVEY.md
    §2.11): vectorized Arrow batches, never per-row Python, the same
    trade :func:`ivf_assign` makes.  A ``zip_with``/``aggregate`` dot
    product is an interpreted higher-order expression, ~μs per
    element-pair, so a block of b vectors at dim d would cost b²·d
    lambda evals.

    Determinism: cosines are computed in float64 and rounded to 6 dp
    (BLAS pairwise summation differs from a sequential fold by ~1e-15
    — far inside the rounding guard); rows are sorted by id before the
    argmax so ties at equal rounded similarity resolve to the SMALLEST
    neighbor id — the (cos DESC, neighbor_id) order the DuckDB oracles
    rank by.

    At scale each block must fit one worker's memory (b·d doubles plus
    a transient b² tile — bound b via the blocking key's granularity:
    more k-means clusters, finer LSH buckets).  Singleton blocks emit
    nothing.
    """
    emb = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "is_near_dup": pd.Series(dtype="bool"),
                }
            )
        pdf = pdf.sort_values("vec_id", kind="stable")
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = np.round((m @ m.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(sims, -np.inf)
        best = sims.argmax(axis=1)  # first max = smallest neighbor id (sorted)
        cos = sims[np.arange(n), best]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "neighbor_id": ids[best],
                "cos_sim": cos,
                "is_near_dup": cos >= threshold,
            }
        )

    return emb.groupBy("block").applyInPandas(score_block, _NEAR_DUP_SCHEMA)
