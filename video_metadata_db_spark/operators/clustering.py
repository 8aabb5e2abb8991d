"""Distributed k-means over the embedding column — semantic clustering.

The semantic-dedup / data-mixture recipe for pretraining corpora
(SemDeDup, and the cluster-balanced sampling in most data-curation
stacks) needs vectors grouped by meaning: cluster the embedding space,
then dedup/sample WITHIN clusters.  This is Lloyd's algorithm with
Spark doing the heavy half:

- **assignment** (the corpus-sized pass) is one Arrow-batched numpy
  mat-mul per batch (``mapInPandas``) against the k centroids, which
  ride along in the closure — no shuffle;
- **update** is one tiny aggregate: per-dimension mean COLUMNS over
  the cluster key (k×dim cells, map-side partials, no row inflation),
  and only k×dim doubles ever reach the driver (same discipline as the
  quantile boundaries in :mod:`.packing` — aggregates cross the driver
  boundary, row data never does).

Determinism contract (what makes the full DuckDB value-oracle
possible): initial centroids are the vectors with the k smallest ids;
per-iteration centroid means are rounded to ``round_dp`` decimals so
the two engines' different partial-sum orders cannot leak into the
next assignment (BLAS-vs-fold drift ~1e-9 vs a 5e-7 rounding
boundary); argmin ties break toward the lowest cluster id; an emptied
cluster keeps its previous centroid.

At 100 TB: the k×dim centroids ship with the task closure (a few
KB); each iteration is one corpus scan + one (k·dim)-cell aggregate.
Iteration count is fixed (standard for corpus curation —
convergence-to-epsilon buys nothing over 5-10 fixed rounds); driver
memory holds k×dim doubles regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist_sql(vec_sql: str, centroid: list[float]) -> str:
    """SQL text of the squared-L2 fold from the vector expression
    ``vec_sql`` to a literal centroid, strictly left-to-right
    (bit-reproducible across engines).

    A string, not a Column, deliberately: the product-quantization
    assignment is k of these folds, each zipping dim literals — built
    as nested Column calls that is thousands of py4j round-trips and
    ~3 s of DRIVER time per iteration at k-means sizes (measured at k=16×4,
    dim=16), repeated every call because centroids change.  One
    ``F.expr`` parse of the whole tree is milliseconds, and parses to
    the IDENTICAL expression (pinned by
    test_sq_dist_sql_matches_column_fold)."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, z) -> acc + z)"
    )


def _sq_dist_to(vec: F.Column, centroid: list[float]) -> F.Column:
    """Column form of :func:`_sq_dist_sql` — for one-off distances
    against a Column that has no stable SQL text.  Avoid in loops."""
    arr = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def _dists_array(vec_sql: str, centroids: list[list[float]]) -> F.Column:
    """array(sq_dist to each centroid) — ONE JVM-side parse."""
    return F.expr(
        "array(" + ", ".join(_sq_dist_sql(vec_sql, c) for c in centroids) + ")"
    )


def _assign(frame: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, v, cluster, sq_dist) vs the centroids — each Arrow batch
    (``mapInPandas``) computes all k distances as one BLAS
    ``|v|² − 2·V@Cᵀ + |c|²`` expansion, so per-row cost is a dense flop
    count rather than k·dim interpreted ``zip_with``/``aggregate``
    evaluations.  Argmin ties go to the lowest cluster: numpy
    ``argmin`` returns the first minimum.

    The BLAS expansion's ~1e-9 summation-order drift sits five orders
    below the 5e-7 boundary of the trainer's centroid rounding, so the
    result matches the left-to-right DuckDB fold (pinned by
    ``tests/test_mining.py::test_kmeans_matches_pure_python_reference``
    and the ``kmeans_clusters`` oracle)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)  # k×dim, broadcast via closure
    c_sq = (C * C).sum(axis=1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]
            cl = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cluster": cl.astype("int64"),
                    "sq_dist": d[np.arange(len(cl)), cl],
                }
            )

    # the id type follows the input (string/decimal id domains included)
    id_type = frame.schema["vec_id"].dataType.simpleString()
    return frame.mapInPandas(
        score, f"vec_id {id_type}, v array<double>, cluster long, sq_dist double"
    )


def lloyds_centroids(df: DataFrame, k: int, n_iter: int, round_dp: int = 6) -> list[list[float]]:
    """Train centroids over a (vec_id, v: array<double>) frame under
    the determinism contract (smallest-id seeds, ``round_dp``-quantized
    updates, lowest-cluster argmin ties, emptied clusters keep their
    centroid).  The frame is persisted for the iteration loop and
    released before returning; only k×dim doubles reach the driver.
    The trainer behind :func:`kmeans_assign`; the product-quantization
    codebooks (operators/quantization.py) run their own fused
    multi-subspace trainer under the same contract and only borrow
    :func:`_dists_array`."""
    df = df.persist()
    # seed: k smallest ids — a driver action over k rows, not row data
    seed_rows = df.orderBy("vec_id").limit(k).collect()
    if len(seed_rows) < k:
        df.unpersist()
        raise ValueError(f"need >= {k} vectors to seed {k} clusters")
    centroids: list[list[float]] = [list(r["v"]) for r in seed_rows]
    dim = len(centroids[0])
    for _ in range(n_iter):
        assigned = _assign(df, centroids)
        # (cluster, dim) means as dim aggregate COLUMNS — one map-side-
        # partial aggregate, no posexplode (which would inflate the
        # shuffle by dim× for the same k×dim cells).  The round_dp
        # quantization is the cross-engine determinism fence.  For
        # dims in the many thousands the wide aggregate can exceed
        # codegen limits — fall back to the posexplode form there.
        rows = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.round(F.avg(F.col("v")[i]), round_dp).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        got = {r["cluster"]: [r[f"m{i}"] for i in range(dim)] for r in rows}
        # emptied cluster keeps its centroid
        centroids = [got.get(c, centroids[c]) for c in range(k)]
    # iteration cache released before any (lazy) downstream assignment —
    # the consumer's one materializing scan reads the source directly
    df.unpersist()
    return centroids


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Cluster every vector: (vec_id, cluster, sq_dist) after
    ``n_iter`` Lloyd's updates from the deterministic seed centroids
    (vectors with the ``k`` smallest ids).

    ``sq_dist`` is the squared L2 distance to the FINAL centroid,
    rounded to ``round_dp`` — the quantity semantic dedup thresholds
    on (drop/sample far-from-centroid outliers, dedup near-centroid
    crowds)."""
    df = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    centroids = lloyds_centroids(df, k, n_iter, round_dp)
    return _assign(df, centroids).select(
        "vec_id", "cluster", F.round("sq_dist", round_dp).alias("sq_dist")
    )


def cluster_profile(assigned: DataFrame, emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-cluster rollup joined against labels — the sanity view a
    curation run reports: size, mean distance, dominant label purity."""
    joined = assigned.join(emb.select(id_col, "label"), on=id_col)
    per_label = joined.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    top = per_label.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
        ),
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("size"), F.round(F.avg("sq_dist"), 6).alias("mean_sq_dist")
    )
    return (
        sizes.join(top.filter(F.col("rn") == 1).select("cluster", F.col("label").alias("top_label"), "n"), "cluster")
        .withColumn("purity", F.round(F.col("n") / F.col("size"), 6))
        .select("cluster", "size", "mean_sq_dist", "top_label", "purity")
    )
