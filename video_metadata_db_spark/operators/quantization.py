"""Product quantization (PQ) — compressed-vector ANN at corpus scale.

Brute-force and IVF search still read full vectors (dim × 4-8 bytes
each); at 10¹¹ embeddings that is the dominant I/O.  PQ (Jégou et al.,
"Product Quantization for Nearest Neighbor Search") cuts the vector
into ``m`` subspaces, k-means-quantizes each subspace independently,
and stores only the ``m`` one-byte codes per vector — a 32× compression
at m=4/dim=64 — while asymmetric distance computation (ADC) estimates
query→vector distance as the SUM of per-subspace query→centroid
distances, read from an (m × k) lookup table built per query.

Spark-first layout:

- **codebooks**: ``m`` independent Lloyd's runs over the subspace
  slices, via the shared deterministic trainer
  (:func:`~.clustering.lloyds_centroids` — smallest-id seeds, 6-dp
  quantized updates) so the ENTIRE construction replays in DuckDB SQL
  and both registered queries carry full value oracles.
- **encode**: per-subspace argmin against ≤ k broadcast centroid
  literals — pure codegen folds, scan-only, no shuffle.
- **ADC search**: the per-query distance tables are TINY DataFrames
  (n_queries × k rows per subspace) broadcast against the CODES table;
  the full vectors are never touched after encoding — which is the
  entire point: the search-time working set is m bytes/vector plus a
  broadcast, so a 100 TB vector corpus probes from a ~3 TB code table.

Determinism: per-subspace distances round to 6 dp before the m-way
sum (both engines then add the same four doubles in the same order —
bit-identical), ranking ties break on cand_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .clustering import _dists_array

SUBSPACES = 4
CODES = 16
PQ_ITER = 1


def _slice(vec_col: str, s: int, sub_dim: int) -> F.Column:
    return F.slice(F.col(vec_col).cast("array<double>"), s * sub_dim + 1, sub_dim)


def _slice_sql(vec_col: str, s: int, sub_dim: int) -> str:
    """SQL text of :func:`_slice` — feeds :func:`~.clustering._dists_array`
    so per-subspace distance arrays parse JVM-side in one call."""
    return f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {s * sub_dim + 1}, {sub_dim})"


def _sq_dist_cols(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 between two array columns, folded left-to-right (the
    same bit-reproducible shape as the literal-centroid fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = SUBSPACES,
    k: int = CODES,
    n_iter: int = PQ_ITER,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> list[list[list[float]]]:
    """``m`` codebooks of ``k`` centroids each — every subspace trained
    in the SAME pass, not ``m`` sequential Lloyd's runs.

    One ``posexplode`` lays the corpus out as (vec_id, s, slice) rows;
    assignment is a CASE-WHEN branch per subspace (codegen evaluates
    only the matched branch, so per-row work stays one k-centroid
    fold), and the update is ONE (s, cluster)-grouped aggregate
    producing all m·k·(dim/m) cells.  Per iteration: one corpus scan +
    one aggregate for ALL books, vs m scans + m aggregates for the
    loop-over-:func:`~.clustering.lloyds_centroids` equivalent — the
    difference between reading a 100 TB corpus once or m times per
    round.

    The math is the shared trainer's determinism contract verbatim
    (smallest-id seeds per subspace — the SAME ids for every s —
    ``round_dp``-quantized means, lowest-cluster argmin ties, emptied
    clusters keep their centroid), so the DuckDB oracle that replays m
    independent per-subspace runs still matches bit-for-bit; pinned by
    test_pq_codebooks_match_per_subspace_lloyds."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub_dim = dim // m
    sliced = emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.array(*[_slice(vec_col, s, sub_dim) for s in range(m)])
        ).alias("s", "v"),
    )
    if n_iter > 1:
        sliced = sliced.persist()
    # seeds: slices of the k smallest-id vectors — identical to each
    # per-subspace trainer's smallest-id seeds; ONE k-row collect
    seed_rows = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need >= {k} vectors to seed {k} clusters")
    books = [
        [list(r["v"])[s * sub_dim : (s + 1) * sub_dim] for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(n_iter):
        # per-subspace fold array behind a CASE on s, projected ONCE so
        # the argmin's two references don't double the m·k-fold tree
        # the optimizer walks (driver time, paid per iteration)
        dcase = None
        for s in range(m):
            d = _dists_array("v", books[s])
            dcase = (
                F.when(F.col("s") == s, d)
                if dcase is None
                else dcase.when(F.col("s") == s, d)
            )
        rows = (
            sliced.select("s", "v", dcase.alias("_dists"))
            .select(
                "s",
                "v",
                (F.array_position("_dists", F.array_min("_dists")) - 1).alias(
                    "cluster"
                ),
            )
            .groupBy("s", "cluster")
            .agg(
                *[
                    F.round(F.avg(F.col("v")[i]), round_dp).alias(f"m{i}")
                    for i in range(sub_dim)
                ]
            )
            .collect()
        )
        got = {
            (r["s"], r["cluster"]): [r[f"m{i}"] for i in range(sub_dim)]
            for r in rows
        }
        books = [
            [got.get((s, c), books[s][c]) for c in range(k)] for s in range(m)
        ]
    if n_iter > 1:
        sliced.unpersist()
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code_0 .. code_{m-1}) — each code the argmin centroid of
    its subspace slice (ties to the lowest code).  Codegen folds against
    broadcast literals: scan-only, no shuffle, no Python."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    # fold arrays projected once, argmins read from the projection —
    # same single-copy-tree discipline as _assign_to
    with_d = emb.select(
        F.col(id_col).alias("vec_id"),
        *[
            _dists_array(_slice_sql(vec_col, s, sub_dim), book).alias(f"_d{s}")
            for s, book in enumerate(codebooks)
        ],
    )
    return with_d.select(
        "vec_id",
        *[
            (F.array_position(f"_d{s}", F.array_min(f"_d{s}")) - 1).alias(
                f"code_{s}"
            )
            for s in range(m)
        ],
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    topk: int = 10,
    m: int = SUBSPACES,
    k: int = CODES,
    n_iter: int = PQ_ITER,
    dim: int = 64,
    round_dp: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, cand_id, approx_sq_dist),
    the ``topk`` nearest code-compressed candidates per query (queries
    excluded from their own results).

    The per-(query, subspace) distance tables are built as tiny
    DataFrames — |queries| × k rows each — and BROADCAST onto the codes
    table; after encoding, search never touches a full vector."""
    spark = emb.sparkSession
    books = pq_codebooks(emb, m, k, n_iter, dim, id_col, vec_col)
    codes = pq_encode(emb, books, id_col, vec_col)
    sub_dim = dim // m

    queries = emb.filter(F.col(id_col).isin(query_ids))
    scored = codes.filter(~F.col("vec_id").isin(query_ids))
    total = None
    for s, book in enumerate(books):
        cents = spark.createDataFrame(
            [(c, list(map(float, v))) for c, v in enumerate(book)],
            f"code_{s} int, c array<double>",
        )
        qd = (
            queries.select(
                F.col(id_col).alias("query_id"), _slice(vec_col, s, sub_dim).alias("q")
            )
            .crossJoin(cents)
            .select(
                "query_id",
                f"code_{s}",
                F.round(_sq_dist_cols(F.col("q"), F.col("c")), round_dp).alias(
                    f"d_{s}"
                ),
            )
        )
        scored = scored.join(
            F.broadcast(qd),
            ["query_id", f"code_{s}"] if s else [f"code_{s}"],
            "inner",
        )
        total = F.col(f"d_{s}") if total is None else total + F.col(f"d_{s}")

    ranked = scored.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(total, round_dp).alias("approx_sq_dist"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("approx_sq_dist", "cand_id")
        ),
    )
    return ranked.filter(F.col("rn") <= topk).select(
        "query_id", "cand_id", "approx_sq_dist"
    )


def ivf_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    topk: int = 10,
    n_probe: int | None = None,
    m: int = SUBSPACES,
    k: int = CODES,
    n_iter: int = PQ_ITER,
    dim: int = 64,
    centroid_ids: list[int] | None = None,
    round_dp: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC (Jégou et al. §V): the inverted-file coarse quantizer
    restricts WHICH candidates are scored, product-quantization codes
    define HOW — the composition production ANN engines (FAISS IVFPQ)
    ship, built here from the two already-verified operators.

    Per query: probe the ``n_probe`` nearest inverted lists (cosine, the
    same deterministic medoid coarse quantizer as ``ivf_topk``), then
    rank ONLY those lists' members by asymmetric PQ distance.  Search
    cost = (n_probe/C of the code table) per query, and the code table
    is m bytes/vector — both reductions compound: at 10¹¹ vectors a
    query touches ~m·n·n_probe/C bytes instead of 4·dim·n.  Spark
    shape: candidate generation is one broadcast equi-join on the list
    id (partition-prunable when codes are written partitioned by list),
    ADC tables broadcast as in :func:`pq_adc_topk`; no shuffle of the
    corpus.  Every stage is deterministic, so the full pipeline —
    coarse assignment, codebooks, codes, distance tables, ranking —
    replays in the DuckDB oracle."""
    from .similarity import N_CENTROIDS, N_PROBE, _to_double, ivf_assign

    spark = emb.sparkSession
    if n_probe is None:
        n_probe = N_PROBE
    if centroid_ids is None:
        centroid_ids = [10 + 25 * i for i in range(N_CENTROIDS)]
    e = emb.select(F.col(id_col), _to_double(F.col(vec_col)).alias("v"))
    # sorted: list position is the assignment tie-break (see ivf_topk)
    centroids = sorted(
        (r[id_col], list(r["v"]))
        for r in e.filter(F.col(id_col).isin(centroid_ids)).collect()
    )
    books = pq_codebooks(emb, m, k, n_iter, dim, id_col, vec_col)
    codes = pq_encode(emb, books, id_col, vec_col)
    corpus = (
        ivf_assign(
            e.filter(~F.col(id_col).isin(query_ids)),
            centroids,
            n_probe=1,
            id_col=id_col,
        )
        .select(
            F.col(id_col).alias("cand_id"),
            F.element_at("clusters", 1).alias("cluster"),
        )
        .join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
    )
    qprobe = ivf_assign(
        e.filter(F.col(id_col).isin(query_ids)),
        centroids,
        n_probe=n_probe,
        id_col=id_col,
    ).select(
        F.col(id_col).alias("query_id"), F.explode("clusters").alias("cluster")
    )
    # each corpus vector lives in exactly one list, so a (query, cand)
    # pair appears at most once — no dedup needed after the probe join
    scored = corpus.join(F.broadcast(qprobe), "cluster")

    sub_dim = dim // m
    queries = emb.filter(F.col(id_col).isin(query_ids))
    total = None
    for s, book in enumerate(books):
        cents = spark.createDataFrame(
            [(c, list(map(float, v))) for c, v in enumerate(book)],
            f"code_{s} int, c array<double>",
        )
        qd = (
            queries.select(
                F.col(id_col).alias("query_id"), _slice(vec_col, s, sub_dim).alias("q")
            )
            .crossJoin(cents)
            .select(
                "query_id",
                f"code_{s}",
                F.round(_sq_dist_cols(F.col("q"), F.col("c")), round_dp).alias(
                    f"d_{s}"
                ),
            )
        )
        scored = scored.join(F.broadcast(qd), ["query_id", f"code_{s}"], "inner")
        total = F.col(f"d_{s}") if total is None else total + F.col(f"d_{s}")

    ranked = scored.select(
        "query_id",
        "cand_id",
        F.round(total, round_dp).alias("approx_sq_dist"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("approx_sq_dist", "cand_id")
        ),
    )
    return ranked.filter(F.col("rn") <= topk).select(
        "query_id", "cand_id", "approx_sq_dist"
    )
