"""Corpus-mining queries: TF-IDF, unigram-LM scoring, vocabulary
induction, and semantic (k-means) clustering — the statistics layer a
training-data pipeline builds ON TOP of the filter/dedup stages.

Every query here carries a FULL DuckDB value oracle.  The float
discipline that makes that possible:

- counts and ratios of counts are exact (integer sums, one division);
- transcendentals (``ln``) may differ by 1 ulp across libm builds, so
  any ln-derived quantity is ROUNDED (6 dp before reuse, 4 dp at the
  output boundary) — a 1e-16 disagreement cannot flip a 1e-6/1e-4
  rounding unless the value sits within 1e-16 of the boundary;
- k-means centroid means are re-quantized to 6 dp each iteration
  (see :mod:`..operators.clustering`), so cross-engine partial-sum
  order never leaks into the next assignment;
- every ranking that feeds a LIMIT/filter orders by a total key
  (score, then term/id) so boundary ties are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import token_count as token_count_col
from ..operators.analytics import pareto_frontier_2d
from ..operators.dedup import tokens_of
from ..sources.tables import load_table
from .registry import query

# ----------------------------------------------------------- TF-IDF ---

_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * round(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6), 4)
           AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rnk
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@query("tfidf_top_terms", oracle=_TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword-extraction /
    relevance-weighting primitive (idf = smoothed ln((N+1)/(df+1))+1,
    the sklearn convention).

    Plan at scale: tf is one (doc, term) shuffle with map-side
    combine; df aggregates the SAME tokenization from a second
    column-pruned scan — deliberately NOT a persist of tf (a
    corpus-sized cache entry that outlives the call; the same
    scan-twice-cache-never trade as operators/packing.py — a real
    pipeline materializes tf as a table once and builds both from it);
    the corpus total is a one-row aggregate cross-joined in (broadcast
    — never a driver action); df joins back to tf on term — the only
    term-keyed shuffle, and stopword-ish hot terms are exactly what
    AQE skew splitting absorbs.  The per-doc top-3 is a rank window
    partitioned by doc — full parallelism, WindowGroupLimit prunes.
    The idf is rounded to 6 dp BEFORE the tf multiply so a 1-ulp libm
    difference in ``ln`` cannot reach the ranking."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_of(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6)
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# ----------------------------------------------- unigram LM scoring ---

_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
freq AS (
  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
),
tot AS (SELECT COUNT(*) AS n_total FROM toks),
scored AS (
  SELECT t.doc_id, round(-ln(f.cnt / (1.0 * tot.n_total)), 6) AS nll
  FROM toks t JOIN freq f USING (term) CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(AVG(nll), 4) AS avg_neg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@query("unigram_logprob_score", oracle=_UNIGRAM_SQL)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    unigram LM — the cheap perplexity proxy used to rank docs for
    quality-based sampling (low = typical prose, high = junk/outlier).

    Plan at scale: term frequencies are one (term) aggregate; the
    corpus re-joins on term (broadcast when the vocab is small, AQE
    skew-split otherwise); the per-doc mean is a second aggregate on
    doc_id.  Token probabilities are exact count ratios (identical
    doubles on both engines); only the ``ln`` is transcendental, so
    each token's NLL is rounded to 6 dp before averaging and the mean
    to 4 dp at the boundary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_of(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    nll = F.round(-F.log(F.col("cnt") / (1.0 * F.col("n_total"))), 6)
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 4).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ vocab induction ----

_VOCAB_SQL = """
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents
),
bg AS (
  SELECT unnest(list_transform(
           range(1, greatest(len(t) - 1, 0) + 1),
           i -> t[i] || ' ' || t[i + 1]
         )) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n_occurrences
FROM bg
GROUP BY bigram
HAVING COUNT(*) >= 5
ORDER BY n_occurrences DESC, bigram
LIMIT 200
"""


@query("vocab_bigrams", oracle=_VOCAB_SQL)
def q_vocab_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-candidate induction: corpus-wide adjacent-pair (bigram)
    occurrence counts with a min-frequency cutoff — one BPE-style merge
    round, and the general vocabulary-building aggregate.

    Plan at scale: bigrams are built INSIDE the row via one ``zip_with``
    of the token array against its own shift (no self-join on
    position), exploded, then a single map-side-combining count on the
    bigram key; the HAVING floor drops the long tail before the
    top-200, which runs as TakeOrderedAndProject.  Counts are integers
    and the (count DESC, bigram) sort is total — the LIMIT boundary is
    deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_of(F.col("text")).alias("t"))
    n = F.size("t")
    pairs = F.slice(
        F.zip_with(
            F.col("t"),
            F.slice(F.col("t"), 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        1,
        F.greatest(n - 1, F.lit(0)),
    )
    return (
        toks.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 5)
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(200)
    )


# -------------------------------------------------- semantic k-means --

_K = 8
_DIM = 64
_N_ITER = 2


def _kmeans_ctes() -> str:
    """Unrolled Lloyd's in DuckDB SQL mirroring kmeans_assign exactly:
    seed = k smallest vec_ids; squared-L2 folded left-to-right via an
    indexed list_sum; centroid cell means rounded to 6 dp; argmin ties
    to the lowest cluster; emptied clusters keep their centroid.
    Returns the CTE chain (``e`` = vectors, ``a_final`` = the final
    assignment) for both the clustering and the semantic-dedup oracle."""
    dist = (
        "list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (e.v[i] - {c}.c[i]) * (e.v[i] - {c}.c[i])))"
    )
    assign = """
a{n} AS (
  SELECT vec_id, v, cluster, dist FROM (
    SELECT e.vec_id, e.v, {cte}.cluster,
           {d} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d}, {cte}.cluster) AS rn
    FROM e CROSS JOIN {cte}
  ) WHERE rn = 1
)"""
    update = """
m{n} AS (
  SELECT cluster, i, round(avg(v[i]), 6) AS val
  FROM a{n}, range(1, {dim} + 1) t(i)
  GROUP BY cluster, i
),
u{n} AS (
  SELECT cluster, list(val ORDER BY i) AS c FROM m{n} GROUP BY cluster
),
c{n} AS (
  SELECT p.cluster, COALESCE(u{n}.c, p.c) AS c
  FROM {prev} p LEFT JOIN u{n} ON p.cluster = u{n}.cluster
)"""
    parts = [
        f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  -- rank-label the seeds: cluster = 0-based position of the seed in
  -- vec_id order, matching kmeans_assign's array_position(-1) labels
  -- for ANY id domain (labelling by vec_id itself would only coincide
  -- when ids happen to be contiguous from 0)
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_K}) seeds
)"""
    ]
    prev = "c0"
    for it in range(1, _N_ITER + 1):
        d = dist.format(dim=_DIM, c=prev)
        parts.append(assign.format(n=it, cte=prev, d=d))
        parts.append(update.format(n=it, dim=_DIM, prev=prev))
        prev = f"c{it}"
    d = dist.format(dim=_DIM, c=prev)
    parts.append(assign.format(n="_final", cte=prev, d=d))
    return "WITH " + ",".join(parts)


def _kmeans_oracle() -> str:
    return (
        _kmeans_ctes()
        + """
SELECT vec_id, cluster, CAST(round(dist, 6) AS DOUBLE) AS sq_dist
FROM a_final
ORDER BY vec_id
"""
    )


@query("kmeans_clusters", oracle=_kmeans_oracle())
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding table: 2 Lloyd's iterations
    of k-means (k=8) from deterministic seeds, then the final
    (vector → cluster, squared-distance) assignment — the grouping
    stage of semantic dedup and cluster-balanced data mixing.

    The corpus-sized assignment pass is one BLAS distance expansion
    per Arrow batch (``mapInPandas``); the update is a k×dim-cell
    aggregate — see operators/clustering.py for the full determinism
    contract that lets an UNROLLED DuckDB Lloyd's verify every value."""
    from ..operators.clustering import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_K, n_iter=_N_ITER).orderBy("vec_id")


def _cluster_profile_oracle() -> str:
    return (
        _kmeans_ctes()
        + """,
assigned AS (
  SELECT vec_id, cluster, round(dist, 6) AS sq_dist FROM a_final
),
lab AS (
  SELECT a.cluster, e2.label
  FROM assigned a JOIN embeddings e2 ON a.vec_id = e2.vec_id
),
per_label AS (
  SELECT cluster, label, COUNT(*) AS n FROM lab GROUP BY cluster, label
),
top AS (
  SELECT cluster, label AS top_label, n,
         row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
  FROM per_label
),
sizes AS (
  SELECT cluster, COUNT(*) AS size, round(avg(sq_dist), 6) AS mean_sq_dist
  FROM assigned GROUP BY cluster
)
SELECT s.cluster, s.size, s.mean_sq_dist, t.top_label,
       round(t.n * 1.0 / s.size, 6) AS purity
FROM sizes s JOIN top t ON s.cluster = t.cluster AND t.rn = 1
ORDER BY s.cluster
"""
    )


@query("kmeans_cluster_profile", oracle=_cluster_profile_oracle())
def q_kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation sanity view over the semantic clusters: per-cluster
    size, mean squared distance (spread), dominant corpus label and its
    purity — what a data-mixing run reports before trusting cluster
    boundaries for sampling weights.

    One aggregate over the assignment plus a broadcast-sized label
    rollup; purity is an exact count ratio.  The oracle extends the
    unrolled Lloyd's CTE with the same two aggregates."""
    from ..operators.clustering import cluster_profile, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, k=_K, n_iter=_N_ITER)
    return cluster_profile(assigned, emb).orderBy("cluster")


def _semantic_dedup_oracle() -> str:
    return (
        _kmeans_ctes()
        + """,
ev AS (
  SELECT a.vec_id, a.cluster, e.v
  FROM a_final a JOIN e ON a.vec_id = e.vec_id
),
scored AS (
  SELECT l.vec_id, r.vec_id AS neighbor_id,
         round(list_cosine_similarity(l.v, r.v), 6) AS cos_sim
  FROM ev l JOIN ev r ON l.cluster = r.cluster AND l.vec_id <> r.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT vec_id, neighbor_id, cos_sim, cos_sim >= 0.5 AS is_near_dup
FROM ranked WHERE rn = 1
ORDER BY vec_id
"""
    )


@query("dedup_semantic", oracle=_semantic_dedup_oracle())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: k-means clusters the embedding space, then
    near-dup detection runs WITHIN clusters only — each vector's most
    similar same-cluster neighbor with a threshold flag.  This is the
    production semantic-dedup shape: the learned quantizer (not a
    given label) is the blocking key, so candidate generation stays an
    equi-join with O(Σ cluster²) pairs instead of O(n²).

    Composes two verified operators (kmeans_assign →
    embedding_near_dup with cluster as the block), and the oracle
    composes the same way: the unrolled Lloyd's CTE feeding a
    within-cluster cosine top-1.  Both passes are Arrow-batched numpy:
    assignment as a BLAS distance expansion, scoring as one gram
    matmul per cluster.  At 100 TB: k scales ~√n so clusters stay
    worker-sized (candidate growth measured ×10.03 at ×10 corpus —
    SCALE_MEASURE.json)."""
    from ..operators.clustering import kmeans_assign
    from ..operators.similarity import embedding_near_dup

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, k=_K, n_iter=_N_ITER).select("vec_id", "cluster")
    blocked = emb.join(assigned, "vec_id")
    return embedding_near_dup(blocked, threshold=0.5, block_col="cluster").orderBy("vec_id")


@query(
    "mixture_temperature_weights",
    oracle="""
WITH t AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
),
per_source AS (
  SELECT source,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         round(pow(CAST(sum(n_tokens) AS BIGINT), 0.7), 6) AS w_raw
  FROM t GROUP BY source
)
SELECT source, total_tokens,
       round(CAST(total_tokens AS DOUBLE)
             / sum(total_tokens) OVER (), 6) AS natural_share,
       round(w_raw / sum(w_raw) OVER (), 4) AS temp_share
FROM per_source
ORDER BY source
""",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights (α=0.7, the multilingual-
    pretraining convention): per-source token counts raised to α and
    renormalized — upsamples the tail sources relative to their
    natural share, the knob every data-mixing recipe exposes.

    Plan: one `source`-keyed aggregate shuffle, then window sums over
    |sources| rows.  pow() is transcendental, so each raw weight is
    rounded to 6 dp before the normalizing sum and the share to 4 dp
    at the boundary (the shares-sum order over a handful of rounded
    doubles can differ by ~1 ulp between engines — the 4-dp guard
    absorbs it; natural_share stays an exact integer ratio at 6 dp)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", token_count_col(F.col("text")).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("total_tokens"))
        .withColumn("w_raw", F.round(F.pow("total_tokens", F.lit(0.7)), 6))
    )
    w = Window.partitionBy(F.lit(1))
    return per_source.select(
        "source",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.sum("total_tokens").over(w), 6
        ).alias("natural_share"),
        F.round(F.col("w_raw") / F.sum("w_raw").over(w), 4).alias("temp_share"),
    ).orderBy("source")


_BIGRAM_LM_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(t) - 1, 0) + 1),
           i -> struct_pack(w1 := t[i], w2 := t[i + 1])
         )) AS p
  FROM toks
),
pair_counts AS (
  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
),
ctx_counts AS (
  SELECT w1, SUM(c12) AS c1 FROM pair_counts GROUP BY w1
),
scored AS (
  SELECT b.doc_id,
         round(-ln(pc.c12 / (1.0 * cc.c1)), 6) AS nll
  FROM bg b
  JOIN pair_counts pc ON b.p.w1 = pc.w1 AND b.p.w2 = pc.w2
  JOIN ctx_counts cc ON pc.w1 = cc.w1
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(AVG(nll), 4) AS avg_neg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@query("bigram_logprob_score", oracle=_BIGRAM_LM_SQL)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean NLL under the corpus BIGRAM LM — one order up
    from `unigram_logprob_score`: p(w₂|w₁) = c(w₁w₂)/c(w₁·), so word
    ORDER now matters (scrambled text scores as improbable even when
    its unigram mix is typical — the failure mode unigram scoring
    can't see).

    Plan at scale: bigram and context counts are two aggregates over
    one in-row pair construction (zip_with shift, no position
    self-join); the corpus re-joins on the (w₁,w₂) key — skew-prone
    exactly like TF-IDF's term join, absorbed by AQE; probabilities
    are exact count ratios, ln rounds to 6 dp per pair and the mean to
    4 dp at the boundary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_of(F.col("text")).alias("t"))
    n = F.size("t")
    pairs = F.slice(
        F.zip_with(
            F.col("t"),
            F.slice(F.col("t"), 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        1,
        F.greatest(n - 1, F.lit(0)),
    )
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx_counts = pair_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    nll = F.round(-F.log(F.col("c12") / (1.0 * F.col("c1"))), 6)
    return (
        bg.join(pair_counts, ["w1", "w2"])
        .join(ctx_counts, "w1")
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


_KL_SQL = """
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
src_counts AS (
  SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
),
src_totals AS (
  SELECT source, SUM(c) AS tot FROM src_counts GROUP BY source
),
corpus_counts AS (
  SELECT term, SUM(c) AS cc FROM src_counts GROUP BY term
),
corpus_total AS (SELECT SUM(cc) AS ct FROM corpus_counts),
terms AS (
  SELECT s.source,
         CAST(round((s.c / (1.0 * st.tot))
                    * ln((s.c / (1.0 * st.tot))
                         / (g.cc / (1.0 * x.ct))), 9) AS DECIMAL(18,9)) AS kl_term
  FROM src_counts s
  JOIN src_totals st USING (source)
  JOIN corpus_counts g USING (term)
  CROSS JOIN corpus_total x
)
SELECT source, CAST(round(SUM(kl_term), 6) AS DOUBLE) AS kl_from_corpus
FROM terms
GROUP BY source
ORDER BY source
"""


@query("source_divergence", oracle=_KL_SQL)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture diagnostic: KL(source ‖ corpus) over unigram
    distributions — how far each source's token distribution sits from
    the blend, the quantity mixture tuning watches when reweighting
    (a source with near-zero KL adds no diversity; a huge-KL source is
    a domain outlier).

    Determinism note (this query's reason to exist beyond the metric):
    a KL is a SUM OF FLOAT TERMS over the vocabulary, so a plain
    double sum depends on partition count and engine — here each term
    is quantized to 9 dp and cast to DECIMAL(18,9) BEFORE the sum, so
    the aggregate is exact and associative: same value at any
    parallelism, on either engine, to the last digit (enforced by the
    registry-wide two-plans sweep).  Probabilities themselves are
    exact count ratios; only ln is transcendental, guarded by the
    quantization."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens_of(F.col("text"))).alias("term"))
    src_counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    src_totals = src_counts.groupBy("source").agg(F.sum("c").alias("tot"))
    corpus_counts = src_counts.groupBy("term").agg(F.sum("c").alias("cc"))
    corpus_total = corpus_counts.agg(F.sum("cc").alias("ct"))
    p_s = F.col("c") / (1.0 * F.col("tot"))
    p_c = F.col("cc") / (1.0 * F.col("ct"))
    kl_term = F.round(p_s * F.log(p_s / p_c), 9).cast("decimal(18,9)")
    return (
        src_counts.join(src_totals, "source")
        .join(corpus_counts, "term")
        .crossJoin(F.broadcast(corpus_total))
        .select("source", kl_term.alias("kl_term"))
        .groupBy("source")
        .agg(F.round(F.sum("kl_term"), 6).cast("double").alias("kl_from_corpus"))
        .orderBy("source")
    )


# ------------------------------------------------------------------ BPE ---

_BPE_N = 3


def _bpe_ctes(n: int) -> str:
    """Unrolled BPE training in SQL: word counts → char segmentation →
    n rounds of (pair counts, argmax, literal string-replace merge) —
    the exact contract operators/bpe.py documents, same separator
    encoding, same replace semantics."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    parts = [
        f"""w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
    FROM documents
  ) WHERE NOT contains(word, chr(31))
  GROUP BY word
),
s0 AS (
  SELECT word, cnt,
         {sep2} || regexp_replace(word, '(.)', '\\1' || {sep2}, 'g') AS seg
  FROM w
)"""
    ]
    for r in range(1, n + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""p{r} AS (
  SELECT p[1] AS left_sym, p[2] AS right_sym,
         CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt, unnest(list_zip(l[1:length(l)-1], l[2:length(l)])) AS p
    FROM (SELECT cnt,
                 list_filter(string_split(seg, {sep2}), x -> x <> '') AS l
          FROM {prev})
  ) GROUP BY 1, 2
),
b{r} AS (
  SELECT * FROM p{r} ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
),
s{r} AS (
  SELECT word, cnt,
         replace(seg, {sep}||b.left_sym||{sep2}||b.right_sym||{sep},
                      {sep}||b.left_sym||b.right_sym||{sep}) AS seg
  FROM {prev} CROSS JOIN b{r} b
)"""
        )
    return "WITH " + ",".join(parts)


def _bpe_merges_oracle() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, left_sym, right_sym, "
        f"left_sym||right_sym AS merged, pair_count FROM b{r}"
        for r in range(1, _BPE_N + 1)
    )
    return f"{_bpe_ctes(_BPE_N)}\nSELECT * FROM ({rows}) ORDER BY merge_rank"


def _bpe_segment_oracle() -> str:
    return f"""{_bpe_ctes(_BPE_N)}
SELECT word, cnt,
       array_to_string(
         list_filter(string_split(seg, chr(31)||chr(31)), x -> x <> ''), ' '
       ) AS seg_str
FROM s{_BPE_N}
ORDER BY word
"""


@query("bpe_merges", oracle=_bpe_merges_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the ordered merge list itself: three
    rounds of (adjacent-pair count → deterministic argmax → greedy
    left-to-right merge) over the word-count table.  The corpus is
    read ONCE (words localCheckpointed); each round costs O(|vocab|)
    with one 1-row driver collect — corpus size prices only the first
    scan, exactly how production BPE trainers scale.  The merge list
    is the learned model (driver-side by nature, like k-means
    centroids); the oracle replays all rounds unrolled with the same
    separator-string replace contract."""
    from ..operators.bpe import bpe_train, bpe_word_counts

    docs = load_table(spark, sf_dir, "documents")
    words = bpe_word_counts(docs).localCheckpoint(eager=True)
    merges, _ = bpe_train(words, _BPE_N)
    return spark.createDataFrame(
        [
            (r + 1, left, right, merged, cnt)
            for r, (left, right, merged, cnt) in enumerate(merges)
        ],
        "merge_rank int, left_sym string, right_sym string, merged string, pair_count long",
    ).orderBy("merge_rank")


@query("bpe_segment_words", oracle=_bpe_segment_oracle())
def q_bpe_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vocabulary word segmented by the learned merges — the
    application side of `bpe_merges` (what the tokenizer would emit
    per word after three merges), value-checked for the WHOLE vocab.
    Same single-corpus-scan + O(|vocab|)-per-round shape."""
    from ..operators.bpe import bpe_train, bpe_word_counts

    docs = load_table(spark, sf_dir, "documents")
    words = bpe_word_counts(docs).localCheckpoint(eager=True)
    _, seg = bpe_train(words, _BPE_N)
    return seg.orderBy("word")


def _bpe_encode_oracle() -> str:
    sep2 = "chr(31)||chr(31)"
    return f"""{_bpe_ctes(_BPE_N)},
tok AS (
  SELECT doc_id, t.pos, t.word FROM (
    SELECT doc_id,
           unnest(list_transform(
             list_filter(string_split(text, ' '), x -> x <> ''),
             (x, i) -> struct_pack(word := x, pos := i)
           )) AS t
    FROM documents
  )
),
sv AS (
  SELECT word,
         array_to_string(
           list_filter(string_split(seg, {sep2}), x -> x <> ''), ' '
         ) AS seg_str
  FROM s{_BPE_N}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(len(string_split(seg_str, ' '))) AS BIGINT) AS n_symbols,
       string_agg(seg_str, ' ' ORDER BY pos) AS encoded
FROM tok JOIN sv USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer story end-to-end: merges learned on the
    word-count table (`bpe_merges`) applied back to EVERY document —
    per-doc token count, post-merge symbol count, and the full encoded
    text.  The application is a broadcast join of the |vocab|-sized
    segmentation table onto the exploded corpus (the 100 TB shape: the
    learned tokenizer always fits a broadcast; the corpus is never
    shuffled except the per-doc regroup), with position-ordered
    reassembly via sort_array, not a window."""
    from ..operators.bpe import bpe_train, bpe_word_counts, tokens_of

    docs = load_table(spark, sf_dir, "documents")
    words = bpe_word_counts(docs).localCheckpoint(eager=True)
    _, seg = bpe_train(words, _BPE_N)
    toks = docs.select(
        "doc_id", F.posexplode(tokens_of(F.col("text"))).alias("pos", "word")
    )
    joined = toks.join(F.broadcast(seg.select("word", "seg_str")), "word")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.size(F.split("seg_str", " "))).cast("long").alias("n_symbols"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg_str"))),
                    lambda s: s["seg_str"],
                ),
                " ",
            ).alias("encoded"),
        )
        .orderBy("doc_id")
    )


#: BM25 free parameters and the fixed query-term set.  k1=1.2, b=0.75
#: are the classic Robertson defaults; scaled by 10 below so the
#: saturation denominator is INTEGER arithmetic (10·k1=12, 10·k1·(1−b)=3,
#: 10·k1·b=9) — the only floats are one idf ln (rounded to 6 dp) and one
#: final division per (doc, term).
_BM25_TERMS = ("spark", "vector", "stream")


def _bm25_ctes() -> str:
    """DuckDB CTE chain ending in ``bm25(doc_id, s)`` — per-doc BM25
    score as DECIMAL(18,9); shared by `bm25_search` and the RRF fusion
    oracle."""
    return f"""toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN {_BM25_TERMS!r}
  GROUP BY doc_id, term
),
idf AS (
  SELECT term,
         round(ln((s.n_docs - count(*) + 0.5) / (count(*) + 0.5) + 1), 6) AS idf
  FROM tf CROSS JOIN stats s
  GROUP BY term, s.n_docs
),
bm25_scored AS (
  SELECT t.doc_id,
         CAST(round(i.idf * ((22 * t.tf * s.dl_sum)
                    / (1.0 * (10 * t.tf * s.dl_sum + 3 * s.dl_sum + 9 * d.dl * s.n_docs))),
                    9) AS DECIMAL(18,9)) AS term_score
  FROM tf t
  JOIN dl d USING (doc_id)
  JOIN idf i USING (term)
  CROSS JOIN stats s
),
bm25 AS (
  SELECT doc_id, SUM(term_score) AS s FROM bm25_scored GROUP BY doc_id
)"""


_BM25_SQL = f"""
WITH {_bm25_ctes()}
SELECT doc_id, CAST(round(s, 6) AS DOUBLE) AS score
FROM bm25
ORDER BY s DESC, doc_id
LIMIT 15
"""


@query("bm25_search", oracle=_BM25_SQL)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75) of the corpus against a fixed
    query-term set — the lexical retrieval scorer that complements
    `tfidf_top_terms` (per-doc salience) and the ANN family (semantic
    retrieval): this is how the lexical half of a hybrid search stack
    ranks at scale.

    Plan: tokenize ONCE; doc lengths and corpus totals are aggregates;
    tf is the exploded stream filtered to the (broadcast-tiny) query
    terms before its only shuffle; idf (|terms| rows) broadcasts back.
    Float discipline: the length-normalized saturation
    tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) is algebraically rescaled by
    10·dl_sum into an integer numerator/denominator, so per (doc,term)
    exactly one float division and one 6-dp-rounded ln occur, and the
    per-doc SUM runs over DECIMAL(18,9) — associative, engine-exact
    (same discipline as the KL and PageRank oracles).
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(15)
        .select("doc_id", F.round("_s", 6).cast("double").alias("score"))
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _s) — per-doc BM25 score as DECIMAL, the Spark twin of
    ``_bm25_ctes``; shared by `bm25_search` and `hybrid_rrf_search`."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_of(F.col("text"))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("dl_sum")
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1)
                ),
                6,
            ).alias("idf"),
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (
                    (F.lit(22) * F.col("tf") * F.col("dl_sum"))
                    / (
                        F.lit(1.0)
                        * (
                            F.lit(10) * F.col("tf") * F.col("dl_sum")
                            + F.lit(3) * F.col("dl_sum")
                            + F.lit(9) * F.col("dl") * F.col("n_docs")
                        )
                    )
                ),
                9,
            )
            .cast("decimal(18,9)")
            .alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(F.sum("term_score").alias("_s"))


#: RRF constant (the standard 60) and per-list depth for the fusion.
_RRF_K = 60
_RRF_DEPTH = 50
#: The semantic query: one vector id (aligned with doc_id in the test
#: corpus), excluded from its own candidate list.
_RRF_QUERY_ID = 0


_RRF_SQL = f"""
WITH {_bm25_ctes()},
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
  FROM bm25
  QUALIFY lex_rank <= {_RRF_DEPTH}
),
qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id = {_RRF_QUERY_ID}
),
cos AS (
  SELECT e.vec_id AS doc_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6)
           AS cos_sim
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> {_RRF_QUERY_ID}
),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
  FROM cos
  QUALIFY sem_rank <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         COALESCE(CAST(round(1.0 / ({_RRF_K} + l.lex_rank), 9) AS DECIMAL(18,9)),
                  CAST(0 AS DECIMAL(18,9)))
         + COALESCE(CAST(round(1.0 / ({_RRF_K} + s.sem_rank), 9) AS DECIMAL(18,9)),
                    CAST(0 AS DECIMAL(18,9))) AS rrf
  FROM lex l FULL OUTER JOIN sem s USING (doc_id)
)
SELECT doc_id, lex_rank, sem_rank,
       CAST(round(rrf, 6) AS DOUBLE) AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 15
"""


@query("hybrid_rrf_search", oracle=_RRF_SQL)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the lexical
    BM25 ranking and the semantic cosine ranking — the standard way a
    production search stack combines the two signal families this
    engine already ships separately (`bm25_search`, `knn_cosine_topk`).

    Scale shape: both input rankings are top-``DEPTH`` lists (bounded,
    never corpus-sized), so the fusion join and its window run on
    2·DEPTH rows regardless of corpus size; the corpus-scale work is
    exactly the two underlying rankers, each already scale-shaped
    (BM25: postings of the broadcast term set; cosine: broadcast query
    × one corpus scan with WindowGroupLimit).  Each reciprocal rank is
    one float division rounded to 9 dp into DECIMAL(18,9); the 2-term
    sum is decimal-exact, so the fused ordering is engine-exact.
    """
    from ..operators.similarity import brute_force_topk

    # TakeOrderedAndProject-shaped top-DEPTH FIRST, then rank the
    # surviving DEPTH rows — the global row_number window never sees
    # more than DEPTH rows at any corpus size (QUALIFY-then-filter in
    # the oracle is result-equivalent).
    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.col("_s").desc(), F.col("doc_id"))),
        )
        .select("doc_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = (
        brute_force_topk(emb, [_RRF_QUERY_ID], k=_RRF_DEPTH)
        .select(F.col("cand_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    zero = F.lit(0).cast("decimal(18,9)")
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), 9)
                    .cast("decimal(18,9)"),
                    zero,
                )
                + F.coalesce(
                    F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), 9)
                    .cast("decimal(18,9)"),
                    zero,
                )
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(15)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round("rrf", 6).cast("double").alias("rrf_score"),
        )
    )


@query(
    "vocab_top_p",
    oracle="""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, count(*) AS c FROM toks GROUP BY source, term
),
totals AS (SELECT source, sum(c) AS tot FROM counts GROUP BY source),
cum AS (
  SELECT source, term, c, tot,
         SUM(c) OVER (PARTITION BY source ORDER BY c DESC, term
                      ROWS UNBOUNDED PRECEDING) AS run
  FROM counts JOIN totals USING (source)
),
kept AS (
  SELECT * FROM cum WHERE (run - c) * 10 < 9 * tot
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_terms_kept,
       CAST(max(run) AS BIGINT) AS kept_mass,
       CAST(any_value(tot) AS BIGINT) AS total_mass,
       CAST(round(max(run) / (1.0 * any_value(tot)), 6) AS DOUBLE) AS coverage
FROM kept
GROUP BY source
ORDER BY source
""",
)
def q_vocab_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) vocabulary truncation per source: the smallest
    count-ranked term prefix covering ≥ 90% of each source's token
    mass — the truncation rule tokenizer-vocab builders and sampling
    filters apply, here as a corpus diagnostic (how concentrated each
    source's vocabulary is).

    The cumulative window runs over the (source, term) COUNT table —
    vocabulary-sized, never corpus-sized — so the per-source window is
    bounded by |vocab| at any corpus scale; the corpus-wide work is
    one tokenize + one partial-aggregatable count.  The crossing test
    ``(run − c)·10 < 9·tot`` is pure integer arithmetic (no float
    cumulative mass), so the kept set is engine-exact; the single
    reported ratio divides two exact integers once."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens_of(F.col("text"))).alias("term"))
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("term")
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.join(totals, "source").withColumn("run", F.sum("c").over(w))
    kept = cum.filter((F.col("run") - F.col("c")) * 10 < 9 * F.col("tot"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms_kept"),
            F.max("run").alias("kept_mass"),
            F.any_value(F.col("tot")).alias("total_mass"),
            F.round(F.max("run") / (F.lit(1.0) * F.any_value(F.col("tot"))), 6)
            .cast("double")
            .alias("coverage"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- Pareto / skyline ---


@query(
    "skyline_pareto",
    oracle="""
WITH k AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents,
         p_size
  FROM part
),
pts AS (SELECT DISTINCT cents, p_size FROM k),
frontier AS (
  SELECT cents, p_size FROM pts a
  WHERE NOT EXISTS (
    SELECT 1 FROM pts b
    WHERE b.cents <= a.cents AND b.p_size >= a.p_size
      AND (b.cents < a.cents OR b.p_size > a.p_size)
  )
)
SELECT f.cents AS price_cents,
       f.p_size,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       MIN(k.p_partkey) AS min_partkey
FROM frontier f JOIN k ON k.cents = f.cents AND k.p_size = f.p_size
GROUP BY 1, 2
ORDER BY price_cents
""",
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts: minimize retail price,
    maximize size — the multi-objective shortlist query (no part on
    the frontier is beaten on BOTH axes by any other part).  Price is
    compared in integer cents so dominance is exact cross-engine.

    The frontier is :func:`..operators.analytics.pareto_frontier_2d` —
    the lossless two-level skyline (per-price-bucket window prune in
    parallel, then one survivor-sized pass; scale analysis there,
    brute-force-dominance property tests on crafted point sets in
    tests/test_new_analytics.py).  The oracle is the independent
    NOT-EXISTS dominance definition, so the window algebra is verified
    against the spec, not against itself."""
    parts = load_table(spark, sf_dir, "part")
    k = parts.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
        "p_size",
    )
    frontier = pareto_frontier_2d(
        k.select("cents", "p_size"), "cents", "p_size"
    )
    return (
        frontier.join(k, ["cents", "p_size"])
        .groupBy("cents", "p_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
        .select(
            F.col("cents").alias("price_cents"),
            "p_size",
            "n_parts",
            "min_partkey",
        )
        .orderBy("price_cents")
    )


# ------------------------------------- chi-square independence test ---


@query(
    "chi_square_independence",
    oracle="""
WITH o AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, count(*) AS obs
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT obs,
         SUM(obs) OVER (PARTITION BY s) AS r,
         SUM(obs) OVER (PARTITION BY p) AS c,
         SUM(obs) OVER () AS n,
         s, p
  FROM o
),
t AS (
  SELECT ANY_VALUE(n) AS n,
         COUNT(DISTINCT s) AS ns,
         COUNT(DISTINCT p) AS np,
         SUM(CAST(round((obs * obs) / (1.0 * r * c), 12)
                  AS DECIMAL(24,12))) AS st
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST(ns AS BIGINT) AS n_statuses,
       CAST(np AS BIGINT) AS n_priorities,
       CAST((ns - 1) * (np - 1) AS BIGINT) AS dof,
       CAST(round(n * (st - 1), 6) AS DOUBLE) AS chi2,
       CAST(round(sqrt(CAST(round(n * (st - 1), 6) AS DOUBLE)
                       / CAST(n * LEAST(ns - 1, np - 1) AS DOUBLE)), 6)
            AS DOUBLE) AS cramers_v
FROM t
""",
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order status and
    order priority (plus Cramér's V effect size) — the drift/association
    diagnostic a curation dashboard runs between any two categorical
    columns.

    Float discipline: the identity chi² = N·(Σ O²/(R·C) − 1) keeps
    every operand an EXACT int64 (O² and R·C both ≤ N² < 2⁵³, so the
    one double division per cell is IEEE-exact-rounded and identical
    cross-engine); each cell term is quantized to DECIMAL(24,12)
    before the order-free decimal sum, so partial-sum order can never
    leak into the statistic.  Cramér's V applies one correctly-rounded
    sqrt to an already-6-dp-rounded ratio of exact values.

    Scale shape: one corpus scan feeding one partial-aggregatable
    groupBy on the (status, priority) cell key; the marginal windows
    and the final fold run on the CONTINGENCY MATRIX — |statuses| ×
    |priorities| rows, never corpus-sized — so the empty-partition
    window warnings are cardinality-bounded by construction."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("obs"))
    m = o.select(
        "obs",
        F.sum("obs").over(Window.partitionBy("s")).alias("r"),
        F.sum("obs").over(Window.partitionBy("p")).alias("c"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
        "s",
        "p",
    )
    t = m.agg(
        F.any_value("n").alias("n"),
        F.countDistinct("s").alias("ns"),
        F.countDistinct("p").alias("np"),
        F.sum(
            F.expr("CAST(round((obs * obs) / (1.0D * r * c), 12) AS DECIMAL(24,12))")
        ).alias("st"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("ns").cast("long").alias("n_statuses"),
        F.col("np").cast("long").alias("n_priorities"),
        ((F.col("ns") - 1) * (F.col("np") - 1)).cast("long").alias("dof"),
        F.expr("CAST(round(n * (st - 1), 6) AS DOUBLE)").alias("chi2"),
        F.expr(
            "CAST(round(sqrt(CAST(round(n * (st - 1), 6) AS DOUBLE)"
            " / CAST(n * LEAST(ns - 1, np - 1) AS DOUBLE)), 6) AS DOUBLE)"
        ).alias("cramers_v"),
    )


# -------------------------------------------- concentration / entropy ---


@query(
    "gini_revenue",
    oracle="""
WITH rev AS (
  SELECT c_custkey,
         COALESCE(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)), 0)
           AS rev_cents
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
),
ranked AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents, c_custkey) AS i
  FROM rev
),
agg AS (
  SELECT count(*) AS n,
         SUM(CAST(rev_cents AS HUGEINT)) AS sx,
         SUM(CAST(i AS HUGEINT) * CAST(rev_cents AS HUGEINT)) AS sixi
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(sx AS BIGINT) AS total_revenue_cents,
       CAST(round((2.0 * CAST(sixi AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                  - (n + 1.0) / n, 6) AS DOUBLE) AS gini
FROM agg
""",
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality/skew summary a mixture designer checks before weighting
    sources (G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted
    revenues).

    The rank is the SCALE-CRITICAL part: the textbook row_number() is
    a one-reducer global window, so the Spark side uses
    :func:`..operators.packing.global_row_number` — the two-pass
    distributed prefix sum (sample range boundaries, rank within
    ranges, add broadcast range offsets) — while the DuckDB oracle
    keeps the naive window, proving the distributed rank equivalent.
    Zero-order customers enter at rank bottom with revenue 0 (a LEFT
    join — dropping them understates inequality).  Σ i·xᵢ is summed in
    DECIMAL(38,0)/HUGEINT (i·x reaches n²·x̄, past int64 at corpus
    scale); the final G is two IEEE divisions on exactly-agreed
    integers, rounded to 6 dp."""
    from ..operators.packing import global_row_number

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")),
                F.lit(0),
            ).alias("rev_cents")
        )
        # rev feeds the rank's boundary collect + both prefix-sum
        # passes — the cut bounds the customer⋈orders aggregate to one
        # run instead of three.
        .localCheckpoint(eager=True)
    )
    ranked = global_row_number(rev, "rev_cents", "c_custkey", out_col="pos")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.expr(
                "CAST(pos + 1 AS DECIMAL(38,0)) * CAST(rev_cents AS DECIMAL(38,0))"
            )
        ).alias("sixi"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_revenue_cents"),
        F.expr(
            "CAST(round((2.0D * CAST(sixi AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))"
            " - (n + 1.0D) / n, 6) AS DOUBLE)"
        ).alias("gini"),
    )


@query(
    "entropy_by_source",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, count(*) AS cnt FROM toks GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(round(
         CAST(CAST(round(ln(SUM(cnt)), 6) AS DECIMAL(18,6)) * SUM(cnt)
              - SUM(CAST(round(cnt * round(ln(cnt), 6), 6) AS DECIMAL(24,6)))
           AS DOUBLE)
         / SUM(cnt) / 0.6931471805599453, 6) AS DOUBLE) AS entropy_bits
FROM counts
GROUP BY source
ORDER BY source
""",
)
def q_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each source's term distribution — the
    diversity/degeneracy signal mixture design reads next to the KL
    divergence (`source_divergence`): low entropy flags template spam
    or boilerplate-heavy sources before they're over-weighted.

    Uses H = ln N − (Σ c·ln c)/N so the transcendentals appear only as
    per-count ``ln`` values: each is rounded to 6 dp, the c·ln c
    products re-rounded and summed as DECIMAL(24,6) (order-free exact),
    and the whole numerator assembled in decimal before ONE double
    division per source — 1-ulp libm drift can never reach the 6-dp
    output.  The ln 2 divisor is a shared literal, not an engine call.
    One (source, term) aggregate then one source aggregate: both
    partial-aggregatable, no windows, no corpus-sized state."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens_of(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(
                F.expr(
                    "CAST(round(cnt * round(ln(cnt), 6), 6) AS DECIMAL(24,6))"
                )
            ).alias("s_clnc"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.expr(
                "CAST(round("
                " CAST(CAST(round(ln(n_tokens), 6) AS DECIMAL(18,6)) * n_tokens"
                "      - s_clnc AS DOUBLE)"
                " / n_tokens / 0.6931471805599453D, 6) AS DOUBLE)"
            ).alias("entropy_bits"),
        )
        .orderBy("source")
    )


# ---------------------------------------- count-min heavy hitters ----

#: Count-min sketch geometry (operators/sketches.py): 4 md5-salted
#: rows × 1024 buckets = 4 KiB of counters regardless of vocabulary
#: size; estimate ≤ exact + e·N/1024 w.p. 1 − e⁻⁴ per query.  The
#: oracle below is shared VERBATIM by `stream_cms_heavy_hitters` —
#: sketch cells are sums, so the streamed cell-wise merge must land on
#: the identical report.
from ..operators.sketches import CMS_DEPTH as _CMS_DEPTH
from ..operators.sketches import CMS_WIDTH as _CMS_WIDTH

_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
freq AS (
  SELECT term, count(*) AS cnt FROM toks GROUP BY term
),
rows_ AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS i),
cells AS (
  SELECT i,
         CAST(concat('0x', substr(md5(term || '#' || i), 1, 8)) AS BIGINT)
           % {_CMS_WIDTH} AS bucket,
         SUM(cnt) AS cell
  FROM freq CROSS JOIN rows_
  GROUP BY 1, 2
),
top AS (
  SELECT term, cnt FROM freq
  ORDER BY cnt DESC, term LIMIT 20
),
est AS (
  SELECT t.term, t.cnt, MIN(c.cell) AS cms
  FROM top t CROSS JOIN rows_ r
  JOIN cells c
    ON c.i = r.i
   AND c.bucket = CAST(concat('0x', substr(md5(t.term || '#' || r.i), 1, 8))
                       AS BIGINT) % {_CMS_WIDTH}
  GROUP BY t.term, t.cnt
)
SELECT term,
       CAST(cnt AS BIGINT) AS exact_count,
       CAST(cms AS BIGINT) AS cms_estimate,
       CAST(cms - cnt AS BIGINT) AS overestimate
FROM est
ORDER BY exact_count DESC, term
"""


@query("heavy_hitters_cms", oracle=_CMS_ORACLE)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection through a count-min sketch, audited
    against exact counts: the top-20 corpus terms with both their true
    frequency and the CMS point estimate (whose overestimate must be
    ≥ 0 — the sketch's one-sided error, pinned by a property test).

    This is the bounded-memory pattern a 100 TB pipeline actually
    ships: the sketch is {_CMS_DEPTH}×{_CMS_WIDTH} integer cells built
    with ONE partial-aggregatable shuffle on (row, bucket) — term
    counts pre-aggregate map-side, the bucket hash (md5-salted per
    row, the same 32-bit hex recipe as the MinHash family, replayable
    in DuckDB) collapses any vocabulary into 4 KiB of counters — and
    point queries are a {_CMS_DEPTH}-row min per candidate.  The
    oracle replays sketch construction bit-for-bit, so the value hash
    verifies hashing, bucketing, and the min-reduce, not just the
    exact twin."""
    from ..operators.sketches import cms_cells, cms_probe

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_of(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    cells = cms_cells(freq)
    top = freq.orderBy(F.col("cnt").desc(), "term").limit(20)
    est = cms_probe(top, cells)
    return est.select(
        "term",
        F.col("cnt").cast("long").alias("exact_count"),
        F.col("cms").cast("long").alias("cms_estimate"),
        (F.col("cms") - F.col("cnt")).cast("long").alias("overestimate"),
    ).orderBy(F.col("exact_count").desc(), "term")


@query("stream_cms_heavy_hitters", oracle=_CMS_ORACLE)
def q_stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS under a REAL stream: documents staged as two files,
    drained with ``maxFilesPerTrigger=1`` so each half arrives in its
    own micro-batch; ``foreachBatch`` sketches ONLY the batch and
    cell-wise-merges it into the stored snapshot
    (streaming/sketches.py, versioned commits with replay-idempotent
    reads).  The final report probes the MERGED cells with the exact
    top-20 — and shares `heavy_hitters_cms`' oracle VERBATIM: equality
    is the sketch's mergeability property verified end to end (batch
    build ≡ streamed cell-sum), the same invariant discipline as
    `stream_incremental_dedup` vs the full-corpus closure."""
    from ..operators.sketches import cms_probe
    from ..streaming.runner import file_stream, run_foreach_batch, scratch_dir
    from ..streaming.sketches import cms_state_maintainer, read_cms_cells

    work = scratch_dir("vmdb_cms_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{work}/src")
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        f"{work}/src"
    )
    stream = file_stream(spark, f"{work}/src", docs.schema, max_files_per_trigger=1)
    run_foreach_batch(stream, f"{work}/cp", cms_state_maintainer(f"{work}/state"))
    cells = read_cms_cells(spark, f"{work}/state")
    toks = docs.select(F.explode(tokens_of(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(F.col("cnt").desc(), "term").limit(20)
    est = cms_probe(top, cells)
    return est.select(
        "term",
        F.col("cnt").cast("long").alias("exact_count"),
        F.col("cms").cast("long").alias("cms_estimate"),
        (F.col("cms") - F.col("cnt")).cast("long").alias("overestimate"),
    ).orderBy(F.col("exact_count").desc(), "term")


@query(
    "distinctive_terms_logodds",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, count(*) AS y FROM toks GROUP BY 1, 2
),
totals AS (SELECT source, SUM(y) AS n_s FROM counts GROUP BY source),
vocab AS (SELECT COUNT(DISTINCT term) AS v, SUM(y) AS n_all FROM counts),
gl AS (SELECT term, SUM(y) AS y_all FROM counts GROUP BY term),
scored AS (
  SELECT c.source, c.term, c.y,
         round(ln((c.y + 1) / (1.0 * (t.n_s + vb.v - c.y - 1))), 6)
         - round(ln((g.y_all - c.y + 1)
                    / (1.0 * (vb.n_all - t.n_s + vb.v - (g.y_all - c.y) - 1))), 6)
           AS delta,
         1.0 / (c.y + 1) + 1.0 / (g.y_all - c.y + 1) AS var
  FROM counts c
  JOIN totals t ON c.source = t.source
  JOIN gl g ON c.term = g.term
  CROSS JOIN vocab vb
),
z AS (
  SELECT source, term, y,
         CAST(round(delta / sqrt(var), 6) AS DOUBLE) AS z_score
  FROM scored
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY z_score DESC, term) AS rk
  FROM z
)
SELECT source, term, CAST(y AS BIGINT) AS n_in_source, z_score
FROM ranked WHERE rk <= 5
ORDER BY source, z_score DESC, term
""",
)
def q_distinctive_terms_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary via log-odds with a Dirichlet
    prior (Monroe et al.'s "Fightin' Words"): the top-5 terms whose
    usage in a source most exceeds the rest of the corpus, z-scored —
    the principled version of "top TF-IDF per source" (it corrects for
    both source size and term rarity, which raw ratios get wrong).

    Prior α = 1 keeps every log argument a ratio of EXACT integers
    (counts + vocabulary size), so the two ln() calls are the only
    transcendentals — each 6-dp rounded before the subtraction, the
    variance term is one fixed IEEE expression on exact integers, and
    the final z is rounded before the rank, with term as tiebreak.
    Scale shape: one (source, term) aggregate, one vocabulary-sized
    global-count join, one per-source window on the vocabulary frame —
    the corpus is scanned once and never windowed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens_of(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("y"))
    totals = counts.groupBy("source").agg(F.sum("y").alias("n_s"))
    vocab = counts.agg(
        F.countDistinct("term").alias("v"), F.sum("y").alias("n_all")
    )
    glob = counts.groupBy("term").agg(F.sum("y").alias("y_all"))
    scored = (
        counts.join(totals, "source")
        .join(glob, "term")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "term",
            "y",
            (
                F.expr("round(ln((y + 1) / (1.0D * (n_s + v - y - 1))), 6)")
                - F.expr(
                    "round(ln((y_all - y + 1)"
                    " / (1.0D * (n_all - n_s + v - (y_all - y) - 1))), 6)"
                )
            ).alias("delta"),
            F.expr("1.0D / (y + 1) + 1.0D / (y_all - y + 1)").alias("var"),
        )
    )
    z = scored.select(
        "source",
        "term",
        "y",
        F.expr("CAST(round(delta / sqrt(var), 6) AS DOUBLE)").alias("z_score"),
    )
    w = Window.partitionBy("source").orderBy(F.col("z_score").desc(), "term")
    return (
        z.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "term",
            F.col("y").cast("long").alias("n_in_source"),
            "z_score",
        )
        .orderBy("source", F.col("z_score").desc(), "term")
    )


@query(
    "customer_ltv_deciles",
    oracle="""
WITH rev AS (
  SELECT c_custkey,
         COALESCE(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)), 0)
           AS rev_cents
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
),
ranked AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents DESC, c_custkey) - 1 AS pos,
         COUNT(*) OVER () AS n
  FROM rev
),
dec AS (
  SELECT (pos * 10) // n AS decile, rev_cents, n FROM ranked
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
       CAST(round(SUM(rev_cents)
                  / (1.0 * (SELECT SUM(rev_cents) FROM rev)), 6) AS DOUBLE)
         AS revenue_share
FROM dec
GROUP BY decile
ORDER BY decile
""",
)
def q_customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value decile table (decile 0 = top spenders):
    headcount, revenue, and revenue share per decile — the
    concentration view a monetization dashboard leads with ("the top
    10% drive X% of revenue").

    The decile assignment is ``(pos · 10) div n`` from the 0-based
    DISTRIBUTED rank (`global_row_number`, two-pass prefix sum — the
    same no-single-reducer machinery as `gini_revenue`), NOT a window
    ``ntile``: the floor formula is pure integer arithmetic, identical
    in both engines, and parallelizes (the oracle uses the naive
    row_number window over the same formula, proving the distributed
    rank equivalent).  Zero-order customers land in the bottom decile
    at 0 cents via the LEFT join.  Shares divide exact integer cent
    sums once."""
    from ..operators.packing import global_row_number

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")),
                F.lit(0),
            ).alias("rev_cents")
        )
        # global_row_number ranks ascending; rank on the NEGATED value
        # so decile 0 is the top-revenue bucket, custkey breaks ties
        .withColumn("neg_rev", -F.col("rev_cents"))
        # rev feeds the rank's three passes plus the grand-total and
        # headcount aggregates — five executions of the customer⋈orders
        # aggregate without the cut (14 scans in the before-plan).
        .localCheckpoint(eager=True)
    )
    ranked = global_row_number(rev, "neg_rev", "c_custkey", out_col="pos")
    tot = rev.agg(F.sum("rev_cents").alias("grand"))
    n = rev.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            F.expr("(pos * 10) div n").alias("decile"),
            "rev_cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev_cents").cast("long").alias("total_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "total_cents",
            F.expr(
                "CAST(round(total_cents / (1.0D * grand), 6) AS DOUBLE)"
            ).alias("revenue_share"),
        )
        .orderBy("decile")
    )


@query(
    "supplier_hhi_by_brand",
    oracle="""
WITH vol AS (
  SELECT p_brand, l_suppkey,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
brand AS (
  SELECT p_brand,
         COUNT(*) AS n_suppliers,
         SUM(cents) AS total_cents,
         SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sum_sq
  FROM vol GROUP BY p_brand
)
SELECT p_brand,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(total_cents AS BIGINT) AS total_cents,
       CAST(round(sum_sq / (1.0 * CAST(total_cents AS HUGEINT)
                                * CAST(total_cents AS HUGEINT)), 6)
            AS DOUBLE) AS hhi
FROM brand
ORDER BY p_brand
""",
)
def q_supplier_hhi_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per brand as a Herfindahl–Hirschman index
    — HHI = Σ (supplier share)² ∈ (0, 1], the antitrust-style
    single-supplier-risk metric a supply-chain dashboard tracks (1.0 =
    sole supplier).

    The squared-share sum is computed WITHOUT materializing any share:
    Σ(cᵢ/T)² = (Σcᵢ²)/T², so the whole statistic is exact integer
    cent arithmetic — Σcᵢ² rides DECIMAL(38,0)/HUGEINT (cᵢ² alone can
    pass int64 at corpus scale) — and ONE double division at the end.
    Scale shape: one fact-scan aggregate on (brand, supplier) with a
    broadcast part-dim join, then a brand-level re-aggregate; both
    partial-aggregatable, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    vol = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "cents"
            )
        )
    )
    brand = vol.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("cents").alias("total_cents"),
        F.sum(
            F.expr("CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))")
        ).alias("sum_sq"),
    )
    return brand.select(
        "p_brand",
        F.col("n_suppliers").cast("long"),
        F.col("total_cents").cast("long"),
        F.expr(
            "CAST(round(sum_sq / (1.0D * CAST(total_cents AS DECIMAL(38,0))"
            " * CAST(total_cents AS DECIMAL(38,0))), 6) AS DOUBLE)"
        ).alias("hhi"),
    ).orderBy("p_brand")


_PHRASE = ("hash", "join")


@query(
    "phrase_search_positional",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.x AS term, t.i - 1 AS pos
  FROM (SELECT doc_id,
               unnest(list_transform(
                 list_filter(string_split(text, ' '), x -> x <> ''),
                 (x, i) -> struct_pack(x := x, i := i))) AS t
        FROM documents)
),
a AS (SELECT doc_id, pos FROM toks WHERE term = '{_PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM toks WHERE term = '{_PHRASE[1]}')
SELECT a.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(a.pos) AS INT) AS first_pos
FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
ORDER BY a.doc_id
""",
)
def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ("hash join") via a POSITIONAL inverted
    index — the retrieval primitive BM25's bag-of-words scoring cannot
    express: adjacency.  Postings are (doc_id, position) lists per
    term; a phrase of n terms is an n-way equi-join of its terms'
    postings on (doc_id, pos + offset), here n=2.

    Scale shape: the posting stream is filtered to the phrase's terms
    BEFORE its only shuffle, so the join moves |postings(t1)| +
    |postings(t2)| narrow rows keyed by (doc_id, pos) — the corpus
    text never shuffles.  For a selective phrase the rarest term's
    postings would broadcast (AQE decides here); counts and first
    positions are partial-aggregatable.  Positions index NON-EMPTY
    tokens (same `tokens_of` filter as every text operator), pinned
    against the 1-based DuckDB `list_transform` ordinal by the value
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_of(F.col("text"))).alias("pos", "term")
    )
    a = toks.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    b = toks.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("pos").cast("int").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


#: 2024-01-31T00:00:00 UTC in µs — fixed "as of" anchor for recency
#: (one day after the fixture's last event; data-independent).
_RFM_END_US = 1_706_659_200 * 1_000_000


@query(
    "rfm_segments",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         ({_RFM_END_US} - max(epoch_us(ts))) // 86400000000 AS recency_days,
         count(*) AS freq,
         COALESCE(SUM(CAST(round(value * 100, 0) AS BIGINT)), 0) AS cents
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, user_id) - 1 AS r_pos,
         row_number() OVER (ORDER BY freq DESC, user_id) - 1 AS f_pos,
         row_number() OVER (ORDER BY cents DESC, user_id) - 1 AS m_pos,
         COUNT(*) OVER () AS n
  FROM per_user
)
SELECT CAST((r_pos * 5) // n AS INTEGER) AS r_score,
       CAST((f_pos * 5) // n AS INTEGER) AS f_score,
       CAST((m_pos * 5) // n AS INTEGER) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM ranked
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — every user scored 0-4 on Recency (days from
    last event to a fixed anchor; 0 = most recent), Frequency (0 =
    most active), and Monetary (0 = top spender), then rolled up to
    segment headcounts and revenue: the classic churn/value grid a
    lifecycle-marketing stack keys campaigns on.

    All three quintile assignments are ``(pos · 5) div n`` over the
    DISTRIBUTED two-pass prefix-sum rank (`global_row_number`) — same
    no-single-reducer machinery as `customer_ltv_deciles`, applied
    three times on total-order keys (metric, user_id); the oracle runs
    the naive row_number windows over the same integer formula, so the
    value match proves all three distributed ranks.  Recency anchors
    to a FIXED timestamp (not max(ts)) so scores are reproducible
    as-of; every metric is an exact integer."""
    from ..operators.packing import global_row_number

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.expr(
            f"({_RFM_END_US}L - max(unix_micros(ts))) div 86400000000L"
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("freq"),
        F.coalesce(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")), F.lit(0)
        ).alias("cents"),
    ).localCheckpoint(eager=True)
    # ^ per_user feeds THREE distributed ranks (3 passes each) plus the
    # headcount — ten executions of the events aggregate without the
    # cut (14 parquet scans in the before-plan).
    r = global_row_number(per_user, "recency_days", "user_id", out_col="r_pos")
    f_ranked = global_row_number(
        per_user.withColumn("neg_f", -F.col("freq")), "neg_f", "user_id",
        out_col="f_pos",
    ).select("user_id", "f_pos")
    m_ranked = global_row_number(
        per_user.withColumn("neg_m", -F.col("cents")), "neg_m", "user_id",
        out_col="m_pos",
    ).select("user_id", "m_pos")
    n = per_user.agg(F.count(F.lit(1)).alias("n"))
    return (
        r.join(f_ranked, "user_id")
        .join(m_ranked, "user_id")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr("CAST((r_pos * 5) div n AS INT)").alias("r_score"),
            F.expr("CAST((f_pos * 5) div n AS INT)").alias("f_score"),
            F.expr("CAST((m_pos * 5) div n AS INT)").alias("m_score"),
            "cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ------------------------------------------- naive Bayes classifier ---

#: Shared NB train-and-score CTE chain (through `score`) — the SQL twin
#: of `_nb_scores`; both NB queries' oracles append their own tail.
_NB_CORE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
cc AS (
  SELECT lang, term, COUNT(*) AS c FROM toks GROUP BY lang, term
),
ct AS (
  SELECT lang, COUNT(*) AS t FROM toks GROUP BY lang
),
v AS (SELECT COUNT(DISTINCT term) AS v FROM toks),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
prior AS (
  SELECT lang,
         CAST(round(ln(COUNT(*) / (1.0 * n.n_docs)), 6) AS DECIMAL(12,6)) AS plp
  FROM documents CROSS JOIN n
  GROUP BY lang, n.n_docs
),
contrib AS (
  SELECT tf.doc_id, ct.lang,
         tf.tf * CAST(round(ln((COALESCE(cc.c, 0) + 1) / (1.0 * (ct.t + v.v))), 6)
                      AS DECIMAL(12,6)) AS x
  FROM tf
  CROSS JOIN ct
  CROSS JOIN v
  LEFT JOIN cc ON cc.lang = ct.lang AND cc.term = tf.term
),
score AS (
  SELECT s.doc_id, s.lang, s.s + p.plp AS score
  FROM (SELECT doc_id, lang, SUM(x) AS s FROM contrib GROUP BY doc_id, lang) s
  JOIN prior p USING (lang)
)"""

_NB_SQL = _NB_CORE + """,
pred AS (
  SELECT doc_id, lang AS predicted_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM score
)
SELECT d.lang AS actual_lang, p.predicted_lang, COUNT(*) AS n_docs
FROM pred p JOIN documents d USING (doc_id)
WHERE p.rn = 1
GROUP BY d.lang, p.predicted_lang
ORDER BY actual_lang, predicted_lang
"""

_NB_CAL_SQL = _NB_CORE + """,
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM score
),
top2 AS (
  SELECT r1.doc_id, r1.lang AS predicted_lang,
         CAST(CAST(r1.score - r2.score AS DECIMAL(20,6)) * 1000000 AS BIGINT)
           AS margin_micro
  FROM ranked r1 JOIN ranked r2
    ON r1.doc_id = r2.doc_id AND r1.rn = 1 AND r2.rn = 2
),
labeled AS (
  SELECT t.doc_id, t.margin_micro,
         CASE WHEN t.predicted_lang = d.lang THEN 1 ELSE 0 END AS correct
  FROM top2 t JOIN documents d USING (doc_id)
),
tot2 AS (SELECT COUNT(*) AS n FROM labeled),
pos AS (
  SELECT margin_micro, correct,
         row_number() OVER (ORDER BY margin_micro, doc_id) - 1 AS p
  FROM labeled
)
SELECT CAST((pos.p * 10) // tot2.n AS INT) AS margin_decile,
       COUNT(*) AS n_docs,
       CAST(SUM(correct) AS BIGINT) AS n_correct,
       CAST((SUM(correct) * 1000000) // COUNT(*) AS BIGINT) AS acc_ppm,
       MIN(margin_micro) AS margin_min_micro,
       MAX(margin_micro) AS margin_max_micro
FROM pos CROSS JOIN tot2
GROUP BY 1
ORDER BY 1
"""


def _nb_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, score) for the multinomial NB classifier — the
    shared train-and-score core of `nb_lang_confusion` (argmax →
    confusion matrix) and `nb_margin_calibration` (top-2 margin →
    calibration).  Scores are exact DECIMAL sums of 6-dp-quantized
    log-probs; see `q_nb_lang_confusion` for the plan-shape notes."""
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens_of(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cc = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("c"))
    ct = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("t"))
    v = toks.agg(F.count_distinct("term").alias("v"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    prior = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            F.round(F.log(F.col("n_l") / (F.lit(1.0) * F.col("n_docs"))), 6)
            .cast("decimal(12,6)")
            .alias("plp"),
        )
    )
    lp = F.round(
        F.log((F.coalesce(F.col("c"), F.lit(0)) + 1)
              / (F.lit(1.0) * (F.col("t") + F.col("v")))),
        6,
    ).cast("decimal(12,6)")
    contrib = (
        tf.crossJoin(F.broadcast(ct))          # k class rows per tf row
        .crossJoin(F.broadcast(v))
        .join(cc, ["lang", "term"], "left")
        .select("doc_id", "lang", (F.col("tf") * lp).alias("x"))
    )
    return (
        contrib.groupBy("doc_id", "lang")
        .agg(F.sum("x").alias("s"))
        .join(F.broadcast(prior), "lang")
        .select("doc_id", "lang", (F.col("s") + F.col("plp")).alias("score"))
    )


@query("nb_lang_confusion", oracle=_NB_SQL)
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes classifier trained and self-scored on the
    corpus (labels = ``lang``, features = token counts, Laplace +1
    smoothing), reported as the actual x predicted confusion matrix —
    the distributed train-then-score loop every bag-of-words classifier
    (spam/quality/topic gates in a data pipeline) runs.

    Plan at scale: training is two keyed aggregates — per-(class,term)
    counts and per-class totals — plus one COUNT(DISTINCT term) for the
    vocabulary size; all three are map-side-combining shuffles on slim
    keys.  Scoring expands each (doc, term, tf) row by the k class
    labels (a k-row broadcast join, never a cartesian against data) and
    LEFT-joins the class-term counts on (term, class) — the single
    vocab-keyed shuffle, AQE-skew-splittable on stopword-ish terms.
    Per-(doc,class) scores are one aggregate; the per-doc argmax is a
    window partitioned by doc_id over exactly k rows.  The confusion
    matrix is a k x k final aggregate — aggregate-sized output only.

    Float discipline: each smoothed log-prob ln((c+1)/(T+V)) is rounded
    to 6 dp and cast DECIMAL(12,6) BEFORE the tf multiply, and scores
    accumulate as exact decimals, so cross-engine sum order cannot
    reorder the argmax; the argmax tie-breaks on (score DESC, lang) — a
    total order."""
    docs = load_table(spark, sf_dir, "documents")
    score = _nb_scores(docs)
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    pred = (
        score.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted_lang"))
    )
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(F.col("lang").alias("actual_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


# --------------------------------------------- ABC / Pareto classes ---

_ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey AS part_id,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
           AS cents
  FROM lineitem
  GROUP BY l_partkey
),
tot AS (SELECT SUM(cents) AS total FROM per_part),
cum AS (
  SELECT part_id, cents,
         SUM(cents) OVER (ORDER BY cents DESC, part_id
                          ROWS UNBOUNDED PRECEDING) AS cum_cents
  FROM per_part
),
classed AS (
  SELECT part_id, cents,
         CASE WHEN cum_cents * 5 <= total * 4 THEN 'A'
              WHEN cum_cents * 20 <= total * 19 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum CROSS JOIN tot
)
SELECT abc_class,
       COUNT(*) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS class_cents,
       CAST((SUM(cents) * 1000000) // (SELECT total FROM tot) AS BIGINT)
         AS share_ppm
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


@query("abc_classification", oracle=_ABC_SQL)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by revenue,
    class A while the cumulative share stays <= 80%, B to 95%, C after —
    the classic warehouse segmentation driving stocking policy.

    Scale shape: revenue per part is one map-side-combining aggregate in
    exact integer cents; the global cumulative sum uses the distributed
    two-pass prefix-sum machinery (`operators/packing.sequence_offsets`
    on the negated-revenue order) — NEVER the single-reducer global
    window the oracle is allowed to use; boundaries are exact integer
    cross-multiplications (cum*5 <= total*4), so no float share ever
    decides a class.  Output is the 3-row class rollup.  ``per_part``
    (one narrow row per part) is eagerly cut (r11): it roots THREE
    subtree executions — both prefix-sum passes plus the grand total —
    and without the cut each re-ran the full lineitem scan+aggregate
    (6 parquet scans in the before-plan, see plans/r11/).

    Cut trade-off at 100 TB (ADVICE r11): ``localCheckpoint`` stores
    the cut unreplicated on executors — an executor loss fails the
    query instead of recomputing — and ``eager=True`` runs the scan at
    DataFrame-CONSTRUCTION time (tooling that only builds/explains the
    query pays it).  Both are the right local/bench trade for this
    part-count-bounded frame; a long-running cluster job should prefer
    reliable ``checkpoint()`` or ``persist()`` (recompute on loss)."""
    from ..operators.packing import sequence_offsets

    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy(F.col("l_partkey").alias("part_id"))
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("long")
            ).alias("cents")
        )
        .withColumn("neg_cents", -F.col("cents"))
        .localCheckpoint(eager=True)
    )
    cum = sequence_offsets(
        per_part, "neg_cents", "cents", tiebreak_col="part_id"
    ).withColumn("cum_cents", F.col("start_offset") + F.col("cents"))
    tot = per_part.agg(F.sum("cents").alias("total"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        "part_id",
        "cents",
        "total",
        F.when(F.col("cum_cents") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum_cents") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
            F.any_value(F.col("total")).alias("_total"),
        )
        .select(
            "abc_class",
            "n_parts",
            "class_cents",
            F.expr("CAST((class_cents * 1000000) div _total AS BIGINT)")
            .alias("share_ppm"),
        )
        .orderBy("abc_class")
    )


@query("nb_margin_calibration", oracle=_NB_CAL_SQL)
def q_nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the NB classifier: bucket documents into
    DECILES of the top-1 vs top-2 score margin and report accuracy per
    decile — the is-confidence-meaningful check (a well-behaved
    classifier is right more often where its margin is wide) that
    decides whether margin thresholds can gate auto-labeling.

    Exactness: scores are exact decimals (see `_nb_scores`), so the
    margin is an exact DECIMAL difference scaled to integer micro-units;
    decile boundaries come from the DISTRIBUTED prefix-sum global rank
    over (margin_micro, doc_id) — a total integer order, never a float
    quantile; accuracy is integer parts-per-million.  Scale shape: the
    top-2 margin is ONE partial-aggregatable pass over the scored frame
    (`sort_array(collect_list)` of the k-per-doc lang scores — k is the
    language-domain size, never corpus-sized), then one global-rank
    pass and a 10-row rollup.  The r5 form ranked with a window and
    re-joined the rn==1/rn==2 branches, which evaluated the whole
    `_nb_scores` subtree once per branch (39 scans in the plan); the
    single aggregate halves that."""
    from ..operators.packing import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    score = _nb_scores(docs)
    # (-score, lang) ascending == (score desc, lang asc) — the exact
    # tie-break order of the r5 row_number window; decimal negation is
    # exact, so the margin stays an exact decimal difference.
    pair = F.sort_array(
        F.collect_list(F.struct((-F.col("score")).alias("ns"), F.col("lang")))
    )
    top2 = (
        score.groupBy("doc_id")
        .agg(pair.alias("ss"))
        .select(
            "doc_id",
            F.col("ss")[0]["lang"].alias("predicted_lang"),
            (
                (F.col("ss")[1]["ns"] - F.col("ss")[0]["ns"]).cast("decimal(20,6)")
                * 1_000_000
            ).cast("long").alias("margin_micro"),
        )
    )
    from ..operators.dedup import _scoped_persist

    # one small row per doc; persisted because global_row_number's
    # two-pass prefix sum plus the `tot` scalar would otherwise each
    # re-evaluate the whole _nb_scores subtree
    labeled = _scoped_persist(
        top2.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id",
            "margin_micro",
            F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)
            .alias("correct"),
        )
    )
    pos = global_row_number(labeled, "margin_micro", "doc_id", out_col="p")
    tot = labeled.agg(F.count(F.lit(1)).alias("n"))
    return (
        pos.crossJoin(F.broadcast(tot))
        .select(
            F.expr("CAST((p * 10) div n AS INT)").alias("margin_decile"),
            "correct",
            "margin_micro",
        )
        .groupBy("margin_decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("correct").alias("n_correct"),
            F.expr(
                "CAST((SUM(correct) * 1000000) div COUNT(*) AS BIGINT)"
            ).alias("acc_ppm"),
            F.min("margin_micro").alias("margin_min_micro"),
            F.max("margin_micro").alias("margin_max_micro"),
        )
        .orderBy("margin_decile")
    )


# ------------------------------------------------- tokenizer fertility ---

def _bpe_fertility_oracle() -> str:
    return f"""{_bpe_ctes(_BPE_N)},
sv AS (
  SELECT word,
         len(list_filter(string_split(seg, chr(31)||chr(31)), x -> x <> ''))
           AS n_sym
  FROM s{_BPE_N}
),
tok AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS word
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
       CAST(round(SUM(n_sym) / (1.0 * count(*)), 6) AS DOUBLE) AS fertility
FROM tok JOIN sv USING (word)
GROUP BY lang
ORDER BY lang
"""


@query("bpe_fertility", oracle=_bpe_fertility_oracle())
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: symbols emitted per word by
    the learned BPE merges — THE standard multilingual-tokenizer
    quality metric (a language whose fertility stays near its raw
    character count is being under-served by the merge table; budget
    planners price corpora in post-merge symbols, not words).

    Scale shape: identical to `bpe_encode_corpus` — train on the
    once-scanned word-count table, then broadcast the |vocab|-sized
    (word, n_sym) segmentation onto the exploded corpus; the only
    corpus-sized shuffle is the final per-language aggregate, and the
    counts are exact integers with one rounded division at output."""
    from ..operators.bpe import bpe_train, bpe_word_counts

    docs = load_table(spark, sf_dir, "documents")
    words = bpe_word_counts(docs).localCheckpoint(eager=True)
    _, seg = bpe_train(words, _BPE_N)
    sv = seg.select("word", F.size(F.split("seg_str", " ")).alias("n_sym"))
    toks = docs.select("lang", F.explode(tokens_of(F.col("text"))).alias("word"))
    return (
        toks.join(F.broadcast(sv), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
            F.round(F.sum("n_sym") / (F.lit(1.0) * F.count(F.lit(1))), 6)
            .cast("double")
            .alias("fertility"),
        )
        .orderBy("lang")
    )


@query(
    "lorenz_curve",
    oracle="""
WITH rev AS (
  SELECT c_custkey,
         COALESCE(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)), 0)
           AS rev_cents
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
),
ranked AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents, c_custkey) AS i
  FROM rev
),
tot AS (SELECT count(*) AS n, SUM(CAST(rev_cents AS HUGEINT)) AS t FROM ranked),
dec AS (
  SELECT ((i - 1) * 10) // n + 1 AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         SUM(CAST(rev_cents AS HUGEINT)) AS dc
  FROM ranked CROSS JOIN tot GROUP BY 1, n
)
SELECT CAST(decile AS INTEGER) AS decile, n_customers,
       CAST(dc AS BIGINT) AS decile_cents,
       CAST((SUM(dc) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             * 1000000) // (SELECT t FROM tot) AS BIGINT) AS cum_share_ppm
FROM dec ORDER BY decile
""",
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue in deciles — the curve whose
    area `gini_revenue` summarizes, reported as exact cumulative
    revenue share (integer parts-per-million: NO float anywhere, the
    share is (cum·10⁶) div total).

    Same scale-critical rank as Gini: ascending (revenue, custkey)
    positions come from the DISTRIBUTED two-pass prefix-sum
    `global_row_number` (no one-reducer window); the oracle keeps the
    naive row_number, proving the distributed rank equivalent once
    more on a different downstream.  Decile assignment is the integer
    ((pos·10) div n) form — no engine ntile semantics — and the
    cumulative window runs on 10 rows."""
    from ..operators.packing import global_row_number

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")),
                F.lit(0),
            ).alias("rev_cents")
        )
        # rev feeds the rank's boundary collect + two prefix-sum passes,
        # and ranked feeds two consumers — without the cuts the
        # customer⋈orders aggregate ran 4x (16 parquet scans in the
        # before-plan).
        .localCheckpoint(eager=True)
    )
    ranked = global_row_number(
        rev, "rev_cents", "c_custkey", out_col="pos"
    ).localCheckpoint(eager=True)
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("t"),
    )
    dec = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.expr("CAST((pos * 10) div n + 1 AS INT)").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("dc"),
            F.first("t").alias("t"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.withColumn("cum", F.sum("dc").over(w))
        .select(
            "decile",
            "n_customers",
            F.col("dc").cast("long").alias("decile_cents"),
            F.expr(
                "CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


#: PMI prunes: a term must appear in >= 5 docs to enter the pair
#: expansion (the A-Priori-style item prune that bounds the per-doc
#: quadratic at heavy-tailed vocabularies), and a pair needs >= 5
#: co-occurrences to be reported (PMI of rare pairs is noise).
_PMI_MIN_DF = 5
_PMI_MIN_CO = 5


@query(
    "term_pmi_top",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY term),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM dt),
ft AS (SELECT term, c FROM df WHERE c >= {_PMI_MIN_DF}),
fd AS (SELECT doc_id, term FROM dt JOIN ft USING (term)),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM fd a JOIN fd b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_both, fa.c AS n_a, fb.c AS n_b,
       CAST(round(ln((1.0 * n * n_both) / (fa.c * fb.c)), 6) AS DOUBLE)
         AS pmi
FROM pairs
JOIN ft fa ON term_a = fa.term
JOIN ft fb ON term_b = fb.term
CROSS JOIN tot
WHERE n_both >= {_PMI_MIN_CO}
ORDER BY pmi DESC, term_a, term_b
LIMIT 20
""",
)
def q_term_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by document-level pointwise mutual information
    — which terms co-occur in documents far beyond chance (PMI =
    ln(N·c_ab / (c_a·c_b)) over presence counts), the association
    measure that finds phrases/topics where raw co-occurrence counts
    just find frequent terms.

    Scale shape: the A-Priori discipline of `frequent_brand_pairs`
    applied to text — terms below the df floor are pruned via a
    broadcast frequent-term list BEFORE the per-document pair
    expansion (a Catalyst sorted-set transform, O(k²) per doc with k
    bounded by the pruned vocabulary, never corpus²); document
    frequencies are a vocabulary-sized broadcast.  PMI's log argument
    is an exact integer ratio; one ln per OUTPUT pair, 6-dp-rounded
    with the pair itself as tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    # dt roots THREE consumers (document frequencies, the corpus doc
    # count, and the pruned per-doc term sets) — the checkpoint bounds
    # the tokenize→explode→distinct corpus pass to one run.
    dt = (
        docs.select("doc_id", F.explode(tokens_of(F.col("text"))).alias("term"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ft = df.filter(F.col("c") >= _PMI_MIN_DF)
    tot = dt.agg(F.count_distinct("doc_id").alias("n"))
    fd = dt.join(F.broadcast(ft.select("term")), "term")
    sets = fd.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term")).alias("ts")
    )
    pair_expr = F.expr(
        "flatten(transform(ts, x -> transform(filter(ts, y -> y > x), "
        "y -> struct(x AS term_a, y AS term_b))))"
    )
    pairs = (
        sets.select(F.explode(pair_expr).alias("p"))
        .select("p.term_a", "p.term_b")
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _PMI_MIN_CO)
    )
    fa = F.broadcast(ft.select(F.col("term"), F.col("c").alias("n_a")))
    fb = F.broadcast(ft.select(F.col("term"), F.col("c").alias("n_b")))
    return (
        pairs.join(fa, pairs["term_a"] == fa["term"])
        .drop("term")
        .join(fb, pairs["term_b"] == fb["term"])
        .drop("term")
        .crossJoin(F.broadcast(tot))
        .select(
            "term_a",
            "term_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    (F.lit(1.0) * F.col("n") * F.col("n_both"))
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            )
            .cast("double")
            .alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(20)
    )


@query(
    "text_zipf_fit",
    oracle="""
WITH tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY term
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS i FROM tf
),
pts AS (
  SELECT CAST(round(ln(i), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
  FROM pts
)
SELECT n AS n_terms,
       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                  6) AS DOUBLE)
         AS zipf_slope,
       CAST(round((CAST(sy AS DOUBLE)
                   - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * CAST(sx AS DOUBLE)) / n, 6) AS DOUBLE)
         AS ln_c0
FROM m
""",
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term-frequency distribution: the
    OLS slope of ln(frequency) against ln(rank) — natural text sits
    near −1; a corpus drifting toward 0 (too flat) or below −1.5 (too
    peaked) flags template spam or vocabulary collapse, which is why
    curation monitors track the exponent per release.

    Determinism: both logs are 6-dp-quantized per VOCABULARY row
    before any arithmetic; the OLS moments are exact DECIMAL(38,12)
    sums of 12-dp products (order-free at any parallelism, the
    `trend_event_values` discipline), and slope/intercept are IEEE
    divisions of exactly-agreed decimals.  The rank window runs on
    the vocabulary frame, never the corpus; the corpus prices one
    token-count aggregate.

    Overflow-safe at any vocabulary scale: the exact DECIMAL(38,12)
    sums are cast to DOUBLE BEFORE the OLS co-moment products (the
    `cusum_changepoint` discipline), so the combination step can
    never breach the 38-digit decimal width that Spark's non-ANSI
    decimal arithmetic would silently NULL past; both engines combine
    the same IEEE operands with the same tree."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens_of(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.orderBy(F.col("c").desc(), "term")
    ranked = tf.select("c", F.row_number().over(wr).alias("i"))
    pts = ranked.select(
        F.expr("CAST(round(ln(i), 6) AS DECIMAL(18,6))").alias("x"),
        F.expr("CAST(round(ln(c), 6) AS DECIMAL(18,6))").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,12))")).alias("sxy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,12))")).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),"
            " 6) AS DOUBLE)"
        ).alias("zipf_slope"),
        F.expr(
            "CAST(round((CAST(sy AS DOUBLE)"
            " - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            "   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            "   * CAST(sx AS DOUBLE)) / n, 6) AS DOUBLE)"
        ).alias("ln_c0"),
    )


#: Burstiness floor: a term must appear in >= 10 documents for its
#: variance-to-mean ratio to be meaningful (rare terms are trivially
#: "bursty").
_BURST_MIN_DF = 10


@query(
    "term_burstiness_top",
    oracle=f"""
WITH tc AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id,
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  ) GROUP BY doc_id, term
),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tc),
m AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS df,
         SUM(c) AS sc,
         SUM(CAST(c AS HUGEINT) * c) AS scc
  FROM tc GROUP BY term
)
SELECT term, df, CAST(sc AS BIGINT) AS n_tokens,
       CAST(round((CAST(nd AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
                  / (CAST(nd AS DOUBLE) * sc), 6) AS DOUBLE) AS burstiness
FROM m CROSS JOIN n
WHERE df >= {_BURST_MIN_DF}
ORDER BY burstiness DESC, term
LIMIT 15
""",
)
def q_term_burstiness_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bursty terms by the variance-to-mean ratio of per-document
    counts (zeros included) — Church–Gale burstiness: a term whose
    occurrences CLUMP in few documents (VMR ≫ 1) is topical/boilerplate,
    one spread evenly (VMR ≈ 1, Poisson) is function-word-like.  The
    dispersion axis TF-IDF and Zipf don't capture, used to pick
    keyword candidates and spot template contamination.

    With zeros included the VMR reduces to exact integer moments over
    just the NONZERO rows — VMR = (N·Σc² − (Σc)²)/(N·Σc) — so absent
    documents never need materializing (the corpus-sized zero-fill the
    naive form implies).  One (doc, term) count aggregate, one
    vocabulary rollup; the exact HUGEINT/DECIMAL(38,0) sums are cast
    to DOUBLE before the N·Σc² − (Σc)² products (overflow-safe at any
    scale), one division per output row rounded at 6 dp with the term
    as tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", F.explode(tokens_of(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = tc.agg(F.count_distinct("doc_id").alias("nd"))
    dec = "decimal(38,0)"
    m = tc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c").cast(dec)).alias("sc"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("scc"),
    )
    return (
        m.filter(F.col("df") >= _BURST_MIN_DF)
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("sc").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(round((CAST(nd AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)"
                " / (CAST(nd AS DOUBLE) * sc), 6) AS DOUBLE)"
            ).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "term")
        .limit(15)
    )


@query(
    "simpson_diversity_by_source",
    oracle="""
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(round(SUM(CAST(c AS HUGEINT) * (c - 1))
                  / (1.0 * SUM(c) * (SUM(c) - 1)), 6) AS DOUBLE)
         AS simpson_lambda,
       CAST(round((1.0 * SUM(c) * (SUM(c) - 1))
                  / SUM(CAST(c AS HUGEINT) * (c - 1)), 6) AS DOUBLE)
         AS inverse_simpson
FROM counts
GROUP BY source
ORDER BY source
""",
)
def q_simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity per source — λ = Σc(c−1)/(N(N−1)), the
    probability two tokens drawn without replacement are the SAME
    term, plus its inverse (effective vocabulary size).  The
    transcendental-free sibling of `entropy_by_source`: where the
    Shannon path needs quantized-ln discipline, Simpson is EXACT
    integer arithmetic end to end — two HUGEINT/DECIMAL(38,0) sums and
    one IEEE division per source at output — which makes it the
    diversity metric to prefer when bit-stable cross-engine
    reproducibility matters more than the information-theoretic
    reading.  Same two partial-aggregatable shuffles as the entropy
    query."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens_of(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("c").cast(dec) * (F.col("c") - 1)).alias("rep"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.expr(
                "CAST(round(rep / (1.0D * n_tokens * (n_tokens - 1)), 6)"
                " AS DOUBLE)"
            ).alias("simpson_lambda"),
            F.expr(
                "CAST(round((1.0D * n_tokens * (n_tokens - 1)) / rep, 6)"
                " AS DOUBLE)"
            ).alias("inverse_simpson"),
        )
        .orderBy("source")
    )


#: Collocation floor: an adjacent bigram needs >= 25 occurrences to be
#: ranked (below that PMI is dominated by noise).
_COLLOC_MIN_C = 25


@query(
    "collocation_pmi_bigrams",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.pos, t.term FROM (
    SELECT doc_id,
           unnest(list_transform(
             list_filter(string_split(text, ' '), x -> x <> ''),
             (x, i) -> struct_pack(term := x, pos := i)
           )) AS t
    FROM documents
  )
),
uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY term),
bi AS (
  SELECT a.term AS w1, b.term AS w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS nb FROM bi)
SELECT w1, w2, c_ab, ua.c AS c1, ub.c AS c2,
       CAST(round(ln((1.0 * nb * c_ab) / (ua.c * ub.c)), 6) AS DOUBLE) AS pmi
FROM bi JOIN uni ua ON w1 = ua.term JOIN uni ub ON w2 = ub.term
CROSS JOIN tot
WHERE c_ab >= {_COLLOC_MIN_C}
ORDER BY pmi DESC, w1, w2
LIMIT 20
""",
)
def q_collocation_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top ADJACENT-bigram collocations by PMI — the phrase detector
    ("new york"-style units) tokenizer and vocabulary pipelines run
    before merging multiword units; the adjacency-sensitive
    complement to `term_pmi_top`'s document-level co-presence (and to
    raw `vocab_bigrams` counts, which surface frequent pairs, not
    surprising ones).

    Adjacent pairs come from one posexplode + self-free slide
    (position equi-join in the oracle, a lag-free array zip on the
    Spark side) — O(tokens), no quadratic anywhere.  Counts are exact
    integers; one ln of an exact ratio per OUTPUT row, 6-dp rounded
    with the pair as tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens_of(F.col("text")).alias("ts"))
    uni = (
        toked.select(F.explode("ts").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = toked.select(
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                " (x, i) -> struct(x AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    tot = bi.agg(F.sum("c_ab").cast("long").alias("nb"))
    ua = F.broadcast(uni.select(F.col("term"), F.col("c").alias("c1")))
    ub = F.broadcast(uni.select(F.col("term"), F.col("c").alias("c2")))
    return (
        bi.filter(F.col("c_ab") >= _COLLOC_MIN_C)
        .join(ua, bi["w1"] == ua["term"])
        .drop("term")
        .join(ub, bi["w2"] == ub["term"])
        .drop("term")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c1",
            "c2",
            F.round(
                F.log(
                    (F.lit(1.0) * F.col("nb") * F.col("c_ab"))
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            )
            .cast("double")
            .alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "record_linkage_blocking",
    oracle="""
WITH clean AS (
  SELECT c_custkey, c_name, c_mktsegment, right(c_name, 3) AS blk
  FROM customer
),
dirty AS (
  SELECT c_custkey AS d_custkey,
         replace(c_name, 'Customer#', 'Custmer#') AS d_name,
         right(c_name, 3) AS blk
  FROM customer WHERE c_custkey % 7 = 0
),
cand AS (
  SELECT c.c_custkey, c.c_mktsegment, d.d_custkey,
         levenshtein(c.c_name, d.d_name) AS lev
  FROM clean c JOIN dirty d USING (blk)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN lev <= 2 AND c_custkey = d_custkey
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       round(sum(CASE WHEN lev <= 2 AND c_custkey = d_custkey
                      THEN 1 ELSE 0 END)
             / CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS DOUBLE),
             6) AS match_precision
FROM cand
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_record_linkage_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD LINKAGE with blocking — entity resolution, the
    Fellegi-Sunter pipeline shape: a deterministically "dirtied"
    re-registration feed (every 7th customer, name typo
    Customer→Custmer) must be matched back to the master table.
    Blocking key = the name's last 3 digits (typo-invariant), so the
    O(n_clean × n_dirty) comparison space collapses to Σ_blk
    |clean_blk|×|dirty_blk|; within a block, similarity =
    Levenshtein distance, match iff lev <= 2.  Reports per-segment
    candidate volume, matches, true matches (same custkey), and
    precision — the threshold-tuning table a linkage run produces.
    The lev<=2 band deliberately admits near-collisions (digit
    neighbours inside a block), so precision is a real number, not 1.

    Scale: ONE hash equi-join on the block key (broadcast when the
    dirty feed is an incremental batch), comparisons bounded per block
    by key design (~n/1000 here) — never a cross join; Levenshtein
    runs JVM-side (Catalyst `levenshtein`), no Python boundary."""
    cust = load_table(spark, sf_dir, "customer")
    blk = F.expr("right(c_name, 3)").alias("blk")
    clean = cust.select("c_custkey", "c_name", "c_mktsegment", blk)
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("d_custkey"),
        F.regexp_replace("c_name", "Customer#", "Custmer#").alias("d_name"),
        blk,
    )
    cand = clean.join(dirty, "blk").select(
        "c_custkey",
        "c_mktsegment",
        "d_custkey",
        F.levenshtein("c_name", "d_name").alias("lev"),
    )
    matched = F.when(F.col("lev") <= 2, 1).otherwise(0)
    true_m = F.when(
        (F.col("lev") <= 2) & (F.col("c_custkey") == F.col("d_custkey")), 1
    ).otherwise(0)
    return (
        cand.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(matched).cast("long").alias("n_matched"),
            F.sum(true_m).cast("long").alias("n_true"),
            F.round(
                F.sum(true_m) / F.sum(matched).cast("double"), 6
            ).alias("match_precision"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "join_cardinality_estimate",
    oracle=f"""
WITH v AS (
  SELECT CAST(user_id AS VARCHAR) AS term, count(*) AS cnt
  FROM events WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT CAST(user_id AS VARCHAR) AS term, count(*) AS cnt
  FROM events WHERE event_type = 'click' GROUP BY 1
),
rows_ AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS i),
va AS (
  SELECT i,
         CAST(concat('0x', substr(md5(term || '#' || i), 1, 8)) AS BIGINT)
           % {_CMS_WIDTH} AS bucket,
         SUM(cnt) AS cell
  FROM v CROSS JOIN rows_ GROUP BY 1, 2
),
cb AS (
  SELECT i,
         CAST(concat('0x', substr(md5(term || '#' || i), 1, 8)) AS BIGINT)
           % {_CMS_WIDTH} AS bucket,
         SUM(cnt) AS cell
  FROM c CROSS JOIN rows_ GROUP BY 1, 2
),
dots AS (
  SELECT va.i, SUM(va.cell * cb.cell) AS dot
  FROM va JOIN cb ON va.i = cb.i AND va.bucket = cb.bucket
  GROUP BY va.i
),
est AS (SELECT MIN(dot) AS est_pairs FROM dots),
truth AS (
  SELECT SUM(v.cnt * c.cnt) AS true_pairs FROM v JOIN c USING (term)
)
SELECT CAST(true_pairs AS BIGINT) AS true_pairs,
       CAST(est_pairs AS BIGINT) AS est_pairs,
       CAST(est_pairs - true_pairs AS BIGINT) AS overestimate,
       CAST(round((est_pairs - true_pairs) * 100.0 / true_pairs, 4)
            AS DOUBLE) AS rel_err_pct
FROM truth CROSS JOIN est
""",
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from mergeable sketches — the cost-model
    primitive: |views ⋈ clicks on user_id| estimated as the count-min
    INNER PRODUCT (min over the {_CMS_DEPTH} hash rows of
    Σ_bucket A[i,b]·B[i,b] — the AGMS/CMS estimator, a one-sided
    overestimate exactly like the point query), next to the exact
    per-key Σ n_A(k)·n_B(k) truth.  This is how an optimizer prices a
    skewed join WITHOUT scanning either side's key distribution: each
    side's sketch is {_CMS_DEPTH}×{_CMS_WIDTH} cells built in one
    combinable aggregate, and sketches built independently (per
    partition, per day, per source) ADD before the product — the
    pre-join statistics a 100 TB lake keeps per file/partition anyway.

    Plan: two conditional per-key aggregates → two cell grids (the
    shuffle key is (row, bucket), never the user domain) → one
    {_CMS_DEPTH}×{_CMS_WIDTH}-row equi-join and a {_CMS_DEPTH}-row
    min.  All integer arithmetic end to end."""
    from ..operators.sketches import cms_cells

    events = load_table(spark, sf_dir, "events")
    sides = {}
    for name, etype in (("v", "view"), ("c", "click")):
        sides[name] = (
            events.filter(F.col("event_type") == etype)
            .groupBy(F.col("user_id").cast("string").alias("term"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    va = cms_cells(sides["v"])
    cb = cms_cells(sides["c"])
    dots = (
        va.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.i"))
        .agg(F.sum(F.col("a.cell") * F.col("b.cell")).alias("dot"))
    )
    est = dots.agg(F.min("dot").alias("est_pairs"))
    truth = (
        sides["v"]
        .alias("v")
        .join(sides["c"].alias("c"), "term")
        .agg(F.sum(F.col("v.cnt") * F.col("c.cnt")).alias("true_pairs"))
    )
    return truth.crossJoin(F.broadcast(est)).select(
        F.col("true_pairs").cast("long").alias("true_pairs"),
        F.col("est_pairs").cast("long").alias("est_pairs"),
        (F.col("est_pairs") - F.col("true_pairs"))
        .cast("long")
        .alias("overestimate"),
        F.round(
            (F.col("est_pairs") - F.col("true_pairs"))
            * 100.0
            / F.col("true_pairs"),
            4,
        ).alias("rel_err_pct"),
    )


#: RBO persistence parameter (Webber et al. 2010's usual choice).
_RBO_P = 0.9


@query(
    "rank_biased_overlap",
    oracle=f"""
WITH {_bm25_ctes()},
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
  FROM bm25
  QUALIFY lex_rank <= {_RRF_DEPTH}
),
qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id = {_RRF_QUERY_ID}
),
cos AS (
  SELECT e.vec_id AS doc_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6)
           AS cos_sim
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> {_RRF_QUERY_ID}
),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
  FROM cos
  QUALIFY sem_rank <= {_RRF_DEPTH}
),
both_ AS (
  SELECT l.doc_id, GREATEST(l.lex_rank, s.sem_rank) AS first_depth
  FROM lex l JOIN sem s USING (doc_id)
),
grid AS (SELECT unnest(generate_series(1, {_RRF_DEPTH})) AS d),
ovl AS (
  SELECT g.d,
         (SELECT count(*) FROM both_ b WHERE b.first_depth <= g.d)
           AS overlap
  FROM grid g
),
terms AS (
  SELECT d, overlap,
         CAST(round(power({_RBO_P}, d - 1) * overlap / d
                    * 1000000000000.0) AS BIGINT) AS term_pico
  FROM ovl
),
total AS (SELECT sum(term_pico) AS tp FROM terms)
SELECT d AS depth,
       CAST(overlap AS BIGINT) AS overlap,
       CAST(round(overlap / (1.0 * d), 6) AS DOUBLE) AS agreement,
       CAST(round((1.0 - {_RBO_P}) * tp / 1000000000000.0, 6) AS DOUBLE)
         AS rbo_p09
FROM terms CROSS JOIN total
ORDER BY d
""",
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010, p={_RBO_P})
    between the LEXICAL (BM25) and SEMANTIC (cosine) rankings of the
    same query — the top-weighted "how much do my two retrievers
    agree" metric a hybrid search stack tracks per deployment: RBO near
    1 means the expensive semantic leg adds nothing; near 0 means the
    fusion is load-bearing.  Truncated at depth {_RRF_DEPTH} (no
    extrapolation term — reported as RBO_MIN of the prefix).  Output:
    the per-depth overlap/agreement curve with the scalar RBO
    alongside.

    Shape: both rankings are the RRF queries' own top-{_RRF_DEPTH}
    legs (TakeOrdered-bounded, never corpus-sized); a doc in both
    lists contributes from depth max(rank_a, rank_b) onward, so the
    per-depth overlap curve is one broadcast theta-join of the
    {_RRF_DEPTH}-row grid against the intersection — no per-depth
    rescan.  Per-depth geometric terms are integer-quantized
    (picounits) before the sum, so association order can never flip
    the hash."""
    from ..operators.similarity import brute_force_topk

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.col("_s").desc(), F.col("doc_id"))),
        )
        .select("doc_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = brute_force_topk(emb, [_RRF_QUERY_ID], k=_RRF_DEPTH).select(
        F.col("cand_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    both = lex.join(sem, "doc_id").select(
        F.greatest("lex_rank", "sem_rank").alias("first_depth")
    )
    grid = spark.range(1, _RRF_DEPTH + 1).select(F.col("id").alias("d"))
    overlaps = (
        grid.join(F.broadcast(both), F.col("first_depth") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("first_depth").alias("overlap"))
    )
    # terms (≤ depth rows) roots both the scalar RBO total and the
    # output rows — without a cut each consumer re-runs the WHOLE
    # BM25-scoring + brute-force-cosine pipeline above (the before-plan
    # carried 28 parquet scans / 36 Exchanges for a 20-row result).
    terms = overlaps.select(
        "d",
        "overlap",
        F.round(
            F.pow(F.lit(_RBO_P), F.col("d") - 1)
            * F.col("overlap")
            / F.col("d")
            * 1e12,
            0,
        )
        .cast("long")
        .alias("term_pico"),
    ).localCheckpoint(eager=True)
    total = terms.agg(F.sum("term_pico").alias("tp"))
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            F.col("d").cast("long").alias("depth"),
            F.col("overlap").cast("long").alias("overlap"),
            F.round(F.col("overlap") / (1.0 * F.col("d")), 6).alias("agreement"),
            F.round((1.0 - _RBO_P) * F.col("tp") / 1e12, 6).alias("rbo_p09"),
        )
        .orderBy("depth")
    )


@query(
    "topk_churn_weekly",
    oracle="""
WITH weekly AS (
  SELECT date_trunc('week', l_shipdate) AS w, l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
top AS (
  SELECT w, l_partkey FROM (
    SELECT w, l_partkey,
           row_number() OVER (PARTITION BY w ORDER BY qty DESC, l_partkey)
             AS r
    FROM weekly
  ) WHERE r <= 20
),
wk AS (SELECT w, count(*) AS cnt FROM top GROUP BY 1),
pairs AS (
  SELECT a.w AS w, a.cnt AS cnt_a, b.cnt AS cnt_b
  FROM wk a JOIN wk b ON b.w = a.w + INTERVAL 7 DAY
),
inter AS (
  SELECT a.w AS w, count(*) AS inter
  FROM top a JOIN top b
    ON b.w = a.w + INTERVAL 7 DAY AND a.l_partkey = b.l_partkey
  GROUP BY 1
),
scored AS (
  SELECT p.w,
         CAST(round(COALESCE(i.inter, 0) * 1000000.0
               / (p.cnt_a + p.cnt_b - COALESCE(i.inter, 0)), 0) AS BIGINT)
           AS jac_micro
  FROM pairs p LEFT JOIN inter i ON p.w = i.w
)
SELECT CAST(count(*) AS BIGINT) AS n_week_pairs,
       round(SUM(jac_micro) / count(*) / 1000000.0, 6) AS avg_jaccard,
       round(min(jac_micro) / 1000000.0, 6) AS min_jaccard,
       round(max(jac_micro) / 1000000.0, 6) AS max_jaccard
FROM scored
""",
)
def q_topk_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K CHURN — week-over-week Jaccard overlap of the weekly
    top-20 parts by shipped quantity: how fast does the head of the
    distribution turn over?  The freshness metric behind "how often
    must the serving index / cache / trending list be rebuilt"; near-1
    overlap means weekly refresh wastes work, near-0 means weekly is
    too coarse.  Complements `rank_biased_overlap` (two RANKERS, one
    moment) by comparing ONE ranker with itself across time.

    Determinism: per-week ranks use a total order (qty desc, partkey
    asc); each pair's Jaccard is integer-quantized to micro-units
    BEFORE the average so no float accumulates.  Scale: ranks are
    windows PARTITIONED by week; the overlap join touches only the
    20-row-per-week survivors (rank-limit pushdown keeps the full
    weekly frame out of the sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.date_trunc("week", "l_shipdate").alias("w"), "l_partkey"
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    r = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("qty"), F.asc("l_partkey"))
    )
    top = weekly.withColumn("r", r).filter(F.col("r") <= 20).select(
        "w", "l_partkey"
    )
    wk = top.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    next_w = F.col("a.w") + F.expr("INTERVAL 7 DAY")
    pairs = (
        wk.alias("a")
        .join(F.broadcast(wk.alias("b")), F.col("b.w") == next_w)
        .select(
            F.col("a.w").alias("w"),
            F.col("a.cnt").alias("cnt_a"),
            F.col("b.cnt").alias("cnt_b"),
        )
    )
    inter = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("b.w") == next_w)
            & (F.col("a.l_partkey") == F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        pairs.join(inter, "w", "left")
        .withColumn("i", F.coalesce(F.col("inter"), F.lit(0)))
        .select(
            F.round(
                F.col("i")
                * 1000000.0
                / (F.col("cnt_a") + F.col("cnt_b") - F.col("i")),
                0,
            )
            .cast("long")
            .alias("jac_micro")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_week_pairs"),
        F.round(
            F.sum("jac_micro") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("avg_jaccard"),
        F.round(F.min("jac_micro") / 1000000.0, 6).alias("min_jaccard"),
        F.round(F.max("jac_micro") / 1000000.0, 6).alias("max_jaccard"),
    )


#: Widths swept by the CMS sizing audit (cells per hash row).
_CMS_SWEEP_WIDTHS = (256, 1024, 4096)


@query(
    "cms_width_tradeoff",
    oracle=f"""
WITH tc AS (
  SELECT CAST(user_id AS VARCHAR) AS term, count(*) AS cnt
  FROM events GROUP BY 1
),
widths AS (SELECT unnest(ARRAY{list(_CMS_SWEEP_WIDTHS)}) AS w),
rows_ AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS i),
cells AS (
  SELECT w, i,
         CAST(concat('0x', substr(md5(term || '#' || i), 1, 8)) AS BIGINT)
           % w AS bucket,
         SUM(cnt) AS cell
  FROM tc CROSS JOIN widths CROSS JOIN rows_
  GROUP BY 1, 2, 3
),
top AS (
  SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT 50
),
est AS (
  SELECT c.w, t.term, t.cnt, MIN(c.cell) AS est
  FROM top t CROSS JOIN rows_ r
  JOIN cells c
    ON c.w IS NOT NULL AND c.i = r.i
   AND c.bucket = CAST(concat('0x', substr(md5(t.term || '#' || r.i), 1, 8))
                       AS BIGINT) % c.w
  GROUP BY 1, 2, 3
)
SELECT CAST(w AS BIGINT) AS width,
       CAST(count(*) AS BIGINT) AS n_probed,
       CAST(SUM(cnt) AS BIGINT) AS true_total,
       CAST(SUM(est) AS BIGINT) AS est_total,
       CAST(MAX(est - cnt) AS BIGINT) AS max_overcount,
       round((SUM(est) - SUM(cnt)) * 100.0 / SUM(cnt), 4) AS rel_err_pct
FROM est
GROUP BY 1
ORDER BY 1
""",
)
def q_cms_width_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN WIDTH SIZING curve — the memory/accuracy dial measured
    the way `ivf_nprobe_tradeoff` measures IVF's recall dial: one
    sketch per width in 256/1024/4096 (built in ONE combinable
    aggregate over (width, row, bucket) cells), probed with
    the exact top-50 terms, reporting total/max overcount and relative
    error per width.  This is how you size a production sketch from a
    sample instead of the loose e·N/w theory bound: error collapses
    ~linearly with width until collisions stop dominating.

    Determinism: same md5 bucket recipe as `heavy_hitters_cms`
    (replayed verbatim in DuckDB), integer cells end to end, top-50
    probe set picked by total order (cnt desc, term asc).  Scale: the
    shuffle key is (width, row, bucket) — ≤ DEPTH·Σwidths cells
    regardless of term cardinality; probes join the broadcastable cell
    table."""
    from ..operators.sketches import CMS_DEPTH, _hash32

    events = load_table(spark, sf_dir, "events")
    tc = events.groupBy(
        F.col("user_id").cast("string").alias("term")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    widths = F.explode(
        F.array(*[F.lit(w) for w in _CMS_SWEEP_WIDTHS])
    ).alias("w")
    rows = F.expr(f"explode(sequence(0, {CMS_DEPTH - 1}))").alias("i")
    # single-sourced row-hash: buckets are sketches._hash32 mod the
    # swept width, the exact recipe heavy_hitters_cms fixes at
    # CMS_WIDTH — a recipe change there changes this audit with it.
    hash32 = _hash32(F.col("term"), F.col("i"))
    cells = (
        tc.select("term", "cnt", widths)
        .select("term", "cnt", "w", rows)
        .select("w", "i", "cnt", (hash32 % F.col("w")).alias("bucket"))
        .groupBy("w", "i", "bucket")
        .agg(F.sum("cnt").alias("cell"))
    )
    top = tc.orderBy(F.desc("cnt"), F.asc("term")).limit(50)
    probes = (
        top.select("term", "cnt", widths)
        .select("term", "cnt", "w", rows)
        .select("term", "cnt", "w", "i", (hash32 % F.col("w")).alias("bucket"))
    )
    est = (
        probes.join(F.broadcast(cells), ["w", "i", "bucket"])
        .groupBy("w", "term", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    return (
        est.groupBy(F.col("w").cast("long").alias("width"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probed"),
            F.sum("cnt").cast("long").alias("true_total"),
            F.sum("est").cast("long").alias("est_total"),
            F.max(F.col("est") - F.col("cnt")).cast("long").alias(
                "max_overcount"
            ),
            F.round(
                (F.sum("est") - F.sum("cnt")) * 100.0 / F.sum("cnt"), 4
            ).alias("rel_err_pct"),
        )
        .orderBy("width")
    )


# ------------------------------- information / inequality measures (r11) ----


@query(
    "mutual_info_features",
    oracle="""
WITH cells AS (
  SELECT lang, source, count(*) AS c
  FROM documents GROUP BY 1, 2
),
n AS (SELECT SUM(c) AS n FROM cells),
sj AS (
  SELECT SUM(CAST(round(c * round(ln(c), 6), 6) AS DECIMAL(24,6))) AS s,
         count(*) AS n_cells
  FROM cells
),
sl AS (
  SELECT SUM(CAST(round(c * round(ln(c), 6), 6) AS DECIMAL(24,6))) AS s,
         count(*) AS n_lang
  FROM (SELECT lang, SUM(c) AS c FROM cells GROUP BY lang)
),
ss AS (
  SELECT SUM(CAST(round(c * round(ln(c), 6), 6) AS DECIMAL(24,6))) AS s,
         count(*) AS n_source
  FROM (SELECT source, SUM(c) AS c FROM cells GROUP BY source)
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n_lang AS BIGINT) AS n_lang,
       CAST(n_source AS BIGINT) AS n_source,
       CAST(n_cells AS BIGINT) AS n_cells,
       round(CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * n - sl.s AS DOUBLE)
             / n / 0.6931471805599453, 6) AS h_lang_bits,
       round(CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * n - ss.s AS DOUBLE)
             / n / 0.6931471805599453, 6) AS h_source_bits,
       round(CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * n - sj.s AS DOUBLE)
             / n / 0.6931471805599453, 6) AS h_joint_bits,
       round(CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * n
                  + sj.s - sl.s - ss.s AS DOUBLE)
             / n / 0.6931471805599453, 6) AS mi_bits
FROM n CROSS JOIN sj CROSS JOIN sl CROSS JOIN ss
""",
)
def q_mutual_info_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between two categorical document features
    (language x source), in bits — the dependence screen feature
    selection and leakage hunts run where `chi_square_independence`
    only tests significance: MI measures HOW MUCH one column predicts
    the other (a high-MI metadata column next to a training label is
    the classic leak).  I(X;Y) = H(X) + H(Y) - H(X,Y); since the
    ln N terms cancel, the estimate reduces to
    (N ln N + S_joint - S_lang - S_source)/N with each S a sum of
    c*ln c over the respective count distribution.

    Determinism: `entropy_by_source`'s recipe applied three times —
    every transcendental is a per-count ln rounded to 6 dp, products
    re-rounded and summed as DECIMAL(24,6) (order-free), numerators
    assembled in decimal before ONE double division; the ln 2 divisor
    is a shared literal.  Scale: ONE (lang, source) cell aggregate —
    marginal sums derive from the bounded cell table, never a second
    corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    clnc = "SUM(CAST(round(c * round(ln(c), 6), 6) AS DECIMAL(24,6)))"
    sj = cells.agg(
        F.expr(clnc).alias("s_j"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("c").alias("n"),
    )
    sl = (
        cells.groupBy("lang")
        .agg(F.sum("c").alias("c"))
        .agg(F.expr(clnc).alias("s_l"), F.count(F.lit(1)).alias("n_lang"))
    )
    ss = (
        cells.groupBy("source")
        .agg(F.sum("c").alias("c"))
        .agg(F.expr(clnc).alias("s_s"), F.count(F.lit(1)).alias("n_source"))
    )
    nlnn = "CAST(round(ln(n), 6) AS DECIMAL(18,6)) * n"
    bits = "/ n / 0.6931471805599453D, 6)"
    return (
        sj.crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(ss))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_docs",
            "CAST(n_lang AS BIGINT) AS n_lang",
            "CAST(n_source AS BIGINT) AS n_source",
            "CAST(n_cells AS BIGINT) AS n_cells",
            f"round(CAST({nlnn} - s_l AS DOUBLE) {bits} AS h_lang_bits",
            f"round(CAST({nlnn} - s_s AS DOUBLE) {bits} AS h_source_bits",
            f"round(CAST({nlnn} - s_j AS DOUBLE) {bits} AS h_joint_bits",
            f"round(CAST({nlnn} + s_j - s_l - s_s AS DOUBLE) {bits}"
            " AS mi_bits",
        )
    )


@query(
    "theil_inequality_decomposition",
    oracle="""
WITH x AS (
  SELECT c.c_mktsegment AS g,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
grp AS (
  SELECT g, count(*) AS n_g, SUM(cents) AS s_g,
         SUM(CAST(round(cents * round(ln(cents), 6), 6)
                  AS DECIMAL(38,6))) AS xlnx_g
  FROM x GROUP BY g
),
tot AS (
  SELECT SUM(n_g) AS n, SUM(s_g) AS s, SUM(xlnx_g) AS xlnx FROM grp
),
terms AS (
  SELECT
    SUM(CAST(round(
      (s_g / CAST(s AS DOUBLE))
      * (round(ln(s_g / CAST(n_g AS DOUBLE)), 6)
         - round(ln(s / CAST(n AS DOUBLE)), 6)), 12)
        AS DECIMAL(20,12))) AS t_between,
    SUM(CAST(round(
      (s_g / CAST(s AS DOUBLE))
      * (CAST(xlnx_g AS DOUBLE) / s_g
         - round(ln(s_g / CAST(n_g AS DOUBLE)), 6)), 12)
        AS DECIMAL(20,12))) AS t_within
  FROM grp CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_orders,
       round(CAST(xlnx AS DOUBLE) / s
             - round(ln(s / CAST(n AS DOUBLE)), 6), 6) AS theil_total,
       round(CAST(t_between AS DOUBLE), 6) AS theil_between,
       round(CAST(t_within AS DOUBLE), 6) AS theil_within,
       round(CAST(t_between AS DOUBLE)
             / (CAST(t_between AS DOUBLE) + CAST(t_within AS DOUBLE)),
             6) AS between_share
FROM tot CROSS JOIN terms
""",
)
def q_theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-T INEQUALITY with exact between/within-group
    decomposition — the additive property `gini_revenue` lacks (Gini
    does not decompose): how much of total order-value inequality is
    BETWEEN market segments vs WITHIN them, the standard diagnosis
    before segment-level interventions.  T = (1/N) Sum (x/mu)ln(x/mu)
    rewritten as Sum(x ln x)/S - ln mu so the per-row transcendental
    is ln of an exact cents integer; T_between = Sum w_g ln(mu_g/mu),
    T_within = Sum w_g T_g, with income shares w_g = S_g/S.

    Determinism: per-row x*ln x uses the 6-dp-round + DECIMAL(38,6)
    order-free sum recipe; the 5 per-group between/within terms are
    rounded to 12 dp and summed as DECIMAL(20,12) (order-free); all
    ln-of-mean arguments are IEEE-exact long/long divisions so both
    engines feed libm the same double.  Scale: one fact scan into a
    5-row group aggregate; everything after is scalar algebra on the
    bounded group table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("g")
    )
    x = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "g",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    grp = x.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("cents").alias("s_g"),
        F.expr(
            "SUM(CAST(round(cents * round(ln(cents), 6), 6)"
            " AS DECIMAL(38,6)))"
        ).alias("xlnx_g"),
    )
    tot = grp.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("xlnx_g").alias("xlnx"),
    )
    terms = grp.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "SUM(CAST(round("
            " (s_g / CAST(s AS DOUBLE))"
            " * (round(ln(s_g / CAST(n_g AS DOUBLE)), 6)"
            "    - round(ln(s / CAST(n AS DOUBLE)), 6)), 12)"
            " AS DECIMAL(20,12)))"
        ).alias("t_between"),
        F.expr(
            "SUM(CAST(round("
            " (s_g / CAST(s AS DOUBLE))"
            " * (CAST(xlnx_g AS DOUBLE) / s_g"
            "    - round(ln(s_g / CAST(n_g AS DOUBLE)), 6)), 12)"
            " AS DECIMAL(20,12)))"
        ).alias("t_within"),
    )
    return tot.crossJoin(F.broadcast(terms)).selectExpr(
        "CAST(n AS BIGINT) AS n_orders",
        "round(CAST(xlnx AS DOUBLE) / s"
        " - round(ln(s / CAST(n AS DOUBLE)), 6), 6) AS theil_total",
        "round(CAST(t_between AS DOUBLE), 6) AS theil_between",
        "round(CAST(t_within AS DOUBLE), 6) AS theil_within",
        "round(CAST(t_between AS DOUBLE)"
        " / (CAST(t_between AS DOUBLE) + CAST(t_within AS DOUBLE)), 6)"
        " AS between_share",
    )


_KMV_K = 256
_KMV_DEN = "1152921504606846976.0"  # 16^15 — the 60-bit hash range


@query(
    "kmv_distinct_intersect",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_cl,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pu
  FROM events GROUP BY user_id
),
members AS (
  SELECT 'a' AS s, user_id FROM per_user WHERE n_cl % 2 = 1
  UNION ALL
  SELECT 'b' AS s, user_id FROM per_user WHERE n_pu % 2 = 1
),
hashed AS (
  SELECT s, user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) / {_KMV_DEN} AS h
  FROM members
),
sketch AS (
  SELECT s, user_id, h
  FROM (SELECT s, user_id, h,
               row_number() OVER (PARTITION BY s ORDER BY h, user_id) AS rk
        FROM hashed)
  WHERE rk <= {_KMV_K}
),
stats AS (
  SELECT s, count(*) AS k_seen, max(h) AS theta FROM sketch GROUP BY s
),
exact AS (
  SELECT
    SUM(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN in_both THEN 1 ELSE 0 END) // 2 AS n_inter
  FROM (SELECT s, user_id,
               count(*) OVER (PARTITION BY user_id) = 2 AS in_both
        FROM members)
),
thetas AS (
  SELECT
    CASE WHEN (SELECT n_a FROM exact) < {_KMV_K} THEN 1.0
         ELSE (SELECT theta FROM stats WHERE s = 'a') END AS th_a,
    CASE WHEN (SELECT n_b FROM exact) < {_KMV_K} THEN 1.0
         ELSE (SELECT theta FROM stats WHERE s = 'b') END AS th_b
),
inter AS (
  SELECT count(*) AS matched
  FROM sketch a JOIN sketch b
    ON a.user_id = b.user_id AND a.s = 'a' AND b.s = 'b'
  CROSS JOIN thetas
  WHERE a.h < least(th_a, th_b)
)
SELECT CAST({_KMV_K} AS INTEGER) AS k,
       CAST(n_a AS BIGINT) AS exact_a,
       CAST(n_b AS BIGINT) AS exact_b,
       CAST(n_inter AS BIGINT) AS exact_intersect,
       round(CASE WHEN n_a < {_KMV_K} THEN CAST(n_a AS DOUBLE)
             ELSE ({_KMV_K} - 1)
                  / (SELECT theta FROM stats WHERE s = 'a') END,
             6) AS est_a,
       round(CASE WHEN n_b < {_KMV_K} THEN CAST(n_b AS DOUBLE)
             ELSE ({_KMV_K} - 1)
                  / (SELECT theta FROM stats WHERE s = 'b') END,
             6) AS est_b,
       round(matched / least(th_a, th_b), 6) AS est_intersect
FROM exact CROSS JOIN thetas CROSS JOIN inter
""",
)
def q_kmv_distinct_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / THETA-SKETCH distinct intersection — the set-operation
    capability `hll_sketch_users` cannot offer (HLL unions but never
    intersects): estimate the overlap of two behavioral
    audiences (users with an ODD click count vs an ODD purchase count
    — data-driven subsets that genuinely differ) from two
    k-minimum-value sketches via the theta rule
    |A∩B| ≈ |{x ∈ sk(A)∩sk(B) : h(x) < θ}| / θ, θ = min(θ_A, θ_B) —
    the audience-overlap question at billion-user scale where exact
    distinct joins are the cost ceiling.  Unlike the RNG-seeded
    library sketches this KMV is a pure function of md5, so BOTH the
    estimates and the exact twins value-oracle to the last digit
    (sets smaller than k degrade to exact counts by the standard KMV
    rule — the estimator is then the set itself).

    Determinism: h = 60-bit md5 prefix / 16^15 (an IEEE-exact
    division both engines perform identically); sketch membership is
    a total order (h, user_id); every estimate is one double
    division of exact quantities.  Scale: the k-min selection is the
    two-stage distributed top-k (per-(set,bucket) heads, then the
    bounded 2*64k candidate pool) — no global single-partition
    window, and the sketch join touches 2k rows regardless of
    corpus size."""
    events = load_table(spark, sf_dir, "events")
    k = _KMV_K
    # per_user roots BOTH membership branches and, through them, five
    # downstream subtrees (sketch → {stats, sa, sb}, the exact-count
    # aggregate, the broadcast set-size aggregate).  Without a lineage
    # cut each consumer re-plans and re-executes the full events scan +
    # per-user aggregate — the before-plan carried 72 Exchanges
    # (plans/r11/kmv_distinct_intersect_before.txt); checkpointing the
    # (bounded, one-row-per-user) aggregate runs it once.
    per_user = events.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_cl"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_pu"),
    ).localCheckpoint(eager=True)
    members = (
        per_user.filter(F.col("n_cl") % 2 == 1)
        .select(F.lit("a").alias("s"), "user_id")
        .unionByName(
            per_user.filter(F.col("n_pu") % 2 == 1).select(
                F.lit("b").alias("s"), "user_id"
            )
        )
    )
    hashed = members.withColumn(
        "h",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        / F.lit(float(16**15)),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 64,
    )
    head = Window.partitionBy("s", "bucket").orderBy("h", "user_id")
    fin = Window.partitionBy("s").orderBy("h", "user_id")
    # ≤ 2k rows by construction; three consumers (stats, sa, sb) would
    # otherwise each replay the two-stage top-k window chain.
    sketch = (
        hashed.withColumn("rk", F.row_number().over(head))
        .filter(F.col("rk") <= k)
        .withColumn("rk2", F.row_number().over(fin))
        .filter(F.col("rk2") <= k)
        .select("s", "user_id", "h")
        .localCheckpoint(eager=True)
    )
    stats = sketch.groupBy("s").agg(
        F.count(F.lit(1)).alias("k_seen"), F.max("h").alias("theta")
    )
    exact = members.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sets")
    ).agg(
        F.sum(F.lit(1)).alias("_ign"),
        F.sum((F.col("n_sets") == 2).cast("long")).alias("n_inter"),
    ).crossJoin(
        F.broadcast(
            members.agg(
                F.sum((F.col("s") == "a").cast("long")).alias("n_a"),
                F.sum((F.col("s") == "b").cast("long")).alias("n_b"),
            )
        )
    ).select("n_a", "n_b", "n_inter")
    th = (
        stats.groupBy()
        .pivot("s", ["a", "b"])
        .agg(F.first("theta"))
        .withColumnRenamed("a", "theta_a")
        .withColumnRenamed("b", "theta_b")
        .crossJoin(F.broadcast(exact))
        .select(
            "n_a",
            "n_b",
            "n_inter",
            "theta_a",
            "theta_b",
            F.when(F.col("n_a") < k, F.lit(1.0))
            .otherwise(F.col("theta_a"))
            .alias("th_a"),
            F.when(F.col("n_b") < k, F.lit(1.0))
            .otherwise(F.col("theta_b"))
            .alias("th_b"),
        )
    )
    sa = sketch.filter(F.col("s") == "a").select(
        "user_id", F.col("h").alias("h_a")
    )
    sb = sketch.filter(F.col("s") == "b").select("user_id")
    matched = (
        sa.join(sb, "user_id")
        .crossJoin(F.broadcast(th.select("th_a", "th_b")))
        .agg(
            F.sum(
                (F.col("h_a") < F.least("th_a", "th_b")).cast("long")
            ).alias("matched")
        )
    )
    return th.crossJoin(F.broadcast(matched)).select(
        F.lit(k).cast("int").alias("k"),
        F.col("n_a").alias("exact_a"),
        F.col("n_b").alias("exact_b"),
        F.col("n_inter").alias("exact_intersect"),
        F.round(
            F.when(F.col("n_a") < k, F.col("n_a").cast("double")).otherwise(
                F.lit(k - 1) / F.col("theta_a")
            ),
            6,
        ).alias("est_a"),
        F.round(
            F.when(F.col("n_b") < k, F.col("n_b").cast("double")).otherwise(
                F.lit(k - 1) / F.col("theta_b")
            ),
            6,
        ).alias("est_b"),
        F.round(
            F.col("matched") / F.least("th_a", "th_b"), 6
        ).alias("est_intersect"),
    )
