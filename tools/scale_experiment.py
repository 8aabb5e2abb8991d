#!/usr/bin/env python
"""Measure — not argue — the dedup/similarity scale claims (VERDICT r4
item 2).

Builds a deterministic N× corpus from sf0.1 (see
video_metadata_db_spark/sources/inflate.py: replicas share no shingles
and have ~zero cross-replica cosine, so a linear-scaling operator must
produce ≈N× the base candidate pairs), then records for each headline
dedup/similarity operator at 1× and N×:

- candidate-pair count (the pre-verification join output — the quantity
  that would go quadratic if the blocking failed),
- wall time,
- shuffle read/write bytes (Spark REST status API deltas).

Usage:  python tools/scale_experiment.py [factor ...]   (default: 1 10)
Emits one JSON line per (operator, factor) plus a summary with
pair-growth and shuffle-growth ratios, and writes SCALE_MEASURE.json.

The semantic-dedup row runs the SCALE-PATH parameterization (k grows
with n so clusters stay worker-sized, k ≈ n/250 — the registered query
pins k=8 only for its unrolled DuckDB oracle); all other operators run
exactly their registered configuration.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/scale_experiment"

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def get_spark() -> SparkSession:
    return (
        SparkSession.builder.master("local[8]")
        .appName("scale-experiment")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")  # REST status API for shuffle bytes
        .config("spark.ui.port", "4049")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )


def shuffle_totals(spark: SparkSession) -> tuple[int, int]:
    """(read_bytes, write_bytes) summed over all completed stages so
    far, via the public REST status API."""
    app_id = spark.sparkContext.applicationId
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
    )


def make_corpus(spark: SparkSession, factor: int) -> str:
    from video_metadata_db_spark.sources.inflate import (
        inflate_documents,
        inflate_embeddings,
    )

    out = f"{WORK}/f{factor}"
    if not Path(f"{out}/embeddings.parquet/_SUCCESS").exists():
        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        inflate_documents(docs, factor).repartition(32).write.mode("overwrite").parquet(
            f"{out}/documents.parquet"
        )
        inflate_embeddings(emb, factor).repartition(32).write.mode("overwrite").parquet(
            f"{out}/embeddings.parquet"
        )
    return out


def measured(spark: SparkSession, label: str, factor: int, fn) -> dict:
    """Run fn() (returns a dict of counts), wrapped in wall-clock and
    shuffle-byte deltas."""
    r0, w0 = shuffle_totals(spark)
    t0 = time.perf_counter()
    counts = fn()
    wall = time.perf_counter() - t0
    r1, w1 = shuffle_totals(spark)
    row = {
        "op": label,
        "factor": factor,
        "wall_s": round(wall, 2),
        "shuffle_read_mb": round((r1 - r0) / 1e6, 1),
        "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
        **counts,
    }
    print(json.dumps(row), flush=True)
    return row


def run_factor(spark: SparkSession, factor: int) -> list[dict]:
    from video_metadata_db_spark.operators.clustering import kmeans_assign
    from video_metadata_db_spark.operators.dedup import (
        band_buckets,
        minhash_lsh_dedup,
        minhash_signatures,
        release_dedup_caches,
        simhash,
        simhash_near_pairs,
    )
    from video_metadata_db_spark.operators.components import connected_components_star
    from video_metadata_db_spark.operators.similarity import embedding_near_dup
    from video_metadata_db_spark.plans import QUERIES

    sf_dir = make_corpus(spark, factor)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs = docs.count()
    n_vecs = emb.count()
    out: list[dict] = []

    # --- MinHash-LSH: candidates = distinct band-bucket co-occurrences
    def minhash_counts() -> dict:
        sigs = minhash_signatures(docs)
        packed = sigs.select(
            "doc", F.array(*[F.col(f"sig_{i}") for i in range(64)]).alias("sig")
        )
        bands = band_buckets(packed)
        l, r = bands.alias("l"), bands.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.doc") < F.col("r.doc")),
            )
            .select(F.col("l.doc"), F.col("r.doc"))
            .distinct()
            .count()
        )
        pairs = minhash_lsh_dedup(docs, threshold=0.5).count()
        release_dedup_caches()
        return {"n_docs": n_docs, "candidates": cand, "result_pairs": pairs}

    out.append(measured(spark, "dedup_minhash_lsh", factor, minhash_counts))

    # --- SimHash: candidates = distinct block co-occurrences (pre-Hamming)
    def simhash_counts() -> dict:
        from video_metadata_db_spark.operators.dedup import _simhash_blocks

        sh = simhash(docs)
        blocks = _simhash_blocks(sh, n_blocks=4).select("doc", "block_id", "block")
        l, r = blocks.alias("l"), blocks.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.block_id") == F.col("r.block_id"))
                & (F.col("l.block") == F.col("r.block"))
                & (F.col("l.doc") < F.col("r.doc")),
            )
            .select(F.col("l.doc"), F.col("r.doc"))
            .distinct()
            .count()
        )
        pairs = simhash_near_pairs(docs, max_hamming=8).count()
        release_dedup_caches()
        return {"n_docs": n_docs, "candidates": cand, "result_pairs": pairs}

    out.append(measured(spark, "dedup_simhash_pairs", factor, simhash_counts))

    # --- connected components over the simhash edge set
    def components_counts() -> dict:
        edges = simhash_near_pairs(docs, max_hamming=8)
        labels = connected_components_star(edges).count()
        release_dedup_caches()
        return {"n_docs": n_docs, "labeled_vertices": labels}

    out.append(measured(spark, "dedup_components", factor, components_counts))

    # --- semantic dedup, scale-path parameterization: k ~ n/250, the
    # operators the registered dedup_semantic ships
    def semantic_counts() -> dict:
        k = max(8, n_vecs // 250)
        # ONE training serves both the candidate count and the scoring
        # pass — duplicating it would double the recorded wall/shuffle
        assigned = (
            kmeans_assign(emb, k=k, n_iter=2)
            .select("vec_id", "cluster")
            .persist()
        )
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("c"))
        cand = sizes.agg(F.sum(F.col("c") * (F.col("c") - 1))).first()[0] or 0
        scored = embedding_near_dup(
            emb.join(assigned, "vec_id"), threshold=0.5, block_col="cluster"
        ).count()
        assigned.unpersist()
        return {"n_vecs": n_vecs, "k": k, "candidates": int(cand), "result_rows": scored}

    out.append(measured(spark, "dedup_semantic", factor, semantic_counts))

    # --- prefix-filtered Jaccard: candidates = prefix-token join output
    # (the quantity the AllPairs rule bounds; replicas share no
    # shingles, so growth must be ~linear)
    def prefix_counts() -> dict:
        from video_metadata_db_spark.operators.dedup import (
            jaccard_prefix_pairs,
            shingles_of_tokens,
            tokens_of,
        )
        from pyspark.sql import Window

        sh = docs.select(
            F.col("doc_id").alias("doc"), tokens_of(F.col("text")).alias("_t")
        ).select("doc", F.explode(shingles_of_tokens(F.col("_t"), 3)).alias("s"))
        dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        ranked = sh.join(dfreq, "s").withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("s").asc())
            ),
        )
        plen = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n")).select(
            "doc",
            (F.col("n") - F.floor((F.lit(6) * F.col("n") + 9) / 10).cast("long") + 1
             ).alias("plen"),
        )
        prefix = ranked.join(plen, "doc").filter(F.col("pos") <= F.col("plen")).select(
            "doc", "s"
        )
        l, r = prefix.alias("l"), prefix.alias("r")
        cand = (
            l.join(
                r, (F.col("l.s") == F.col("r.s")) & (F.col("l.doc") < F.col("r.doc"))
            )
            .select(F.col("l.doc"), F.col("r.doc"))
            .distinct()
            .count()
        )
        pairs = jaccard_prefix_pairs(docs, threshold_tenths=6).count()
        release_dedup_caches()
        return {"n_docs": n_docs, "candidates": cand, "result_pairs": pairs}

    out.append(measured(spark, "dedup_jaccard_prefix", factor, prefix_counts))

    # --- contamination: candidates = gram-hash hits pre-aggregation
    def contamination_counts() -> dict:
        rows = QUERIES["contamination_check"](spark, sf_dir).count()
        return {"n_docs": n_docs, "result_rows": rows}

    out.append(measured(spark, "contamination_check", factor, contamination_counts))
    return out


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10]
    spark = get_spark()
    # untimed warmup sweep at the base factor: the first execution of
    # each operator pays JVM/codegen/broadcast warmup that would land
    # entirely in the factor-1 rows and flatter every wall ratio
    run_factor(spark, factors[0])
    rows: list[dict] = []
    for f in factors:
        rows.extend(run_factor(spark, f))
    # summary: growth ratios, normalized by corpus growth
    summary = {}
    base = {r["op"]: r for r in rows if r["factor"] == factors[0]}
    for r in rows:
        if r["factor"] == factors[0]:
            continue
        b = base[r["op"]]
        growth = r["factor"] / factors[0]
        for key in ("candidates", "result_pairs", "shuffle_write_mb", "wall_s"):
            if key in r and key in b and b[key]:
                summary[f"{r['op']}.{key}_x{r['factor']}"] = round(r[key] / b[key], 2)
        summary[f"{r['op']}.corpus_growth"] = growth
    print(json.dumps({"summary": summary}), flush=True)
    Path("SCALE_MEASURE.json").write_text(
        json.dumps({"rows": rows, "summary": summary}, indent=2)
    )
    spark.stop()


if __name__ == "__main__":
    main()
