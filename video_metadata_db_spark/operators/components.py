"""Connected components over near-duplicate pairs — dedup clustering.

Pair generators (MinHash-LSH, SimHash, embedding-cosine) emit EDGES;
an actual dedup pipeline needs GROUPS: every doc labeled with its
cluster so one canonical representative survives.  That is connected
components, an inherently iterative computation (SURVEY.md §7 hard
part 4: similarity/dedup at 100 TB).

Algorithm: large-star / small-star contraction
(:func:`connected_components_star`) to the minimum reachable id —
O(log n) rounds, where min-label propagation needs O(diameter), and
near-dup chains grow with corpus size.  :func:`components_incremental`
merges a batch of new edges into stored labels through the same
contraction.  Each round is two joins + two aggregates; lineage is cut
per round so the plan doesn't grow across iterations (the classic
iterative-Spark trap).

The lineage cut is configurable via ``checkpoint_mode``:
``"local"`` (default) uses ``localCheckpoint`` — executor-local
storage, right for local mode and tests, but results are
UNRECOVERABLE on executor loss; ``"reliable"`` uses ``checkpoint()``
to the directory set with ``sc.setCheckpointDir`` (HDFS/S3 on a
cluster), surviving executor failure — the correct mode for a
multi-hour 100 TB job.  Same plans either way.

The result is exact, so the DuckDB oracle (recursive-CTE transitive
closure to the same min-reachable-id labels) value-checks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _cut(df: DataFrame, mode: str) -> DataFrame:
    """Cut lineage: ``local`` → localCheckpoint (fast, unrecoverable on
    executor loss), ``reliable`` → checkpoint to ``sc.setCheckpointDir``
    storage (cluster-safe).  Both materialize eagerly so per-round work
    is never re-executed by later rounds."""
    if mode == "reliable":
        return df.checkpoint(eager=True)
    if mode == "local":
        return df.localCheckpoint(eager=True)
    raise ValueError(f"checkpoint_mode must be 'local' or 'reliable', got {mode!r}")


def components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 30,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Merge a batch of NEW edges into STORED component labels without
    re-running pair generation or re-traversing the historical edge
    set — the ingest-update shape of dedup clustering (the clustering
    analogue of ``minhash_incremental_pairs``).

    Soundness: a (doc, component) label table IS a depth-1 star forest
    that preserves the old graph's connectivity exactly (every member
    points at its component root, and the root id is the component
    min).  So components over ``star-edges ∪ new-edges`` equal a full
    recompute over ``old-edges ∪ new-edges`` — old components survive
    through their stars, new edges extend or merge them, and the
    component min is preserved because each old root participates.
    The registered query is value-checked against the FULL-corpus
    recursive-CTE oracle, which is this equivalence stated as a test.

    Cost per ingest: O(|labels| + |batch edges|) shuffled per round,
    with round count O(log of the NEW merge chains) — the stored side
    is depth-1 by construction, so historical corpus diameter never
    matters again.  Old singletons (label == doc, untouched by the
    batch) are re-attached unchanged via one anti join.
    """
    star = labels.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias(src), F.col("component").alias(dst)
    )
    merged = connected_components_star(
        star.unionByName(new_edges.select(src, dst)),
        src,
        dst,
        max_rounds,
        checkpoint_mode,
    )
    singles = labels.filter(F.col("doc") == F.col("component")).join(
        merged.select("doc"), "doc", "left_anti"
    )
    return merged.unionByName(singles)


def _star_round(e: DataFrame) -> DataFrame:
    """ONE large-star + small-star round over canonical (u > v) edges,
    returning the canonical distinct edge set — module-level so
    tests/test_plans.py can pin the double-round plan shape.

    Large-star WITHOUT materializing the symmetric view (VERDICT r4):
    in canonical (u > v) form, the symmetric pairs with a
    strictly-larger second vertex are exactly the canonical edges, and
    the neighborhood-min of v collapses to m(v) = min(v, min of v's
    SMALLER neighbors) — larger neighbors can never win a min that
    already includes v.  v's smaller neighbors are the rows where v
    sits in the u slot, so one aggregate over e + one join replace the
    2×-sized sym union: each canonical edge (u, v) emits the
    large-star edge (u, m(v)), and m(v) < u always, so the output is
    born canonical — no greatest/least, no a != b filter.
    """
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    # no distinct on lg: duplicates cannot change mins2 (a min) or
    # connectivity, and the round-end distinct restores the set —
    # dropping it removes one Exchange per round while |lg| stays
    # bounded by |e| (each canonical edge emits exactly one row)
    lg = e.join(
        mins.select(F.col("u").alias("v"), F.col("mn").alias("m")),
        "v",
        "left",
    ).select("u", F.coalesce("m", F.col("v")).alias("v"))
    # small-star on the (larger → smaller) canonical edges
    mins2 = lg.groupBy("u").agg(F.min("v").alias("m"))
    sm = (
        lg.join(mins2, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
    )
    return (
        sm.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 30,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Two-phase (large-star / small-star) connected components — the
    O(log n)-round algorithm for graphs with LONG paths, where plain
    min-label propagation needs O(diameter) rounds.

    Alternating rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond"):

    - **large-star**: every vertex points its LARGER neighbors at the
      minimum of its neighborhood (incl. itself) — long chains fold in
      half each time;
    - **small-star**: every vertex rewires its smaller-or-equal
      neighbors (and itself) to the neighborhood minimum — stars
      flatten onto their root.

    Each phase is one groupBy(min) + one join on the same key — the
    same shuffle shape as a round of label propagation, but the edge
    set contracts geometrically, so 64-deep chains settle in ~6 rounds
    instead of 64.  Output: (doc, component-min) per vertex, verified
    by a recursive-CTE oracle.
    """
    def cut_with_checksum(frame: DataFrame) -> tuple[DataFrame, tuple]:
        # edge-set checksum (count + order-independent hash sum) rides
        # the checkpoint job via observe — one job per round, no second
        # pass for convergence detection
        obs = Observation()
        observed = frame.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.hash("u", "v").cast("long")), F.lit(0)).alias("s"),
        )
        cut = _cut(observed, checkpoint_mode)
        m = obs.get
        return cut, (m["n"], m["s"])

    e, prev = cut_with_checksum(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    vertices = _cut(
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .distinct(),
        checkpoint_mode,
    )
    # ONE large+small star round per lineage cut.  r12 measured the
    # two-rounds-per-cut variant (the barrier-halving that wins for
    # pagerank, see that operator): it REGRESSED
    # here — dedup_components_incremental 8.6 → 11.3 s best-of-3
    # same-box A/B — because a star round is 2 joins + 2 aggregates and
    # the inner round's distinct is re-aggregated per consumer (only its
    # exchange is reused), while the star edge set stays node-sized so
    # the coarser convergence check costs up to two real no-op rounds.
    # Reverted; details in OPTIMIZATION_r12.md.
    for _ in range(max_rounds):
        e, cur = cut_with_checksum(_star_round(e))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"star components did not converge in {max_rounds} rounds")

    # fixpoint edges are stars (u → component min); roots self-label
    labels = e.select(F.col("u").alias("v_id"), F.col("v").alias("comp"))
    return (
        vertices.join(labels, vertices["x"] == labels["v_id"], "left")
        .select(F.col("x").alias("doc"), F.coalesce("comp", F.col("x")).alias("component"))
    )
