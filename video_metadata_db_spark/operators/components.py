"""Connected components over near-duplicate pairs — dedup clustering.

Pair generators (MinHash-LSH, SimHash, embedding-cosine) emit EDGES;
an actual dedup pipeline needs GROUPS: every doc labeled with its
cluster so one canonical representative survives.  That is connected
components, an inherently iterative computation (SURVEY.md §7 hard
part 4: similarity/dedup at 100 TB).

Algorithm: label propagation to the minimum reachable id.  Each round
every vertex takes the min of its own label and its neighbors' labels;
convergence in O(diameter) rounds — near-dup graphs are
overwhelmingly tiny cliques (diameter ≤ 2-3), so 3-5 rounds settle
real corpora.  The self-loop trick folds "keep my own label" into the
neighbor aggregation, making each round exactly ONE join + ONE
aggregation; lineage is cut per round so the plan doesn't grow across
iterations (the classic iterative-Spark trap).

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


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; component =
    min vertex id reachable through the pair graph.

    Raises if ``max_iter`` rounds don't converge — at that point the
    graph has a path longer than any plausible near-dup cluster and
    needs :func:`connected_components_star` (O(log n) rounds) instead.
    """
    # materialize the edge list FIRST: the pair generators feeding this
    # (minhash/simhash joins) are expensive, and the plan below consumes
    # `edges` four times (both directions × {sym, vertices}) — without
    # the cut the generator pipeline runs 4× before round one
    e0 = _cut(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")), checkpoint_mode
    )
    both = e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    vertices = both.select(F.col("a").alias("v")).distinct()
    # self-loops fold "min with my own label" into the neighbor min, so
    # a round is join → groupBy, with no second join against labels
    sym = _cut(
        both.unionByName(
            vertices.select(F.col("v").alias("a"), F.col("v").alias("b"))
        ),
        checkpoint_mode,
    )
    # labels only ever DECREASE, so Σcomp strictly decreases until the
    # fixpoint — a one-aggregate convergence test instead of a
    # new-vs-old join.  The aggregate rides the checkpoint
    # materialization itself via ``observe`` (CollectMetrics merges
    # per-task partials during the SAME job that writes the cut), so
    # every round is exactly ONE job — no second pass, even a cheap
    # one, over the labels.
    def cut_with_sum(frame: DataFrame) -> tuple[DataFrame, int]:
        obs = Observation()
        cut = _cut(frame.observe(obs, F.sum("comp").alias("s")), checkpoint_mode)
        return cut, obs.get["s"]

    def one_round(labels: DataFrame) -> DataFrame:
        # no broadcast hints: labels can be billions of rows at corpus
        # scale — AQE turns these into broadcast joins at runtime
        # whenever the side is actually small
        return (
            sym.join(labels, sym["a"] == labels["v"])
            .groupBy(F.col("b").alias("v"))
            .agg(F.min("comp").alias("comp"))
        )

    labels, prev_sum = cut_with_sum(vertices.withColumn("comp", F.col("v")))
    # TWO propagation rounds per lineage cut (r12, guide §2.4): the cut
    # job is the per-round synchronization barrier — halving the cut
    # count halves the checkpoint materializations and driver
    # round-trips.  Each round's subtree is consumed exactly once by
    # the next round's join, so lineage depth between cuts stays
    # bounded at two join+aggregate pairs.  Convergence detection
    # coarsens to double-round boundaries: Σcomp is monotone
    # non-increasing per round, so equality across a double round still
    # certifies the fixpoint; the overshoot is ≤1 no-op round on the
    # converged (tiny) label frame.  The extra double round lets labels
    # that settle at round max_iter - 1 (which a per-round check sees
    # at round max_iter) reach a boundary where equality shows.
    for _ in range((max_iter + 1) // 2 + 1):
        new_labels, new_sum = cut_with_sum(one_round(one_round(labels)))
        labels = new_labels
        if new_sum == prev_sum:
            return labels.select(F.col("v").alias("doc"), F.col("comp").alias("component"))
        prev_sum = new_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_groups(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Cluster rollup: one row per component with canonical (min) doc
    and member count — the 'keep one, drop the rest' dedup decision."""
    comp = connected_components(edges, src, dst, checkpoint_mode=checkpoint_mode)
    return comp.groupBy("component").agg(
        F.min("doc").alias("canonical_doc"), F.count(F.lit(1)).alias("n_members")
    )


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
    instead of 64.  Same output contract as
    :func:`connected_components`: (v, component-min) per vertex, and
    the same recursive-CTE oracle verifies it.

    Use this variant when cluster shapes are unknown (general graphs);
    keep label propagation for near-dup graphs whose diameter is known
    to be tiny — fewer fixed per-round costs.
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
    # label propagation and pagerank, see those operators): it REGRESSED
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
