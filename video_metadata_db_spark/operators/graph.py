"""PageRank — iterative link analysis over an edge DataFrame.

Complements :mod:`.components` (the other iterative graph operator):
components answers "which near-dup cluster", PageRank answers "which
nodes are central" — the importance signal a curation pipeline uses to
pick canonical representatives, weight domains, or rank entities in a
co-occurrence graph.  The reference has no graph operator; this is
part of the large-scale-training-pipeline extension surface
(SURVEY.md §6).

Distributed shape (the textbook Spark formulation, but with the float
discipline this repo's oracles require):

- one round = ``ranks ⋈ edges`` on ``src`` (contribution scatter)
  + ``groupBy(dst)`` (gather) + a left join back onto the node set so
  zero-in-degree nodes keep their teleport mass,
- the edge table and out-degrees are loop-invariant: computed once,
  persisted, reused every round — at cluster scale pre-partition both
  by ``src`` so every iteration's scatter join is co-located and only
  the (node-sized, edge-free) rank frame moves,
- lineage is cut per round (``localCheckpoint``) so the plan does not
  grow superlinearly across iterations — same trap and same fix as
  ``connected_components_star``.

Cross-engine determinism: a PageRank round sums FLOAT contributions
per node, and a plain double ``SUM`` depends on partition order.  Each
contribution is therefore rounded to 12 dp and cast to
``DECIMAL(24,12)`` before the sum — exact and associative at any
parallelism — then the damped update is two IEEE-exact scalar ops
(one multiply, one add) re-rounded to 12 dp.  The DuckDB oracle
replays the identical quantized recurrence, so the operator gets a
full value oracle despite being iterative (same discipline as the KL
and k-means oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Per-iteration quantization of contributions and ranks: fine enough
#: that 12-dp error over a handful of rounds cannot reach the 6-dp
#: reported rank, coarse enough that DECIMAL(24,12) sums never overflow
#: (rank mass totals 1.0).
_RANK_DP = 12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) after ``iterations`` damped power-iteration rounds.

    ``edges`` are directed (src → dst); pass a symmetrized edge set for
    an undirected walk.  Dangling nodes (out-degree 0) contribute
    nothing but still receive teleport + in-link mass via the node-set
    left join; their lost mass is NOT redistributed (the common
    simplification — documented so the oracle matches by construction).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # loop-invariant frames: persist once, reuse every round.  At
    # cluster scale both are additionally repartition(src)-aligned so
    # the per-round scatter join never re-shuffles the edge table.
    e = e.persist()
    deg = deg.persist()
    nodes = nodes.persist()

    # n is one aggregate cell (never row data) — the teleport constant
    # (1-d)/n must be a plain Python float literal so Spark and DuckDB
    # evaluate the identical IEEE division exactly once.
    n = nodes.count()
    teleport = (1.0 - damping) / n
    init = round(1.0 / n, _RANK_DP)

    ranks = nodes.select("node", F.lit(float(init)).alias("rank"))
    for i in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("out_deg"), _RANK_DP)
                .cast("decimal(24,12)")
                .alias("c"),
            )
        )
        gathered = contrib.groupBy("node").agg(F.sum("c").alias("c"))
        ranks = nodes.join(gathered, "node", "left").select(
            "node",
            F.round(
                F.lit(teleport)
                + F.lit(damping)
                * F.coalesce(F.col("c").cast("double"), F.lit(0.0)),
                _RANK_DP,
            ).alias("rank"),
        )
        # cut lineage every SECOND round and at the LAST round (r12,
        # guide §2.4): each round's frame is consumed exactly once by
        # the next round's scatter join, so the plan can carry two
        # rounds between cuts — one checkpoint job fewer per 3-round
        # run.  The final round MUST still cut: the loop-invariant
        # e/deg/nodes caches are unpersisted below, so an un-cut return
        # frame would recompute the whole edge build at action time.
        # Eager so no round re-executes prior ones.  The cut is
        # localCheckpoint (executor-local, unrecoverable on executor
        # loss): right for bench/local runs; a long 100 TB job should
        # pass ranks through reliable checkpoint() instead — recompute
        # on loss matters more than the cut's speed there.
        if i % 2 == 1 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
    for f in (e, deg, nodes):
        f.unpersist()
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    *,
    iterations: int = 3,
    damping: float = 0.85,
) -> str:
    """DuckDB CTE chain replaying :func:`pagerank` exactly.

    ``edges_cte`` must define a relation ``edges(src, dst)``.  Returns
    SQL ending in a relation ``pr(node, rank)`` — callers append their
    own final SELECT.  The recurrence is unrolled (one CTE pair per
    round) with the same 12-dp quantization, so equality with the Spark
    side is by construction, not by float luck.
    """
    parts = [
        edges_cte,
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src)",
        # round(1.0/n, 12) — same init literal the operator computes
        "r0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 12) AS rank"
        " FROM nodes)",
    ]
    d = float(damping)
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" CAST(round(r.rank / g.out_deg, 12) AS DECIMAL(24,12)) AS c"
            f" FROM edges e JOIN r{i - 1} r ON e.src = r.node"
            f" JOIN deg g ON e.src = g.src)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node,"
            f" round({1.0 - d} / (SELECT n FROM nn)"
            f" + {d} * CAST(COALESCE(s.c, 0) AS DOUBLE), 12) AS rank"
            f" FROM nodes n LEFT JOIN"
            f" (SELECT node, SUM(c) AS c FROM c{i} GROUP BY node) s"
            f" USING (node))"
        )
    parts.append(f"pr AS (SELECT node, rank FROM r{iterations})")
    return ",\n".join(parts)


def _oriented_triangles(
    edges: DataFrame, a: str, b: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared substrate of the two triangle operators: canonicalized
    ``edges(s1, s2)``, per-node ``deg(node, degree)``, and the triangle
    list ``tri(x, y, z)`` from DEGREE-ORIENTED wedge enumeration —
    every edge directed from its (degree, id)-smaller to its
    (degree, id)-larger endpoint (a total order, so orientation is
    unique and acyclic), each triangle generated by EXACTLY ONE wedge
    rooted at its lowest-degree corner.  The wedge count drops from
    Σ d(v)² (ruinous on hubs) to Σ d⁺(v)² with out-degree bounded by
    O(√|E|) — the standard skew-proof mitigation.

    ``deg`` and ``oriented`` both root 3 downstream subtrees (the three
    wedge-join legs reference ``oriented``; degrees feed the
    orientation joins and the final output join), and without a
    materialization boundary every consumer re-plans and re-executes
    the scan + degree aggregate + double join — the before-plan carried
    88 Exchanges / 94 re-scans for the node query
    (plans/r11/triangle_count_before.txt) versus 7 Exchanges after.

    Cut choice per frame (VERDICT r11 items 3/5 — the fault-tolerance
    trade): ``deg`` is NODE-sized, so its eager ``localCheckpoint``
    (executor-local, unrecoverable on executor loss) is cheap to
    re-derive and fine at any scale.  ``oriented`` is EDGE-LIST-sized —
    at 100 TB an executor loss under localCheckpoint kills the whole
    query, so it uses ``persist(MEMORY_AND_DISK)`` instead: the lineage
    stays in the plan and a lost partition recomputes from the (still
    checkpointed) ``deg``.  Measured A/B (r12, interleaved same-session,
    steal-clean windows only): persist is also marginally FASTER
    locally (triangle_count 1.61 vs 1.70 s, edge support 1.55 vs
    1.58 s best-of-3) — no eager materialization job, one fewer
    barrier.  The persisted frame joins the engine's one bounded scope
    (:func:`~.dedup._scoped_persist`); it is never reused across calls
    (``deg`` is a fresh ``localCheckpoint`` each time, so no live entry
    has the same semantics), which keeps per-query bench numbers
    session-order-independent.  Callers wanting a cache-free session
    call :func:`~.dedup.release_dedup_caches`.
    """
    from .dedup import _scoped_persist

    edges = edges.select(F.col(a).alias("s1"), F.col(b).alias("s2"))
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionByName(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    ed = (
        edges.join(deg.withColumnRenamed("node", "s1"), "s1")
        .withColumnRenamed("degree", "d1")
        .join(
            deg.withColumnRenamed("node", "s2").withColumnRenamed("degree", "d2"),
            "s2",
        )
    )
    fwd = F.struct(F.col("d1"), F.col("s1")) < F.struct(F.col("d2"), F.col("s2"))
    oriented = _scoped_persist(
        ed.select(
            F.when(fwd, F.col("s1")).otherwise(F.col("s2")).alias("u"),
            F.when(fwd, F.col("s2")).otherwise(F.col("s1")).alias("v"),
        )
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = (
        o1.join(o2, F.col("o1.v") == F.col("o2.u"))
        .join(
            o3,
            (F.col("o3.u") == F.col("o1.u")) & (F.col("o3.v") == F.col("o2.v")),
        )
        .select(
            F.col("o1.u").alias("x"),
            F.col("o1.v").alias("y"),
            F.col("o2.v").alias("z"),
        )
    )
    return edges, deg, tri


def triangle_counts(edges: DataFrame, a: str = "s1", b: str = "s2") -> DataFrame:
    """Per-node triangle counts and local clustering coefficients for an
    undirected graph given as CANONICAL edges (``a < b``, no duplicates):
    returns ``(node, degree, n_triangles, clustering)`` for every node of
    degree ≥ 1, with ``clustering = 2T / d(d−1)`` rounded to 6 dp (0.0
    for degree-1 nodes).

    Distributed shape: :func:`_oriented_triangles` (skew-proof wedge
    enumeration, checkpointed substrate), then ONE pass over the
    triangle list exploding each triangle into its three corners — the
    same multiset the previous three-branch union produced, without
    re-running the wedge join per corner.
    """
    edges, deg, tri = _oriented_triangles(edges, a, b)
    node_tri = (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return deg.join(node_tri, "node", "left").select(
        "node",
        F.col("degree").cast("long").alias("degree"),
        t.cast("long").alias("n_triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            F.round(2.0 * t / (F.col("degree") * (F.col("degree") - 1)), 6)
        )
        .cast("double")
        .alias("clustering"),
    )


def edge_triangle_support(
    edges: DataFrame, a: str = "s1", b: str = "s2"
) -> DataFrame:
    """Per-EDGE triangle support — the k-truss substrate: for every
    canonical edge (``a < b``, no duplicates), the number of triangles
    it participates in; an edge of support s belongs to at most the
    (s+2)-truss, and iterating "drop edges below s, recount" yields
    the full truss decomposition.  Complements
    :func:`triangle_counts`'s NODE-level counts with the edge-level
    cohesion signal community-pruning uses (an edge inside a dense
    community has high support; a spam bridge has 0).

    Same skew-proof shape as :func:`triangle_counts`: degree-oriented
    wedge enumeration generates each triangle exactly once, then each
    triangle is exploded into its three canonical edges and counted —
    two equi-join shuffles plus a bounded (edge-keyed) aggregate,
    never a per-node wedge blowup on hubs.  Substrate (and its
    checkpoint discipline) shared with :func:`triangle_counts` via
    :func:`_oriented_triangles`."""
    edges, _deg, tri = _oriented_triangles(edges, a, b)
    pair = lambda p, q: F.struct(  # noqa: E731
        F.least(p, q).alias("e1"), F.greatest(p, q).alias("e2")
    )
    tri_edges = tri.select(
        F.explode(
            F.array(
                pair(F.col("x"), F.col("y")),
                pair(F.col("x"), F.col("z")),
                pair(F.col("y"), F.col("z")),
            )
        ).alias("e")
    ).select("e.e1", "e.e2")
    supp = tri_edges.groupBy("e1", "e2").agg(
        F.count(F.lit(1)).alias("support")
    )
    return edges.join(
        supp,
        (edges.s1 == supp.e1) & (edges.s2 == supp.e2),
        "left",
    ).select(
        "s1",
        "s2",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    a: str = "s1",
    b: str = "s2",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous semi-supervised label propagation: ``rounds`` sweeps
    where every NON-seed node adopts the mode label of its currently
    labeled neighbors (ties -> smallest label); seed labels are clamped.
    Returns (node, label, is_seed) — label NULL if no labeled node is
    reachable within ``rounds`` hops.

    Entirely integer/exact (mode = a count argmax with a total-order
    tie-break), so it replays bit-for-bit in any engine — no float
    weights, unlike label *spreading*.  Per round the work is one
    edges-x-labels equi-join and one (node, label) counting aggregate:
    the same scatter/gather shape as :func:`pagerank`, linear in edges,
    shuffling only (node, label, count) triples.  The fixed unrolled
    round count keeps lineage bounded; for high round counts at cluster
    scale, checkpoint per round exactly as `connected_components_star` does.
    """
    e = edges.select(F.col(a).alias("a"), F.col(b).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    seed = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.col(seeds.columns[1]).cast("int").alias("seed_label"),
    )
    cur = nodes.join(seed, "node", "left").select(
        "node", F.col("seed_label").alias("label")
    )
    for _ in range(rounds):
        votes = (
            sym.join(
                cur.filter(F.col("label").isNotNull()),
                sym["b"] == cur["node"],
            )
            .groupBy(sym["a"].alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
        mode = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("mode_label"))
        )
        cur = (
            nodes.join(seed, "node", "left")
            .join(mode, "node", "left")
            .select(
                "node",
                F.coalesce("seed_label", "mode_label").alias("label"),
            )
        )
    return (
        nodes.join(seed, "node", "left")
        .join(cur, "node")
        .select(
            "node",
            "label",
            F.col("seed_label").isNotNull().alias("is_seed"),
        )
    )


def hits_bipartite(
    edges: DataFrame,
    *,
    iterations: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg) on a bipartite hub→authority edge set
    ``(hub, auth)``: alternately gather authority scores from hub
    scores and hub scores from authority scores, max-normalizing each
    side per half-round.  Returns ``(hubs(hub, score),
    auths(auth, score))`` after ``iterations`` full rounds.

    Determinism discipline (= :func:`pagerank`): every gather casts
    its 12-dp-quantized contributions to DECIMAL(24,12) so the SUM is
    exact and partial-order-invariant; normalization divides by the
    side's MAX (order-invariant, unlike an L1 float sum) and re-rounds
    to 12 dp, so the unrolled SQL recurrence replays bit-for-bit.

    Scale: edges persist once; each half-round is one equi-join + one
    combinable aggregate, eagerly localCheckpointed (linear total work
    — without the lineage cut, the max-normalization subtree doubles
    per half-round and the final plan re-executes the gather chain
    2^rounds times: measured 23.9 s vs 3-4 s at sf0.1).  The per-side
    max is the only driver-side value — one scalar per half-round,
    never row data.
    """
    from pyspark.sql import Observation

    e = edges.select("hub", "auth").persist()
    hubs = e.select("hub").distinct()
    h = hubs.select("hub", F.lit(1.0).alias("score"))
    a = None

    def gather(side: DataFrame, join_key: str, out_key: str) -> DataFrame:
        """One half-round: gather + max-normalize.  The per-side max
        rides the checkpoint materialization itself via ``observe``
        (CollectMetrics merges per-task partials during the SAME job
        that writes the cut — the `connected_components_star` discipline),
        so each half-round is exactly ONE job, not a checkpoint job
        plus a second max() pass over the cut."""
        obs = Observation()
        raw = (
            e.join(side, join_key)
            .select(out_key, F.col("score").cast("decimal(24,12)").alias("c"))
            .groupBy(out_key)
            .agg(F.sum("c").cast("double").alias("raw"))
            .observe(obs, F.max("raw").alias("m"))
            .localCheckpoint(eager=True)
        )
        m = float(obs.get["m"])
        return raw.select(
            out_key, F.round(F.col("raw") / F.lit(m), _RANK_DP).alias("score")
        )

    for _ in range(iterations):
        a = gather(h, "hub", "auth")
        h = gather(a, "auth", "hub")
    e.unpersist()
    return h, a


def hits_oracle_sql(edges_cte: str, *, iterations: int = 2) -> str:
    """DuckDB CTE chain replaying :func:`hits_bipartite` exactly.

    ``edges_cte`` must define ``edges(hub, auth)``.  Ends with
    relations ``hub_final(hub, score)`` and ``auth_final(auth, score)``.
    """
    parts = [
        edges_cte,
        "h0 AS (SELECT DISTINCT hub, 1.0 AS score FROM edges)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"ar{i} AS (SELECT e.auth,"
            f" CAST(SUM(CAST(h.score AS DECIMAL(24,12))) AS DOUBLE) AS raw"
            f" FROM edges e JOIN h{i - 1} h USING (hub) GROUP BY e.auth)"
        )
        parts.append(
            f"a{i} AS (SELECT auth,"
            f" round(raw / (SELECT max(raw) FROM ar{i}), 12) AS score"
            f" FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS (SELECT e.hub,"
            f" CAST(SUM(CAST(a.score AS DECIMAL(24,12))) AS DOUBLE) AS raw"
            f" FROM edges e JOIN a{i} a USING (auth) GROUP BY e.hub)"
        )
        parts.append(
            f"h{i} AS (SELECT hub,"
            f" round(raw / (SELECT max(raw) FROM hr{i}), 12) AS score"
            f" FROM hr{i})"
        )
    parts.append(f"hub_final AS (SELECT * FROM h{iterations})")
    parts.append(f"auth_final AS (SELECT * FROM a{iterations})")
    return ",\n".join(parts)
