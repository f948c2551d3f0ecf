"""Iterative graph operators: connected components for dedup clustering.

Near-dup detection yields PAIRS (MinHash/SimHash candidates, exact-dup
pairs); deduplication needs CLUSTERS — the transitive closure of those
pairs, so each group keeps one canonical survivor. Transitive closure is
inherently iterative (no single-statement SQL form); this is the classic
small-label-propagation algorithm, the Pregel pattern expressed in
DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each iteration is one join + one aggregate
(two shuffles); iteration count is bounded by the component diameter —
for dedup graphs (near-cliques) typically 2-3 passes. The driver-side
loop holds only a changed-row COUNT per iteration (no data collects),
and each round's labels are eagerly ``localCheckpoint``-ed.

Every loop here runs inside :func:`map_reduce_engine_spark.conf.loop_conf`,
whose docstring holds the loop discipline they share (partition sizing,
AQE off, invariants materialized once, checkpoint cadence). Where a loop
needs a number — the edge count that sizes it, a round's changed or
surviving rows — :func:`map_reduce_engine_spark.conf.checkpoint` observes
it on the checkpoint job that materializes those rows, so no loop runs a
job only to count.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from map_reduce_engine_spark.conf import checkpoint, loop_conf

# Fixed-round loops checkpoint their state every this many rounds, plus
# the final round (see loop_conf).
_CHECKPOINT_EVERY = 2


def undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) — both directions of every edge, duplicates and self-loops kept.

    Symmetrized in-row, one explode per edge, rather than as a union of the
    two directions: Spark shares no subplans across union branches, so a
    union would run the edge list's upstream lineage (for near-dup
    clustering, the whole MinHash-verify pipeline) once per branch.
    """
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iter: int | None = None,
) -> DataFrame:
    """(node, component) — component = smallest node id reachable.

    ``edges`` is an undirected pair list; isolated nodes absent from it are
    (by definition) their own singleton components and simply don't appear.
    Runs to the fixpoint. A ``max_iter`` cap stops after that many rounds
    even short of it (labels travel one hop per round), which is what a
    fixed-round unrolled oracle replays.
    """
    und0, m = checkpoint(undirected(edges, src, dst))
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        und = und0.repartition(nparts, "a").localCheckpoint(eager=True)

        labels = (
            und.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=True)
        )

        for _ in itertools.count() if max_iter is None else range(max_iter):
            # each node proposes its current label to every neighbor; its
            # own row carries the label it had, so the round's aggregate
            # holds old and new side by side and the checkpoint job counts
            # the changed labels
            proposals = (
                und.join(labels, und.a == labels.node)
                .select(F.col("b").alias("node"), "component", F.lit(False).alias("own"))
            )
            new_labels, m = checkpoint(
                labels.select("node", "component", F.lit(True).alias("own"))
                .union(proposals)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("own"), F.col("component"))).alias("old"),
                ),
                changed=F.count(F.when(F.col("component") != F.col("old"), 1)),
            )
            labels = new_labels.select("node", "component")
            if m["changed"] == 0:
                break
    return labels


def dedup_components(pairs: DataFrame, src: str = "id1", dst: str = "id2") -> DataFrame:
    """Cluster near-dup pairs into components: (component, size).

    Output: one row per non-singleton component with its canonical id
    (the minimum member id) and size — the unit on which survivor
    selection / removal policies operate.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.groupBy("component").agg(F.count("*").alias("size"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) — GraphX-convention PageRank on a directed edge list.

    rank(v) = (1 - d) + d * Σ_{u→v} rank(u) / out_degree(u), iterated a
    fixed number of rounds (the GraphX staticPageRank formulation — ranks
    are per-node scores ≥ (1-d), not a probability distribution; nodes with
    no in-links converge to exactly 1-d).

    This is :func:`personalized_pagerank` with every node seeded at 1.0;
    ``(1 - d) * 1.0 == 1 - d`` exactly in IEEE-754, so the ranks are the
    ones the unseeded recurrence computes, bit for bit.
    """
    return personalized_pagerank(edges, None, src, dst, iterations, damping)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """(node, hub, auth) — HITS (Kleinberg) on a directed edge list.

    Fixed-round mutual reinforcement: auth(v) = Σ_{u→v} hub(u), then
    2-norm-normalize; hub(u) = Σ_{u→v} auth(v), normalize; repeat.
    Nodes with no in-links keep auth 0, no out-links keep hub 0.

    The edge list is pre-partitioned on EACH join key (the auth step joins
    hubs on ``src``, the hub step joins auths on ``dst`` — two partitioned
    copies so neither per-round join re-shuffles the edges). The 2-norm is
    a 1-row aggregate broadcast back — never a driver collect.
    """
    if iterations < 1:
        raise ValueError(
            f"hits() needs iterations >= 1 (got {iterations}): auth scores "
            "only exist after the first half-step"
        )
    e, m = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        e_src = e.repartition(nparts, "src").localCheckpoint(eager=True)
        e_dst = e.repartition(nparts, "dst").localCheckpoint(eager=True)
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .repartition(nparts, "node")
            .localCheckpoint(eager=True)
        )
        hub = nodes.withColumn("v", F.lit(1.0))
        auth = None
        for _ in range(iterations):
            # both half-steps checkpoint their raw scatter: the raw plan is
            # referenced TWICE (by the 2-norm aggregate and as the data
            # side), so skipping the checkpoint would recompute the
            # edge-sized join up to 4x per round at scale — here the extra
            # job per half-step is the cheaper side of the trade (unlike
            # pca_power_iteration's 1-row state, where it is not)
            auth = _normalized_scatter(nodes, e_src, hub, join_key="src", out_key="dst")
            hub = _normalized_scatter(nodes, e_dst, auth, join_key="dst", out_key="src")
    return (
        hub.select("node", F.col("v").alias("hub"))
        .join(auth.select("node", F.col("v").alias("auth")), "node")
    )


def _normalized_scatter(
    nodes: DataFrame, e: DataFrame, scores: DataFrame, join_key: str, out_key: str
) -> DataFrame:
    """One HITS half-step: scatter ``scores`` across edges from ``join_key``
    to ``out_key``, sum per target, left-join onto the node table (absent →
    0.0), then divide by the 2-norm (1-row broadcast). Checkpointed so the
    next half-step reads a truncated plan."""
    raw = (
        nodes.join(
            e.join(scores, e[join_key] == scores["node"])
            .select(F.col(out_key).alias("node"), "v")
            .groupBy("node")
            .agg(F.sum("v").alias("s")),
            "node",
            "left",
        )
        .select("node", F.coalesce("s", F.lit(0.0)).alias("v"))
        .localCheckpoint(eager=True)
    )
    nrm = raw.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    return raw.crossJoin(F.broadcast(nrm)).select(
        "node", (F.col("v") / F.col("nrm")).alias("v")
    )


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 4,
) -> DataFrame:
    """(node, dist) — bounded-round single-source(-set) shortest paths by
    min-plus relaxation (distributed Bellman-Ford).

    ``seeds`` is a 1-column (``node``) DataFrame of distance-0 sources;
    unreached nodes carry NULL (= infinity — ``least`` ignores NULLs in
    both Spark and DuckDB, so the relaxation needs no sentinel). Distances
    are whatever integer type ``weight`` has: with integer weights every
    round is EXACT, no float drift ever.

    Weighted edges are pre-partitioned on ``src``. Each round is one
    equi-join (reached distances ⋈ edges) + one min-aggregate on ``dst`` +
    one left join back to the node table. ``iterations`` bounds the hop
    radius (Bellman-Ford needs |V|-1 rounds for full convergence; a fixed
    small radius is the usual production choice — distances beyond it read
    NULL).
    """
    e, m = checkpoint(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w"))
    )
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        we = e.repartition(nparts, "src").localCheckpoint(eager=True)
        # seeds union in: an isolated seed (no incident edges) must still
        # carry its distance-0 row — "seeds carry distance 0" holds even
        # when the node never appears in the edge list
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .union(seeds.select(F.col("node")))
            .distinct()
            .repartition(nparts, "node")
            .localCheckpoint(eager=True)
        )
        dist = nodes.join(
            seeds.select(F.col("node"), F.lit(0).cast("bigint").alias("seed0")),
            "node",
            "left",
        ).select("node", F.col("seed0").alias("dist"))
        for i in range(iterations):
            cand = (
                we.join(
                    dist.where(F.col("dist").isNotNull()),
                    we.src == F.col("node"),
                )
                .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
                .groupBy("node")
                .agg(F.min("d").alias("cand"))
            )
            dist = (
                dist.join(cand, "node", "left")
                .select("node", F.least("dist", "cand").alias("dist"))
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 or i == iterations - 1:
                dist = dist.localCheckpoint(eager=True)
    return dist


def orient_by_degree(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(a, b) — each undirected edge directed from its (degree, id)-smaller
    endpoint to its larger one.

    After this orientation every node's OUT-degree is bounded by
    O(sqrt(m)): a node with out-degree d has d neighbors of degree >= its
    own, impossible past sqrt(2m). Degrees are one aggregate over the edge
    list; orientation is a join + comparison — the cheap preprocessing
    that turns wedge enumeration from hub-bound to O(m^1.5)-bound.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )


def triangle_count(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """1-row (n_triangles) — degree-oriented triangle counting.

    ``edges`` is a deduplicated undirected pair list (one row per edge, any
    orientation). Each edge is re-oriented from its (degree, id)-smaller
    endpoint to its larger one; two equi-joins over the oriented list then
    count every triangle exactly once (the orientation is a total order,
    so triangle {x<y<z} appears only as x→y, y→z, x→z).

    Why degree orientation instead of plain id order: after orienting
    toward the higher-degree endpoint, every node's OUT-degree is bounded
    by O(sqrt(m)) — a node with out-degree d has d neighbors of degree
    >= its own, which is impossible past sqrt(2m) — so the wedge join's
    fan-out is O(m^1.5) on ANY graph, including power-law graphs where
    id-ordering leaves a hub with millions of out-edges and one reducer
    doing all the work (the compact-forward bound; cf. Latapy 2008).
    Degrees are one aggregate; orientation is one join + a comparison.
    """
    # materialize once: the oriented list feeds all three legs of the
    # wedge join (localCheckpoint, reclaimed by the ContextCleaner)
    oriented = orient_by_degree(edges, src, dst).localCheckpoint(eager=True)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    return (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count("*").alias("n_triangles"))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 4,
) -> DataFrame:
    """(node, dist) — undirected BFS hop distances from a seed set.

    The third iterative-graph primitive next to connected components and
    PageRank: frontier expansion, one equi-join + anti-join per round.
    Each round joins the current frontier to the undirected edge list,
    drops already-visited nodes with an anti-join on the distance table,
    and eagerly ``localCheckpoint``s both. Rounds are FIXED at
    ``max_depth`` so the DuckDB oracle unrolls the identical expansion; an
    empty frontier makes the remaining rounds no-ops rather than
    early-exiting (no per-round driver count job).
    """
    und0, m = checkpoint(undirected(edges, src, dst).distinct())
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        und = und0.repartition(nparts, "a").localCheckpoint(eager=True)
        dist = seeds.select(
            F.col(seeds.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("dist")
        ).localCheckpoint(eager=True)
        frontier = dist.select("node")
        for r in range(1, max_depth + 1):
            nxt = (
                frontier.join(und, frontier.node == und.a)
                .select(F.col("b").alias("node"))
                .distinct()
                .join(dist, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            dist = dist.union(
                nxt.withColumn("dist", F.lit(r).cast("bigint")).select("node", "dist")
            ).localCheckpoint(eager=True)
            frontier = nxt
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.):
    (node, community) after a FIXED number of rounds.

    Each round every node adopts the most frequent label among its
    neighbors, ties broken toward the smallest label — both choices
    deterministic, so the result is reproducible under any partitioning
    and replayable by an unrolled-SQL oracle (the async/randomized variant
    of the original paper trades that away for faster convergence).
    Synchronous LPA can oscillate on bipartite structure, which is why the
    contract is fixed-round, not run-to-convergence.

    Per round: one join + one (node, label) hash aggregate + one per-node
    top-1 window over the aggregate — all keyed shuffles bounded by the
    label-histogram size.
    """
    und0, m = checkpoint(undirected(edges, src, dst))
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        und = und0.repartition(nparts, "a").localCheckpoint(eager=True)
        labels = (
            und.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label"))
        for _ in range(rounds):
            counts = (
                und.join(labels, und.a == labels.node)
                .select(F.col("b").alias("node"), "label")
                .groupBy("node", "label")
                .agg(F.count("*").alias("cnt"))
            )
            labels = (
                counts.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
    return labels.select("node", F.col("label").alias("community"))


def k_core(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    k: int = 3,
    max_iter: int = 8,
) -> DataFrame:
    """(node, core_degree) — the k-core of an undirected edge list.

    Iterative peeling: drop every node whose degree is below ``k``, remove
    its edges, repeat until fixpoint (or ``max_iter`` rounds — the loop
    breaks early the round nothing is removed, so a bounded-round DuckDB
    unrolling of the same peel computes the identical result). Output is
    one row per surviving node with its degree inside the core.

    Each round's survivor edge set is eagerly local-checkpointed, and every
    step is an equi-join/hash-agg — the peel scales as O(rounds)
    co-partitioned shuffles at any graph size.
    """
    und0, m = checkpoint(undirected(edges, src, dst))
    n_edges = m["rows"]
    with loop_conf(edges.sparkSession, n_edges) as nparts:
        und = und0.repartition(nparts, "a").localCheckpoint(eager=True)
        for _ in range(max_iter):
            keep = (
                und.groupBy("a")
                .agg(F.count("*").alias("deg"))
                .where(F.col("deg") >= k)
                .select("a")
            )
            und, m = checkpoint(
                und.join(keep, "a", "left_semi").join(
                    keep.select(F.col("a").alias("b")), "b", "left_semi"
                )
            )
            if m["rows"] == n_edges:
                break
            n_edges = m["rows"]
    return und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("core_degree")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame | None,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank) — PageRank with teleport restricted to a seed set.

    rank(v) = (1 - d) * seed(v) + d * Σ_{u→v} rank(u) / out_degree(u),
    seed(v) ∈ {0, 1}, iterated a fixed number of rounds from rank = seed —
    the random-walk-with-restart proximity score used for seeded
    recommendation ("items close to THESE customers"), graph-based
    expansion of a labeled set, and local community scoring. Nodes
    unreachable from the seed set stay at exactly 0 and are meaningful
    output (not dropped). Seeds are a DataFrame (first column), never a
    driver-side list; ``seeds=None`` seeds every node, which is
    :func:`pagerank`.

    Scale shape: out-degrees are computed once; each round is one equi-join
    of ranks to edges on the source + one hash aggregate on the
    destination — two shuffles per round, both on node keys.
    """
    e, m = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    with loop_conf(edges.sparkSession, m["rows"]) as nparts:
        out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        # the edges⋈degrees join is loop-invariant: attach out_deg to each
        # edge ONCE, so every round is a single equi-join
        # (ranks⋈weighted-edges) + one aggregate instead of two joins + one
        # aggregate. Division stays rank / out_deg (not a precomputed
        # reciprocal) so the arithmetic is bit-identical to the
        # unrolled-CTE oracle.
        we = (
            e.join(out_deg, "src")
            .select("src", "dst", "out_deg")
            .repartition(nparts, "src")
            .localCheckpoint(eager=True)
        )
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        if seeds is None:
            nodes = nodes.withColumn("seed", F.lit(1.0))
        else:
            seed_df = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
            nodes = nodes.join(
                seed_df.withColumn("is_seed", F.lit(1.0)), "node", "left"
            ).select("node", F.coalesce("is_seed", F.lit(0.0)).alias("seed"))
        nodes = nodes.repartition(nparts, "node").localCheckpoint(eager=True)
        # the initial ranks derive narrowly from the checkpointed node
        # table, so round 1 reads them straight off it (no extra job)
        ranks = nodes.select("node", F.col("seed").alias("rank"))
        for i in range(iterations):
            contribs = we.join(ranks, we.src == ranks.node).select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            new_ranks = (
                nodes.join(
                    contribs.groupBy("node").agg(F.sum("contrib").alias("in_sum")),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping) * F.col("seed")
                        + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                    ).alias("rank"),
                )
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 or i == iterations - 1:
                ranks = new_ranks.localCheckpoint(eager=True)
            else:
                ranks = new_ranks
    return ranks


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_iter: int = 5,
) -> DataFrame:
    """(u, v, n_triangles) — the k-truss of an undirected edge list: the
    maximal subgraph where every edge closes at least k-2 triangles
    WITHIN the subgraph. Cohesion one level up from k-core (degree can
    be faked by hubs; triangle support cannot) — the standard community
    nucleus before clique-ish analysis.

    Edges must be canonical (u < v). Each peel round enumerates
    triangles once via the ordered 3-way equi-join (a<b<c, so each
    triangle appears exactly once), explodes them to their three edges,
    and drops edges below support k-2; peeling is monotone so a bounded
    unrolling equals the fixpoint (the k_core argument). Support of the
    SURVIVING subgraph is recomputed for the output. Checkpointed rounds,
    early break at fixpoint, as in k_core.
    """
    e, m = checkpoint(edges.select("u", "v"))
    prev_n = m["rows"]

    def support(ed: DataFrame) -> DataFrame:
        e1, e2, e3 = ed.alias("e1"), ed.alias("e2"), ed.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
            )
        )
        sides = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        )
        return sides.groupBy("u", "v").agg(F.count("*").cast("bigint").alias("n_triangles"))

    with loop_conf(edges.sparkSession, prev_n):
        for _ in range(max_iter):
            e, m = checkpoint(
                e.join(support(e), ["u", "v"])
                .where(F.col("n_triangles") >= k - 2)
                .select("u", "v")
            )
            if m["rows"] == prev_n:
                break
            prev_n = m["rows"]
        out = e.join(support(e), ["u", "v"], "left").select(
            "u", "v", F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles")
        )
    return out.localCheckpoint(eager=True)
