"""Iterative graph algorithms as DataFrame loops (SURVEY.md §2.10).

The reference has no graph operators; the engine needs the iterative
join-aggregate pattern anyway: near-dup clusters (text/dedup.py::
dedup_clusters) are ``connected_components`` over candidate pairs.
PageRank is the canonical second one:
per iteration, every node sends rank/out_degree along its edges and
ranks re-aggregate — a join + groupBy per step, shuffling on the node
key both times.

Scale posture: the edge list is the big table (100 TB-class) and is
reused every iteration, so PageRank is two steps. ``pagerank_graph``
prepares the graph once: the degree-annotated edges, the node sets,
|V| and the depth-1 flag, each eagerly checkpointed. ``pagerank``
then runs only the rank loop over them, so a caller that persists
the graph (the catalog's ``supplier_graph`` artifact) pays only for
the iterations on every call. Lineage grows linearly with iterations,
so iterations are cut with ``localCheckpoint`` — without it, plan
size (and task serialization time) grows without bound and long
loops eventually stack-overflow the optimizer. The node count enters
the plan as a broadcast 1-row relation, never as a driver-side
``.count()`` — the driver holds only conf, never data.

Every graph key builds on one definition of each primitive here: the
pairwise array expansion (``array_combinations``), the canonical
(u < v) edge relation (``canonical_edges``), its both-orientations
form (``both_orientations``), its per-node degree (``node_degrees``)
and the loop sizing rule (``loop_partitions``).
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# triangle_delta's membership joins broadcast the Δ-edge relation; the
# documented contract is a daily-batch-sized Δ. Above this row bound
# (≈160 MB of two-long rows — comfortably under Spark's 8 GB broadcast
# ceiling but sized for driver memory headroom) the hint is dropped
# and the join degrades to a shuffle instead of a broadcast OOM.
TRIANGLE_DELTA_BROADCAST_MAX = 10_000_000


def loop_partitions(rel: DataFrame) -> int:
    """Partitions for an iterative loop over the materialized relation
    ``rel``: one per 50k rows, at least 2, at most defaultParallelism.
    A loop's working relation is often orders of magnitude smaller
    than the corpus it came from, and each round's task scheduling
    dominates when a few thousand rows spread over the whole cluster;
    at 100 TB-scale relations n // 50k >= defaultParallelism, so the
    rule is a no-op exactly where full parallelism matters. Counts
    ``rel`` once: pass a checkpointed relation."""
    dp = rel.sparkSession.sparkContext.defaultParallelism
    return max(2, min(dp, rel.count() // 50_000 + 1))


def array_combinations(arr: str, *names: str) -> Column:
    """Every combination of ``len(names)`` elements of the array column
    ``arr`` taken in array order, exploded to one struct row each with
    the fields ``names``: on a sorted distinct array each row is
    strictly increasing. The map-side basket iterator of the graph
    family (a basket of b items emits C(b, k) rows, never a self-join):
    level l walks the suffix after level l-1's element, so no
    combination repeats."""
    k = len(names)
    fields = ", ".join(f"x{j} AS {n}" for j, n in enumerate(names))
    body = f"struct({fields})"
    for lvl in range(k - 1, -1, -1):
        offset = " + ".join(f"i{j}" for j in range(lvl))
        src = (
            f"slice({arr}, {offset} + {lvl + 1}, size({arr}))"
            if lvl else arr
        )
        if lvl == k - 1:
            body = f"transform({src}, x{lvl} -> {body})"
        else:
            body = f"flatten(transform({src}, (x{lvl}, i{lvl}) -> {body}))"
    return F.explode(F.expr(body))


def canonical_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The undirected edge relation (u, v) with u < v: one row per
    edge, self-loops and repeats dropped, in either input orientation.
    The explicit repartition in front of the distinct keeps this
    small-byte but CPU-heavy relation at full width under AQE's
    byte-based coalescing (parallelismFirst=false would shrink it to
    1-3 tasks; a user repartition is preserved), and leaves it keyed
    on (u, v), so ``count_triangles`` over it adds no exchange."""
    dp = edges.sparkSession.sparkContext.defaultParallelism
    a, b = F.col(src), F.col(dst)
    return (
        edges.filter(a != b)
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .repartition(dp, "u", "v")
        .distinct()
    )


def both_orientations(edges: DataFrame) -> DataFrame:
    """Each edge (u, v) of an undirected relation and its reverse
    (v, u), as columns (u, v): the adjacency form every per-node pass
    groups or joins on."""
    return edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def node_degrees(edges: DataFrame, name: str = "degree") -> DataFrame:
    """(node, ``name``) degree of every endpoint of a canonical (u, v)
    edge relation: each edge counts once at both of its endpoints."""
    return (
        both_orientations(edges)
        .select(F.col("u").alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias(name))
    )


class PageRankGraph(NamedTuple):
    """The loop invariants of PageRank over one edge list, each an
    eagerly checkpointed relation: ``e_deg`` (src, dst, out_deg),
    ``nodes`` (node), ``non_receivers`` (node: no inbound edge),
    ``n_nodes`` (the 1-row |V| relation) and ``sender_receives``
    (False when no node both sends and receives: rank flow has depth
    1)."""

    e_deg: DataFrame
    nodes: DataFrame
    non_receivers: DataFrame
    n_nodes: DataFrame
    sender_receives: bool


def pagerank_graph(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> PageRankGraph:
    """Prepare ``edges`` for ``pagerank``: everything the rank loop
    reads that does not depend on the ranks, built once and eagerly
    checkpointed, so a caller that persists the result (the catalog's
    ``supplier_graph`` artifact) pays only for the iterations on every
    later call. Damping and the iteration count are not inputs: one
    graph serves every loop over it."""
    # the raw edge relation is scanned by nodes, e_deg, non_receivers
    # and the depth probe — cache it for the build, or the upstream
    # plan (often a join+distinct) runs once per scan. An edge with a
    # null endpoint joins no vertex, so it is dropped.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropna()
        .cache()
    )
    try:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # |V| as an in-plan broadcast scalar: a 1-row relation
        # cross-joined (broadcast) wherever 1/n or the teleport term is
        # needed. No .count() on the driver, and the constant stays
        # inside Catalyst's reach.
        n_nodes = nodes.agg(F.count("*").alias("n_nodes")).localCheckpoint(
            eager=True
        )
        out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        e_deg = e.join(out_deg, "src").localCheckpoint(eager=True)
        # Nodes with no inbound edge never receive contributions —
        # their rank is the constant teleport term every iteration, so
        # the loop unions them in instead of left-joining every node
        # (contribs' node set is exactly the distinct-dst set, so
        # contribs ∪ non_receivers covers every node exactly once).
        non_receivers = nodes.join(
            e.select(F.col("dst").alias("node")).distinct(),
            "node",
            "left_anti",
        ).localCheckpoint(eager=True)
        # Depth-1 probe: if NO node both sends and receives (the graph
        # is pure-sources -> pure-sinks, e.g. any bipartite interaction
        # graph), every sender's rank is the constant teleport term
        # from iteration 1 onward, so the vector reaches its EXACT
        # fixed point at iteration 2. One small semi-join probe.
        sender_receives = bool(
            e.select(F.col("dst").alias("node"))
            .join(e.select(F.col("src").alias("node")), "node", "left_semi")
            .limit(1)
            .count()
        )
    finally:
        e.unpersist()
    return PageRankGraph(e_deg, nodes, non_receivers, n_nodes, sender_receives)


def pagerank(
    graph: PageRankGraph,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a graph prepared by
    ``pagerank_graph``; returns (node, rank). Only the rank loop runs
    here: the degree-annotated edges, the node sets, |V| and the
    depth-1 flag are read from ``graph``. Dangling nodes (no
    out-edges) keep receiving rank but distribute nothing; the
    per-iteration teleport term keeps the total finite without a
    driver-side normalization pass.

    On a depth-1 graph (``graph.sender_receives`` False) the loop
    stops after 2 iterations: further iterations are the identity, so
    the result is bit-identical to running all ``iterations``."""
    e_deg, nodes, non_receivers, nsc, sender_receives = graph
    # The build dropped null endpoints, so this filter keeps every
    # edge. The optimizer infers it for every iteration's edges but
    # the last (their dst feeds the next join key); stating it makes
    # all iterations broadcast the same e_deg plan, which a checkpoint
    # query then broadcasts once instead of once per iteration.
    e_deg = e_deg.where(F.col("dst").isNotNull())
    teleport = F.lit(1.0 - damping) / F.col("n_nodes")
    fixed = (
        non_receivers.crossJoin(F.broadcast(nsc))
        .select("node", teleport.alias("rank"))
    )
    effective_iters = iterations if sender_receives else min(iterations, 2)

    ranks = nodes.crossJoin(F.broadcast(nsc)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for i in range(effective_iters):
        contribs = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            # decimal-cast sum: exact and order-independent, so ranks
            # are bit-identical across partitionings AND engines — this
            # is what lets a fixed-iteration run carry a value oracle
            # (DuckDB computes the same decimal sums; double summation
            # order would differ in the last ulp)
            .agg(
                F.sum(F.col("c").cast("decimal(38,20)"))
                .cast("double")
                .alias("received")
            )
        )
        ranks = (
            contribs.crossJoin(F.broadcast(nsc))
            .select(
                "node",
                (teleport + F.lit(damping) * F.col("received")).alias(
                    "rank"
                ),
            )
            .unionByName(fixed)
        )
        # Eager checkpoint every 2nd (and the last) iteration: lineage
        # stays bounded at depth 2 and each checkpoint is its own
        # measurable job, but the loop runs half as many jobs as a
        # per-iteration checkpoint — per-job fixed overhead, not data
        # volume, dominates an iteration at any SF.
        if i % 2 == 1 or i == effective_iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def adamic_adar_scores(
    edges: DataFrame,
    node: str,
    nbr: str,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link-prediction scores over a bipartite pivot—nbr
    graph: for every unordered nbr pair sharing >= 1 pivot, the sum of
    1/ln(deg(pivot)) over shared pivots (rare shared pivots count
    more). Wedges are generated map-side per pivot from its sorted
    neighbor array (the triangle iterator's pattern — no pair
    self-join); pivots with < 2 neighbors contribute nothing, so
    ln(deg) >= ln 2 and every weight is finite.

    ``max_degree`` is the frequent-prune lever that bounds wedge
    volume at scale: a pivot with degree d emits d(d-1)/2 wedges, so
    total volume is sum(deg²) and ONE hot pivot on a skewed 100×
    graph goes quadratic. Pivots with degree > max_degree are dropped
    ENTIRELY (their per-wedge weight 1/ln(d) is the smallest in the
    graph, so they carry the least signal per unit of work); survivors
    keep their exact uncapped weights. `graph_degree_cap_report` in
    the catalog quantifies what a given cap drops.

    Output: (s1, s2, common_nbrs, aa_score) with s1 < s2, aa_score an
    exact decimal-summed double — deterministic across partitionings.
    """
    dp = edges.sparkSession.sparkContext.defaultParallelism
    lists = (
        edges.select(node, nbr)
        .distinct()
        .groupBy(node)
        .agg(F.sort_array(F.collect_set(nbr)).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    if max_degree is not None:
        lists = lists.filter(F.size("ss") <= max_degree)
    # Explicit repartition before the d(d-1)/2-fold wedge explode: the
    # neighbor-list relation is byte-small (one array row per pivot),
    # so AQE's byte-based coalescing (parallelismFirst=false) shrinks
    # it to 1-2 post-shuffle tasks — and the CPU-heavy explode plus
    # the decimal partial aggregation then run serially (measured at
    # sf0.1: 8.7M wedges, 17.9 s key -> 4.4 s with the spread). Same
    # device as count_triangles' canon repartition; a user repartition
    # is preserved by AQE.
    lists = lists.repartition(dp)
    wedges = lists.select(
        (F.lit(1.0) / F.log(F.size("ss").cast("double"))).alias("w"),
        array_combinations("ss", "s1", "s2").alias("pr"),
    ).select("pr.s1", "pr.s2", "w")
    return wedges.groupBy("s1", "s2").agg(
        F.count("*").cast("bigint").alias("common_nbrs"),
        F.sum(F.col("w").cast("decimal(30,15)"))
        .cast("double")
        .alias("aa_score"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "pk",
) -> DataFrame:
    """Minimum hop distance from a seed set over a directed edge list,
    bounded at ``max_hops`` expansions. ``seeds`` carries one column
    (``node``); output is (node, dist) for every node within reach.

    Per round: ONE join of the frontier against the edge list + one
    anti-join against the labeled set, with an eager lineage cut so
    the plan never re-derives prior frontiers (the pagerank loop
    shape). BFS order guarantees min-distance labels. The caller
    bounds edge volume BEFORE this loop (see the max_basket lever on
    the co-order edge build) — the frontier join is the only per-round
    shuffle. Stops early when a frontier empties: every later round
    would be a no-op on an empty side. Unlike ``connected_components``
    (where cap exhaustion is an error), hitting ``max_hops`` here is
    the DEFINED semantics: the result is "min hop distance, truncated
    at max_hops", and nodes farther away are intentionally absent.

    ``edges`` is read once per round, so pass a materialized relation
    (_co_order_edges eagerly checkpoints its output): the loop does
    not checkpoint it again."""
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
    state = (
        seeds.select(F.col(node).alias("pk"))
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = state
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["pk"] == e["_src"])
            .select(F.col("_dst").alias("pk"))
            .distinct()
        )
        new = nxt.join(state, "pk", "left_anti").withColumn(
            "dist", F.lit(k)
        )
        # lazy checkpoint; the emptiness probe is a FULL count, so it
        # materializes (and persists) the whole frontier in the same
        # job — one action per round instead of two
        new = new.localCheckpoint(eager=False)
        if new.count() == 0:
            break
        state = state.unionByName(new).localCheckpoint(eager=False)
        frontier = new
    return state


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list: (node,
    component) where component = the MINIMUM node id reachable from
    the node — the canonical label both engines can agree on exactly.

    Alternating min-label propagation with POINTER JUMPING: each round
    (a) relabels every node to the min of its own and its neighbors'
    labels (one join + one aggregate — at the propagate fixpoint both
    endpoints of every edge hold equal labels, so labels = per-
    component minima), then (b) shortcuts comp <- comp(comp) (one
    |V|-sized self-join), which halves the remaining pointer distance
    to the component minimum. Propagation alone needs diameter rounds;
    with the shortcut the round count drops to ~log2(diameter) — the
    device that makes a 100 TB graph loop converge in single-digit
    rounds instead of hundreds. Every round ends in a lineage cut
    whose one job is a bit-exact changed-count, so iteration stops the
    first round nothing moves — provably at the fixpoint, since the
    update is a deterministic monotone function of the label vector.
    The loop's relations are sized to the edge count
    (``loop_partitions``): near-dup pair graphs, the ``dedup_clusters``
    input, are tiny next to the corpus they come from.

    Isolated nodes (no edges) are the caller's concern: only nodes
    appearing in ``edges`` with a neighbor other than themselves are
    labeled.

    Raises ``RuntimeError`` if ``max_iterations`` is exhausted before
    the changed-probe hits zero: an unconverged label vector is WRONG
    (some nodes still point at a non-minimum), and surfacing that as a
    loud error here beats a downstream oracle mismatch. With pointer
    jumping the round count is ~log2(diameter), so the default cap of
    20 covers graphs with diameter up to ~2^20 edges-on-a-path."""
    b = both_orientations(canonical_edges(edges, src, dst)).localCheckpoint(
        eager=False
    )
    parts = loop_partitions(b)
    # b is re-joined on v EVERY round and never changes: pin its
    # partitioning to the join key once, before the checkpoint
    # (LogicalRDD preserves outputPartitioning), so each round only
    # shuffles the |V|-sized label vector, never the edge relation.
    b = b.repartition(parts, "v").localCheckpoint(eager=True)
    labels = (
        b.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        # The round's min-label aggregate CARRIES each node's previous
        # label beside the new one (own rows are tagged; min over the
        # tagged copy == the old label, every node has exactly one own
        # row), so the convergence probe below is a narrow filter over
        # the just-checkpointed relation instead of a |V| shuffle join
        # of new vs old per round — one whole exchange removed from
        # every round at any scale.
        nb = b.join(labels, b["v"] == labels["node"]).select(
            F.col("u").alias("node"),
            F.col("comp"),
            F.lit(None).cast(labels.schema["comp"].dataType).alias("_own"),
        )
        new = (
            labels.select(
                "node", "comp", F.col("comp").alias("_own")
            )
            .unionByName(nb)
            .groupBy("node")
            .agg(
                F.min("comp").alias("comp"),
                F.min("_own").alias("_old"),
            )
        )
        jump = new.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        # lazy checkpoint + FULL changed-count as the round's single
        # materializing action (the filter is narrow over the
        # checkpoint-marked relation, so the count computes and
        # persists every partition) — one job per round instead of an
        # eager materialization plus a limit(1) probe
        new = (
            new.join(jump, new["comp"] == jump["_jn"])
            .select("node", F.col("_jc").alias("comp"), "_old")
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
        changed = new.where(F.col("comp") != F.col("_old")).count()
        labels = new.select("node", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            "connected_components: label propagation did not reach the "
            f"fixpoint within max_iterations={max_iterations}; labels "
            "would be unconverged (raise the cap — rounds needed is "
            "~log2(graph diameter) with pointer jumping)"
        )
    return labels


def count_triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via the degree-ordered node-iterator
    (the canonical distributed triangle algorithm: Suri & Vassilvitskii
    "Counting triangles and the curse of the last reducer", WWW'11).

    Input: a canonical (u < v) distinct edge relation (u, v) — what
    ``canonical_edges`` returns, or a store built from it. Output:
    (node, n_triangles) for every node in >= 1 triangle.

    Why degree ordering matters at 100 TB: wedges (2-paths) are
    enumerated at their LOWEST-degree endpoint, so per-pivot work is
    bounded by out-degree^2 where every out-degree is <= O(sqrt(m)) —
    a hub of degree d contributes d^2 wedges under value ordering but
    only ~m under degree ordering. The total-order tiebreak
    (degree, node) keeps the orientation acyclic and deterministic.

    Plan: the input keyed on (u, v) (no shuffle when it comes straight
    from ``canonical_edges``), degree aggregate (1 shuffle, |V| rows),
    orient via two degree joins (|V|-sized relation; broadcast when
    small, shuffle-join otherwise — Spark's AQE picks), wedge
    self-join on the pivot, then one join against
    oriented edges closes the wedge. The triangle set is orientation-
    independent, so a plain a<b formulation (what the DuckDB oracle
    runs) yields identical counts.
    """
    dp = edges.sparkSession.sparkContext.defaultParallelism
    # explicit repartition: AQE's byte-based coalescing
    # (parallelismFirst=false) would shrink this small-byte but
    # CPU-heavy relation to 1-3 tasks; a user repartition is
    # preserved, keeping the wedge stages at full width. Straight
    # after ``canonical_edges`` (hash-partitioned on (u, v) at this
    # width) the planner drops it; over a checkpointed store it stays.
    canon = edges.select("u", "v").repartition(dp, "u", "v")
    # The DAG fans out from canon (degree branch x2, orientation) and
    # from oriented (adjacency x2, edge probe): without a cut Spark
    # re-derives the edge-building self-join once per branch (~9
    # recomputations measured, 24 s at sf0.1 -> 6 s with the cuts).
    # Eager localCheckpoint is the same bounded-lineage device
    # pagerank uses: |E|-sized, executor-resident, no driver data.
    canon = canon.localCheckpoint()
    deg = node_degrees(canon, "deg")
    du = deg.select(
        F.col("node").alias("u"), F.col("deg").alias("deg_u")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("deg").alias("deg_v")
    )
    oriented = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("deg_u") < F.col("deg_v"))
                | (
                    (F.col("deg_u") == F.col("deg_v"))
                    & (F.col("u") < F.col("v"))
                ),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("v").alias("s"), F.col("u").alias("t"))
            )
            .alias("e")
        )
        .select("e.s", "e.t")
    ).localCheckpoint()
    # Edge-iterator with adjacency arrays: ship each node's
    # out-neighbor list to its edges and intersect MAP-SIDE. A first
    # cut self-joined oriented edges on the pivot and shuffled the
    # wedge relation itself — 41M rows at sf0.1 (dense co-order
    # graph), ~45 s; here wedge enumeration happens inside
    # array_intersect over co-partitioned |E|-sized relations and
    # nothing wedge-sized is ever exchanged. An edge whose head has
    # no out-neighbors closes no triangle, so the inner join drops
    # exactly the rows that contribute nothing.
    adj = oriented.groupBy("s").agg(
        F.collect_list("t").alias("nbrs")
    ).localCheckpoint()
    adj_s = adj.select("s", F.col("nbrs").alias("nbrs_s"))
    adj_t = adj.select(
        F.col("s").alias("t"), F.col("nbrs").alias("nbrs_t")
    )
    closed = (
        oriented.repartition(dp, F.col("s"))
        .join(adj_s, "s")
        .repartition(dp, F.col("t"))
        .join(adj_t, "t")
        .select(
            "s",
            "t",
            F.array_intersect("nbrs_s", "nbrs_t").alias("c"),
        )
        .filter(F.size("c") > 0)
    )
    # triangle (s, t, c): s and t participate once per common
    # neighbor, each common neighbor once. ONE explode emits all
    # three contribution kinds per closed row — the previous 3-way
    # unionAll re-ran the adjacency joins + array_intersect once per
    # branch (closed is not checkpointed; nothing reuses the join
    # work across union branches), tripling the wedge-closing stage
    # (measured 3.1 s -> 1.2 s for the final aggregate at sf0.1).
    per_node = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("s").alias("node"),
                        F.size("c").alias("k"),
                    ),
                    F.struct(
                        F.col("t").alias("node"),
                        F.size("c").alias("k"),
                    ),
                ),
                F.transform(
                    "c",
                    lambda w: F.struct(
                        w.alias("node"), F.lit(1).alias("k")
                    ),
                ),
            )
        ).alias("p")
    ).select("p.node", "p.k")
    return per_node.groupBy("node").agg(
        F.sum("k").cast("bigint").alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core of an undirected edge list: the maximal induced subgraph
    in which every node has degree >= k — the graph-curation peel that
    strips spam tendrils and link-farm fringes while keeping densely
    connected cores (completes pagerank / BFS / components / triangles
    / Adamic-Adar as the §2.10 graph family's pruning operator).
    Output: (node, core_degree) for every surviving node, core_degree
    being its degree WITHIN the core.

    Iterative min-degree peel with the connected_components loop
    shape: each round computes alive-edge degrees (ONE aggregate),
    drops nodes below k (two semi-joins restrict the edge set to
    survivors on both endpoints), eagerly cuts lineage, and stops at
    the first round with no doomed nodes — a bit-exact fixpoint probe,
    deterministic because the peel removes ALL sub-k nodes per round
    (order-independent, unlike one-at-a-time peeling). Round count is
    bounded by the graph's degeneracy peel depth, not its size: each
    round is a full parallel sweep, so real co-occurrence graphs
    converge in a handful of rounds; at 100 TB every round stays two
    hash shuffles over a monotonically SHRINKING edge relation (the
    peel only deletes). Raises RuntimeError when ``max_rounds`` is
    exhausted unconverged — a partial peel is not a k-core.

    The reference has no graph operators (its analytics end at the 29
    BigQuery SPs, Composer/DAG_cloudrun_dataflow_sp.py:90-362); this
    extends the engine's curation surface the way the LLM-pipeline
    brief requires."""
    dp = edges.sparkSession.sparkContext.defaultParallelism
    # pinned u-partitioning (preserved through localCheckpoint and the
    # broadcast semi-joins below): every round's degree aggregate
    # groups on u, so aligning the checkpointed relation with that key
    # removes the per-round shuffle in front of the aggregate
    alive = (
        both_orientations(canonical_edges(edges, src, dst))
        .repartition(dp, "u")
        .localCheckpoint(eager=True)
    )
    # probe-FIRST loop: max_rounds counts PEELS, so the cap equals the
    # graph's peel depth exactly (a probe-last loop would need
    # depth + 1 and raise spuriously on a cap set to the known depth)
    peels = 0
    while True:
        # lazy checkpoint; the doomed-count below is the round's one
        # materializing action (narrow filter over the marked
        # relation computes and persists every degree partition)
        deg = (
            alive.groupBy("u")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=False)
        )
        if deg.filter(F.col("d") < k).count() == 0:
            break  # fixpoint: nothing left to peel
        if peels >= max_rounds:
            raise RuntimeError(
                f"kcore: peel did not reach the fixpoint within "
                f"max_rounds={max_rounds} peels; a partial peel is "
                "not a k-core (raise the cap — peels needed is the "
                "degeneracy peel depth of the graph)"
            )
        keep = deg.filter(F.col("d") >= k).select("u")
        # v-side restriction FIRST, u-side LAST: whichever join shape
        # the planner picks, the surviving relation leaves this round
        # keyed on u — the next round's degree groupBy then reuses the
        # partitioning instead of paying a fresh exchange
        # lazy: the next round's doomed-count materializes (and
        # persists) the shrunk relation while computing degrees
        alive = (
            alive.join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .join(keep, "u", "left_semi")
            .localCheckpoint(eager=False)
        )
        peels += 1
    return alive.groupBy("u").agg(
        F.count("*").cast("bigint").alias("core_degree")
    ).select(F.col("u").alias("node"), "core_degree")


def edge_adjacency(
    edges: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(node, nbrs) adjacency arrays of a canonical (u < v) edge
    relation — both orientations, one groupBy (pre-partitioned on the
    node when ``num_partitions`` is given). This IS the relation a
    real deployment PERSISTS for the maintenance kernels: written
    ``bucketBy(node)`` (sources/bucketed.py::write_bucketed), the
    Δ-side probe joins in ``triangle_delta`` read it with ZERO
    exchanges on the store side (plan contract pinned in
    tests/test_plan_features.py::
    test_bucketed_adjacency_store_joins_without_store_exchange)."""
    both = both_orientations(edges).select(
        F.col("u").alias("n"), F.col("v").alias("m")
    )
    if num_partitions:
        both = both.repartition(num_partitions, "n")
    return both.groupBy("n").agg(F.collect_list("m").alias("nbrs"))


def triangle_delta(
    old_edges: DataFrame,
    new_edges: DataFrame,
    adjacency: DataFrame | None = None,
    delta_count: int | None = None,
) -> DataFrame:
    """Per-node count of the NEW triangles created by appending
    ``new_edges`` to a graph that already contains ``old_edges`` — the
    maintenance kernel for an incrementally-kept triangle store (the
    graph member of the maintained-state family next to
    ivf_index_append and the profile/quantile/signature stores).

    Inputs are canonical (u < v) DISTINCT edge relations, disjoint
    (callers anti-join the batch against the store first). Returns
    (node, delta_triangles) covering every node of a triangle with
    >= 1 new edge, each triangle counted EXACTLY once:

    - Candidates come from the Δ side only: each new edge (u, v) is
      joined against the FULL graph's adjacency arrays and the common
      neighborhood is intersected MAP-SIDE (array_intersect — the
      count_triangles device), so per-batch work is O(|Δ| · d̄), never
      a rescan of history's wedges.
    - A triangle whose edges include 2 or 3 new edges would be found
      by each of them; it is counted only at its LEXICOGRAPHICALLY
      SMALLEST new edge. Membership of the other two sides in Δ is
      tested with broadcast joins against the (daily-batch-sized) new
      edge relation — any side not in Δ is in the store by
      construction (the neighbor came from the union adjacency).

    Bootstrap: with ``old_edges`` empty this computes the full
    triangle census of ``new_edges`` (every triangle is all-new and
    counted at its smallest edge) — bulk-build with count_triangles,
    maintain with triangle_delta; both agree, and the pytest pins it.

    At 100 TB: the store-side adjacency is one groupBy over the edge
    relation (bucketed by node in a real deployment, making the two
    Δ-side joins co-located), the Δ relation is broadcast twice, and
    nothing wedge-sized is shuffled. The broadcast is CONTRACT-
    GUARDED: the documented contract is a daily-batch-sized Δ, and
    the hint is applied only when |Δ| <= TRIANGLE_DELTA_BROADCAST_MAX
    (counted once — the Δ relation is checkpointed by every caller,
    so the count is one cheap aggregate); a caller folding a
    history-sized "batch" degrades to a shuffle join instead of a
    driver-side broadcast OOM.

    ``adjacency`` (optional): the MAINTAINED (n, nbrs) adjacency store
    over old ∪ new — in a real deployment persisted bucketBy(n)
    (``edge_adjacency`` + sources/bucketed.py) so the two Δ-side probe
    joins below read it shuffle-free; when omitted it is rebuilt from
    the edges (one groupBy) and checkpointed."""
    dp = old_edges.sparkSession.sparkContext.defaultParallelism
    # One tiny aggregate on the Δ side decides whether the two
    # membership joins may be broadcast; above the bound the plain
    # join lets AQE pick sort-merge/shuffled-hash. A caller that
    # already knows |Δ| (the usual case — every shipped caller
    # checkpoints the batch after an anti-join that ends in a count
    # or a write) passes ``delta_count`` so no extra Spark action
    # re-derives the Δ lineage here (ADVICE r10 #3).
    if delta_count is None:
        delta_count = new_edges.count()
    delta_fits = delta_count <= TRIANGLE_DELTA_BROADCAST_MAX
    hint = F.broadcast if delta_fits else (lambda d: d)
    if adjacency is not None:
        adj = adjacency.select("n", "nbrs")
    else:
        full = old_edges.unionByName(new_edges)
        adj = edge_adjacency(full, num_partitions=dp).localCheckpoint(
            eager=True
        )
    cand = (
        new_edges.join(
            adj.select(F.col("n").alias("u"), F.col("nbrs").alias("nbrs_u")),
            "u",
        )
        .join(
            adj.select(F.col("n").alias("v"), F.col("nbrs").alias("nbrs_v")),
            "v",
        )
        .select(
            "u",
            "v",
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
        )
    )
    n2 = new_edges.select(
        F.col("u").alias("e2u"), F.col("v").alias("e2v"),
        F.lit(1).alias("is_new2"),
    )
    n3 = new_edges.select(
        F.col("u").alias("e3u"), F.col("v").alias("e3v"),
        F.lit(1).alias("is_new3"),
    )
    this_edge = F.struct(F.col("u"), F.col("v"))
    side2 = F.struct(F.col("e2u").alias("u"), F.col("e2v").alias("v"))
    side3 = F.struct(F.col("e3u").alias("u"), F.col("e3v").alias("v"))
    tri = (
        cand.withColumn("e2u", F.least("u", "w"))
        .withColumn("e2v", F.greatest("u", "w"))
        .withColumn("e3u", F.least("v", "w"))
        .withColumn("e3v", F.greatest("v", "w"))
        .join(hint(n2), ["e2u", "e2v"], "left")
        .join(hint(n3), ["e3u", "e3v"], "left")
        .filter(
            (F.col("is_new2").isNull() | (side2 > this_edge))
            & (F.col("is_new3").isNull() | (side3 > this_edge))
        )
        .select("u", "v", "w")
    )
    # ONE explode emits all three endpoints per new triangle — the
    # previous 3-way unionAll re-ran the candidate joins + membership
    # filters once per branch (tri is not checkpointed; union branches
    # share no work), tripling the Δ-probe stage exactly the way
    # count_triangles' emit did before its r13 fusion.
    per_node = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return per_node.groupBy("node").agg(
        F.count("*").cast("bigint").alias("delta_triangles")
    )


def bulk_graph_stats(edges: DataFrame) -> DataFrame:
    """Bulk-build the maintained per-node (node, degree, n_triangles)
    store from a canonical (u < v) DISTINCT edge relation — the ONE
    store constructor both the batch key (simulating the persisted
    store) and the streaming twin's bootstrap wave share, so the two
    keys that must maintain the identical store cannot drift (they
    already share one rebuild oracle for the same reason)."""
    deg = node_degrees(edges)
    tri = count_triangles(edges)
    return deg.join(tri, "node", "full_outer").select(
        "node",
        F.coalesce(F.col("degree"), F.lit(0)).cast("bigint").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
    )


def fold_graph_stats(
    stats: DataFrame,
    old_edges: DataFrame,
    new_edges: DataFrame,
    delta_count: int | None = None,
) -> DataFrame:
    """Fold a batch of new edges into a maintained per-node
    (degree, n_triangles) store: degrees add (each new canonical edge
    contributes 1 to both endpoints), triangle counts add
    ``triangle_delta``. ``stats`` is the persisted store over
    ``old_edges`` — (node, degree, n_triangles); the result is the
    store over old ∪ new, equal to a from-scratch rebuild (the oracle
    pins that equality). History is read only through its adjacency
    arrays (one groupBy), never re-enumerated wedge-wise."""
    ddeg = node_degrees(new_edges, "delta_degree")
    dtri = triangle_delta(old_edges, new_edges, delta_count=delta_count)
    return (
        stats.join(ddeg, "node", "full_outer")
        .join(dtri, "node", "full_outer")
        .select(
            "node",
            (
                F.coalesce(F.col("degree"), F.lit(0))
                + F.coalesce(F.col("delta_degree"), F.lit(0))
            ).cast("bigint").alias("degree"),
            (
                F.coalesce(F.col("n_triangles"), F.lit(0))
                + F.coalesce(F.col("delta_triangles"), F.lit(0))
            ).cast("bigint").alias("n_triangles"),
        )
    )


def forget_graph_stats(
    stats: DataFrame,
    edge_store: DataFrame,
    deleted_edges: DataFrame,
    delta_count: int | None = None,
) -> DataFrame:
    """DELETE edges from the maintained per-node (degree, n_triangles)
    store — the RTBF edge of the graph member (r11; pairs with
    ``fold_graph_stats`` the way every maintained store gained its
    deletion inverse): degrees decrement by the deleted edges'
    endpoint counts, and the DESTROYED triangles are exactly
    ``triangle_delta(remaining, deleted)`` — a triangle is destroyed
    iff it contains >= 1 deleted edge, which is precisely the
    triangles the SAME kernel counts (each once, at its
    lexicographically smallest deleted edge) when the deleted set
    plays the Δ role against the surviving graph. Nothing wedge-sized
    about history is re-enumerated: per-wave cost is O(|Δ|·d̄ +
    |store|), the fold's own bound. A node whose degree reaches 0
    drops out of the store — exactly what a from-scratch rebuild over
    the remaining edges produces (forget == rebuild, the catalog
    key's oracle).

    IDEMPOTENT under re-delivery (ADVICE r11 #1): ``edge_store`` is
    the persisted canonical edge relation BEFORE this wave, and the
    wave is first SEMI-JOINED against it (the ``ivf_index_forget``
    ``indexed_ids`` device) — an edge not in the store (already
    deleted by an earlier delivery of the same RTBF wave, or never
    present) contributes nothing to ddeg/dtri, so replaying a wave
    against the already-shrunk store is a bit-exact no-op instead of
    a silent second decrement that the ``degree > 0`` filter would
    swallow. The surviving edge set triangle_delta needs is derived
    here (store ∖ wave), not passed in, so guard and remainder can
    never disagree. ONE mark-and-split pass derives both: the store
    left-joins the deduped wave keys once, the marked relation is
    lazily checkpointed once (triangle_delta consumes the survivors
    several times — adjacency build + two hint joins — and must not
    re-run the join per consumer), and the two sides are narrow
    filters over it. No forced broadcast (an RTBF wave can be a
    material fraction of the store, as the product-forget key's is;
    AQE still broadcasts a small wave from runtime stats)."""
    key = [F.least("u", "v").alias("_ku"), F.greatest("u", "v").alias("_kv")]
    wave_keys = deleted_edges.select(*key).distinct().withColumn(
        "_hit", F.lit(True)
    )
    marked = (
        edge_store.withColumn("_ku", key[0])
        .withColumn("_kv", key[1])
        .join(wave_keys, ["_ku", "_kv"], "left")
        .drop("_ku", "_kv")
        .localCheckpoint(eager=False)
    )
    deleted = marked.filter(F.col("_hit")).drop("_hit")
    remaining_edges = marked.filter(F.col("_hit").isNull()).drop("_hit")
    ddeg = node_degrees(deleted, "delta_degree")
    dtri = triangle_delta(
        remaining_edges, deleted, delta_count=delta_count
    )
    return (
        stats.join(ddeg, "node", "left")
        .join(dtri, "node", "left")
        .select(
            "node",
            (
                F.col("degree") - F.coalesce("delta_degree", F.lit(0))
            ).cast("bigint").alias("degree"),
            (
                F.col("n_triangles")
                - F.coalesce("delta_triangles", F.lit(0))
            ).cast("bigint").alias("n_triangles"),
        )
        .filter(F.col("degree") > 0)
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 4,
    damping: float = 0.85,
    eps: float = 0.0,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the teleport mass restarts at a SEED SET
    instead of uniformly — the standard graph device for retrieval
    expansion / recommendation ("what is close to THESE nodes"),
    completing the family next to the global ``pagerank``.

    rank_0(v) = 1/|seeds| on seeds (0 elsewhere);
    rank_{i+1}(v) = (1−d)·s(v) + d·Σ_{(u,v)∈E} rank_i(u)/out_deg(u).

    FRONTIER-SPARSE by construction — the property that makes PPR a
    different operator at 100 TB, not a parameterized global pagerank:
    the iterate relation holds ONLY nodes with nonzero rank (seeds ∪
    nodes reached within i hops), so each round's join touches the
    reachable frontier, never |V|; a seed set in a 100 TB graph pays
    for its neighborhood, not the graph. Per round: one probe of the
    degree-annotated edge relation (annotated once, before the loop,
    by a co-partitioned |E| join) + ONE decimal-cast aggregate (order-
    independent sums — what makes the unrolled SQL oracle bit-exact)
    carrying damped contributions and teleport mass in a tagged union
    (at most 2 addends per node: a single IEEE addition, commutative,
    so cross-engine safe), with an eager lineage cut per round.

    ``eps`` > 0 enables FORWARD-PUSH TRUNCATION, the device that makes
    PPR local at any graph size: after each round, nodes whose rank
    fell below ``eps`` are dropped and their mass stops propagating —
    the frontier is then bounded by the seed mass over eps, not by the
    reachable set (at sf0.1 the dense co-order graph's frontier is
    ~20k nodes exact vs ~350-750 at eps=1e-4, and each round's decimal
    aggregate shrinks proportionally — measured 5.5 s -> sub-second).
    The threshold test compares engine-identical doubles (decimal-
    exact sums, one IEEE multiply), so the truncated recurrence is
    still bit-mirrorable by the unrolled SQL oracle. eps=0 is the
    exact sparse recurrence — a SMALL-GRAPH/DEBUG mode: its frontier
    grows toward the reachable set (~|V| on connected graphs), so the
    frontier broadcast is forced only when eps > 0 (bounded by
    seed-mass/eps); at eps=0 the join is left to AQE's runtime stats.

    Dangling nodes receive but do not distribute, as in ``pagerank``.
    Returns the SPARSE (node, rank) vector."""
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    # seeds are a SET: a duplicated id would silently double its
    # teleport mass (and inflate k), which is neither the documented
    # contract nor a deliberate weighting
    seeds = sorted({int(s) for s in seeds})
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Annotate each edge with its tail's out-degree ONCE, before the
    # loop: deg's aggregate and e share the src key (every shipped
    # caller hands in an edge relation already keyed on src), so the
    # annotation is one co-partitioned |E| join amortized over every
    # round — the per-round form joined the rank vector against a
    # separate |V| degree relation first, an extra join + broadcast
    # per round whose product was immediately re-joined to e anyway.
    # rank/out_deg stays the SAME one IEEE division per frontier
    # node's edges (same operands), so ranks are bit-identical.
    ew = e.join(e.groupBy("src").agg(F.count("*").alias("out_deg")),
                "src").localCheckpoint(eager=True)
    k = len(seeds)
    seed_df = spark.createDataFrame(
        [(int(s),) for s in seeds], "node BIGINT"
    )
    teleport = seed_df.select(
        "node",
        F.lit(None).cast("double").alias("w"),
        (F.lit(1.0 - damping) / k).alias("_tele"),
    )
    ranks = seed_df.select("node", (F.lit(1.0) / k).alias("rank"))
    for _ in range(iterations):
        # explicit broadcast ONLY under eps-truncation: there the
        # frontier is provably bounded by seed-mass/eps, and the
        # checkpointed lineage blinds AQE's stats so it would fall
        # back to sort-merge and re-shuffle |E| every round (measured
        # 5 s/round -> 1.3 s at sf0.1). At eps=0 the frontier grows
        # toward the reachable set (~|V| on connected graphs), so a
        # forced broadcast could blow the broadcast limit at the
        # 100-TB scale this module targets — eps=0 is the exact
        # small-graph/debug recurrence and takes the plain join
        # (AQE still broadcasts it when runtime stats say it's small).
        fr = ranks.withColumnRenamed("node", "src")
        fr = F.broadcast(fr) if eps > 0.0 else fr
        # ONE aggregate per round: damped contributions and teleport
        # mass ride one tagged union (the connected_components fused
        # form) — sum() skips the teleport rows' NULL w, max() skips
        # the contribution rows' NULL _tele, and the final rank is
        # the same single IEEE addition of at most two addends the
        # two-aggregate form summed (addition is commutative, so the
        # fixed operand order cannot change the value).
        contrib = ew.join(fr, "src").select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("out_deg")).alias("w"),
            F.lit(None).cast("double").alias("_tele"),
        )
        parts = contrib.unionByName(teleport).groupBy("node").agg(
            F.sum(F.col("w").cast("decimal(38,20)")).alias("received"),
            F.max("_tele").alias("_tele"),
        )
        damped = F.lit(damping) * F.col("received").cast("double")
        ranks = parts.select(
            "node",
            F.when(F.col("received").isNull(), F.col("_tele"))
            .when(F.col("_tele").isNull(), damped)
            .otherwise(F.col("_tele") + damped)
            .alias("rank"),
        )
        if eps > 0.0:
            ranks = ranks.filter(F.col("rank") >= eps)
        ranks = ranks.localCheckpoint(eager=True)
    return ranks
