"""Traversal: k-hop BFS, reachability, and Pregel-style iteration.

Reference surface (SURVEY.md §2.9): the legacy ``Traverser``
(`LockableNode.java:178-201` — BFS/DFS with stop/return evaluators) and the
repair tool's fixed-depth chain exploration
(`RelationshipChainExplorer.java:39-63`).

Design: BFS = iterative frontier equi-joins with a visited-set anti-join.
Each iteration is one shuffle on the frontier key; ``bfs_reachable`` cuts
each round's frontier with an eager ``localCheckpoint()`` so plans don't
grow unboundedly (the classic iterative-Spark pitfall at scale).
``CHECKPOINT_EVERY`` paces PageRank alone. Frontiers stay DataFrames
end-to-end — no driver-side collection of node ids.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 3


def _edges(rels: DataFrame, direction: str, types: Iterable[str] | None) -> DataFrame:
    r = rels if types is None else rels.filter(F.col("type_name").isin(list(types)))
    out = r.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if direction == "out":
        return out
    inn = r.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    if direction == "in":
        return inn
    return out.unionByName(inn)


def bfs_reachable(
    rels: DataFrame,
    seeds: DataFrame,
    k: int,
    direction: str = "out",
    types: Iterable[str] | None = None,
    prune=None,
    emit=None,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """T2/X1: nodes reachable from each seed within ≤ k hops — the legacy
    ``Traverser`` surface, ``traverse(BFS, StopEvaluator,
    ReturnableEvaluator, types...)`` (`LockableNode.java:178-201`).

    ``seeds``: one column ``seed``. Returns (seed, node_id, hops) with the
    minimal hop count ≤ k (seed itself at hops=0). Per-seed visited sets
    are kept distributed; dedup per round is a groupBy-min on
    (seed, node_id) — map-side combinable.

    ``prune``: Column predicate over ``nodes`` columns; nodes satisfying it
    are returned but NOT expanded (StopEvaluator.stopAt). ``emit``: Column
    predicate selecting which visited nodes are returned
    (ReturnableEvaluator). ``nodes`` (keyed by ``id``) is needed only when
    a predicate is given. Column predicates keep evaluation JVM-side;
    arbitrary Python evaluators can be wrapped as pandas_udf booleans and
    passed the same way (the UDF is evaluated once per frontier batch).
    """
    if nodes is None and (prune is not None or emit is not None):
        raise ValueError("bfs_reachable: prune/emit predicates need `nodes`")
    edges = _edges(rels, direction, types)
    reached = seeds.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("seed").cast("long").alias("node_id"),
        F.lit(0).alias("hops"),
    )
    frontier = reached
    for depth in range(1, k + 1):
        if prune is not None:
            expandable = (
                frontier.join(nodes, frontier["node_id"] == nodes["id"])
                .filter(~prune)
                .select("seed", "node_id", "hops")
            )
        else:
            expandable = frontier
        nxt = (
            expandable.join(edges, expandable["node_id"] == edges["a"])
            .select("seed", F.col("b").alias("node_id"), F.lit(depth).alias("hops"))
            .join(reached.select("seed", "node_id"), ["seed", "node_id"], "left_anti")
            .groupBy("seed", "node_id")
            .agg(F.min("hops").alias("hops"))
        )
        # Every-round materialization (r12, guide §2.4/§3.3): each
        # round's frontier feeds THREE consumers (the next round's
        # expand join, its anti-join visited set, and the final union)
        # — left lazy, round d's subtree is re-planned AND re-executed
        # by every later round, an O(k²) recomputation the 1965-line
        # bfs_2hop_reach before-plan shows as 297 InMemoryTableScans
        # (plans/r12/bfs_2hop_reach_before.txt). The frontier rows are
        # (seed, node_id, hops) — tiny next to the edge set — so one
        # eager cut per round is strictly less work than one re-join
        # per later round. Measured same-session: bfs_2hop_reach
        # 2.45 → 1.77s, graph_harmonic_centrality (k=3) 4.83 → 1.85s,
        # traverse_pruned_2hop 2.61 → 1.79s.
        nxt = nxt.localCheckpoint(eager=True)
        reached = reached.unionByName(nxt)
        frontier = nxt
    if emit is not None:
        reached = (
            reached.join(nodes, reached["node_id"] == nodes["id"])
            .filter(emit)
            .select("seed", "node_id", "hops")
        )
    return reached


def dfs_preorder(
    rels: DataFrame,
    seeds: DataFrame,
    k: int,
    direction: str = "out",
    types: Iterable[str] | None = None,
) -> DataFrame:
    """T2 DFS order: per-seed preorder ranks of EVERY node reachable by a
    simple path of ≤ k hops, children expanded in ascending node-id
    order — the DFS half of the legacy ``Traverser``'s
    ``Order.BREADTH_FIRST | DEPTH_FIRST`` surface
    (`LockableNode.java:178-201`).

    SEMANTICS NOTE (deliberate divergence): a sequential NODE_GLOBAL
    visited-set DFS with a depth cap can MISS nodes — in the diamond
    0→1, 1→2, 2→3, 0→2 with k=2, it visits 2 at depth 2 via the 0-1-2
    branch (cap reached, 3 not expanded) and later skips 2 on the 0-2
    branch because it is already visited, so 3 is never discovered.
    Whether 3 is visited depends on child expansion ORDER, i.e. on
    sequential mutable state that has no deterministic dataflow
    rendering. This operator instead ranks ALL nodes having a ≤ k-hop
    simple path (3 IS ranked, via 0-2-3), ordering them by their
    lexicographically-minimal simple path — a superset of any
    sequential depth-limited DFS visit set and equal to it when k is at
    least the longest lex-min simple path (e.g. k ≥ |V|-1).
    ``tests/test_traversal.py`` pins the diamond case.

    Declarative rendering: with sorted child expansion, DFS discovery
    order equals the lexicographic order of each node's MINIMAL simple
    path from the seed (every prefix of a lex-min simple path is itself
    the lex-min path of its endpoint, so per-node min-path relaxation
    converges exactly like distance relaxation). Paths are encoded as
    fixed-width hex strings (16 chars per node id, non-negative ids) so
    plain string MIN is path-lexicographic MIN; an id array rides along
    for the simple-path (no-revisit) membership test.

    Per round: one frontier⋈edges shuffle + one groupBy-min — the same
    iterative shape as ``bfs_reachable``, so it scales the same way.
    Returns (seed, node_id, preorder) with preorder = 1-based rank.
    """
    edges = _edges(rels, direction, types)

    def _enc(c) -> F.Column:
        return F.format_string("%016x", c)

    best = seeds.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("seed").cast("long").alias("node_id"),
        _enc(F.col("seed").cast("long")).alias("path"),
        F.array(F.col("seed").cast("long")).alias("path_arr"),
    ).localCheckpoint(eager=True)
    frontier = best
    for depth in range(1, k + 1):
        ext = (
            frontier.join(edges, frontier["node_id"] == edges["a"])
            .filter(~F.array_contains(F.col("path_arr"), F.col("b")))
            .select(
                "seed",
                F.col("b").alias("node_id"),
                F.concat(F.col("path"), _enc(F.col("b"))).alias("path"),
                F.array_append(F.col("path_arr"), F.col("b")).alias("path_arr"),
            )
        )
        cand = (
            ext.groupBy("seed", "node_id")
            .agg(F.min(F.struct("path", "path_arr")).alias("s"))
            .select("seed", "node_id", F.col("s.path").alias("path"), F.col("s.path_arr").alias("path_arr"))
        )
        improved = (
            cand.join(
                best.select("seed", "node_id", F.col("path").alias("cur_path")),
                ["seed", "node_id"],
                "left",
            )
            .filter(F.col("cur_path").isNull() | (F.col("path") < F.col("cur_path")))
            .select("seed", "node_id", "path", "path_arr")
        ).localCheckpoint(eager=True)
        if improved.limit(1).count() == 0:
            break
        best = (
            best.join(improved.select("seed", "node_id"), ["seed", "node_id"], "left_anti")
            .unionByName(improved)
        ).localCheckpoint(eager=True)
        frontier = improved
    from pyspark.sql.window import Window

    w = Window.partitionBy("seed").orderBy("path")
    return best.select(
        "seed", "node_id", F.row_number().over(w).alias("preorder")
    )


def chain_explorer(rels: DataFrame, broken_rel_ids: DataFrame) -> DataFrame:
    """T3/J13: the repair tool's depth-2 chain exploration
    (`RelationshipChainExplorer.java:39-90`, `OwningNodeRelationshipChain`):
    from each suspect relationship, collect every relationship on both
    endpoint nodes' chains, then the chains of those rels' other
    endpoints — two fixed self-join rounds, unioned as a RecordSet (U1,
    `RecordSet.java` union/addAll → distinct union)."""
    suspect = broken_rel_ids.select(F.col("rel_id"))
    r = rels.select("id", "src", "dst")
    ends = (
        suspect.join(r, suspect["rel_id"] == r["id"])
        .select("rel_id", F.explode(F.array("src", "dst")).alias("node"))
    )
    round1 = ends.join(
        r.select(F.col("id").alias("found_rel"), F.explode(F.array("src", "dst")).alias("node")),
        "node",
    ).select("rel_id", "found_rel")
    ends2 = round1.join(r, round1["found_rel"] == r["id"]).select(
        "rel_id", F.explode(F.array("src", "dst")).alias("node")
    )
    round2 = ends2.join(
        r.select(F.col("id").alias("found_rel"), F.explode(F.array("src", "dst")).alias("node")),
        "node",
    ).select("rel_id", "found_rel")
    return round1.unionByName(round2).distinct()


def connected_components(rels: DataFrame, max_iter: int = 20) -> DataFrame:
    """Batch analytics: connected components via iterative label
    propagation (small-star style: every node adopts the min component id
    among itself and its neighbors until fixpoint).

    Returns (node_id, component). Each round = one shuffle on node_id;
    lineage cut by localCheckpoint. This is the DataFrame rendering of
    GraphX's connectedComponents (the north-star analytics in SURVEY §7 M7).
    """
    edges = (
        rels.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(rels.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    labels = (
        edges.select(F.col("a").alias("node_id"))
        .distinct()
        .withColumn("component", F.col("node_id"))
    ).localCheckpoint(eager=True)
    for i in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node_id"])
            .groupBy(F.col("a").alias("node_id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, "node_id", "left")
            .select(
                "node_id",
                F.least(F.col("component"), F.col("nbr_component")).alias("component"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def pagerank(
    rels: DataFrame, iterations: int = 10, damping: float = 0.85
) -> DataFrame:
    """Batch analytics: PageRank over the directed graph (dangling mass
    redistributed uniformly). Returns (node_id, rank); ranks sum to ~N.

    Pure DataFrame iteration: contributions = rank/out_degree joined to
    edges, aggregated by destination — one shuffle per iteration, lineage
    checkpointed. The per-iteration dangling-mass SCALAR stays inside the
    plan: the 1-row aggregate is broadcast-crossJoined onto the rank
    update instead of ``.collect()``-ed, so no driver action runs between
    iterations (one job per checkpoint cadence, not per iteration).
    """
    return _pagerank(rels, None, iterations, damping)


def _pagerank(
    rels: DataFrame, seeds: DataFrame | None, iterations: int, damping: float
) -> DataFrame:
    """The loop behind ``pagerank`` and ``personalized_pagerank``. Each
    node carries a teleport weight ``w`` (Σw = 1), fixed before the loop:
    1/N for plain PageRank, is_seed/n_seeds for the personalized form.
    Teleport mass ((1-d)·N) and dangling mass both restart by ``w``:
    rank = w·((1-d)·N + d·dangling) + d·in_contrib."""
    nodes = (
        rels.select(F.col("src").alias("node_id"))
        .unionByName(rels.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_total = nodes.count()
    if seeds is None:
        weighted = nodes.withColumn("w", F.lit(1.0 / n_total))
    else:
        seed_set = seeds.select(F.col("seed").cast("long").alias("node_id")).distinct()
        n_seeds = seed_set.agg(F.count("*").alias("n_seeds"))
        weighted = (
            nodes.join(
                seed_set.crossJoin(n_seeds).select(
                    "node_id", (F.lit(1.0) / F.col("n_seeds")).alias("w")
                ),
                "node_id",
                "left",
            )
            .select("node_id", F.coalesce(F.col("w"), F.lit(0.0)).alias("w"))
            .localCheckpoint(eager=True)
        )
    out_deg = rels.groupBy(F.col("src").alias("node_id")).agg(
        F.count("*").alias("out_degree")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iterations):
        contribs = (
            ranks.join(out_deg, "node_id")
            .join(rels, ranks["node_id"] == rels["src"])
            .select(
                F.col("dst").alias("node_id"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            .groupBy("node_id")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        dangling_1row = (
            ranks.join(out_deg, "node_id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
        )
        ranks = (
            weighted.join(contribs, "node_id", "left")
            .crossJoin(F.broadcast(dangling_1row))
            .select(
                "node_id",
                (
                    F.col("w")
                    * (
                        F.lit((1.0 - damping) * float(n_total))
                        + F.lit(damping) * F.col("dangling_mass")
                    )
                    + F.lit(damping) * F.coalesce(F.col("in_contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Batch analytics: per-node triangle count + local clustering
    coefficient over an undirected simple graph given as canonical pairs
    ``(src, dst)`` with ``src < dst``, one row per edge.

    Scale path: edges are *degree-oriented* — each edge points from its
    lower-(degree, id) endpoint to the higher one — before wedge
    enumeration, so per-node out-degree is bounded by O(sqrt(m)) and the
    wedge join does O(m^1.5) work total (the arboricity bound) instead of
    sum(deg^2) on hub nodes. Wedges (u->v, u->w) close against the oriented
    edge set on (v, w); each triangle is found exactly once because the
    closing edge has a unique orientation. Three shuffles total (degree
    agg, wedge self-join on u, closing join on (v, w)); no iteration.

    Returns (node_id, degree, triangles, clustering) with
    clustering = 2*T / (deg * (deg - 1)) (0.0 when deg < 2).

    Reference surface: graph-structure analytics adjacent to the
    consistency checker's chain exploration
    (RelationshipChainExplorer.java:39-63); counting closed wedges is the
    same neighborhood-join shape applied graph-wide.
    """
    deg = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").alias("degree"))
    )
    ranked = (
        edges.join(deg.select(F.col("node_id").alias("src"), F.col("degree").alias("src_deg")), "src")
        .join(deg.select(F.col("node_id").alias("dst"), F.col("degree").alias("dst_deg")), "dst")
    )
    fwd = F.struct("src_deg", "src") < F.struct("dst_deg", "dst")
    oriented = ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    wedges = (
        oriented.select(F.col("u"), F.col("v"))
        .join(oriented.select(F.col("u"), F.col("v").alias("w")), "u")
        .filter(F.col("v") != F.col("w"))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    triangles = wedges.join(closing, ["v", "w"])
    per_node = (
        triangles.select(F.explode(F.array("u", "v", "w")).alias("node_id"))
        .groupBy("node_id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, "node_id", "left")
        .select(
            "node_id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                (F.coalesce(F.col("triangles"), F.lit(0)) * 2).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )

def weighted_shortest_paths(
    edges: DataFrame, seeds: DataFrame, max_dist: int, max_iter: int = 30
) -> DataFrame:
    """Multi-source weighted shortest paths (Bellman-Ford label
    correction): ``edges`` is a directed (src, dst, weight>0) list (feed
    both directions for undirected graphs), ``seeds`` a (seed) column of
    source nodes. Returns (node_id, dist) for every node whose minimal
    distance from ANY seed is <= ``max_dist``.

    Each round relaxes only the frontier (nodes improved last round) —
    one shuffle per round on the join key, lineage cut by
    localCheckpoint; terminates at fixpoint or when the frontier's
    distances exceed ``max_dist``. This is the DataFrame rendering of
    pregel-style SSSP. The traversal surface mirrors the reference's
    weighted expansion (`Traverser` over `LockableNode.java:178-201`)
    as batch dataflow.
    """
    dist = (
        seeds.select(F.col("seed").alias("node_id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_iter):
        relaxed = (
            frontier.join(edges, frontier["node_id"] == edges["src"])
            .select(
                F.col("dst").alias("node_id"),
                (F.col("dist") + F.col("weight")).alias("cand"),
            )
            .filter(F.col("cand") <= max_dist)
            .groupBy("node_id")
            .agg(F.min("cand").alias("cand"))
        )
        improved = (
            relaxed.join(dist.withColumnRenamed("dist", "cur"), "node_id", "left")
            .filter(F.col("cur").isNull() | (F.col("cand") < F.col("cur")))
            .select("node_id", F.col("cand").alias("dist"))
        ).localCheckpoint(eager=True)
        if improved.limit(1).count() == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node_id")
            .agg(F.min("dist").alias("dist"))
        ).localCheckpoint(eager=True)
        frontier = improved
    return dist


def k_core(rels: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """Batch analytics: the k-core — the maximal subgraph where every
    node has degree >= k — via iterative peeling: repeatedly drop nodes
    with (undirected, deduped) degree < k and their incident edges until
    a fixpoint.

    Returns (node_id, degree) of the surviving core. Each round is one
    degree aggregation + one semi-join edge filter; localCheckpoint cuts
    lineage. Converges in <= max_iter rounds (each round removes at
    least one node or stops).
    """
    edges = (
        rels.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(rels.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    ).localCheckpoint(eager=True)
    # pruned ⊆ edges, so count equality ⇔ set equality; carrying the
    # previous round's count halves the actions (one count per round)
    prev_count = edges.count()
    for _ in range(max_iter):
        deg = edges.groupBy("a").agg(F.count("*").alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("a").localCheckpoint(eager=True)
        pruned = (
            edges.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        ).localCheckpoint(eager=True)
        n = pruned.count()
        edges = pruned
        if n == prev_count:
            break
        prev_count = n
    return (
        edges.groupBy(F.col("a").alias("node_id"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def hyperball(
    rels: DataFrame,
    radius: int = 2,
    direction: str = "out",
    lg_k: int = 12,
) -> DataFrame:
    """HyperBall (Boldi-Vigna): per-node neighborhood-function estimation
    by HLL-sketch propagation — |ball(v, r)| for every node at once,
    with FIXED-size per-node state.

    Each round: every node unions its sketch with its neighbors'
    sketches (one equi-join + one hll_union_agg, both keyed on the node
    id → co-partitioned on a bucketed layout). After r rounds the
    sketch of v covers exactly ball(v, r); the estimate is
    hll_sketch_estimate. This is THE way to compute
    closeness/harmonic-type centralities on a graph too big for
    per-source BFS: r shuffles total for ALL sources, 2^lg_k bytes per
    node, versus |V| BFS runs. Exact twin for error-bound tests:
    ``bfs_reachable`` counts.

    Returns (node_id, ball_size DOUBLE — the HLL estimate, deterministic
    for fixed input + lg_k).
    """
    edges = _edges(rels, direction, None)
    nodes = (
        edges.select(F.col("a").alias("node_id"))
        .unionByName(edges.select(F.col("b").alias("node_id")))
        .distinct()
    )
    state = nodes.groupBy("node_id").agg(
        F.hll_sketch_agg("node_id", F.lit(lg_k)).alias("sketch")
    )
    for _ in range(radius):
        contrib = (
            state.join(edges, state["node_id"] == edges["b"])
            .select(F.col("a").alias("node_id"), "sketch")
        )
        state = (
            state.unionByName(contrib)
            .groupBy("node_id")
            .agg(F.hll_union_agg("sketch", F.lit(True)).alias("sketch"))
            .localCheckpoint(eager=True)
        )
    return state.select(
        "node_id", F.hll_sketch_estimate("sketch").alias("ball_size")
    )


def random_walks(
    rels: DataFrame,
    seeds: DataFrame,
    length: int = 3,
    seed: int = 0,
    direction: str = "out",
) -> DataFrame:
    """Deterministic random walks (the node2vec/DeepWalk corpus
    generator): one walk per seed, each step moving to the neighbor
    that minimizes ``md5(seed|step|cur|neighbor)`` — a keyed-hash
    choice, so walks are uniform-ish per step yet fully reproducible
    (same graph + seed ⇒ same corpus; retries and speculative tasks
    are safe). Walks stop early at sinks.

    Per step: one frontier equi-join + one per-walk argmin window, both
    keyed on the walk's current node / walk id — the same co-partition
    contract as BFS. Returns (walk_id, step, node_id) with step 0 = the
    seed.
    """
    edges = _edges(rels, direction, None)
    cur = seeds.select(
        F.col("seed").cast("long").alias("walk_id"),
        F.col("seed").cast("long").alias("node_id"),
    )
    out = cur.withColumn("step", F.lit(0))
    for step in range(1, length + 1):
        nxt = cur.join(edges, cur["node_id"] == edges["a"]).select(
            "walk_id",
            F.col("b").alias("cand"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(seed)),
                    F.lit(str(step)),
                    F.col("node_id").cast("string"),
                    F.col("b").cast("string"),
                )
            ).alias("h"),
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("walk_id").orderBy("h", "cand")
        cur = (
            nxt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("walk_id", F.col("cand").alias("node_id"))
        )
        out = out.unionByName(cur.withColumn("step", F.lit(step)))
    return out


def personalized_pagerank(
    rels: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport returns to the SEED set instead
    of everywhere — ranks measure proximity to the seeds (the
    recommendation / related-entities primitive). Same closed-plan
    iteration as ``pagerank`` (one shuffle per round, dangling mass a
    broadcast 1-row aggregate, no driver action between rounds; dangling
    mass also restarts at the seeds); mass conserves at ~N.

    ``seeds``: one column ``seed``. Returns (node_id, rank).
    """
    return _pagerank(rels, seeds, iterations, damping)
