"""Connected components over near-duplicate pairs → dup clusters.

The principled completion of pairwise dedup: `d2/d3/d7` emit (doc_a,
doc_b) edges; transitive closure groups them into clusters so curation
keeps exactly one representative per cluster (the greedy "drop every
doc_b" rule over-drops chains and under-drops when the canonical member
itself was dropped).

Algorithm: iterative min-label propagation (the simple alternating
large-star variant). Each vertex starts labeled with itself; every
iteration each vertex takes the min label in its closed neighborhood;
stop when no label changes. Iterations = O(component diameter) — dup
clusters are short chains in practice, so this converges in a few
rounds; each round is two shuffles (join + groupBy) over the edge list,
fully distributed. The driver loop only carries a scalar changed-count
per round (no data ever collects).

At 100 TB: edges ≪ documents (only near-dup pairs), so the iteration
cost is proportional to the duplicate subgraph, not the corpus. For
pathological long-diameter graphs switch to the pointer-doubling
(log-diameter) variant; dup graphs do not need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(pairs: DataFrame) -> DataFrame:
    """(a, b) edges → (doc_id, component) with component = min doc id
    reachable. Deterministic for any input order."""
    # r14: the edge frame is iteration-invariant but each round ends in a
    # count() ACTION (the convergence check), so an unpersisted frame
    # re-evaluates its whole upstream (for d8: the entire jaccard pair
    # pipeline) once per iteration. Persist it — and persist it
    # V-partitioned, because every iteration's first join is on v, so
    # the per-round edge exchange vanishes too (guide §2.4/§5.4; same
    # measured pattern as the src-partitioned co-purchase frame).
    # r15 (r14 ADVICE): released BEFORE returning, not via the caching
    # registry — the loop consumes edges eagerly (checkpoint + count per
    # round) and the returned labels frame is a localCheckpoint with no
    # edge lineage, so the cache is dead weight the moment the loop
    # exits; registry release only fired at the NEXT registry query,
    # which library callers (dup_clusters used directly) never trigger —
    # they accumulated one live cache per invocation.
    from pyspark import StorageLevel

    # (repartition BEFORE distinct: hashpartitioning(v) satisfies the
    # (u, v) distinct's clustering — subset key — so the dedup and the
    # layout share the single exchange)
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .repartition("v")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
    )
    for _ in range(50):
        neigh_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "v").withColumnRenamed(
                    "component", "v_comp"
                ),
                on="v",
            )
            .groupBy("u")
            .agg(F.min("v_comp").alias("neigh_comp"))
        )
        updated = (
            labels.join(
                neigh_min.withColumnRenamed("u", "doc_id"), on="doc_id", how="left"
            )
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neigh_comp"), F.col("component")),
                ).alias("component"),
                (
                    F.coalesce(F.col("neigh_comp"), F.col("component"))
                    < F.col("component")
                ).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint()  # truncate the O(iters) lineage
        n_changed = updated.filter(F.col("__changed")).count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    # labels is materialized (localCheckpoint) with no lineage into
    # edges — safe to free the cache right here instead of leaking it
    # until some registry query's scoped release (which direct library
    # callers never reach)
    edges.unpersist()
    return labels


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → (doc_id, cluster_id, is_canonical).

    cluster_id = min doc id of the component; the canonical (kept) doc is
    that minimum. Docs not in any pair are absent — they are their own
    implicit cluster.
    """
    comp = connected_components(pairs)
    return comp.select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the random walk RESTARTS at the seed set
    instead of uniformly, so rank measures relevance TO THE SEEDS
    rather than global centrality (Page et al. 1999 §6; the
    related-items primitive of recommendation graphs).

    Same fixed-iteration unrolled join-aggregate shape as
    :func:`pagerank` — exactly mirrorable as chained SQL CTEs — with
    two changes: r0 = v and the teleport term is (1-d)*v, where v is
    1/|S| on seed nodes and 0 elsewhere. Nodes unreachable from the
    seeds keep rank 0 and are filtered from the output (their mass is
    exactly zero by construction, so absence == zero, not missing
    data).

    Node set = sources ∪ destinations ∪ seeds, so sink nodes (no
    out-edges) and seeds outside the edge list still receive teleport
    and incoming mass — for a DIRECTED graph, mass that walks into a
    sink is dropped rather than redistributed (the simple PPR
    variant; add dangling-mass redistribution if that matters for
    your graph). On undirected edge lists (both directions present,
    the pr7 caller) every node has out-edges and no mass is lost.

    At 100 TB: identical cost profile to pagerank (one src join + one
    dst agg per unrolled iteration over a persisted edge frame); the
    seed vector is node-sized and broadcasts.
    """
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(seeds.select("node"))
        .distinct()
    )
    sd = seeds.select("node").distinct()
    ns = sd.agg(F.count(F.lit(1)).alias("__s"))
    v = (
        nodes.join(sd.withColumn("__seed", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(
                F.col("__seed").isNotNull(), F.lit(1.0) / F.col("__s")
            )
            .otherwise(F.lit(0.0))
            .alias("v"),
        )
    )
    edges_deg = e.join(deg, "src")
    r = v.select("node", F.col("v").alias("rank"))
    for _ in range(n_iter):
        contrib = (
            edges_deg.join(
                r.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("__c"))
        )
        r = (
            v.join(
                contrib.select(F.col("dst").alias("node"), "__c"),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("v")
                    + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return r.filter(F.col("rank") > 0.0).select(
        "node", F.round("rank", 12).alias("rank")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: (node, hops) with hops = exact distance to the
    NEAREST seed, bounded at ``max_hops``. Unreached nodes are absent.

    ``edges`` is a directed edge list (pass both directions for an
    undirected graph); ``seeds`` has one ``node`` column. Level-
    synchronous frontier expansion: each hop is one src-keyed equi-join
    (frontier × edges) + a distinct + an anti-join against the visited
    set — all shuffles are FRONTIER-proportional, never
    graph-proportional, and the layering makes hop counts minimal by
    construction (a node is claimed by the first wave that reaches it).
    The driver carries only a per-level emptiness flag; per-level
    ``localCheckpoint`` truncates the O(levels) lineage (the
    connected_components pattern).

    At 100 TB: frontier size is bounded by the graph's expansion, not
    its total size; ``max_hops`` caps the worst case. The visited set
    union grows once per level and is re-checkpointed with it.
    """
    frontier = seeds.select(F.col("node")).distinct().withColumn(
        "hops", F.lit(0).cast("int")
    )
    visited = frontier.localCheckpoint()
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
    return visited


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list.

    Input: DISTINCT undirected edges as (a, b) pairs with a < b (one row
    per edge). Output: (node, tri_cnt) for every node in >= 1 triangle.

    Uses the classic degree orientation: each undirected edge is directed
    from its lower-degree endpoint to its higher-degree endpoint (ties by
    node id), turning the graph into a DAG whose max out-degree is
    O(sqrt(|E|)). Wedges are then pairs of out-neighbors of a common
    vertex, and a wedge (u -> v, u -> w) closes into a triangle iff the
    oriented edge v -> w exists — one equi-join, no OR-condition, and
    each triangle is produced exactly once.

    At 100 TB: the wedge count is Σ out_deg(u)² ≤ |E|^1.5 instead of
    Σ deg(u)² (which a hub node makes quadratic). Both joins are
    equi-joins keyed on a vertex id, so AQE/skew-salting applies; the
    degree frame is node-sized and broadcast.
    """
    e = pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge low-degree -> high-degree (ties by id)
    ab = (
        e.join(F.broadcast(deg.withColumnsRenamed({"node": "a", "deg": "da"})), "a")
        .join(F.broadcast(deg.withColumnsRenamed({"node": "b", "deg": "db"})), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = ab.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # ori is scanned three times (wedge left/right + closure probe); the
    # edge-orientation join must not run three times. Eager local
    # checkpoint materializes it once and truncates the lineage — same
    # idiom as connected_components above.
    ori = ori.localCheckpoint()
    # wedges (u -> v, u -> w), v != w, both (v,w) and (w,v) — exactly one
    # of the two closes (the one matching the v->w orientation)
    wedges = ori.join(
        ori.select(F.col("u"), F.col("v").alias("w")), "u"
    ).filter(F.col("v") != F.col("w"))
    tris = wedges.join(
        ori.select(F.col("u").alias("v"), F.col("v").alias("w")), ["v", "w"]
    ).select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("w").alias("z"))
    members = (
        tris.select(F.col("x").alias("node"))
        .union(tris.select(F.col("y").alias("node")))
        .union(tris.select(F.col("z").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri_cnt")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    The standard iterative join-aggregate formulation: each round every
    vertex distributes rank/out_degree along its out-edges, then
    ``rank' = (1-d)/N + d * Σ incoming``. The iteration count is FIXED
    (unrolled into one static plan — no data ever reaches the driver,
    not even a convergence scalar), which is what makes the computation
    exactly mirrorable as chained SQL CTEs for the oracle. Node set =
    vertices with at least one edge, so every node has out-degree >= 1
    and no dangling-mass redistribution is needed.

    At 100 TB: each iteration is one (src-keyed join) + one (dst-keyed
    aggregate) shuffle over the edge list. The edge frame is reused
    across iterations — persist it (or pre-bucket by src) so the scan
    and the src-partitioning are paid once; ranks are node-sized
    (≪ edges) and co-shuffle cheaply. Unrolling also lets AQE size every
    stage from real runtime stats.

    Returns (node, rank double) — rank rounded to 12 decimals, keeping
    the cross-engine float drift (different summation orders at ~1e-17)
    below the emitted precision.
    """
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("__n"))
    edges_deg = e.join(deg, "src")
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            edges_deg.join(
                r.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("__c"))
        )
        r = (
            nodes.join(
                contrib.select(F.col("dst").alias("node"), "__c"),
                "node",
                "left",
            )
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("__n")
                    + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return r.select("node", F.round("rank", 12).alias("rank"))


def hits_bipartite(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """Fixed-iteration HITS on a bipartite directed graph (hubs = src
    side, authorities = dst side), in the INTEGER path-count
    formulation: hubs start at 1 and each update is a plain sum over
    edges, so every intermediate value is an exact BIGINT — there is no
    floating point in the iteration at all, which makes the unrolled
    fit bit-identical across engines and partitionings for free
    (contrast :func:`pagerank`, which rounds to squash double-sum
    drift). Normalization happens ONCE at the end: auth_share =
    auth / Σauth with the denominator an exact integer sum, so the one
    double division is deterministic.

    Unnormalized HITS iterates are exactly the number of alternating
    walks ending at the node — rank order per iteration is identical to
    the normalized variant (normalization is a positive scalar).
    Overflow headroom: values grow ~ (mean degree)^(2·n_iter); with
    n_iter=2 and degrees in the hundreds this is ~1e10, far under the
    bigint ceiling — raise n_iter only with a width check.

    Returns (node, auth, auth_share) for the dst side. Scale: each
    update is one edge-list join + key-keyed aggregate, the same
    two-shuffle round as :func:`pagerank`; the hub/auth vectors are
    node-sized and co-shuffle cheaply.
    """
    if n_iter < 1:
        raise ValueError("hits_bipartite needs n_iter >= 1")
    e = edges.select("src", "dst").distinct()
    hub = (
        e.select("src")
        .distinct()
        .withColumn("hub", F.lit(1).cast("bigint"))
    )
    auth = None
    for _ in range(n_iter):
        auth = (
            e.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            e.join(auth, "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("hub"))
        )
    total = auth.agg(F.sum("auth").alias("__t"))
    return auth.crossJoin(F.broadcast(total)).select(
        F.col("dst").alias("node"),
        "auth",
        (F.col("auth").cast("double") / F.col("__t")).alias("auth_share"),
    )


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (Raghavan et al.
    2007) — community detection by local majority vote.

    Labels initialize to the node id; each round every vertex adopts
    the most frequent label among its in-neighbors, ties broken by the
    SMALLEST label (the determinism the asynchronous textbook variant
    lacks — synchronous sweep + total tie order makes the whole run a
    pure function of the edge list, exactly restatable as unrolled SQL
    CTEs for the oracle). The iteration count is FIXED. Community
    semantics want an undirected graph (pass both edge directions —
    the co-purchase frame already does); on a DIRECTED edge list the
    node set still covers src ∪ dst: the initial labels come from both
    endpoints, and each round LEFT-joins the majority vote back onto
    the full node set so a node with no labeled in-neighbor carries
    its previous label forward instead of vanishing (round-12 ADVICE —
    the old inner-join form silently dropped source-only and sink-only
    nodes). On undirected inputs the carry-forward never fires, so
    outputs are bit-identical to the previous form.

    At 100 TB: each iteration is one src-keyed join (labels onto
    edges) + one (dst, label)-keyed count agg + one dst-keyed
    row_number window + one node-keyed carry-forward left join — all
    frontier-free and edge-proportional, never all-pairs; labels are
    node-sized and co-shuffle cheaply. Per-round ``localCheckpoint``
    truncates the O(iters) lineage (the n15/pr6 lesson).

    Returns (node, community) — the label fixed point after n_iter
    synchronous rounds.
    """
    from pyspark.sql import Window

    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    # NULLS LAST pinned on the tie-break (the x50 lesson): Spark's
    # bare asc is NULLS FIRST while DuckDB defaults NULLS LAST — a
    # NULL label (NULL node ids in a hostile edge list) must lose
    # ties identically in both engines
    w = Window.partitionBy("node").orderBy(
        F.desc("__c"), F.asc_nulls_last("label")
    )
    for _ in range(n_iter):
        counts = (
            e.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        winners = (
            counts.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        labels = (
            labels.join(winners, "node", "left")
            .select(
                "node", F.coalesce("__new", "label").alias("label")
            )
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def k_core(edges: DataFrame, k: int = 2, n_iter: int = 3) -> DataFrame:
    """Bounded k-core peeling (Seidman 1983) — ``n_iter`` synchronous
    rounds of "drop every node with degree < k among surviving nodes",
    then one final degree recompute over the survivors.

    Exact k-core needs peeling to a fixpoint; like the other iterative
    graph entries (LPA, PageRank, HITS) the iteration count here is
    FIXED so the whole run is a pure function of the edge list,
    restatable as unrolled SQL CTEs for the oracle. The output reports
    EVERY survivor of the last peel: its degree WITHIN the final
    survivor set plus ``in_core`` (degree still >= k) — on a converged
    input every row has in_core = true; rows with in_core = false are
    exactly the nodes one more peel would remove, so the caller can
    see whether the bound sufficed. A survivor whose neighbors were
    all removed in the last peel is emitted with core_degree = 0,
    in_core = false (the final degree is LEFT-joined onto the alive
    set, so no node silently disappears — round-13 ADVICE). Pass an
    undirected graph as both edge directions (the co-purchase frame
    already is).

    At 100 TB: each round is two alive-set semi-joins onto the edge
    list + one src-keyed count agg — edge-proportional, never
    all-pairs; the alive set is node-sized. Per-round
    ``localCheckpoint`` truncates the O(iters) lineage (the n15/pr6
    lesson).
    """
    e0 = edges.select("src", "dst")
    alive = (
        e0.select(F.col("src").alias("node"))
        .union(e0.select(F.col("dst").alias("node")))
        .distinct()
    )
    for _ in range(n_iter):
        e = e0.join(
            alive.withColumnRenamed("node", "src"), "src"
        ).join(alive.withColumnRenamed("node", "dst"), "dst")
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        alive = (
            deg.filter(F.col("deg") >= k)
            .select("node")
            .localCheckpoint()
        )
    final = e0.join(
        alive.withColumnRenamed("node", "src"), "src"
    ).join(alive.withColumnRenamed("node", "dst"), "dst")
    deg = final.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )
    cd = F.coalesce(F.col("core_degree"), F.lit(0).cast("bigint"))
    return alive.join(deg, "node", "left").select(
        "node", cd.alias("core_degree"), (cd >= k).alias("in_core")
    )
