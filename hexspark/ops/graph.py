"""Match-graph analytics: triangle counting via degree-ordered wedges.

Triangles are the basic cohesion signal on an ER match graph: a matched
pair inside a triangle has an independent corroborating path, while
bridge edges (no triangle) are the classic false-positive shape that
transitive closure then wrongly glues into one entity. Per-node triangle
counts feed exactly the "is this cluster one entity or two glued by a
bad edge" review queue that follows clustering (pipeline/clustering.py).

Scale shape — the node-iterator / degree-orientation algorithm (Schank &
Wagner; the same idea as Cohen's MapReduce triangle enumeration): orient
every undirected edge from its (degree, id)-smaller endpoint to the
larger, so every node's out-degree is bounded by O(sqrt(m)) on any graph.
Wedges are generated by a self-equi-join of the ORIENTED edges on their
source, and each triangle {a,b,c} (ordered by (degree, id)) is produced
exactly once, as the wedge (b, c) at a closed by the oriented edge b->c.
Three shuffles total (degree agg, wedge join, closing join), all on node
keys — never on pair content — and no node ever joins its full
neighborhood against itself the way the naive a<b<c 3-way join does on a
skewed graph (a 10^6-degree hub costs 10^12 naive wedge rows; oriented,
its out-degree is only its HIGHER-degree neighbors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge set as distinct (u, v) with u < v, self-loops
    dropped — the normal form every function below expects."""
    return (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )


def _oriented(canon: DataFrame) -> DataFrame:
    """Orient u—v from the (degree, id)-smaller endpoint: (src, dst) plus
    the dst rank carried along so wedge generation can order its two legs
    without re-joining degrees."""
    deg = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        canon.join(deg.withColumnsRenamed({"n": "u", "deg": "deg_u"}), "u")
        .join(deg.withColumnsRenamed({"n": "v", "deg": "deg_v"}), "v")
    )
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("dst_deg"),
    )


def triangles(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Every triangle exactly once as (x, y, z) with x < y < z (id order,
    for a stable output contract independent of degrees)."""
    canon = canonical_edges(edges, a, b)
    o = _oriented(canon)
    e1, e2 = o.alias("e1"), o.alias("e2")
    # wedge legs ordered by (deg, id) of the endpoints, matching orientation
    leg_lt = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & leg_lt).select(
        F.col("e1.src").alias("apex"),
        F.col("e1.dst").alias("p"),
        F.col("e2.dst").alias("q"),
    )
    closed = wedges.join(
        o.select(F.col("src").alias("p"), F.col("dst").alias("q")), ["p", "q"]
    )
    n1, n2, n3 = F.col("apex"), F.col("p"), F.col("q")
    return closed.select(
        F.least(n1, n2, n3).alias("x"),
        F.greatest(F.least(n1, n2), F.least(F.greatest(n1, n2), n3)).alias("y"),
        F.greatest(n1, n2, n3).alias("z"),
    )


def node_triangle_counts(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    tri: "DataFrame | None" = None,
) -> DataFrame:
    """(node, n_triangles) for every node on >= 1 triangle. ``tri``
    optionally supplies a precomputed (persisted) ``triangles()`` output so
    several consumers of the same graph share ONE enumeration."""
    if tri is None:
        tri = triangles(edges, a, b)
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def bridge_edges(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    tri: "DataFrame | None" = None,
) -> DataFrame:
    """Edges on NO triangle — the uncorroborated links. On an ER match
    graph these are the classic false-positive shape: a single bad edge
    with no second path glues two real entities into one cluster under
    transitive closure, so the review queue starts here. Output (u, v)
    canonical; anti-join against the (exactly-once) triangle edge list,
    keyed on the pair — no pair-content shuffle. ``tri`` optionally
    supplies a precomputed ``triangles()`` output (see
    node_triangle_counts)."""
    canon = canonical_edges(edges, a, b)
    if tri is None:
        tri = triangles(edges, a, b)
    tri_edges = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
    )
    return canon.join(tri_edges, ["u", "v"], "left_anti")


def incremental_triangles(
    old_edges: DataFrame, new_edges: DataFrame, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """Triangles created by appending ``new_edges`` to an append-only match
    graph — the incremental corroboration fold.

    The invariant that makes this cheap: ER edge streams are APPEND-ONLY
    (the pipeline never retracts a scored match), so corroboration is
    MONOTONE — a triangle, once formed, is never invalidated; new edges can
    only create triangles (possibly promoting an old bridge edge to
    corroborated), never destroy them. The incremental fold therefore only
    has to find triangles containing >= 1 new edge, and every such triangle
    {u, v, w} with new side (u, v) has its other two sides incident to u or
    v — so the enumeration subgraph is just the new edges plus the old
    edges TOUCHING a new-edge endpoint (two node-keyed semi-joins,
    batch-proportional for bounded-degree graphs), never the full corpus.

    Returns (x, y, z) triangles, exactly the rows to APPEND to a prior
    ``triangles()`` table: a triangle with a new side cannot pre-exist, and
    all-old-side triangles found in the subgraph are filtered out here
    (they are already in the prior table).

    EAGER: the affected subgraph is localCheckpoint()ed (the same lineage
    cut connected_components uses) before triangle enumeration —
    ``triangles()`` references its input ~9 times through the degree /
    orientation / wedge / closing joins, and without the cut each
    reference re-executes the semi-joins AND multiplies the logical plan
    ~27x (50s on a 9-edge toy graph; unbounded at scale). The subgraph is
    batch-proportional, so checkpointing it is cheap by construction."""
    canon_new = canonical_edges(new_edges, a, b)
    canon_old = canonical_edges(old_edges, a, b)
    aff = (
        canon_new.select(F.col("u").alias("n"))
        .union(canon_new.select(F.col("v").alias("n")))
        .distinct()
    )
    # old edges incident to an affected node: two equi-semi-joins (an OR
    # predicate would degrade to a nested loop)
    t1 = canon_old.join(aff.withColumnRenamed("n", "u"), "u", "left_semi")
    t2 = canon_old.join(aff.withColumnRenamed("n", "v"), "v", "left_semi")
    sub = (
        t1.unionAll(t2)
        .unionAll(canon_new)
        .distinct()
        .localCheckpoint(eager=True)
    )
    tri = triangles(sub, "u", "v")
    # keep triangles with >= 1 new side: explode the three sides (already
    # (min, max) pairs because x < y < z) and semi-join ONCE against the
    # new canon edges — referencing `tri` once instead of three times
    # keeps the enumeration out of the plan-duplication trap above
    sides = tri.select(
        "x",
        "y",
        "z",
        F.explode(
            F.array(
                F.struct(F.col("x").alias("su"), F.col("y").alias("sv")),
                F.struct(F.col("y").alias("su"), F.col("z").alias("sv")),
                F.struct(F.col("x").alias("su"), F.col("z").alias("sv")),
            )
        ).alias("s"),
    ).select("x", "y", "z", F.col("s.su").alias("su"), F.col("s.sv").alias("sv"))
    tn = canon_new.select(F.col("u").alias("su"), F.col("v").alias("sv"))
    return (
        sides.join(tn, ["su", "sv"], "left_semi")
        .select("x", "y", "z")
        # a triangle with two new sides survives the semi-join twice (once
        # per exploded side row)
        .distinct()
    )


def robust_components(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    tri: "DataFrame | None" = None,
) -> "tuple[DataFrame, int]":
    """Connected components over CORROBORATED edges only: bridge edges
    (no triangle) are removed before transitive closure runs. This is the
    defensive variant of B8 clustering — plain transitive closure is
    maximally fragile (ONE false-positive edge merges two entities, and at
    10^12 rows some edge is always wrong), while requiring each link to sit
    on a triangle means a merge needs two independent corroborating
    matches. The trade: true pairs whose only link is a lone edge fall
    apart into singletons — which is why this is the high-precision review
    variant next to the high-recall default, not a replacement.

    Returns (clusters, n_rounds) like pipeline.clustering — node/cluster_id
    over nodes of the ORIGINAL edge set (nodes stranded by bridge removal
    become their own cluster), cluster_id = min member."""
    from hexspark.pipeline.clustering import connected_components, with_singletons

    canon = canonical_edges(edges, a, b)
    if tri is None:
        tri = triangles(edges, a, b)
    # corroborated = on >= 1 triangle; the complement of bridge_edges,
    # computed directly (every triangle edge IS an input edge, so no
    # anti-join against the canon set is needed)
    kept = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
        .distinct()
    )
    cc, rounds = connected_components(
        kept.select(F.col("u").alias("conv_id_a"), F.col("v").alias("conv_id_b"))
    )
    all_nodes = (
        canon.select(F.col("u").alias("conv_id"))
        .union(canon.select(F.col("v").alias("conv_id")))
        .distinct()
    )
    return with_singletons(cc, all_nodes), rounds


def merge_path(
    edges: DataFrame,
    src: str,
    dst: str,
    a: str = "id_a",
    b: str = "id_b",
    max_hops: int = 12,
) -> list[tuple[str, str]]:
    """Explain a merge: the SHORTEST chain of match edges connecting two
    records, as an ordered list of (from, to) hops — the first artifact a
    reviewer asks for when transitive closure glues records that look
    unrelated ("which edges carried this?"). Returns [] when src == dst
    or no path exists within ``max_hops``.

    Distributed BFS over the canonical edge set: each level is ONE
    node-keyed equi-join of the symmetric edges against the frontier, a
    min() parent pick (deterministic tie-break: lexicographically
    smallest parent), and an anti-join against the visited set; levels
    are localCheckpoint()ed so the loop's plan stays flat (same
    discipline as clustering's rounds). The graph side never leaves the
    cluster — only the final path, at most ``max_hops`` edges, is
    collected, via one single-row lookup per hop. Depth is bounded by
    ``max_hops`` (duplicate-cluster graphs have tiny diameters; a path
    longer than ~12 hops is itself a finding), so the visited set grows
    at most ``max_hops`` neighborhood-balls deep, not component-wide.

    The returned hops are ordered src -> dst; each consecutive pair
    shares its middle node, and the path is simple (BFS parents never
    revisit)."""
    if src == dst:
        return []
    canon = canonical_edges(edges, a, b).localCheckpoint(eager=True)
    sym = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    spark = edges.sparkSession
    visited = spark.createDataFrame([(src, None)], "node string, parent string")
    frontier = visited.select("node")
    found = False
    for _ in range(max_hops):
        nxt = (
            sym.join(frontier.select(F.col("node").alias("u")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("u").alias("parent"))
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return []
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
        if not nxt.where(F.col("node") == dst).isEmpty():
            found = True
            break
    if not found:
        return []
    # walk the parent pointers back from dst: <= max_hops one-row lookups
    hops: list[tuple[str, str]] = []
    cur = dst
    while cur != src:
        parent = visited.where(F.col("node") == cur).collect()[0]["parent"]
        hops.append((parent, cur))
        cur = parent
    hops.reverse()
    return hops


def k_core(
    edges: DataFrame,
    k: int,
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 50,
) -> tuple[DataFrame, DataFrame, int]:
    """The k-core of the match graph: the maximal subgraph where every
    node keeps degree >= k — the third structural-precision lens next to
    triangle corroboration (local) and bootstrap stability (global). A
    record inside the 3-core has three independent in-core match partners
    no matter which single edges are wrong; periphery records that cling
    to an entity through one or two edges peel off. Classic use: cluster
    on the k-core, route the peeled shell to review.

    Returns (core_nodes(node), core_edges(u, v) with u < v, rounds).

    Distributed peeling, the standard iterative formulation: each round
    is ONE degree aggregation over the surviving symmetric edges + one
    anti-join dropping nodes under k + two semi-joins shrinking the edge
    set; rounds are localCheckpoint()ed (same loop discipline as
    clustering). Terminates when a round peels nothing; the peel count is
    bounded by the peeling DEPTH (in practice a handful of rounds on
    duplicate-cluster graphs), not the node count, and each round's
    shuffles are keyed on node ids only. Raises past ``max_iter`` rather
    than returning a non-core subgraph."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = canonical_edges(edges, a, b).localCheckpoint(eager=True)
    rounds = 0
    while True:
        sym = cur.select("u", "v").unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        low = deg.where(F.col("deg") < k).select("u")
        if low.isEmpty():
            break
        rounds += 1
        if rounds > max_iter:
            raise RuntimeError(
                f"k-core peeling did not converge within max_iter={max_iter}"
            )
        cur = (
            cur.join(low, "u", "left_anti")
            .join(low.select(F.col("u").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    nodes = (
        cur.select("u").unionByName(cur.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
    )
    return nodes, cur, rounds


def articulation_points(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    max_component: int = 5000,
) -> tuple[DataFrame, DataFrame]:
    """Cut vertices of the match graph — the NODE-side complement to
    bridge_edges: a record whose removal disconnects its cluster is the
    single point of failure gluing everything behind it (often the dirty
    record that matched into two true entities at once). Routes straight
    into the same review queue as bridges and low-cohesion members.

    Returns (points, skipped):
      points(component, node, split_into) — every articulation point,
      with the number of components its removal leaves behind
      (2 for a simple cut, more for a hub); component = the containing
      connected component's min id.
      skipped(component, n_members) — components larger than
      ``max_component`` (not analyzed; same honest-cap discipline as
      medoids/HAC — a DFS over a mega-component belongs in a dedicated
      run, not hidden inside this operator).

    Shape: one distributed connected-components run defines the work
    units; each component's edge list is one applyInPandas group running
    an ITERATIVE Tarjan lowlink DFS (no recursion-depth hazard) — the
    "huge graph, entity-sized components" pattern, the only Python in the
    plan."""
    # node/component columns are STRINGS in the output (the pandas-group
    # schema is fixed); non-string ids are cast — least/greatest ran on
    # the original type, so ordering semantics are the input's own
    canon = (
        canonical_edges(edges, a, b)
        .select(F.col("u").cast("string"), F.col("v").cast("string"))
        .localCheckpoint(eager=True)
    )
    cc, _ = _cc(canon)
    comp = cc.select(
        F.col("conv_id").alias("u"), F.col("cluster_id").alias("component")
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    skipped = sizes.where(F.col("n_members") > max_component)
    keep_edges = (
        canon.join(comp, "u")
        .join(skipped.select("component"), "component", "left_anti")
    )

    def _tarjan(pdf):
        import pandas as pd

        adj: dict[str, list[str]] = {}
        for u, v in zip(pdf["u"], pdf["v"]):
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        for n in adj:
            adj[n].sort()
        comp_id = min(adj)
        disc: dict[str, int] = {}
        low: dict[str, int] = {}
        cut: dict[str, int] = {}
        timer = 0
        for root in sorted(adj):
            if root in disc:
                continue
            root_children = 0
            # iterative DFS: stack of (node, parent, child iterator)
            disc[root] = low[root] = timer
            timer += 1
            stack = [(root, None, iter(adj[root]))]
            while stack:
                node, parent, it = stack[-1]
                advanced = False
                for nxt in it:
                    if nxt == parent:
                        continue
                    if nxt in disc:
                        low[node] = min(low[node], disc[nxt])
                        continue
                    disc[nxt] = low[nxt] = timer
                    timer += 1
                    stack.append((nxt, node, iter(adj[nxt])))
                    advanced = True
                    break
                if advanced:
                    continue
                stack.pop()
                if parent is not None:
                    low[parent] = min(low[parent], low[node])
                    if parent == root:
                        root_children += 1
                    elif low[node] >= disc[parent]:
                        cut[parent] = cut.get(parent, 1) + 1
            if root_children > 1:
                cut[root] = root_children
        return pd.DataFrame(
            [(comp_id, n, k) for n, k in sorted(cut.items())],
            columns=["component", "node", "split_into"],
        )

    points = keep_edges.groupBy("component").applyInPandas(
        _tarjan, "component string, node string, split_into int"
    )
    return points, skipped


def _cc(canon: DataFrame):
    """Connected components over canonical (u, v) edges, reusing the
    pipeline's star loop (min-id component labels)."""
    from ..pipeline.clustering import connected_components

    return connected_components(
        canon.select(
            F.col("u").alias("conv_id_a"), F.col("v").alias("conv_id_b")
        )
    )


def pagerank(
    edges: DataFrame,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Record authority over the undirected match graph — fixed-iteration
    PageRank, the ranking operator the survivorship family lacks: min-id
    (B9) and golden-record heuristics pick canonicals by value recency or
    completeness; authority picks the record the REST of the evidence
    points at (the hub of its duplicate neighborhood), which is the right
    canonical under heavy transcript re-ingestion where near-copies chain
    off one original. Returns (node, rank); ranks over a component sum to
    (1 - damping) * n/N + damping-weighted flow, the standard PR measure
    (uniform teleport over the full node set N).

    Distributed shape: each undirected edge contributes in both
    directions; per iteration one node-keyed join (ranks -> adjacency)
    and one node-keyed sum — the classic Spark power-iteration, with
    localCheckpoint per round to keep the plan flat (the k_core loop
    discipline). Deterministic: FIXED iteration count, no float
    convergence test; dangling mass cannot exist on an undirected graph
    (every node with an edge has out-degree >= 1; isolated nodes never
    enter). Float sums make this pytest-pinned (NMI epistemics), not
    hash-gated.

    Reference anchor: no analogue in hexhamming; composes with
    pipeline/canonicalize.py as an alternative canonical-selection key.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    canon = canonical_edges(edges, a, b)  # → (u, v), u < v, deduped
    adj = canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    adj = adj.localCheckpoint(eager=True)
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    adj = adj.join(deg, "src").localCheckpoint(eager=True)
    nodes = adj.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    n_total = nodes.count()
    if n_total == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n_total
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_total))
    for _ in range(n_iter):
        contribs = (
            adj.join(ranks, adj["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("flow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce("flow", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def lpa_communities(
    edges: DataFrame,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
    max_iter: int = 10,
) -> tuple[DataFrame, int, bool]:
    """Unseeded synchronous label-propagation communities (Raghavan et al.
    2007) — the density-sensitive clustering lens the component family
    lacks: connected components (B8) merge everything reachable, pivot/
    star bound clusters by one neighborhood, LPA instead converges on
    groups denser INSIDE than across, so an over-merged component (two
    entities glued by a few bad edges) splits along its sparse cut
    without needing triangle support (robust_components) or scores
    (HAC).

    Deterministic variant: every node starts labeled with its own id;
    each round every node SIMULTANEOUSLY adopts the most frequent label
    among its neighbors AND itself (self-vote breaks the bipartite
    oscillation of pure sync LPA), ties by MINIMUM label. Stops when a
    round changes nothing or at max_iter. Returns (labels(node, label),
    rounds_run, converged). Sequential/async LPA is order-dependent —
    unusable for reproducible pipelines; the synchronous self-vote form
    trades a little convergence speed for run-to-run determinism.

    Shape per round: one node-keyed join (labels -> symmetric adjacency)
    + one (node, label) count + one per-node argmax window — all keyed on
    node ids, localCheckpoint()ed (k_core loop discipline). Convergence
    check is one aggregate over the joined old/new labels.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    from pyspark.sql import Window

    canon = canonical_edges(edges, a, b)
    adj = canon.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(canon.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    adj = adj.localCheckpoint(eager=True)
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    rounds, converged = 0, False
    for _ in range(max_iter):
        rounds += 1
        # neighbor votes + the node's own current label (self-vote)
        votes = (
            adj.join(labels.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "label")
            .unionByName(labels.select("node", "label"))
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        new = (
            votes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        changed = (
            new.withColumnRenamed("label", "_nl")
            .join(labels, "node")
            .where(F.col("_nl") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    return labels, rounds, converged
