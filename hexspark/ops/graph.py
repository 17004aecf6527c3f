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
    node ids, localCheckpoint()ed (clustering's loop discipline). Convergence
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
