"""B8/B9 — transitive clustering: connected components on the match-edge
DataFrame, evaluated on the driver when the graph fits there and by
alternating large-star / small-star rounds otherwise (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public paper; see
PAPERS.md). Choosing local or distributed evaluation by input size is the
hybrid evaluation of "Hybrid Evaluation for Distributed Iterative Matrix
Computation" (SIGMOD'21, PAPERS.md), the way AQE picks a broadcast or a
shuffle join.

The size test is the fetch: one ``limit(bound + 1).toArrow()`` of the
non-loop edges. At most ``bound`` rows come back → the components are
labelled on the driver in numpy (factorize the ids, then hook roots and
pointer-jump until every edge's endpoints share a root) and returned as one
driver-built frame. More rows → the star rounds run over the edge set in
Spark. The bound is sized from the driver's memory (_driver_edge_bound).

Why the star rounds at 100 TB: each round is one groupBy + one join — no
driver-side graph, no per-node Python — and converges in O(log^2 n) rounds
(in practice <10 for duplicate-cluster graphs, whose components are tiny).
Each round's result is localCheckpoint()ed to cut lineage so the loop's
plan doesn't grow; convergence is detected with an exact star-forest test
(no root appears as a child — see _is_star_forest) on the checkpointed
rounds, which terminates the loop on the round that REACHES the answer
instead of one round later like a fixpoint comparison would.

Node ids are the string conv_ids; "min" is lexicographic min, deterministic
and collision-free at any scale (no 64-bit hash-collision risk at 10^12
nodes). Both paths name a component by the same minimum: Python orders
``str`` by code point, which is the UTF-8 byte order of Spark's
UTF8_BINARY string comparison.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# driver bytes budgeted per fetched edge (see _driver_edge_bound)
_DRIVER_BYTES_PER_EDGE = 512


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: for every node u, connect each strictly-larger neighbor
    to the minimum of N(u) ∪ {u}."""
    nbrs = edges.select(F.col("u"), F.col("v")).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: orient edges toward the smaller endpoint; for every node
    u, connect all its smaller-or-equal neighbors (and u) to the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    nbrs = oriented
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        nbrs.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _is_star_forest(edges: DataFrame) -> bool:
    """Exact convergence test. After any round, every edge points child→root
    with root < child (small-star orients to the minimum). The state is a
    star forest — and therefore stable under further rounds — iff BOTH:

      (a) no node has two parents (each child u appears in exactly one
          edge), and
      (b) no parent is itself some other edge's child.

    Checking only (b) is unsound: the state {(c3,c0),(c3,c2),(c4,c2),
    (c5,c2),(c6,c0)} has no root-as-child yet c3 still bridges two stars
    that later rounds must merge — stopping there splits one true
    component into two clusters and assigns c3 twice. Both violations are
    found with ONE aggregation over the node incidences: a node is bad if
    it is a child more than once, or both a child and a parent. Since
    every edge points to the strictly smaller endpoint, a star's root is
    the minimum of its star, and a star that is a whole component is
    rooted at the component minimum — i.e. star forest ⟺ converged
    min-rooted answer."""
    incid = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
    ).union(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p"))
    )
    bad = (
        incid.groupBy("n")
        .agg(F.sum("c").alias("nc"), F.max("p").alias("isp"))
        .where((F.col("nc") > 1) | ((F.col("nc") >= 1) & (F.col("isp") == 1)))
    )
    return bad.isEmpty()


def _driver_edge_bound(spark) -> int:
    """Largest edge count connected_components labels on the driver.

    Rule: the fetch holds the edges twice on the driver — as Arrow batches
    in the JVM (counted against spark.driver.maxResultSize) and as an
    Arrow table plus its numpy copies in Python — about 512 bytes per edge
    for ids of up to ~40 characters. The bound gives that 1/8 of the
    smaller of spark.driver.memory and spark.driver.maxResultSize (0 =
    unlimited, so the memory alone), i.e. one edge per 4 KiB: a 4g driver
    labels up to 1,048,576 edges locally."""
    conf = spark.sparkContext._jsc.sc().conf()
    budget = conf.getSizeAsMb("spark.driver.memory", "1g") << 20
    result_cap = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if result_cap > 0:
        budget = min(budget, result_cap)
    # limit() takes a 32-bit row count
    return min(budget // 8 // _DRIVER_BYTES_PER_EDGE, 2**31 - 2)


def _label_on_driver(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """Edge table (u, v) → (node ids, each node's component minimum).

    np.unique sorts the ids, so a node's code is its rank and the smallest
    code of a component is its minimum id. Each round hooks every edge's
    larger root under the smallest root it meets (np.minimum.at), then
    pointer-jumps until every node points at a root. parent[x] <= x holds
    throughout, so a component's minimum stays a root; while any edge has
    endpoints under two roots, the larger one is re-parented, so the
    number of roots falls every round and the loop ends with one root —
    the minimum — per component."""
    m = table.num_rows
    ends = np.concatenate(
        [table.column(c).to_numpy(zero_copy_only=False) for c in ("u", "v")]
    )
    ids, codes = np.unique(ends, return_inverse=True)
    a, b = codes[:m], codes[m:]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            break
        ra, rb = ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return ids, ids[parent]


def _star_clusters(state: DataFrame) -> DataFrame:
    """Converged star-forest state (child u → root v) → clusters: every
    edge is (node, root); roots appear only on the right side → add
    (root, root) rows."""
    return state.select(
        F.col("u").alias("conv_id"), F.col("v").alias("cluster_id")
    ).union(
        state.select(F.col("v").alias("conv_id"), F.col("v").alias("cluster_id")).distinct()
    ).distinct()


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> tuple[DataFrame, int]:
    """edges(conv_id_a, conv_id_b) → clusters(conv_id, cluster_id).

    cluster_id is the component's minimum conv_id (B9 canonicalization).
    Nodes with no surviving edge are not emitted — callers union isolated
    nodes as singleton clusters (see runner).

    Up to _driver_edge_bound(spark) non-loop edges are labelled on the
    driver from one fetch; the result is then a driver-built frame and
    ``rounds`` is 1 when any edge survives, 0 otherwise. A larger graph
    runs the large-star/small-star rounds, ``rounds`` being their number,
    and raises RuntimeError if they do not converge within max_iter.

    Returns (clusters, rounds_used).
    """
    # no input distinct: duplicate edges cannot change any round's output
    # (min-aggregations are idempotent and each round ends in its own
    # distinct), so deduplicating here would be a pure extra shuffle of the
    # largest edge set the loop ever sees.
    cur = edges.select(
        F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v")
    ).where(F.col("u") != F.col("v"))
    spark = edges.sparkSession
    bound = _driver_edge_bound(spark)
    fetched = cur.limit(bound + 1).toArrow()
    if fetched.num_rows <= bound:
        ids, roots = _label_on_driver(fetched)
        schema = _star_clusters(cur).schema
        table = pa.table(
            [
                pa.array(ids.tolist(), fetched.schema.field("u").type),
                pa.array(roots.tolist(), fetched.schema.field("v").type),
            ],
            names=schema.fieldNames(),
        )
        return spark.createDataFrame(table, schema), int(fetched.num_rows > 0)
    # the fetch found more than `bound` edges, so the set is not empty
    cur = cur.localCheckpoint(eager=True)
    rounds = 0
    converged = False
    while not converged and rounds < max_iter:
        rounds += 1
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        converged = _is_star_forest(cur)
    if not converged:
        # a non-star-forest state would silently emit nodes with multiple
        # cluster_ids and split components — refuse instead
        raise RuntimeError(
            f"connected components did not converge within max_iter={max_iter} "
            "rounds; raise cc_max_iter (expected O(log^2 n) rounds)"
        )
    return _star_clusters(cur), rounds


def _pivot_priority(col, salt: str):
    """Deterministic random-permutation priority for pivot clustering:
    md5(salt || id) with the id appended, so the string order is a total
    order over nodes even under (astronomically unlikely) digest ties, and
    a different salt is a fresh permutation. Pure expression — recomputable
    anywhere without a join."""
    return F.concat(F.md5(F.concat(F.lit(salt), col)), col)


def _greedy_mis_clusters(
    orig: DataFrame, max_iter: int, what: str
) -> tuple[DataFrame, int]:
    """Shared engine for sequential-greedy clustering algorithms (pivot /
    star): given priority-annotated edges ``orig(u, pu, v, pv)`` with
    u != v and the priority strings a total order over nodes, return
    (clusters(conv_id, cluster_id), rounds) for EXACTLY the sequential
    greedy that visits nodes in ascending priority — an uncovered node
    becomes a CENTER and covers its uncovered neighbors; every non-center
    then joins its minimum-priority center neighbor (the center that
    covered it first sequentially).

    Centers are the lexicographically-first maximal independent set under
    the priorities, computed in rounds (a node joins when its priority is
    the minimum of its unresolved neighborhood; covered neighbors are
    knocked OUT the same round but their assignment is deferred — see
    pivot_components for why eager assignment would diverge from the
    sequential answer). Each round is one node-keyed min aggregation + one
    semi-join + two anti-joins; survivors are localCheckpoint()ed so the
    loop's plan stays flat. Priorities ride along as columns, so callers
    may derive them from joins (star: degree table) or pure expressions
    (pivot) without changing the engine."""
    orig = orig.localCheckpoint(eager=True)
    cur = orig
    pivot_parts: list[DataFrame] = []
    rounds = 0
    while not cur.isEmpty():
        rounds += 1
        if rounds > max_iter:
            raise RuntimeError(
                f"{what} did not resolve within max_iter={max_iter} "
                "rounds; raise max_iter (expected O(log n) rounds)"
            )
        # unionByName, not positional union: a USING join upstream can
        # reorder columns and a positional union would silently destroy
        # the symmetry (observed: left_anti joins put the key column first)
        sym = cur.select("u", "pu", "v", "pv").unionByName(
            cur.select(
                F.col("v").alias("u"), F.col("pv").alias("pu"),
                F.col("u").alias("v"), F.col("pu").alias("pv"),
            )
        )
        pivots = (
            sym.groupBy("u", "pu")
            .agg(F.min("pv").alias("m_pri"))
            .where(F.col("pu") < F.col("m_pri"))
            .select("u")
            .localCheckpoint(eager=True)
        )
        pivot_parts.append(pivots)
        knocked_out = (
            sym.join(pivots, "u", "left_semi").select(F.col("v").alias("u"))
        )
        gone = pivots.unionByName(knocked_out).distinct().localCheckpoint(eager=True)
        cur = (
            cur.join(gone, "u", "left_anti")
            .join(gone.select(F.col("u").alias("v")), "v", "left_anti")
            .select("u", "pu", "v", "pv")  # USING joins move the key first
            .localCheckpoint(eager=True)
        )
    all_nodes = (
        orig.select("u").union(orig.select(F.col("v").alias("u"))).distinct()
        .localCheckpoint(eager=True)
    )
    if rounds == 0:
        return (
            all_nodes.select(
                F.col("u").alias("conv_id"), F.col("u").alias("cluster_id")
            ),
            rounds,
        )
    centers = pivot_parts[0]
    for part in pivot_parts[1:]:
        centers = centers.unionByName(part)
    sym_all = orig.select("u", "v", "pv").unionByName(
        orig.select(
            F.col("v").alias("u"), F.col("u").alias("v"),
            F.col("pu").alias("pv"),
        )
    )
    # OUT = nodes adjacent to some center; everything else is IN the MIS
    # (including unresolved leftovers — all their neighbors were knocked
    # OUT in earlier rounds, so they are singleton-or-late centers)
    mis = all_nodes.join(
        sym_all.join(centers.select(F.col("u").alias("v")), "v", "left_semi")
        .select("u").distinct(),
        "u",
        "left_anti",
    ).localCheckpoint(eager=True)
    # assign each OUT node to its minimum-priority center neighbor
    assigned = (
        sym_all.join(mis.select(F.col("u").alias("v")), "v", "left_semi")
        .join(mis.select(F.col("u")), "u", "left_anti")
        .groupBy("u")
        .agg(F.min_by("v", F.col("pv")).alias("cluster_id"))
    )
    clusters = mis.select(
        F.col("u").alias("conv_id"), F.col("u").alias("cluster_id")
    ).unionByName(assigned.select(F.col("u").alias("conv_id"), "cluster_id"))
    return clusters, rounds


def pivot_components(
    edges: DataFrame, salt: str = "", max_iter: int = 40
) -> tuple[DataFrame, int]:
    """Correlation clustering over the match edges via parallel KwikCluster
    (pivot clustering) — the precision-bounded alternative to B8's
    transitive closure.

    Semantics: EXACTLY the sequential greedy of Ailon-Charikar-Newman
    (KwikCluster): visit nodes in a random order; an unclustered node
    becomes a PIVOT and claims all its still-unclustered match-neighbors
    as its cluster. Every cluster therefore sits inside one pivot's direct
    match neighborhood — a false edge can pull in one node, never glue two
    whole entities the way transitive closure does — and the expected
    disagreement cost is within 3x of the optimal correlation clustering
    when the random order is uniform.

    Parallel simulation in two phases (the Blelloch-Fineman-Shun
    "sequential greedy is parallel" argument, also Chierichetti-Dalvi-
    Kumar KDD'14):

    1. PIVOT phase — the sequential pivot set is exactly the
       lexicographically-first maximal independent set under the random
       priorities (a node is a pivot iff none of its smaller-priority
       neighbors is one). Computed in rounds: every node whose priority is
       the minimum of its UNRESOLVED neighborhood joins the MIS; its
       unresolved neighbors are knocked OUT in the same round (they can
       never be pivots, but their cluster assignment is NOT decided yet);
       edges touching resolved nodes are dropped and the round repeats.
       Rounds = the greedy dependence depth, O(log n) w.h.p.
    2. ASSIGN phase — ONE pass at the end: every OUT node joins its
       minimum-priority pivot neighbor over the ORIGINAL edges. (That is
       the sequential answer: u's smaller non-pivot neighbors never claim
       anything, so the first pivot processed among u's neighbors — the
       minimum-priority one — claims u.)

    Subtle and load-bearing: a round must NOT assign an OUT node to the
    pivot that knocked it out — u's true owner can be a smaller-priority
    neighbor that only becomes a pivot in a LATER round (see
    test_pivot_waits_for_its_min_neighbor). Deferring assignment to phase
    2 makes the distributed answer EQUAL to a pure-Python replay of the
    sequential algorithm with the same md5 priorities, which is how the
    tests pin it.

    Scale shape: each MIS round is ONE node-keyed min aggregation over the
    symmetric neighbor list (map-side combinable) + one semi-join to find
    knocked-out neighbors + two left_anti joins to shrink the edge set;
    the assign phase is one equi-join + one min_by aggregation; priorities
    are pure expressions (no priority table to join); every round's
    survivors are localCheckpoint()ed so the loop's plan stays flat (same
    discipline as connected_components).

    edges(conv_id_a, conv_id_b) -> (clusters(conv_id, cluster_id), rounds);
    cluster_id is the PIVOT's conv_id (the cluster's center — every member
    is a direct match-neighbor of it). Nodes present in edges always get a
    row; isolated input nodes are the caller's with_singletons job, as for
    connected_components.
    """
    annotated = (
        edges.select(F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            "u", _pivot_priority(F.col("u"), salt).alias("pu"),
            "v", _pivot_priority(F.col("v"), salt).alias("pv"),
        )
    )
    return _greedy_mis_clusters(annotated, max_iter, "pivot clustering")


def star_components(
    edges: DataFrame, max_iter: int = 40
) -> tuple[DataFrame, int]:
    """Star clustering over the match edges (Aslam-Pelekhov-Rus, "The Star
    Clustering Algorithm", JGAA 2004) — the degree-greedy member of the
    center-style clustering family evaluated for duplicate detection by
    Hassanzadeh et al. (VLDB'09) alongside transitive closure and pivot.

    Semantics: EXACTLY the sequential greedy that visits nodes by
    DESCENDING degree (ties by ascending id): an uncovered node becomes a
    star CENTER and covers its uncovered match-neighbors; each satellite
    then belongs to the highest-degree adjacent center (ties by id) — the
    center that covered it first. Versus pivot's random order, degree
    order puts cluster centers on the best-connected records, so star
    centers double as high-quality canonical representatives, while
    keeping pivot's precision bound: every cluster sits inside one node's
    direct match-neighborhood, so a single false edge can never glue two
    whole entities the way transitive closure does.

    Distributed shape: identical to pivot_components — the sequential
    center set is the lexicographically-first maximal independent set
    under the (degree, id) priority, computed by the shared
    _greedy_mis_clusters round engine. The only extra cost over pivot is
    ONE degree aggregation over the deduplicated symmetric edge set and
    one join to annotate endpoints with their priority (degrees are STATIC
    — taken from the full input graph, per the original algorithm — so no
    per-round recount). Degrees are encoded into the priority string as
    zero-padded (10^18 - degree) so ascending string order = descending
    degree; 10^18 caps the degree of any real graph and keeps the
    arithmetic in exact long range.

    edges(conv_id_a, conv_id_b) -> (clusters(conv_id, cluster_id), rounds);
    cluster_id is the CENTER's conv_id. Isolated input nodes are the
    caller's with_singletons job, as for connected_components.
    """
    und = (
        edges.select(F.col("conv_id_a").alias("u"), F.col("conv_id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.select("u", "v").unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    pri = sym.groupBy("u").agg(
        F.concat(
            F.format_string("%019d", F.lit(10**18) - F.count("*")),
            F.lit("|"),
            F.col("u"),
        ).alias("p")
    )
    annotated = (
        und.join(pri.select(F.col("u"), F.col("p").alias("pu")), "u")
        .join(pri.select(F.col("u").alias("v"), F.col("p").alias("pv")), "v")
        .select("u", "pu", "v", "pv")
    )
    return _greedy_mis_clusters(annotated, max_iter, "star clustering")


def with_singletons(clusters: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """Union singleton clusters for nodes that had no match edge.
    all_nodes: DataFrame with a conv_id column."""
    singles = (
        all_nodes.select("conv_id")
        .join(clusters.select("conv_id"), "conv_id", "left_anti")
        .select(F.col("conv_id"), F.col("conv_id").alias("cluster_id"))
    )
    return clusters.unionByName(singles)
