"""Post-clustering repair: per-node cohesion and low-cohesion node
eviction, then re-clustering of the surviving edges.

Why this stage exists: transitive closure (B8) is maximally recall-biased —
ONE borderline edge glues two real entities into a single cluster, and the
glue node often looks obviously wrong *after* clustering: its average
similarity to the rest of its cluster is far below everyone else's. Robust
mode (triangle corroboration, ops/graph.py) prevents some of these merges
up front; repair is the complementary *post-hoc* precision pass used by
production linkage systems: score each member against its own cluster,
evict the outliers, and re-connect what remains. Evicted nodes become
singletons and land in a review queue, mirroring the bridge-edge queue.

Reference anchor: the reference library stops at pairwise predicates
(/root/reference/hexhamming/python_hexhamming.cc:421-428 — no clustering at
all); this stage is part of the axes-A+B generalization mandated by the
north rule ("blocking + pairwise-scoring + transitive-clustering"), keeping
its cluster quality honest at scale.

Scale shape (the part that must survive 100 TB):
- within-cluster edges = two hash joins keyed on conv_id (edges × cluster
  map per endpoint) + a same-cluster filter — no pair blowup beyond the
  edge set itself;
- per-node cohesion = one groupBy(conv_id) over the incident within-edges
  (map-side combinable sum/count);
- eviction = a broadcast-size join only when the evicted set is small
  (AQE decides; no hint needed), else a plain keyed join;
- re-clustering = connected_components over the KEPT within-edges only —
  never more edges than the input, usually far fewer rounds since clusters
  are tiny diameter-bounded subgraphs.
No collect, no all-pairs, no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import clustering


def within_cluster_edges(
    clusters: DataFrame,
    edges: DataFrame,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
) -> DataFrame:
    """Edges whose BOTH endpoints share a cluster, tagged with cluster_id.

    clusters: (conv_id, cluster_id); edges: (a, b, ...scores).
    Output: edges' columns + cluster_id.
    """
    ca = clusters.select(
        F.col("conv_id").alias(a), F.col("cluster_id").alias("_cl_a")
    )
    cb = clusters.select(
        F.col("conv_id").alias(b), F.col("cluster_id").alias("_cl_b")
    )
    return (
        edges.join(ca, a)
        .join(cb, b)
        .where(F.col("_cl_a") == F.col("_cl_b"))
        .withColumn("cluster_id", F.col("_cl_a"))
        .drop("_cl_a", "_cl_b")
    )


def node_cohesion(
    clusters: DataFrame,
    edges: DataFrame,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
    score: str = "score",
) -> DataFrame:
    """Per-member cohesion: (conv_id, cluster_id, n_within, avg_within) —
    the node's average score over its incident WITHIN-cluster edges.
    Members of size-1 clusters and members with no within-edge get
    n_within=0, avg_within=null."""
    within = within_cluster_edges(clusters, edges, a=a, b=b)
    incid = within.select(
        F.col(a).alias("conv_id"), F.col(score).alias("_s")
    ).unionAll(within.select(F.col(b).alias("conv_id"), F.col(score).alias("_s")))
    per_node = incid.groupBy("conv_id").agg(
        F.count("*").alias("n_within"), F.avg("_s").alias("avg_within")
    )
    return (
        clusters.join(per_node, "conv_id", "left")
        .withColumn("n_within", F.coalesce(F.col("n_within"), F.lit(0)))
        .select("conv_id", "cluster_id", "n_within", "avg_within")
    )


def evicted_nodes(
    clusters: DataFrame,
    edges: DataFrame,
    min_avg_score: float,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
    score: str = "score",
) -> DataFrame:
    """The review queue: members of multi-node clusters whose average
    within-cluster edge score < min_avg_score (glue nodes that only chains
    keep attached score low against everyone around them).

    Output: (conv_id, cluster_id, n_within, avg_within). Lazy — safe to
    materialize as a stage table.
    """
    coh = node_cohesion(clusters, edges, a=a, b=b, score=score)
    # size-1 clusters have no within-edges and are never evicted; a member
    # with 0 within-edges inside a multi-node cluster cannot occur for
    # CC-derived clusters (every non-singleton member owns >= 1 edge) but
    # is evicted defensively for caller-supplied partitions.
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("_sz"))
    return (
        coh.join(sizes, "cluster_id")
        .where(
            (F.col("_sz") >= 2)
            & (
                F.col("avg_within").isNull()
                | (F.col("avg_within") < F.lit(min_avg_score))
            )
        )
        .select("conv_id", "cluster_id", "n_within", "avg_within")
    )


def reclustered(
    clusters: DataFrame,
    edges: DataFrame,
    evicted: DataFrame,
    a: str = "conv_id_a",
    b: str = "conv_id_b",
    cc_max_iter: int = 20,
) -> DataFrame:
    """Connected components over the within-cluster edges whose BOTH
    endpoints survived eviction, with every original node restored
    (evicted and newly-disconnected nodes become singletons) — the output
    is a partition of exactly the input node set.

    NOTE eager (connected_components runs actions); don't build it into
    plans you intend to discard."""
    within = within_cluster_edges(clusters, edges, a=a, b=b)
    ev_ids = evicted.select("conv_id")
    kept_edges = (
        within.join(ev_ids.withColumnRenamed("conv_id", a), a, "left_anti")
        .join(ev_ids.withColumnRenamed("conv_id", b), b, "left_anti")
        .select(F.col(a).alias("conv_id_a"), F.col(b).alias("conv_id_b"))
    )
    cc, _rounds = clustering.connected_components(kept_edges, max_iter=cc_max_iter)
    return clustering.with_singletons(cc, clusters.select("conv_id"))
