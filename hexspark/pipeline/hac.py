"""Component-local exact agglomerative clustering (average linkage) — the
"small components, exact algorithm" pattern: at 100 TB the match graph is
huge but its connected components are entity-sized, so after ONE
distributed closure the exact quadratic algorithm runs independently
inside each component, in parallel, via applyInPandas. This is the
precision refinement single-linkage cannot give: transitive closure (=
single linkage) glues chains A~B~C even when dist(A, C) is terrible,
while average linkage only keeps a merge whose MEAN cross distance clears
the threshold — the classic fix for chained clusters, at exactly the
granularity (per component) where the quadratic cost is affordable.

Distributed shape: connected_components over the scored candidate edges
(the loose closure defines the work units) → edges keyed by component →
ONE applyInPandas group per component running deterministic
Lance-Williams average-linkage HAC (Arrow-batched; the only Python in the
plan, and it only ever sees one entity-neighborhood of edges at a time).
Components above ``max_component`` fall back to their closure cluster
with exact=false rather than a quadratic blow-up.

Pairs inside a component that were never scored (not candidates) enter
the matrix at ``missing_dist`` (default 2x threshold): far, but finite,
so average linkage can still price a merge that includes a few unscored
cross pairs. Determinism: nodes are sorted, cluster reps are min members,
ties on the minimum distance break toward the lexicographically smallest
cluster pair — byte-stable output on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import connected_components

_OUT_SCHEMA = "conv_id string, cluster_id string, exact boolean"


def _hac_component(pdf, threshold: float, missing_dist: float):
    """Exact average-linkage HAC over one component's scored edges.
    Deterministic: sorted node order, first-occurrence argmin (row-major
    = lexicographic (i, j)), reps = min members."""
    import numpy as np
    import pandas as pd

    nodes = sorted(set(pdf["conv_id_a"]) | set(pdf["conv_id_b"]))
    n = len(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    D = np.full((n, n), float(missing_dist))
    for a, b, d in zip(pdf["conv_id_a"], pdf["conv_id_b"], pdf["dist"]):
        i, j = idx[a], idx[b]
        d = float(d)
        if d < D[i, j]:
            D[i, j] = D[j, i] = d
    np.fill_diagonal(D, np.inf)
    active = np.ones(n, dtype=bool)
    size = np.ones(n, dtype=np.int64)
    # cluster i holds the members whose min member is nodes[i]
    members: list[list[int]] = [[i] for i in range(n)]
    while active.sum() > 1:
        M = np.where(np.outer(active, active), D, np.inf)
        M[np.tril_indices(n)] = np.inf
        flat = int(np.argmin(M))
        i, j = divmod(flat, n)
        if not np.isfinite(M[i, j]) or M[i, j] > threshold:
            break
        # Lance-Williams average-linkage update into the smaller index
        # (i < j always, and reps are min members, so i keeps the rep)
        ni, nj = size[i], size[j]
        new_row = (ni * D[i] + nj * D[j]) / (ni + nj)
        D[i, :] = new_row
        D[:, i] = new_row
        D[i, i] = np.inf
        size[i] = ni + nj
        members[i].extend(members[j])
        active[j] = False
    rows = []
    for i in range(n):
        if active[i]:
            rep = nodes[min(members[i])]
            for m in members[i]:
                rows.append((nodes[m], rep, True))
    return pd.DataFrame(rows, columns=["conv_id", "cluster_id", "exact"])


def hac_components(
    scored_edges: DataFrame,
    threshold: float,
    dist_col: str = "dist",
    missing_dist: float | None = None,
    max_component: int = 500,
    cc_max_iter: int = 20,
) -> DataFrame:
    """scored_edges(conv_id_a, conv_id_b, <dist_col>) →
    (conv_id, cluster_id, exact): average-linkage clusters cut at
    ``threshold``, computed exactly inside every connected component of
    the edge set (components larger than ``max_component`` keep their
    closure cluster with exact=false). cluster_id is the cluster's min
    member id. Nodes with no edge are the caller's with_singletons job,
    as for connected_components."""
    if missing_dist is None:
        missing_dist = 2.0 * threshold
    if missing_dist < threshold:
        raise ValueError(
            f"missing_dist ({missing_dist}) must be >= threshold "
            f"({threshold}): an unscored pair must not look closer than "
            "the cut"
        )
    edges = scored_edges.select(
        "conv_id_a", "conv_id_b", F.col(dist_col).cast("double").alias("dist")
    ).localCheckpoint(eager=True)
    cc, _ = connected_components(
        edges.select("conv_id_a", "conv_id_b"), max_iter=cc_max_iter
    )
    comp = cc.select("conv_id", F.col("cluster_id").alias("component"))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("_n"))
    big = sizes.where(F.col("_n") > max_component).select("component")
    inexact = (
        comp.join(big, "component", "left_semi")
        .select(
            "conv_id",
            F.col("component").alias("cluster_id"),
            F.lit(False).alias("exact"),
        )
    )
    small_edges = (
        edges.join(
            comp.select(F.col("conv_id").alias("conv_id_a"), "component"),
            "conv_id_a",
        )
        .join(big, "component", "left_anti")
    )
    thr, miss = float(threshold), float(missing_dist)
    refined = small_edges.groupBy("component").applyInPandas(
        lambda pdf: _hac_component(pdf, thr, miss), _OUT_SCHEMA
    )
    return refined.unionByName(inexact)
