"""B11 — the 1-vs-many probe query: A4 (check_bytes_arrays_within_dist,
python_hexhamming.cc:246-284) over a resolved corpus snapshot.

`reps_with_radius` builds the per-cluster representatives and radii the
probe service (streaming.probe.probe_stream) screens against;
`probe_clusters` is the exact two-stage search in Catalyst, kept as the
batch oracle the service's tests check against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scoring import _CHUNK_HEX, N_CHUNKS, hamming_jvm, sig_chunks


def reps_with_radius(clusters: DataFrame, signatures: DataFrame) -> DataFrame:
    """Cluster representatives (canonicalize.representative_signature)
    plus each cluster's RADIUS: max hamming distance from the
    representative to any member. The radius is what makes two-stage
    probing EXACT (see probe_clusters) — build this once per corpus
    snapshot and reuse it for every probe.

    Output: (cluster_id, sig_hex, n_members, radius). One members-to-rep
    join keyed on cluster_id + one max aggregation."""
    from . import canonicalize

    reps = canonicalize.representative_signature(clusters, signatures)
    members = clusters.join(
        signatures.select("conv_id", *sig_chunks("m")), "conv_id"
    )
    radii = (
        members.join(reps.select("cluster_id", *sig_chunks("r")), "cluster_id")
        .groupBy("cluster_id")
        .agg(F.max(hamming_jvm("m", "r")).alias("radius"))
    )
    return reps.select("cluster_id", "sig_hex", "n_members").join(radii, "cluster_id")


def probe_clusters(
    reps: DataFrame,
    clusters: DataFrame,
    signatures: DataFrame,
    probe_sig_hex: str,
    max_dist: int,
) -> DataFrame:
    """EXACT two-stage 1-vs-many search — B11's probe made sublinear in
    corpus size by the cluster structure:

    stage 1 (screen): keep clusters with
        dist(probe, rep) <= max_dist + radius.
    Hamming distance is a metric, so for any member m of a cluster with
    representative r: dist(probe, m) >= dist(probe, r) - dist(r, m)
    >= dist(probe, r) - radius. A cluster failing the screen therefore
    cannot contain ANY member within max_dist — the screen is lossless,
    whatever the clustering quality (a bad clustering only weakens the
    pruning, never the answer).

    stage 2 (verify): scan only surviving clusters' members with the
    exact predicate dist(probe, member) <= max_dist (A3 semantics,
    python_hexhamming.cc:62-64).

    Both stages are codegen projections + filters; the member scan reaches
    the signatures table through a semi-join on cluster_id, so non-
    surviving clusters' members are never read past the join. Output:
    (conv_id, cluster_id, dist), the exact within-distance set.
    """
    if len(probe_sig_hex) != 64:
        raise ValueError(
            f"probe_sig_hex must be 64 hex chars (256 bits), got {len(probe_sig_hex)}"
        )
    # the probe's chunks as literals, the "p" side of hamming_jvm
    probe = [
        F.lit(int(probe_sig_hex[i * _CHUNK_HEX : (i + 1) * _CHUNK_HEX], 16))
        .cast("long")
        .alias(f"c{i}_p")
        for i in range(N_CHUNKS)
    ]
    survivors = reps.select("cluster_id", "radius", *sig_chunks("r"), *probe).where(
        hamming_jvm("r", "p") <= F.lit(max_dist) + F.col("radius")
    ).select("cluster_id")
    members = clusters.join(survivors, "cluster_id", "left_semi").join(
        signatures.select("conv_id", *sig_chunks("m"), *probe), "conv_id"
    )
    return members.withColumn("dist", hamming_jvm("m", "p")).where(
        F.col("dist") <= F.lit(max_dist)
    ).select("conv_id", "cluster_id", "dist")
