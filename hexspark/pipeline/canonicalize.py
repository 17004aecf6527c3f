"""B9+ — golden-record selection and attribute fusion (survivorship).

After clustering, an ER system must emit ONE canonical record per entity.
Two standard survivorship strategies, both pure Catalyst:

* :func:`golden_records` — record-level survivorship: pick the single best
  member of each cluster by a deterministic preference order (e.g. longest
  text, then earliest timestamp, then smallest id). One hash exchange on
  cluster_id + a per-partition top-1 window; at 100 TB this is the same
  envelope as any window top-k — no collect, no pair explosion, and AQE
  handles a skewed mega-cluster the same way it handles a skewed groupBy.

* :func:`fuse_attributes` — attribute-level survivorship (field fusion):
  for each cluster and each requested column, take the modal (most
  frequent) non-null value, ties broken by the smallest value. Shape:
  groupBy (cluster, value) count → per-cluster top-1 window per field.
  Partial aggregation makes the count map-side combinable, so the shuffle
  carries one row per distinct (cluster, value), not per member — the
  right plan when clusters are large and values are few.

Reference parity: the reference kernel library (hexhamming) stops at the
distance predicate; survivorship is the stage the SURVEY's target pipeline
needs between B9 canonical ids and B10 sinks so downstream consumers see
one row per entity. Both functions are deterministic for the value-hash
compare (every ordering ends in a unique tiebreaker).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def golden_records(
    clusters: DataFrame,
    records: DataFrame,
    id_col: str,
    order_by: list[Column],
) -> DataFrame:
    """One surviving record per cluster.

    clusters(id_col, cluster_id) × records(id_col, ...attrs) → one row per
    cluster_id: all record columns of the preferred member plus
    ``cluster_id`` and ``n_members``.

    ``order_by`` is the preference order (best first); a final ascending
    ``id_col`` tiebreak is appended automatically so the choice is total.
    """
    joined = records.join(clusters.select(id_col, "cluster_id"), id_col)
    w = Window.partitionBy("cluster_id").orderBy(*order_by, F.asc(id_col))
    # rank and member-count from the SAME window partition: one exchange,
    # one sort, both values produced in a single window stage
    ranked = joined.withColumn("_rk", F.row_number().over(w)).withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )
    return ranked.where(F.col("_rk") == 1).drop("_rk")


def fuse_attributes(
    clusters: DataFrame,
    records: DataFrame,
    id_col: str,
    fields: list[str],
) -> DataFrame:
    """Field-by-field fusion: modal non-null value per cluster per field,
    ties broken by the smallest value (so the result is deterministic and
    engine-independent). Returns cluster_id plus one ``fused_<field>``
    column per requested field.

    Each field is an independent count-aggregate + top-1 window; the
    per-field results are assembled with inner equi-joins on cluster_id
    (every cluster has >=1 member so counts are never empty; fields whose
    values are all NULL fuse to NULL via a left join from the cluster
    list).
    """
    joined = records.join(clusters.select(id_col, "cluster_id"), id_col)
    out = joined.select("cluster_id").distinct()
    for f in fields:
        counts = (
            joined.where(F.col(f).isNotNull())
            .groupBy("cluster_id", f)
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        w = Window.partitionBy("cluster_id").orderBy(F.desc("_n"), F.asc(f))
        best = (
            counts.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("cluster_id", F.col(f).alias(f"fused_{f}"))
        )
        out = out.join(best, "cluster_id", "left")
    return out


def representative_signature(
    clusters: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Per-cluster REPRESENTATIVE SimHash: the bitwise majority vote over
    the members' 256-bit signatures — the signature-level analogue of
    attribute fusion, and the thing that makes cluster-level probing
    sublinear: new items can be screened against one representative per
    entity instead of every member (the 1-vs-many probe of B11 pointed at
    clusters instead of records).

    Majority is per bit; ties (exactly half the members set the bit) go to
    0, mirroring the SimHash kernel's own ``2 * sums > n`` vote
    (kernels.simhash256_from_utf8). For a singleton cluster the
    representative IS the member signature; more generally the
    representative minimizes the summed hamming distance to the members
    (per-bit majority is the L1 medoid of the hamming cube), so
    dist(rep, member) <= max pairwise dist within the cluster.

    Scale shape — NO grouped-map UDF, so one mega-cluster cannot pin a
    task: chunk the signature into 8 longs (scoring.sig_chunks_raw, the
    repo's single chunk definition), stack to (cluster, chunk_idx, chunk)
    rows, then ONE map-side-combinable aggregation with 32 bit-count sums
    per row; the vote and the hex reassembly are plain projections +
    a second tiny aggregation at cluster grain.

    Output: (cluster_id, sig binary(32), sig_hex string, n_members long).
    """
    from .scoring import _CHUNK_HEX, N_CHUNKS, sig_chunks_raw

    j = signatures.select("conv_id", "sig_hex").join(
        clusters.select("conv_id", "cluster_id"), "conv_id"
    )
    chunked = j.select(
        "cluster_id", *[c.alias(f"_c{i}") for i, c in enumerate(sig_chunks_raw())]
    )
    stacked = chunked.select(
        "cluster_id",
        F.expr(
            f"stack({N_CHUNKS}, "
            + ", ".join(f"{i}, _c{i}" for i in range(N_CHUNKS))
            + ") AS (_idx, _chunk)"
        ),
    )
    bit_sums = [
        F.sum(F.shiftright(F.col("_chunk"), k).bitwiseAND(F.lit(1))).alias(f"_b{k}")
        for k in range(32)
    ]
    counts = stacked.groupBy("cluster_id", "_idx").agg(
        F.count(F.lit(1)).alias("_n"), *bit_sums
    )
    voted = None
    for k in range(32):
        term = F.when(
            F.col(f"_b{k}") * 2 > F.col("_n"), F.lit(1 << k)
        ).otherwise(F.lit(0))
        voted = term if voted is None else voted + term
    rebuilt = counts.select(
        "cluster_id",
        "_idx",
        "_n",
        F.lpad(F.lower(F.hex(voted)), _CHUNK_HEX, "0").alias("_hex"),
    )
    rep = (
        rebuilt.groupBy("cluster_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_hex"))),
                    lambda s: s["_hex"],
                ),
            ).alias("sig_hex"),
            F.max("_n").alias("n_members"),
        )
    )
    return rep.select(
        "cluster_id", F.unhex("sig_hex").alias("sig"), "sig_hex", "n_members"
    )
