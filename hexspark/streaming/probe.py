"""Streaming probe service — the two-stage cluster probe
(pipeline/probe.probe_clusters) as an always-on Structured Streaming
query, and the repo's fifth streaming idiom: STREAM-STATIC JOINS.

Shape of the problem: a resolved corpus snapshot (clusters + signatures,
rebuilt nightly by the batch pipeline) serves an unbounded stream of probe
requests ("which entities is THIS new signature within max_dist of?" —
A4's 1-vs-many, python_hexhamming.cc:246-284, made sublinear and
continuous). The corpus side is *static per snapshot*; the probe side is
the stream. That is exactly Spark's stream-static join: stateless (no
watermark, no state store — the static side is just re-planned per
micro-batch), append-mode, so a probe's matches are emitted in the same
micro-batch the probe arrives in.

Plan per micro-batch, all codegen, no Python:

  1. band the probe's sig_hex into n_bands fixed-width hex slices
     (posexplode) and equi-join the pre-banded cluster REPRESENTATIVES on
     (band_id, band_val) — never a scan of all reps per probe;
  2. first-matching-band filter: keep the (probe, rep) pair only on the
     lowest matching band (a pure bitmask over the two carried sig_hex
     strings — the same exactly-once trick as the batch blocking layer,
     blocking.py:124 — so no stateful dropDuplicates is needed);
  3. triangle screen: dist(probe, rep) <= max_dist + radius, as in the
     batch probe_clusters;
  4. verify: stream-static equi-join on cluster_id against the member
     table, keep dist(probe, member) <= max_dist.

Recall contract: a qualifying member's representative sits within
max_dist + radius of the probe; the band join is GUARANTEED to surface it
when max_dist + radius(cluster) < n_bands (pigeonhole over the 256-bit
signature), i.e. tight clusters are probed EXACTLY; looser clusters
degrade to LSH-probabilistic recall — same trade the batch blocking layer
makes, with pipeline/probe.probe_clusters as the exact batch fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hexspark.pipeline.probe import _hex_dist

SIG_HEX_CHARS = 64
PROBE_DDL = "probe_id string, sig_hex string"


def _band_slices(col, n_bands: int):
    w = SIG_HEX_CHARS // n_bands
    return F.array(
        *[F.substring(col, b * w + 1, w) for b in range(n_bands)]
    )


def _match_mask_hex(a, b, n_bands: int):
    """Long bitmask: bit i set iff band i of the two sig_hex strings agree.
    String-substring variant of blocking._match_mask (the probe row carries
    whole hex strings, not chunk longs)."""
    w = SIG_HEX_CHARS // n_bands
    expr = None
    for i in range(n_bands):
        term = F.when(
            F.substring(a, i * w + 1, w) == F.substring(b, i * w + 1, w),
            F.expr(f"shiftleft(1L, {i})"),
        ).otherwise(F.lit(0).cast("long"))
        expr = term if expr is None else expr + term
    return expr.cast("long")


def probe_stream(
    probes: DataFrame,
    reps: DataFrame,
    members: DataFrame,
    max_dist: int,
    n_bands: int = 16,
) -> DataFrame:
    """probes(probe_id, sig_hex) [streaming] x corpus snapshot -> matches.

    reps: pipeline.probe.reps_with_radius output
    (cluster_id, sig_hex, n_members, radius) — static.
    members: (cluster_id, conv_id, sig_hex) — static.

    Returns a streaming DataFrame (probe_id, conv_id, cluster_id, dist):
    every corpus member within max_dist of each probe (exact for clusters
    with radius < n_bands - max_dist; see module docstring). Works on a
    batch `probes` too — the plan is identical, which is how the tests pin
    stream ≡ batch.
    """
    if SIG_HEX_CHARS % n_bands != 0:
        raise ValueError(f"n_bands must divide {SIG_HEX_CHARS}, got {n_bands}")
    rep_bands = reps.select(
        F.col("cluster_id"),
        F.col("sig_hex").alias("_rep_hex"),
        F.col("radius"),
        F.posexplode(_band_slices(F.col("sig_hex"), n_bands)).alias(
            "band_id", "band_val"
        ),
    )
    probe_bands = probes.select(
        F.col("probe_id"),
        F.col("sig_hex").alias("_probe_hex"),
        F.posexplode(_band_slices(F.col("sig_hex"), n_bands)).alias(
            "band_id", "band_val"
        ),
    )
    mask = _match_mask_hex(F.col("_probe_hex"), F.col("_rep_hex"), n_bands)
    # bits [0, band_id) without arithmetic: `shiftleft(1L, band_id) - 1`
    # overflows under ANSI mode at band 63 (see blocking.py)
    low_bits = F.expr("~ shiftleft(-1L, band_id)")
    screened = (
        probe_bands.join(rep_bands, ["band_id", "band_val"])
        # exactly-once per (probe, rep): only the lowest matching band keeps it
        .where(mask.bitwiseAND(low_bits) == 0)
        .where(
            _hex_dist(F.col("_probe_hex"), F.col("_rep_hex"))
            <= F.lit(max_dist) + F.col("radius")
        )
        .select("probe_id", "_probe_hex", "cluster_id")
    )
    return (
        screened.join(
            members.select(
                "cluster_id", "conv_id", F.col("sig_hex").alias("_member_hex")
            ),
            "cluster_id",
        )
        .withColumn("dist", _hex_dist(F.col("_probe_hex"), F.col("_member_hex")))
        .where(F.col("dist") <= F.lit(max_dist))
        .select("probe_id", "conv_id", "cluster_id", "dist")
    )


def probe_file_stream(
    spark,
    probe_dir: str,
    reps: DataFrame,
    members: DataFrame,
    workdir: str,
    max_dist: int,
    n_bands: int = 16,
):
    """File-fed probe service: parquet probe requests landing in probe_dir
    are answered into <workdir>/matches (append, exactly-once via the file
    source checkpoint at <workdir>/_probe_chk). availableNow trigger so
    tests and batch-drain operation finish; drop .trigger for a live
    service. Returns the started StreamingQuery."""
    stream = spark.readStream.schema(PROBE_DDL).parquet(probe_dir)
    matches = probe_stream(stream, reps, members, max_dist, n_bands=n_bands)
    return (
        matches.writeStream.format("parquet")
        .option("path", f"{workdir}/matches")
        .option("checkpointLocation", f"{workdir}/_probe_chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
