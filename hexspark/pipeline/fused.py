"""The fused production plan as one reusable function.

This is the plan a long-running job submits: fingerprint → wide LSH
blocking → codegen-gated scoring → connected components as ONE action
chain, with no intermediate persists — candidate pairs stream from the
band self-join through the hamming gate into the Arrow scorer and the CC
edge fetch (which either labels the graph on the driver or, above the
driver bound, feeds the checkpointed star rounds). Only the signature
table is cached (it feeds the skew probe, the band join, and the singleton
union). The staged Runner materializes every stage instead, buying resume
+ lineage at the cost of writing each intermediate. bench.py's fused
metric and scripts/scaling_job.py's `pipeline_fused` timing measure THIS
function; perfbench and the pipeline tests measure the staged Runner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import assemble, blocking, clustering, scoring, simhash


def fused_clusters(
    transcripts: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
    max_dist: int = 40,
    alpha: float = 0.75,
    min_score: float = 0.0,
    cc_max_iter: int = 20,
) -> tuple[DataFrame, DataFrame, int]:
    """transcripts → (clusters, signatures, cc_rounds).

    The returned signatures DataFrame is persisted — the caller unpersists
    it once the clusters have been consumed. cc_rounds is what
    clustering.connected_components reports: 1 for a non-empty graph
    labelled on the driver, else the number of large-star/small-star rounds (CC runs
    eagerly; everything downstream of `clusters` stays lazy).
    """
    sigs = simhash.signatures(assemble.assemble_conversations(transcripts)).persist()
    pairs, _ = blocking.candidate_pairs_wide(
        sigs, n_bands=n_bands, max_block=max_block
    )
    edges = scoring.score_wide(
        pairs, max_dist=max_dist, alpha=alpha, min_score=min_score
    )
    cc, rounds = clustering.connected_components(edges, max_iter=cc_max_iter)
    clusters = clustering.with_singletons(cc, sigs.select("conv_id"))
    return clusters, sigs, rounds
