"""The hexspark ER pipeline: assemble → fingerprint → block → score →
cluster → evaluate, with checkpointed, resumable stages.

Stage map (SURVEY.md §2.3):
    B1  scan            sources.read_transcripts
    B2  assembly        assemble.assemble_conversations
    B3  fingerprint     simhash.signatures
    B4  blocking        blocking.candidate_pairs_wide
    B5  skew handling   blocking.candidate_pairs_wide (salted chain of
                        oversize blocks), AQE
    B6  scoring         scoring.score_wide
    B7  match filter    scoring.match_edges
    B8  clustering      clustering.connected_components
    B9  canonical ids   clustering (min conv_id per component)
    B10 sinks+lineage   runner.Runner / metrics.stage_metrics
    B11 probe query     probe.first_match_index
    B12 evaluation      evaluate.pairwise_f1
"""

from .assemble import assemble_conversations
from .simhash import signatures
from .blocking import band_projection, candidate_pairs
from .scoring import score_pairs, match_edges
from .clustering import connected_components
from .evaluate import pairwise_f1

__all__ = [
    "assemble_conversations",
    "signatures",
    "band_projection",
    "candidate_pairs",
    "score_pairs",
    "match_edges",
    "connected_components",
    "pairwise_f1",
]
