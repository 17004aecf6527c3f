"""The hexspark ER pipeline: assemble → fingerprint → block → score →
cluster → evaluate, with checkpointed, resumable stages.

Stage map (SURVEY.md §2.3):
    B1  scan            scripts/run_pipeline.py (spark.read of --input)
    B2  assembly        assemble.assemble_conversations
    B3  fingerprint     simhash.signatures
    B4  blocking        blocking.candidate_pairs_wide
    B5  skew handling   blocking.candidate_pairs_wide (salted chain of
                        oversize blocks), AQE
    B6  scoring         scoring.score_wide
    B7  match filter    scoring.score_wide (its hamming_dist <= max_dist
                        gate)
    B8  clustering      clustering.connected_components
    B9  canonical ids   clustering (min conv_id per component)
    B10 sinks+lineage   runner.Runner / metrics.record_stage
    B11 probe query     streaming.probe.probe_stream
    B12 evaluation      evaluate.pairwise_f1
"""

from .assemble import assemble_conversations
from .simhash import signatures
from .blocking import candidate_pairs_wide
from .scoring import score_wide
from .clustering import connected_components
from .evaluate import pairwise_f1

__all__ = [
    "assemble_conversations",
    "signatures",
    "candidate_pairs_wide",
    "score_wide",
    "connected_components",
    "pairwise_f1",
]
