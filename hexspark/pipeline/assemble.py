"""B2 — conversation assembly: turn rows → one document per conversation.

Pure Catalyst (hash aggregate + JVM expressions; no UDF, no window): the
per-turn rows are collected as structs, sorted by turn_idx *inside* the
aggregated array (sort_array on struct sorts by the first field), and joined
into the document text. This preserves the `input_hint` invariant —
per-turn text equality under stable (conv_id, turn_idx) ordering — without a
full-table sort: the only shuffle is the groupBy(conv_id) hash exchange,
with map-side partial aggregation.

The output is the document and its turn count only. The keys derived from
the text (the canonical Jaro-Winkler key `canon`, the char count
`n_chars`) come from the fingerprint stage's fused byte kernel
(simhash.signatures), which reads the same bytes once; a JVM regex over
every whole document here would cost more than the rest of the stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_conversations(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) →
    conversations(conv_id, doc_text, n_turns)."""
    ordered = F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
    doc = F.array_join(F.transform(ordered, lambda s: s["text"]), " ")
    return transcripts.groupBy("conv_id").agg(
        doc.alias("doc_text"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
    )
