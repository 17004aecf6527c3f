"""B7-alt — one-to-one bipartite assignment (mutual best match).

Linking two record sets (not deduplicating one) usually carries a
cardinality constraint: each left record matches AT MOST one right record
and vice versa. The scalable standard is mutual-best (symmetric best
match): keep a scored pair iff each side is the other's best-scoring
partner. It is the fixed point every greedy stable-assignment pass reaches
first, needs no iteration, and is embarrassingly parallel:

    two row_number windows (one keyed on each side) + a conjunction.

Each window is a hash exchange on its id column — the same envelope as any
per-key top-1 at 100 TB. Ties are broken deterministically by the partner
id ascending, so the output is partitioning- and engine-independent.

Greedy sequential assignment (repeatedly take the globally best remaining
pair) is NOT implemented: it is inherently order-sequential (each pick
invalidates others) — on a cluster it devolves into driver-side iteration
with a shrinking candidate set. Mutual-best emits exactly the
uncontested subset of greedy's output and is what production linkage
systems ship for the one-pass case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mutual_best_match(
    scored_pairs: DataFrame,
    left_id: str,
    right_id: str,
    score: str = "score",
    descending: bool = True,
) -> DataFrame:
    """Filter scored candidate pairs down to mutual-best one-to-one
    matches. Input: (left_id, right_id, score [, ...passthrough]); output:
    the same columns for exactly the pairs where the right record is the
    left record's best AND the left is the right's best. ``descending``
    controls whether higher or lower scores are better (similarity vs
    distance)."""
    s = F.desc(score) if descending else F.asc(score)
    w_left = Window.partitionBy(left_id).orderBy(s, F.asc(right_id))
    w_right = Window.partitionBy(right_id).orderBy(s, F.asc(left_id))
    return (
        scored_pairs.withColumn("_rl", F.row_number().over(w_left))
        .withColumn("_rr", F.row_number().over(w_right))
        .where((F.col("_rl") == 1) & (F.col("_rr") == 1))
        .drop("_rl", "_rr")
    )
