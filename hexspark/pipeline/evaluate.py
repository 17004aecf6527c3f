"""B12 — pairwise precision/recall/F1 against labeled pairs.

Scalable formulation: instead of materializing all intra-cluster pairs
(quadratic in cluster size), the evaluation universe is the labeled-pair
table plus the predicted match edges; a pair is *predicted* iff both sides
landed in the same cluster — two joins of the pair table against the
cluster assignment, no pair explosion.

Per BASELINE.json, evaluation is restricted to pairs at the shared blocking
key: the caller passes the candidate-pair set (pairs that shared ≥1 band)
and labeled pairs are intersected with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pair_outcomes(
    labeled_pairs: DataFrame,
    clusters: DataFrame,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Pair-classification core of pairwise_f1_df: one row per pair in the
    predicted-or-labeled-positive universe, columns (conv_id_a, conv_id_b,
    _pred, _pos) with 1/NULL markers. Full-outer join of
    predicted-same-cluster pairs against labeled-positive pairs."""
    labels = labeled_pairs.select("conv_id_a", "conv_id_b", "is_match")
    if candidate_pairs is not None:
        labels = labels.join(candidate_pairs, ["conv_id_a", "conv_id_b"], "inner")

    ca = clusters.select(
        F.col("conv_id").alias("conv_id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = clusters.select(
        F.col("conv_id").alias("conv_id_b"), F.col("cluster_id").alias("cl_b")
    )

    # predicted-positive universe: candidate pairs with same cluster
    base = candidate_pairs if candidate_pairs is not None else labels.select(
        "conv_id_a", "conv_id_b"
    )
    pred = (
        base.join(ca, "conv_id_a")
        .join(cb, "conv_id_b")
        .where(F.col("cl_a") == F.col("cl_b"))
        .select("conv_id_a", "conv_id_b")
    )

    pos = labels.where(F.col("is_match")).select("conv_id_a", "conv_id_b")
    return pred.withColumn("_pred", F.lit(1)).join(
        pos.withColumn("_pos", F.lit(1)),
        ["conv_id_a", "conv_id_b"],
        "full_outer",
    )


def pairwise_f1_df(
    labeled_pairs: DataFrame,
    clusters: DataFrame,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """In-plan variant of :func:`pairwise_f1`: same joins, no collect —
    returns a ONE-ROW DataFrame (tp, fp, fn, precision, recall, f1) so the
    evaluation can be a stage inside a larger plan, a driver-oracled query,
    or a sink in its own right. ``pairwise_f1`` delegates here, so the two
    surfaces cannot diverge.

    Zero-denominator conventions match the dict variant: precision/recall
    default to 1.0 when their denominator is 0, f1 to 0.0 when p+r = 0.
    """
    merged = _pair_outcomes(labeled_pairs, clusters, candidate_pairs)
    counts = merged.agg(
        F.count(F.when(F.col("_pred").isNotNull() & F.col("_pos").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("_pred").isNotNull() & F.col("_pos").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("_pred").isNull() & F.col("_pos").isNotNull(), 1)).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(1.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(1.0))
    return (
        counts.withColumn("precision", prec)
        .withColumn("recall", rec)
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
        .select("tp", "fp", "fn", "precision", "recall", "f1")
    )


def bcubed_df(clusters: DataFrame, truth: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """B-cubed precision/recall/F1 of a clustering against ground-truth
    entity labels — the standard per-record ER metric that, unlike pairwise
    F1, does not let one mega-cluster dominate the score.

    clusters(id_col, cluster_id) × truth(id_col, entity_id) → ONE row
    (n_records, bcubed_precision, bcubed_recall, bcubed_f1).

    Definition: for record r, precision(r) = |C(r) ∩ E(r)| / |C(r)| and
    recall(r) = |C(r) ∩ E(r)| / |E(r)|; the score is the mean over records.
    Scalable identity: summing per record is the same as summing o² / size
    over the contingency cells (o = |cluster ∩ entity|), so the whole
    metric is ONE groupBy over the joined assignment (one row per non-empty
    (cluster, entity) cell — at most one per record) joined against the two
    tiny size tables. No per-record window, no pair explosion: the shuffle
    volume is O(records) and the final aggregate is a scalar, so the plan
    survives a billion-record clustering unchanged.

    Records missing from either side are dropped (inner join): the metric
    is defined over the co-assigned universe.

    Determinism: the per-cell quotients are rounded to 12 decimals and
    summed as DECIMAL, not DOUBLE — double summation is order-dependent
    under Spark's partial aggregation, and a hash-compared result must not
    flip its last digit with the partitioning. Each quotient is one IEEE
    division of two exact longs (bit-identical on any engine), so rounding
    it first makes the whole aggregate order-free at 1e-12 resolution.
    """
    asg = clusters.select(id_col, "cluster_id").join(
        truth.select(id_col, "entity_id"), id_col
    )
    cells = asg.groupBy("cluster_id", "entity_id").agg(
        F.count(F.lit(1)).alias("o")
    )
    c_sizes = cells.groupBy("cluster_id").agg(F.sum("o").alias("c_size"))
    e_sizes = cells.groupBy("entity_id").agg(F.sum("o").alias("e_size"))

    def _q(size_col: str):
        return F.round(
            F.col("o") * F.col("o") / F.col(size_col), 12
        ).cast("decimal(32,12)")

    per_cell = (
        cells.join(c_sizes, "cluster_id")
        .join(e_sizes, "entity_id")
        .agg(
            F.sum("o").alias("n_records"),
            F.sum(_q("c_size")).alias("_p"),
            F.sum(_q("e_size")).alias("_r"),
        )
    )
    n = F.col("n_records")
    prec = F.when(n > 0, F.col("_p").cast("double") / n).otherwise(F.lit(1.0))
    rec = F.when(n > 0, F.col("_r").cast("double") / n).otherwise(F.lit(1.0))
    return (
        per_cell.withColumn("bcubed_precision", prec)
        .withColumn("bcubed_recall", rec)
        .withColumn(
            "bcubed_f1",
            F.when(
                F.col("bcubed_precision") + F.col("bcubed_recall") > 0,
                2
                * F.col("bcubed_precision")
                * F.col("bcubed_recall")
                / (F.col("bcubed_precision") + F.col("bcubed_recall")),
            ).otherwise(F.lit(0.0)),
        )
        .select("n_records", "bcubed_precision", "bcubed_recall", "bcubed_f1")
    )


def blocking_quality_df(
    labeled_pairs: DataFrame,
    candidate_pairs: DataFrame,
    n_records: DataFrame,
) -> DataFrame:
    """Blocking-stage quality: the three standard metrics for judging a
    blocking scheme BEFORE any scoring runs — the numbers that decide
    whether an LSH/band/SNM configuration is usable at scale.

    labeled_pairs(conv_id_a, conv_id_b, is_match) ×
    candidate_pairs(conv_id_a, conv_id_b) × n_records (one-row DataFrame
    with column ``n``) → ONE row:

    * pair_completeness — recall of the candidate set: fraction of true
      matches that survived blocking (a miss here is unrecoverable — no
      downstream scorer ever sees the pair).
    * pair_quality — precision of the candidate set: fraction of candidate
      pairs that are true matches (how much scoring work is wasted).
    * reduction_ratio — 1 − |candidates| / C(n,2): how much of the
      all-pairs quadratic the blocker avoided. The n²/2 term is computed
      from the record COUNT, never materialized.

    One full-outer join of the two pair sets + one conditional-count
    aggregate (the same single-action shape as pairwise_f1_df), then a
    cross join against the one-row count — no pair explosion anywhere.
    """
    cand = candidate_pairs.select("conv_id_a", "conv_id_b").withColumn(
        "_cand", F.lit(1)
    )
    pos = (
        labeled_pairs.where(F.col("is_match"))
        .select("conv_id_a", "conv_id_b")
        .withColumn("_pos", F.lit(1))
    )
    merged = cand.join(pos, ["conv_id_a", "conv_id_b"], "full_outer")
    counts = merged.agg(
        F.count(F.when(F.col("_cand").isNotNull(), 1)).alias("n_candidates"),
        F.count(F.when(F.col("_pos").isNotNull(), 1)).alias("n_true_matches"),
        F.count(
            F.when(F.col("_cand").isNotNull() & F.col("_pos").isNotNull(), 1)
        ).alias("n_covered"),
    )
    nc, nt, cov = F.col("n_candidates"), F.col("n_true_matches"), F.col("n_covered")
    # double BEFORE the multiply: n*(n-1) on longs wraps/throws past ~3e9
    # records (same overflow class as the ARI marginal product)
    total_pairs = F.col("n").cast("double") * (F.col("n") - 1) / 2
    return (
        counts.crossJoin(n_records.select(F.col("n").cast("long").alias("n")))
        .withColumn(
            "pair_completeness",
            F.when(nt > 0, cov / nt).otherwise(F.lit(1.0)),
        )
        .withColumn(
            "pair_quality", F.when(nc > 0, cov / nc).otherwise(F.lit(1.0))
        )
        .withColumn(
            "reduction_ratio",
            F.when(total_pairs > 0, 1 - nc / total_pairs).otherwise(F.lit(0.0)),
        )
        .select(
            "n_candidates",
            "n_true_matches",
            "n_covered",
            "n",
            "pair_completeness",
            "pair_quality",
            "reduction_ratio",
        )
    )


def linkage_quality_df(
    predicted_pairs: DataFrame,
    true_pairs: DataFrame,
    n_a: DataFrame,
    n_b: DataFrame,
    candidate_pairs: DataFrame | None = None,
    id_a: str = "conv_id_a",
    id_b: str = "conv_id_b",
) -> DataFrame:
    """Precision/recall/F1 + reduction ratio for CLEAN-CLEAN LINKAGE — the
    two-table evaluation missing from the dedup-centric B12 family. In the
    linkage setting the pair universe is the A×B cross product, not
    C(n,2): ids never pair within a table, so the reduction-ratio
    denominator is |A|·|B| and predicted positives come straight off the
    match-edge stream (no transitive clustering to route through).

    predicted_pairs(id_a, id_b) × true_pairs(id_a, id_b) × one-row counts
    n_a(col ``n_a``) / n_b(col ``n_b``) → ONE row (tp, fp, fn,
    n_candidates, n_a, n_b, precision, recall, f1, reduction_ratio).

    candidate_pairs, when given, is the BLOCKING output (pre-gate): its
    count feeds reduction_ratio so the metric reports how much of the
    A×B quadratic the blocker avoided, independent of the score gate.
    Defaults to predicted_pairs.

    Same scalable shape as pairwise_f1_df: one full-outer join of two pair
    sets on the pair key + one conditional-count aggregate + three one-row
    cross joins. |A|·|B| is computed from the two record COUNTS as a
    double product (longs would wrap past ~3e9 records a side) and never
    materialized.
    """
    pred = predicted_pairs.select(id_a, id_b).withColumn("_pred", F.lit(1))
    pos = true_pairs.select(id_a, id_b).withColumn("_pos", F.lit(1))
    merged = pred.join(pos, [id_a, id_b], "full_outer")
    counts = merged.agg(
        F.count(
            F.when(F.col("_pred").isNotNull() & F.col("_pos").isNotNull(), 1)
        ).alias("tp"),
        F.count(
            F.when(F.col("_pred").isNotNull() & F.col("_pos").isNull(), 1)
        ).alias("fp"),
        F.count(
            F.when(F.col("_pred").isNull() & F.col("_pos").isNotNull(), 1)
        ).alias("fn"),
    )
    cand = candidate_pairs if candidate_pairs is not None else predicted_pairs
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    one = (
        counts.crossJoin(n_cand)
        .crossJoin(n_a.select(F.col("n_a").cast("long").alias("n_a")))
        .crossJoin(n_b.select(F.col("n_b").cast("long").alias("n_b")))
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    universe = F.col("n_a").cast("double") * F.col("n_b")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(1.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(1.0))
    return (
        one.withColumn("precision", prec)
        .withColumn("recall", rec)
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2
                * F.col("precision")
                * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "reduction_ratio",
            F.when(
                universe > 0, 1 - F.col("n_candidates") / universe
            ).otherwise(F.lit(0.0)),
        )
        .select(
            "tp",
            "fp",
            "fn",
            "n_candidates",
            "n_a",
            "n_b",
            "precision",
            "recall",
            "f1",
            "reduction_ratio",
        )
    )


def muc_df(
    clusters: DataFrame, truth: DataFrame, id_col: str = "conv_id"
) -> DataFrame:
    """MUC link-based coreference score (Vilain et al., MUC-6 1995) of a
    clustering against ground-truth entity labels — the classic
    minimum-link metric of the coreference literature, a natural fit for
    conversation-identity evaluation and a different lens from B-cubed
    (per-record) and pairwise F1 (per-pair): MUC charges one unit per
    MISSING LINK needed to stitch a true entity back together, so it is
    insensitive to entity size but blind to singletons.

    clusters(id_col, cluster_id) × truth(id_col, entity_id) → ONE row
    (n_records, muc_recall_num, muc_recall_den, muc_precision_num,
    muc_precision_den, muc_precision, muc_recall, muc_f1).

    Definition: recall = Σ_k (|k| - m(k)) / Σ_k (|k| - 1) over true
    entities k, where m(k) = number of system clusters k's members land
    in; precision is the same with the roles swapped. Both reduce to the
    contingency cells (one row per non-empty cluster×entity cell, at most
    one per record): per entity, |k| = Σ o and m(k) = cell count — so the
    whole metric is ONE groupBy building the cells plus two scalar
    aggregates. Shuffle volume O(records), output a scalar; the plan
    survives a billion-record clustering unchanged.

    Determinism: all four numerators/denominators are exact longs emitted
    alongside the scores; each score is one IEEE division of two exact
    longs — bit-identical on any engine, no order-dependent float
    accumulation. Singleton-only inputs give 0/0 → score defined as 1.0
    (nothing to link, nothing wrong). Records missing from either side
    are dropped (inner join), as for bcubed_df."""
    asg = clusters.select(id_col, "cluster_id").join(
        truth.select(id_col, "entity_id"), id_col
    )
    cells = asg.groupBy("cluster_id", "entity_id").agg(
        F.count(F.lit(1)).alias("o")
    )
    by_entity = cells.groupBy("entity_id").agg(
        F.sum("o").alias("sz"), F.count(F.lit(1)).alias("m")
    )
    by_cluster = cells.groupBy("cluster_id").agg(
        F.sum("o").alias("sz"), F.count(F.lit(1)).alias("m")
    )
    rec = by_entity.agg(
        F.sum("sz").alias("n_records"),
        F.sum(F.col("sz") - F.col("m")).alias("muc_recall_num"),
        F.sum(F.col("sz") - F.lit(1)).alias("muc_recall_den"),
    )
    pre = by_cluster.agg(
        F.sum(F.col("sz") - F.col("m")).alias("muc_precision_num"),
        F.sum(F.col("sz") - F.lit(1)).alias("muc_precision_den"),
    )
    one = rec.crossJoin(pre)  # two one-row frames

    def _score(num: str, den: str):
        return F.when(
            F.col(den) > 0, F.col(num).cast("double") / F.col(den)
        ).otherwise(F.lit(1.0))

    out = one.withColumn(
        "muc_precision", _score("muc_precision_num", "muc_precision_den")
    ).withColumn("muc_recall", _score("muc_recall_num", "muc_recall_den"))
    return out.withColumn(
        "muc_f1",
        F.when(
            F.col("muc_precision") + F.col("muc_recall") > 0,
            2
            * F.col("muc_precision")
            * F.col("muc_recall")
            / (F.col("muc_precision") + F.col("muc_recall")),
        ).otherwise(F.lit(0.0)),
    ).select(
        "n_records",
        "muc_recall_num",
        "muc_recall_den",
        "muc_precision_num",
        "muc_precision_den",
        "muc_precision",
        "muc_recall",
        "muc_f1",
    )


def adjusted_rand_index_df(
    clusters: DataFrame, truth: DataFrame, id_col: str = "conv_id"
) -> DataFrame:
    """Adjusted Rand Index of a clustering against ground-truth labels —
    the chance-corrected partition-agreement metric completing the eval
    family (pairwise F1 = raw pair agreement, B-cubed = per-record, ARI =
    agreement corrected for what random partitions would score).

    clusters(id_col, cluster_id) × truth(id_col, entity_id) → ONE row
    (n_records, ari).

    Scalable shape: identical to bcubed_df — one inner join, one groupBy
    to the contingency cells (at most one per record), two tiny marginal
    re-aggregations, three one-row crossJoins. Shuffle volume O(records),
    output a scalar.

    Determinism: every accumulated sum is INTEGER (Σ C(x,2) via
    ``x*(x-1) div 2`` on longs — exact, order-free under partial
    aggregation); only the final one-row ARI expression touches doubles,
    one IEEE evaluation of four exact longs, bit-identical on any engine.
    ARI = (Σ_cells C(o,2) - E) / (max - E) with
    E = Σ_a C(a,2) * Σ_b C(b,2) / C(n,2), max = (Σ_a + Σ_b)/2; the
    degenerate denominator (both partitions all-singletons or both one
    cluster) returns 1.0 by convention.
    """
    asg = clusters.select(id_col, "cluster_id").join(
        truth.select(id_col, "entity_id"), id_col
    )
    cells = asg.groupBy("cluster_id", "entity_id").agg(
        F.count(F.lit(1)).alias("o")
    )

    def comb2(col: str):
        return F.expr(f"{col} * ({col} - 1L) div 2")

    core = cells.agg(
        F.sum("o").alias("n_records"),
        F.sum(comb2("o")).alias("sum_cells"),
    )
    sum_a = (
        cells.groupBy("cluster_id")
        .agg(F.sum("o").alias("sz"))
        .agg(F.sum(comb2("sz")).alias("sum_a"))
    )
    sum_b = (
        cells.groupBy("entity_id")
        .agg(F.sum("o").alias("sz"))
        .agg(F.sum(comb2("sz")).alias("sum_b"))
    )
    one = core.crossJoin(sum_a).crossJoin(sum_b)
    n = F.col("n_records").cast("double")
    total_pairs = n * (n - 1) / 2
    # Promote to double BEFORE the multiply: sum_a/sum_b are Σ C(size,2)
    # longs, so their long*long product exceeds 2^63 once each marginal is
    # ~3e9 (~1e8 records) — ANSI-mode throw or silent wrap at exactly the
    # scale this repo targets. The double product loses nothing that
    # matters: the quotient feeds one IEEE expression anyway.
    expected = F.col("sum_a").cast("double") * F.col("sum_b") / total_pairs
    max_ = (F.col("sum_a") + F.col("sum_b")) / F.lit(2.0)
    ari = F.when(max_ - expected == 0, F.lit(1.0)).otherwise(
        (F.col("sum_cells") - expected) / (max_ - expected)
    )
    return one.select(
        "n_records", F.round(ari, 6).alias("ari")
    )


def pairwise_f1(
    labeled_pairs: DataFrame,
    clusters: DataFrame,
    candidate_pairs: DataFrame | None = None,
) -> dict[str, float]:
    """labeled_pairs(conv_id_a, conv_id_b, is_match) × clusters(conv_id,
    cluster_id) → {precision, recall, f1, tp, fp, fn}.

    Positives predicted = same cluster_id on both sides. If candidate_pairs
    is given, labeled positives are restricted to pairs at a shared blocking
    key (BASELINE.json's evaluation universe) and predicted positives are
    the candidate pairs whose endpoints share a cluster.
    """
    row = pairwise_f1_df(labeled_pairs, clusters, candidate_pairs).collect()[0]
    return {
        "precision": float(row["precision"]),
        "recall": float(row["recall"]),
        "f1": float(row["f1"]),
        "tp": float(row["tp"]),
        "fp": float(row["fp"]),
        "fn": float(row["fn"]),
    }
