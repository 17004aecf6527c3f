"""Clean-clean record linkage: match records ACROSS two deduplicated
tables, never within either.

Deduplication (the batch pipeline) and linkage are the two classical
modes of entity resolution. Linkage differs in three load-bearing ways:

1. **Quadrant**: only A x B pairs exist. The A-A and B-B quadrants —
   together usually the overwhelming majority of a self-join's output —
   must never be *generated*, not merely filtered (same principle as the
   incremental path's old-old quadrant, incremental.py module docstring).
2. **No transitivity**: a dedup mega-block can be spanned with O(size)
   chain pairs because connected components glues the rest back together
   (blocking.py skew branch). Linkage output IS the pair set — each A
   record needs its actual B matches — so a hot block's n_a * n_b pairs
   are irreducible. The skew lever is therefore *execution layout*, not
   pair-count reduction: hot blocks are salt-spread across n_salts
   reducers (A side salted, B side replicated — the standard skew-join
   move) so no single task owns a hot block's full cross product. Only
   the hot blocks' rows are salted and replicated; every other block
   joins on salt 0. ops/skewjoin.salted_equijoin makes the same move for
   a whole table, which here would replicate all of B n_salts times.
3. **Cardinality**: linkage usually carries a one-to-one constraint;
   matching.mutual_best_match reduces the scored edges to one-to-one.

Exactly-once: a pair sharing k bands is generated k times by any band
join; we keep it only in its FIRST matching band. The join and the filter
are the batch path's own (blocking._first_band_pairs, with a zero banned
mask) — zero pair-stream shuffles, no distinct. Salting cannot break
this: within one band an A row carries exactly one salt value and the B
row is replicated to every salt, so each (pair, band) joins exactly once.

Reference anchor: the reference library's surface is 5 scalar calls
(python_hexhamming.cc:421-428) with no table linkage; this module is part
of the axes-A+B pipeline generalization: its pairs are scored by
scoring.score_wide, A2/A3 semantics unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from .blocking import _BAND_ON, _band_rows, _band_vals, _first_band_pairs, _with_chunks

DEFAULT_HOT_PAIRS = 4_000_000  # block cross-product size that triggers salting
DEFAULT_N_SALTS = 16


def link_candidate_pairs_wide(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    n_bands: int = 16,
    hot_pairs: int = DEFAULT_HOT_PAIRS,
    n_salts: int = DEFAULT_N_SALTS,
) -> tuple[DataFrame, list[Row]]:
    """LSH-blocked candidate pairs BETWEEN two signature tables, each pair
    exactly once, A side always left. The pairs come out of blocking's
    banded pair join, so they have candidate_pairs_wide's columns
    (conv_id_a/b, canon_a/b, c{i}_a/b) and score_wide applies unchanged.

    Plan: one band exchange per side feeds a cross-table equi-join on
    (band_id, band_val, salt) and the first-matching-band filter with a
    zero banned mask (no distinct, no pair-stream shuffle). Hot blocks —
    where the A-count x B-count cross product exceeds ``hot_pairs`` — are
    found by ONE collect of the block sizes at plan-build time (the same
    decide-at-runtime gate as candidate_pairs_wide's skew gate); when none
    exist the salt columns are zero literals and the salting subplan is
    left out of the plan.

    Returns (pairs_wide, block_stats); block_stats is the sorted list of
    the hot (salted) blocks as collected Rows (band_id, band_val, n_a,
    n_b, n_pairs) — empty when no block is hot (north_rule's "skew handled
    explicitly", linkage edition).
    """
    band_vals = _band_vals(n_bands)
    # only side A's mask is read (a.banned): linkage bans no band
    bands_a = _band_rows(_with_chunks(sigs_a), band_vals, F.expr("0L AS banned"))
    bands_b = _band_rows(_with_chunks(sigs_b), band_vals)

    # both sides' block sizes from ONE aggregate over the union of their
    # band keys (joining two per-side aggregates costs AQE one more job)
    sizes = (
        bands_a.selectExpr("band_id", "band_val", "1L AS n_a", "0L AS n_b")
        .unionByName(bands_b.selectExpr("band_id", "band_val", "0L AS n_a", "1L AS n_b"))
        .groupBy("band_id", "band_val")
        .agg(F.sum("n_a").alias("n_a"), F.sum("n_b").alias("n_b"))
        .withColumn("n_pairs", F.col("n_a") * F.col("n_b"))
    )
    # tiny by construction (one row per hot block): collected once and fed
    # back as a local relation, so no subtree recomputes the aggregate and
    # no cache entry outlives the call (as blocking.candidate_pairs_wide)
    hot_rows = sorted(sizes.where(F.col("n_pairs") > hot_pairs).collect())

    if hot_rows:
        hot = sigs_a.sparkSession.createDataFrame(hot_rows, sizes.schema)
        hot_marked = F.broadcast(hot.select("band_id", "band_val", F.lit(True).alias("_hot")))
        bands_a = bands_a.join(hot_marked, ["band_id", "band_val"], "left").withColumn(
            "salt",
            F.expr(
                "CAST(CASE WHEN _hot IS NOT NULL"
                f" THEN pmod(xxhash64(conv_id, 'linksalt'), {n_salts}) ELSE 0 END AS INT)"
            ),
        ).drop("_hot")
        bands_b = bands_b.join(hot_marked, ["band_id", "band_val"], "left").withColumn(
            "salt",
            F.expr(
                "explode(CASE WHEN _hot IS NOT NULL"
                f" THEN sequence(0, {n_salts - 1}) ELSE array(0) END)"
            ),
        ).drop("_hot")
    else:
        bands_a = bands_a.withColumn("salt", F.lit(0))
        bands_b = bands_b.withColumn("salt", F.lit(0))

    on = _BAND_ON + " AND a.salt = b.salt"
    return _first_band_pairs(bands_a, bands_b, on, False, n_bands), hot_rows
