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
   move, same as ops/skewjoin.salted_equijoin) so no single task owns a
   hot block's full cross product.
3. **Cardinality**: linkage usually carries a one-to-one constraint;
   ``link_tables(one_to_one=True)`` composes matching.mutual_best_match
   over the scored edges.

Exactly-once: a pair sharing k bands is generated k times by any band
join; we keep it only in its FIRST matching band via the same codegen
first-matching-band filter as the batch path (blocking.py) — zero
pair-stream shuffles, no distinct. Salting cannot break this: within one
band an A row carries exactly one salt value and the B row is replicated
to every salt, so each (pair, band) joins exactly once.

Reference anchor: the reference library's surface is 5 scalar calls
(python_hexhamming.cc:421-428) with no table linkage; this module is part
of the axes-A+B pipeline generalization, reusing A2/A3 scoring semantics
unchanged via scoring.score_wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import _band_val_int, _match_mask, sig_chunks_raw
from .matching import mutual_best_match
from .scoring import DEFAULT_ALPHA, DEFAULT_MAX_DIST, N_CHUNKS, score_wide

DEFAULT_HOT_PAIRS = 4_000_000  # block cross-product size that triggers salting
DEFAULT_N_SALTS = 16


def _prep(sigs: DataFrame, band_vals) -> DataFrame:
    chunk_cols = [c.alias(f"c{i}") for i, c in enumerate(sig_chunks_raw())]
    s = sigs.select("conv_id", "canon", *chunk_cols)
    return s.select(
        "conv_id",
        "canon",
        *[f"c{i}" for i in range(N_CHUNKS)],
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )


def link_candidate_pairs_wide(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    n_bands: int = 16,
    hot_pairs: int = DEFAULT_HOT_PAIRS,
    n_salts: int = DEFAULT_N_SALTS,
) -> tuple[DataFrame, DataFrame]:
    """LSH-blocked candidate pairs BETWEEN two signature tables, each pair
    exactly once, A side always left. Output schema matches
    blocking.candidate_pairs_wide (conv_id_a/b, canon_a/b, c{i}_a/b chunk
    longs) so scoring.score_wide applies unchanged.

    Plan: one band exchange per side feeds a cross-table equi-join on
    (band_id, band_val[, salt]); pair dedup is the codegen
    first-matching-band filter (no distinct, no pair-stream shuffle). Hot
    blocks — where the A-count x B-count cross product exceeds
    ``hot_pairs`` — are detected by ONE tiny aggregated probe at
    plan-build time (the same adaptive decide-at-runtime gate as
    blocking.candidate_pairs_wide's skew gate); when none exist the salt
    columns are zero literals and the whole salting subplan is left out of
    the plan.

    Returns (pairs_wide, block_stats); block_stats carries per-block
    (band_id, band_val, n_a, n_b, n_pairs, salted) for observability —
    north_rule's "skew handled explicitly", linkage edition.
    """
    band_vals = F.array(*[_band_val_int(b, n_bands) for b in range(n_bands)])
    bands_a = _prep(sigs_a, band_vals)
    bands_b = _prep(sigs_b, band_vals)

    ca = bands_a.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("n_a"))
    cb = bands_b.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("n_b"))
    sizes = (
        ca.join(cb, ["band_id", "band_val"], "full_outer")
        .select(
            "band_id",
            "band_val",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .withColumn("n_pairs", F.col("n_a") * F.col("n_b"))
    )
    block_stats = sizes.withColumn("salted", F.col("n_pairs") > F.lit(hot_pairs))
    # tiny by construction (one row per hot block): collected once and fed
    # back as a local relation, so no subtree recomputes the aggregate and
    # no cache entry outlives the call (as blocking.candidate_pairs_wide)
    hot_keys = sizes.where(F.col("n_pairs") > hot_pairs).select("band_id", "band_val")
    hot_rows = hot_keys.collect()

    if hot_rows:
        hot = sigs_a.sparkSession.createDataFrame(hot_rows, hot_keys.schema)
        hot_marked = F.broadcast(hot.withColumn("_hot", F.lit(True)))
        bands_a = bands_a.join(hot_marked, ["band_id", "band_val"], "left").withColumn(
            "salt",
            F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64("conv_id", F.lit("linksalt")), F.lit(n_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("_hot")
        bands_b = (
            bands_b.join(hot_marked, ["band_id", "band_val"], "left")
            .withColumn(
                "salt",
                F.explode(
                    F.when(
                        F.col("_hot").isNotNull(),
                        F.sequence(F.lit(0), F.lit(n_salts - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )
    else:
        bands_a = bands_a.withColumn("salt", F.lit(0))
        bands_b = bands_b.withColumn("salt", F.lit(0))

    a = bands_a.alias("a")
    b = bands_b.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.salt") == F.col("b.salt")),
    )
    sel = [
        F.col("a.band_id").alias("band_id"),
        F.col("a.conv_id").alias("conv_id_a"),
        F.col("b.conv_id").alias("conv_id_b"),
        F.col("a.canon").alias("canon_a"),
        F.col("b.canon").alias("canon_b"),
    ]
    for i in range(N_CHUNKS):
        sel.append(F.col(f"a.c{i}").alias(f"c{i}_a"))
        sel.append(F.col(f"b.c{i}").alias(f"c{i}_b"))
    # first-matching-band: drop the pair unless no earlier band matched
    # (ANSI-safe bits-[0, band_id) mask, see blocking.py n_bands=64 note)
    low_bits = F.expr("~ shiftleft(-1L, band_id)")
    pairs = (
        joined.select(*sel)
        .withColumn("_match", _match_mask(n_bands))
        .where(F.col("_match").bitwiseAND(low_bits) == 0)
        .drop("_match", "band_id")
    )
    return pairs, block_stats


def link_tables(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    n_bands: int = 16,
    max_dist: int = DEFAULT_MAX_DIST,
    alpha: float = DEFAULT_ALPHA,
    min_score: float = 0.0,
    one_to_one: bool = False,
    hot_pairs: int = DEFAULT_HOT_PAIRS,
    n_salts: int = DEFAULT_N_SALTS,
) -> tuple[DataFrame, DataFrame]:
    """Full clean-clean linkage: block A x B, score with the A2+A3 hybrid
    (codegen hamming gate + Arrow Jaro-Winkler — scoring.score_wide,
    unchanged), optionally reduce to one-to-one mutual-best matches.

    Returns (links, block_stats). ``links`` columns: conv_id_a (from A),
    conv_id_b (from B), hamming_dist, jw, score."""
    pairs, block_stats = link_candidate_pairs_wide(
        sigs_a, sigs_b, n_bands=n_bands, hot_pairs=hot_pairs, n_salts=n_salts
    )
    scored = score_wide(pairs, max_dist=max_dist, alpha=alpha, min_score=min_score)
    if one_to_one:
        scored = mutual_best_match(scored, "conv_id_a", "conv_id_b", "score")
    return scored, block_stats
