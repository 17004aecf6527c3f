"""Deduplication operators (exact, MinHash+LSH, SimHash).

Design notes for 100 TB:
- exact dedup is one hash-aggregate on a digest column — the digest is
  computed map-side (md5, JVM codegen) so the shuffle carries 16 bytes per
  row, not the document text.
- MinHash permutations use md5(perm_id || shingle): engine-agnostic and
  deterministic (string-min over hex digests is a valid min-hash), fully
  expressible in Catalyst (shingles exploded to rows, one min-aggregate
  per permutation) — no UDF, whole-stage codegen end to end.
- MinHash LSH pairing explodes one row per band (md5 of the band's
  min-hashes) and self-joins on (band, band hash) — same shape as the
  signature LSH blocking in pipeline/blocking.py, same skew story (hot
  minhash values = boilerplate docs; cap with max_block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: (text_md5, n_dups, canonical_id) for groups
    with >1 member. canonical_id = min id (B9 canonicalization semantics)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def shingles(text_col, size: int = 3):
    """Column: array of `size`-token shingles of the whitespace tokens
    (the whole text as one shingle when shorter). Shingling is what makes
    MinHash discriminative on natural text: unigram token SETS of any two
    documents over a shared vocabulary overlap heavily (Jaccard ~0.5 here),
    while shingle sets of unrelated documents are nearly disjoint.

    Built with zip_with over shifted slices — lambda args are materialized
    values. (The naive transform(sequence, i -> element_at(toks, i+j))
    formulation re-evaluates the split() expression inside every
    element_at call in Spark's interpreted HOF path — measured ~90ms/doc.)
    """
    toks = F.split(text_col, " ")
    n = F.size(toks)
    m = n - (size - 1)  # number of shingles when n >= size
    win = F.slice(toks, 1, F.greatest(m, F.lit(0)))
    for j in range(1, size):
        nxt = F.slice(toks, 1 + j, F.greatest(m, F.lit(0)))
        win = F.zip_with(win, nxt, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(n >= size, win).otherwise(F.array(text_col))


def minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    band_rows: int = 4,
    shingle_size: int = 3,
    max_block: int = 5000,
) -> DataFrame:
    """Near-duplicate candidate pairs via shingle→MinHash→LSH banding: the
    k min-hashes of the shingle set are grouped into b = k/band_rows bands
    each; a pair is a candidate iff it agrees on ALL hashes of >=1 band
    (collision probability J^band_rows per band — the standard banding
    construction, which is what keeps the candidate set sub-quadratic at
    scale; band_rows=1 degenerates to "share any single min-hash", which
    on a shared-vocabulary corpus matches nearly every pair).

    Returns (id_a, id_b, n_shared, est_jaccard) with id_a < id_b;
    n_shared = number of agreeing bands, est_jaccard = the r-th root of
    the matching-band fraction ((n_shared/b)^(1/band_rows) — unbiased for
    band_rows=1 where it reduces to the classic n_shared/k estimator)."""
    assert k % band_rows == 0, "band_rows must divide k"
    b_cnt = k // band_rows
    # hot path: explode shingles to rows, then k codegen min-aggregates —
    # no higher-order functions anywhere (HOFs run interpreted and
    # re-evaluate captured expressions; measured 2 orders of magnitude
    # slower than this shape at sf0.1)
    ex = docs.select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), shingle_size)).alias("s")
    )
    mins = ex.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(i)), F.col("s")))).alias(f"m{i}")
            for i in range(k)
        ]
    )
    bands = F.array(
        *[
            F.md5(F.concat_ws("", *[F.col(f"m{i * band_rows + j}") for j in range(band_rows)]))
            for i in range(b_cnt)
        ]
    )
    # Same plan discipline as pipeline/blocking.py: band rows carry BOTH
    # sides' band hashes through the self-join, so pair dedup and the
    # shared-band count are codegen (first-matching-band filter +
    # bit_count of the match mask) — the pair stream is never aggregated
    # or re-shuffled. Oversize blocks (boilerplate docs agreeing on a
    # band) are salt-chained instead of dropped, preserving cluster
    # connectivity with O(size) pairs.
    # the min-agg signature table feeds ~6 consumers (block sizes, banned
    # masks, both self-join sides, both chain subtrees); persist it so the
    # reduce-side aggregation runs once instead of per consumer — same role
    # the pipeline runner's materialized signatures stage plays (see
    # simhash_neardup_pairs below)
    sig = mins.select("id", bands.alias("bhs")).persist()
    rows = sig.select("id", "bhs", F.posexplode("bhs").alias("band", "bv"))
    sizes = rows.groupBy("band", "bv").agg(F.count(F.lit(1)).alias("block_size"))
    # Adaptive skew gate (same move as blocking.candidate_pairs_wide):
    # collect the oversize blocks once at plan-build time over the
    # persisted signature table (the collect also materializes the cache
    # for every later consumer). When none exist — the common case — skip
    # the banned-mask join and the chain branch entirely instead of running
    # their exchanges and window sorts over zero rows on every execution.
    # The collected list is tiny by construction; fed back as a local
    # relation, it is the banned and chain consumers' input, so the skewed
    # case pays the sizes aggregation once and no cache entry outlives the
    # call.
    oversize_keys = sizes.where(F.col("block_size") > max_block)
    oversize_rows = oversize_keys.collect()
    if oversize_rows:
        oversize = docs.sparkSession.createDataFrame(oversize_rows, oversize_keys.schema)
        banned = (
            rows.join(oversize.select("band", "bv"), ["band", "bv"])
            .groupBy("id")
            .agg(F.sum(F.expr("shiftleft(1L, band)")).alias("banned"))
        )
        sig_b = sig.join(banned, "id", "left").withColumn(
            "banned", F.coalesce(F.col("banned"), F.lit(0).cast("long"))
        )
    else:
        sig_b = sig.withColumn("banned", F.lit(0).cast("long"))
    brows = sig_b.select(
        "id", "bhs", "banned", F.posexplode("bhs").alias("band", "bv")
    )
    # ANSI-safe bits-[0,band) mask; see pipeline/blocking.py (band=63 case)
    low_bits = F.expr("~ shiftleft(-1L, band)")

    def match_mask(a_col, b_col):
        expr = None
        for i in range(b_cnt):
            term = F.when(
                F.element_at(a_col, i + 1) == F.element_at(b_col, i + 1),
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            expr = term if expr is None else expr + term
        return expr.cast("long")

    kept = brows.where(F.expr("(shiftright(banned, band) & 1) = 0"))
    a, b = kept.alias("a"), kept.alias("b")
    joined = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.band").alias("band"),
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.bhs").alias("bhs_a"),
        F.col("b.bhs").alias("bhs_b"),
        F.col("a.banned").alias("banned_a"),
    )
    normal = (
        joined.withColumn("match", match_mask(F.col("bhs_a"), F.col("bhs_b")))
        .withColumn("eff", F.col("match").bitwiseAND(F.bitwise_not(F.col("banned_a"))))
        .where(F.col("eff").bitwiseAND(low_bits) == 0)
    )

    if not oversize_rows:
        return _minhash_finish(normal.select("id_a", "id_b", "match"), b_cnt, band_rows)

    over = (
        brows.where(F.expr("(shiftright(banned, band) & 1) = 1"))
        .join(F.broadcast(oversize), ["band", "bv"])
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(F.col("id").cast("string")),
                F.ceil(F.col("block_size") / F.lit(max_block)).cast("long"),
            ),
        )
    )
    from pyspark.sql import Window

    payload = F.struct("id", "bhs", "banned")
    wg = Window.partitionBy("band", "bv", "salt").orderBy("id")
    adjacent = over.withColumn("nb", F.lead(payload).over(wg)).withColumn(
        "rn", F.row_number().over(wg)
    )
    reps = adjacent.where(F.col("rn") == 1).drop("nb", "rn")
    wr = Window.partitionBy("band", "bv").orderBy("salt")
    rep_pairs = reps.withColumn("nb", F.lead(payload).over(wr))
    chain_src = adjacent.drop("rn").unionByName(rep_pairs).where(
        F.col("nb").isNotNull()
    )
    swap = F.col("nb.id") < F.col("id")
    chain_rows = chain_src.select(
        "band",
        F.when(swap, F.col("nb.id")).otherwise(F.col("id")).alias("id_a"),
        F.when(swap, F.col("id")).otherwise(F.col("nb.id")).alias("id_b"),
        F.when(swap, F.col("nb.bhs")).otherwise(F.col("bhs")).alias("bhs_a"),
        F.when(swap, F.col("bhs")).otherwise(F.col("nb.bhs")).alias("bhs_b"),
        F.when(swap, F.col("nb.banned")).otherwise(F.col("banned")).alias("banned_a"),
    )
    chain = (
        chain_rows.withColumn("match", match_mask(F.col("bhs_a"), F.col("bhs_b")))
        .withColumn("eff", F.col("match").bitwiseAND(F.bitwise_not(F.col("banned_a"))))
        .withColumn("bmatch", F.col("match").bitwiseAND(F.col("banned_a")))
        .where((F.col("eff") == 0) & (F.col("bmatch").bitwiseAND(low_bits) == 0))
        .drop("bmatch")
    )

    out = normal.select("id_a", "id_b", "match").unionByName(
        chain.select("id_a", "id_b", "match")
    )
    return _minhash_finish(out, b_cnt, band_rows)


def _minhash_finish(out: DataFrame, b_cnt: int, band_rows: int) -> DataFrame:
    return (
        out.withColumn("n_shared", F.bit_count(F.col("match")).cast("long"))
        .drop("match")
        .withColumn(
            "est_jaccard",
            F.pow(F.col("n_shared") / F.lit(float(b_cnt)), 1.0 / band_rows),
        )
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 16,
    max_dist: int = 40,
    max_block: int = 5000,
) -> DataFrame:
    """SimHash near-dup pairs over arbitrary document tables — the ER
    pipeline's fingerprint+block+score core packaged as a standalone dedup
    operator. Returns (id_a, id_b, hamming_dist).

    Uses the pipeline's fast plan end to end: the fused mapInArrow
    fingerprint stage (one pass over the utf8 bytes for SimHash + canon +
    hex) and the wide blocking path (band rows carry the signature chunks,
    scoring is a joinless narrow map)."""
    from ..pipeline import blocking, scoring
    from ..pipeline.simhash import signatures

    sigs = signatures(
        docs.select(
            F.col(id_col).cast("string").alias("conv_id"),
            F.col(text_col).alias("doc_text"),
            F.lit(1).alias("n_turns"),
        )
    ).persist()  # blocking references the signatures several times (sizes,
    # banned masks, both join sides); without materialization each
    # reference would re-run the fingerprint stage. The pipeline runner
    # materializes this stage to a table; here a cache serves the same role.
    pairs_wide, _ = blocking.candidate_pairs_wide(
        sigs, n_bands=n_bands, max_block=max_block
    )
    return scoring.score_wide(pairs_wide, max_dist=max_dist).select(
        F.col("conv_id_a").alias("id_a"),
        F.col("conv_id_b").alias("id_b"),
        "hamming_dist",
    )
