"""B4/B5 — LSH banding with exchange-free pair dedup + salted oversize
block chaining.

The 256-bit signature is cut into ``n_bands`` contiguous bands of
``256 / n_bands`` bits each. Two signatures within hamming distance d are
*guaranteed* to agree on at least one band whenever d < n_bands (pigeonhole
— the generalization of the reference's early-exit pruning idea,
python_hexhamming.cc:62-64, moved from inside the scalar loop up to the
plan level: prune pairs before scoring instead of mid-scoring).

Beyond the pigeonhole radius the recall is probabilistic, and callers gate
scoring more loosely than the guarantee: at the default n_bands=16 the
guarantee covers d < 16, while the pipeline's default scoring gate is
max_dist=40 — for a pair at d=40 with uniformly spread differing bits the
chance that at least one of 16 16-bit bands is clean is
1-(1-((256-40)/256)^16)^16 ≈ 0.67, rising steeply as d drops (≈0.97 at
d=25). SimHash distances of true near-duplicates concentrate far below the
gate, so missed-pair mass is small; recall-critical deployments raise
n_bands (32 bands of 8 bits guarantee d < 32 and give ≈0.9998 at d=40)
and pay proportionally more band-exchange volume.

Plan shape (the 100TB-relevant properties):

1. Band values are INTEGERS (bit slices of the signature chunks), not hex
   substrings — the band exchange and its sort compare 8-byte longs, not
   UTF8 strings.
2. Pair dedup ("a pair agreeing on k bands must score once, not k times")
   is a pure CODEGEN FILTER, not an aggregation: each joined row carries
   both full signatures as chunk longs, so it can recompute the complete
   band-match bitmask and keep the row only when its own band is the FIRST
   matching band that was not suppressed by the skew gate. This removes
   the pair-stream dedup exchange entirely — at scale that shuffle is
   quadratic-ish in block size while the band exchange is linear, so it
   dominates blocking cost.
3. Skew (B5, explicit per north_rule): blocks larger than ``max_block``
   do NOT generate all-pairs joins and are NOT dropped (a boilerplate
   near-dup mega-cluster agrees on *every* band, so dropping oversize
   blocks would silently drop exactly the clusters dedup exists to find).
   Instead each oversize block is salt-split into groups of ~max_block by
   pmod(xxhash64(conv_id), n_salt); within each salt group members are
   chained by signature order (size-1 adjacent pairs from one window
   lead()), and the per-group representatives are chained across groups.
   A path through every member preserves cluster connectivity with
   O(size) pairs instead of O(size^2), fully parallel across salt groups.
   All of this reuses the same band exchange (window partition keys
   refine the exchange's hash keys — no extra shuffle).

Exactness of the filter-based dedup: for a joined pair let
``match`` = bitmask of bands where the signatures agree, and ``banned`` =
bitmask of bands whose block for this pair exceeds max_block (a per-conv
mask; on a matching band both sides are in the SAME block, so either
side's bit is valid). The normal branch emits the pair exactly at the
lowest set bit of ``match & ~banned``; the chain branch emits an adjacent
or representative pair exactly at the lowest set bit of ``match & banned``
and only when ``match & ~banned == 0`` (otherwise the normal branch
already emitted it). Every emitted pair is therefore emitted exactly once
across both branches. A chain pair suppressed because its first banned
matching band is a different block stays connected through that block's
own chain, so cluster-level connectivity is preserved.

``_first_band_pairs`` is the one band join and filter of the normal
branch, the fold (``new_col``) and clean-clean linkage (pipeline/linkage.py);
the chain branch shares its ``_pair_select`` projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from .scoring import N_CHUNKS, sig_chunks_raw

SIG_HEX_CHARS = 64  # 256 bits
_CHUNK_HEX = 8      # 8 hex chars = 32 bits per chunk


def band_projection(signatures: DataFrame, n_bands: int = 16) -> DataFrame:
    """signatures → bands(conv_id, band_id, band_val).

    band_val is the band's slice of sig_hex — a fixed-width hex substring,
    computed JVM-side (no UDF, no shuffle). Kept for observability /
    block-statistics queries; candidate generation uses the integer band
    values below.
    """
    assert SIG_HEX_CHARS % n_bands == 0, "n_bands must divide 64"
    w = SIG_HEX_CHARS // n_bands
    slices = F.array(
        *[F.substring("sig_hex", i * w + 1, w) for i in range(n_bands)]
    )
    return signatures.select(
        "conv_id", F.posexplode(slices).alias("band_id", "band_val")
    )


def _band_geometry(n_bands: int) -> tuple[int, int]:
    """(hex chars per band, bits per band); bands must not straddle the
    32-bit chunk boundary so each band is a bit slice of ONE chunk long."""
    assert SIG_HEX_CHARS % n_bands == 0, "n_bands must divide 64"
    w_hex = SIG_HEX_CHARS // n_bands
    assert w_hex <= _CHUNK_HEX and _CHUNK_HEX % w_hex == 0, (
        "band width must divide the 32-bit chunk (n_bands >= 8)"
    )
    return w_hex, 4 * w_hex


# The per-band expressions below are built as SQL text and parsed once
# per call by F.expr: every Column method or functions.* call is at least
# one py4j round trip (several with the DataFrame call-site capture), and
# a 16-band mask spelled as Column calls was ~3,700 of them per
# candidate_pairs_wide build. The SQL text parses to the same expression
# trees, so the optimized plans do not change.


def _band_slice(b: int, n_bands: int) -> tuple[int, int, int]:
    """(chunk index, shift, bits) of band b inside its chunk long: the band
    is ``(c{chunk} >> shift) & ((1 << bits) - 1)``."""
    w_hex, w_bits = _band_geometry(n_bands)
    chunk = (b * w_hex) // _CHUNK_HEX
    off = (b * w_hex) % _CHUNK_HEX          # hex-char offset inside chunk
    shift = 4 * (_CHUNK_HEX - off - w_hex)  # bits below the band in chunk
    return chunk, shift, w_bits


def _band_val_int(b: int, n_bands: int) -> Column:
    """Integer value of band b extracted from the signature chunk longs
    c{i}: pure codegen bit arithmetic, no strings."""
    chunk, shift, w_bits = _band_slice(b, n_bands)
    v = f"shiftright(c{chunk}, {shift})" if shift else f"c{chunk}"
    return F.expr(f"{v} & {(1 << w_bits) - 1}")


def _band_vals(n_bands: int) -> Column:
    """All band values of a chunk-long row as one array. Build it once per
    call: each of its n_bands expressions costs py4j round trips."""
    return F.array(*[_band_val_int(b, n_bands) for b in range(n_bands)])


def _band_match_sql(b: int, n_bands: int) -> str:
    """True iff band b of sides a/b agree — tested on the XOR of the chunk
    longs, masked to the band's bit range (no per-side extraction).
    Parenthesized: in Spark SQL ``&`` binds tighter than ``^``."""
    chunk, shift, w_bits = _band_slice(b, n_bands)
    mask = ((1 << w_bits) - 1) << shift
    return f"((c{chunk}_a ^ c{chunk}_b) & {mask}) = 0"


def _match_mask(n_bands: int) -> Column:
    """Long bitmask over all bands: bit b set iff band b matches.
    shiftleft (not a Python int literal) so bit 63 stays inside Spark's
    long literal range at n_bands=64."""
    terms = " + ".join(
        f"(CASE WHEN {_band_match_sql(b, n_bands)} THEN shiftleft(1L, {b}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bands)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def shared_band_count(n_bands: int = 16) -> Column:
    """CBS meta-blocking weight of a WIDE pair row: how many bands the two
    signatures agree on — a popcount of the band-match bitmask computed
    from the carried c{i}_a/c{i}_b chunk longs. Pure codegen, no join back
    to any membership table. Because bands are positional (band b of one
    signature can only share a block with band b of the other), this IS
    the Common Blocks Scheme weight of the LSH block collection
    (pipeline/metablocking.py) evaluated per pair for free."""
    terms = " + ".join(
        f"(CASE WHEN {_band_match_sql(b, n_bands)} THEN 1 ELSE 0 END)"
        for b in range(n_bands)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


# ---- the banded pair join: one core for batch, fold, chain and linkage --

_BAND_ON = "a.band_id = b.band_id AND a.band_val = b.band_val"

# bits [0, band_id): pure bit expression — `shiftleft(1L, band_id) - 1`
# overflows under ANSI mode at band_id=63 (1<<63 = Long.MinValue, the -1
# then underflows), so n_bands=64 would fail at runtime. bitwise_not of
# a -1 shifted left has no arithmetic step: ~(-1 << 0) = 0, ~(-1 << 63)
# = 2^63 - 1.
_LOW_BITS = "~ shiftleft(-1L, band_id)"


def _with_chunks(signatures: DataFrame, *extra: str) -> DataFrame:
    """(conv_id, canon, *extra, c0..c7): the signature as its 8 chunk
    longs (scoring.sig_chunks_raw), the band slices' source."""
    chunk_cols = [c.alias(f"c{i}") for i, c in enumerate(sig_chunks_raw())]
    return signatures.select("conv_id", "canon", *extra, *chunk_cols)


def _band_rows(sigs_c: DataFrame, band_vals: Column, *extra) -> DataFrame:
    """One row per (signature, band) of a _with_chunks table, carrying the
    signature's payload so a band join emits wide pairs with no join back:
    (conv_id, canon, *extra, c0..c7, band_id, band_val)."""
    return sigs_c.select(
        "conv_id", "canon", *extra,
        *[f"c{i}" for i in range(N_CHUNKS)],
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )


def _pair_select(own: str, other: str, swap: bool) -> list[str]:
    """SQL select list of the wide pair columns (conv_id_a/b, canon_a/b,
    then c{i}_a and c{i}_b) from a row carrying two payloads under the
    column prefixes ``own`` and ``other``. Without ``swap`` own is side
    A. With ``swap`` the sides are put in conv_id_a < conv_id_b order: own
    is side A unless other's id sorts first."""
    def side(col: str, a_side: bool) -> str:
        if not swap:
            return f"{own if a_side else other}{col}"
        take_own = f"{other}conv_id < {own}conv_id"
        if a_side:
            take_own = f"NOT ({take_own})"
        return f"CASE WHEN {take_own} THEN {own}{col} ELSE {other}{col} END"

    return [
        f"{side('conv_id', True)} AS conv_id_a",
        f"{side('conv_id', False)} AS conv_id_b",
        f"{side('canon', True)} AS canon_a",
        f"{side('canon', False)} AS canon_b",
        *[f"{side(f'c{i}', True)} AS c{i}_a" for i in range(N_CHUNKS)],
        *[f"{side(f'c{i}', False)} AS c{i}_b" for i in range(N_CHUNKS)],
    ]


def _first_band_pairs(
    a: DataFrame, b: DataFrame, on: str, swap: bool, n_bands: int
) -> DataFrame:
    """Join band rows ``a`` x ``b`` on the SQL condition ``on`` (over the
    aliases a/b) and keep each pair only in the lowest band where it
    matches and a's ``banned`` mask is clear: every pair exactly once, with
    no pair-stream shuffle (module docstring). Returns the _pair_select
    columns, swapped into id order when ``swap``."""
    joined = a.alias("a").join(b.alias("b"), F.expr(on)).selectExpr(
        "a.band_id AS band_id",
        "a.banned AS banned_a",
        *_pair_select("a.", "b.", swap),
    )
    eff = _match_mask(n_bands).bitwiseAND(F.bitwise_not(F.col("banned_a")))
    return (
        joined.withColumn("eff", eff)
        .where(F.col("eff").bitwiseAND(F.expr(_LOW_BITS)) == 0)
        .drop("eff", "band_id", "banned_a")
    )


def candidate_pairs_wide(
    signatures: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
    new_col: str | None = None,
) -> tuple[DataFrame, list[Row]]:
    """LSH-blocked candidate pairs that CARRY both sides' signature chunks
    and canonical keys out of the band self-join, each pair emitted
    EXACTLY ONCE with zero pair-stream shuffles (see module docstring).

    Plan: ONE full-width band exchange feeds the self-join (both sides via
    ReusedExchange). The skew gate is a codegen bit-test on the per-conv
    banned-band mask — no window, no sort beyond the join's own. The
    block-size aggregate runs once, as one collect of the oversize blocks
    (a tiny list by construction); the banned masks built from it are
    small too, and AQE broadcasts them.

    ``new_col`` names a boolean new-row column for an incremental fold
    (pipeline/incremental.py): only pairs touching >= 1 new row are
    emitted. New rows alone form the A side of the self-join; new-new
    pairs are emitted once in id order and new-old pairs once, swapped
    into conv_id_a < conv_id_b order; the chain branch drops old-old
    links. Old members of an oversize block are already connected by the
    prior run's clusters, and new members reach them through
    signature-adjacent old members. Block sizes and banned masks are
    computed over ALL rows — the sizes the equivalent batch run sees, so
    the fold's clusters equal the batch run's. ``None`` (batch) keeps the
    plain ``a.conv_id < b.conv_id`` join with no side swap.

    Returns (pairs_wide, block_stats); pairs_wide has conv_id_a/b,
    canon_a/b, c{i}_a/b signature chunk longs. block_stats is the sorted
    list of the oversize blocks routed to the salted chain branch, as
    collected Rows (band_id, band_val, block_size) — empty when no block
    exceeds max_block (observability, per north_rule's "skew handled
    explicitly"; the runner writes it as the skipped_blocks table).
    """
    flag = [new_col] if new_col else []
    sigs_c = _with_chunks(signatures, *flag)
    band_vals = _band_vals(n_bands)

    # ---- adaptive skew gate --------------------------------------------
    # Compute per-block sizes and collect the blocks above max_block ONCE,
    # at plan-build time, then attach the per-conv banned-band bitmask only
    # when some block is oversize (otherwise every mask is a zero literal
    # and the whole skew subplan is left out of the plan — detecting skew
    # needs the sizes aggregation either way, so the probe is one cheap
    # scan; it is the same decide-at-runtime move AQE makes for skew
    # joins, applied one level up). The collected list is tiny by
    # construction (one row per >max_block block); it is the banned-mask
    # join's and the chain branch's input as a local relation, so no
    # subtree recomputes the aggregate and no cache entry outlives the
    # call.
    bands_raw = sigs_c.select(
        "conv_id", F.posexplode(band_vals).alias("band_id", "band_val")
    )
    sizes = bands_raw.groupBy("band_id", "band_val").agg(
        F.count(F.lit(1)).alias("block_size")
    )
    oversize_rows = sorted(sizes.where(F.col("block_size") > max_block).collect())
    if oversize_rows:
        oversize = signatures.sparkSession.createDataFrame(oversize_rows, sizes.schema)
        banned = (
            bands_raw.join(
                oversize.select("band_id", "band_val"), ["band_id", "band_val"]
            )
            .groupBy("conv_id")
            .agg(F.sum(F.expr("shiftleft(1L, band_id)")).alias("banned"))
        )
        sigs_b = sigs_c.join(banned, "conv_id", "left").withColumn(
            "banned", F.coalesce(F.col("banned"), F.lit(0).cast("long"))
        )
    else:
        # no oversize blocks: every banned mask is zero; the bit-test
        # filters downstream keep the exactly-once guarantee unchanged
        sigs_b = sigs_c.withColumn("banned", F.lit(0).cast("long"))

    bands = _band_rows(sigs_b, band_vals, "banned", *flag)

    # ---- normal branch: band rows whose own block is not oversize -------
    # (blocks of size 1 pass through; they produce no join output and are
    # not worth a count-window — the exchange volume is the same either
    # way and the bit-test below is free codegen)
    kept = bands.where(F.expr("(shiftright(banned, band_id) & 1) = 0"))
    on = _BAND_ON
    if new_col is None:
        on += " AND a.conv_id < b.conv_id"
    else:
        # new A side: new-new pairs once in id order, new-old pairs once
        # whichever id is lower, swapped into canonical order
        on += (
            " AND a.conv_id != b.conv_id"
            f" AND (a.conv_id < b.conv_id OR NOT b.{new_col})"
        )
    a = kept.where(F.col(new_col)) if new_col else kept
    normal = _first_band_pairs(a, kept, on, new_col is not None, n_bands)
    if not oversize_rows:
        return normal, oversize_rows

    # ---- chain branch: oversize blocks, salted path instead of drop -----
    # input is ONLY the band rows of oversize blocks (usually none/few);
    # its windows exchange just those rows, independent of the main join.
    over = (
        bands.where(F.expr("(shiftright(banned, band_id) & 1) = 1"))
        .join(
            F.broadcast(oversize.select("band_id", "band_val", "block_size")),
            ["band_id", "band_val"],
        )
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64("conv_id"),
                F.ceil(F.col("block_size") / F.lit(max_block)).cast("long"),
            ),
        )
    )
    chunk_names = [f"c{i}" for i in range(N_CHUNKS)]
    order_cols = [*chunk_names, "conv_id"]
    payload = F.struct("conv_id", "canon", "banned", *flag, *chunk_names)

    wg = Window.partitionBy("band_id", "band_val", "salt").orderBy(*order_cols)
    adjacent = over.withColumn("nb", F.lead(payload).over(wg))
    # Cross-group links must survive the downstream SCORING gate, not just
    # connect candidates: a true near-dup cluster fills its blocks with
    # (near-)identical signatures, but unrelated rows that merely collide
    # into the block on this one band sit in the same salt groups. With one
    # representative per group (the old design), a collider picked as rep
    # breaks the rep chain post-gate — rep-rep links at hamming ~128 never
    # pass max_dist, and the cluster's groups disconnect (found by
    # scripts/skew_bench.py). Fix: one rep per (group, DISTINCT SIGNATURE)
    # — each group's sig-run is contiguous in the group chain and its first
    # member becomes the run's rep — and the rep chain is sorted by
    # signature, so all reps of an identical-sig cluster are mutually
    # adjacent (hamming-0 links) regardless of which colliders share the
    # block. Cost: #reps = Σ_g distinct sigs in g ≤ block size; for real
    # mega-blocks (low-entropy/boilerplate content) distinct sigs ≪ size.
    # Worst case (all sigs distinct) the rep window degrades to one sorted
    # task over the block — the case where chain links matter least, since
    # all-distinct random sigs fail the gate anyway.
    wgs = Window.partitionBy("band_id", "band_val", "salt", *chunk_names).orderBy(
        "conv_id"
    )
    reps = (
        adjacent.withColumn("srn", F.row_number().over(wgs))
        .where(F.col("srn") == 1)
        .drop("nb", "srn")
    )
    wr = Window.partitionBy("band_id", "band_val").orderBy(*order_cols)
    rep_pairs = reps.withColumn("nb", F.lead(payload).over(wr))
    chain_src = adjacent.unionByName(rep_pairs, allowMissingColumns=False).where(
        F.col("nb").isNotNull()
    )
    if new_col:
        # the fold chains old and new members TOGETHER but never emits an
        # old-old link: its connectivity is the prior run's job
        chain_src = chain_src.where(F.col(new_col) | F.col(f"nb.{new_col}"))
    # A singleton sig-run's rep link can coincide with the group chain's
    # adjacent link (both connect the same two members in the same band).
    # Dedup HERE on plain columns — both sources emit the pair in the same
    # ascending-sig orientation, so (band, own id, neighbor id) is a key.
    # Deduping after the wide pair projection instead would wrap every
    # swap-CASE chunk expression in a First() aggregate, which blows up
    # Catalyst's optimizer fixed-point (measured: minutes of driver time
    # on a 40-row block).
    chain_src = (
        chain_src.withColumn("_nb_id", F.col("nb.conv_id"))
        .dropDuplicates(["band_id", "band_val", "conv_id", "_nb_id"])
        .drop("_nb_id")
    )

    chain_rows = chain_src.selectExpr(
        "band_id",
        *_pair_select("", "nb.", True),
        # only the A-side banned mask is needed downstream: on every matching
        # band both sides sit in the same block, so either side's bit is valid
        "CASE WHEN NOT (nb.conv_id < conv_id) THEN banned ELSE nb.banned END"
        " AS banned_a",
    )
    cmatch = _match_mask(n_bands)
    chain = (
        chain_rows.withColumn("match", cmatch)
        .withColumn("eff", F.col("match").bitwiseAND(F.bitwise_not(F.col("banned_a"))))
        .withColumn("bmatch", F.col("match").bitwiseAND(F.col("banned_a")))
        .where(
            (F.col("eff") == 0)
            & (F.col("bmatch").bitwiseAND(F.expr(_LOW_BITS)) == 0)
        )
        .drop("match", "eff", "bmatch", "band_id", "banned_a")
    )

    return normal.unionByName(chain), oversize_rows


def candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
) -> tuple[DataFrame, list[Row]]:
    """Thin LSH-blocked candidate pairs (conv_id_a, conv_id_b) — a
    projection of the wide path, so both share one engine implementation
    and the exactly-once guarantee."""
    wide, block_stats = candidate_pairs_wide(
        signatures, n_bands=n_bands, max_block=max_block
    )
    return wide.select("conv_id_a", "conv_id_b"), block_stats


def union_candidates(
    passes: dict[str, DataFrame],
    id_a: str = "conv_id_a",
    id_b: str = "conv_id_b",
) -> DataFrame:
    """Multi-pass blocking: union the candidate sets of several blockers
    (LSH banding, sorted-neighborhood, phonetic keys, ...) into ONE
    exactly-once pair stream with provenance.

    Multi-pass is the standard recall lever when no single blocking key
    catches every true match — each pass trades its own blind spots, and
    the union's pair completeness is the OR of the passes'. Returns
    (id_a, id_b, passes, n_passes) where ``passes`` is the sorted array of
    contributing pass names — so downstream scoring runs once per pair no
    matter how many passes emitted it, and the blocking_quality metrics
    can be computed per pass or for the union from the same table.

    Plan: tag each pass with a literal name, unionByName (no shuffle), one
    groupBy on the pair key — the same single dedup exchange any candidate
    stream needs anyway; collect_set over the tiny per-pair name list is
    map-side combinable.
    """
    if not passes:
        raise ValueError("passes must not be empty")
    tagged = [
        df.select(
            F.col(id_a), F.col(id_b), F.lit(name).alias("_pass")
        )
        for name, df in passes.items()
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    return u.groupBy(id_a, id_b).agg(
        F.array_sort(F.collect_set("_pass")).alias("passes"),
        F.size(F.collect_set("_pass")).alias("n_passes"),
    )


def phonetic_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 2,
) -> DataFrame:
    """(id, phonetic_key) — Soundex codes of the first ``n_tokens`` alpha
    tokens, joined with '|'.

    The classical fourth blocking family next to LSH banding, sorted
    neighborhood, and token blocking: phonetic keys catch sound-alike
    spellings ("Smith"/"Smyth", "Robert"/"Rupert") that neither SimHash
    bands nor exact-token inverted indexes reliably co-block, because the
    variant characters are exactly the ones the other keys hash on.
    Soundex is a Spark codegen builtin, so key derivation is a narrow map
    stage. Rows with no alpha token get a NULL key (filtered out — an
    unblockable value should produce no pairs, not one giant NULL block).
    """
    if n_tokens < 1:
        raise ValueError("n_tokens must be >= 1")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", " ")), " +"),
        lambda t: F.length(t) > 0,
    )
    key = F.array_join(
        F.transform(F.slice(toks, 1, n_tokens), lambda t: F.soundex(t)), "|"
    )
    return df.select(
        F.col(id_col).alias("rec_id"),
        F.when(F.size(toks) > 0, key).alias("phonetic_key"),
    ).where(F.col("phonetic_key").isNotNull())


def phonetic_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 2,
    max_block_size: int = 50,
    out_a: str = "conv_id_a",
    out_b: str = "conv_id_b",
) -> DataFrame:
    """Candidate pairs from a phonetic blocking pass: self equi-join on the
    Soundex key with ``id_a < id_b``, exactly once per pair.

    ``max_block_size`` drops keys whose block exceeds the cap BEFORE the
    join (one map-side-combinable count + semi-join) — the standard guard
    against monster blocks of ultra-common name sounds; at corpus scale a
    capped block means O(cap^2) pairs per key instead of O(freq^2) for
    hot sounds. Same df-cap discipline as token blocking
    (ops/setjoin.py:token_blocking_pairs).

    Emits (out_a, out_b, phonetic_key) — feed into union_candidates as one
    pass of a multi-pass blocker.
    """
    keyed = phonetic_keys(df, id_col, text_col, n_tokens)
    if max_block_size is not None:
        ok = (
            keyed.groupBy("phonetic_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= F.lit(int(max_block_size)))
            .select("phonetic_key")
        )
        keyed = keyed.join(ok, "phonetic_key", "left_semi")
    a = keyed.select(F.col("phonetic_key"), F.col("rec_id").alias(out_a))
    b = keyed.select(F.col("phonetic_key"), F.col("rec_id").alias(out_b))
    return (
        a.join(b, "phonetic_key")
        .where(F.col(out_a) < F.col(out_b))
        .select(out_a, out_b, "phonetic_key")
    )


def suffix_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_suffix_len: int = 6,
    max_key_len: int = 12,
) -> DataFrame:
    """(rec_id, suffix_key) — every suffix of length >= ``min_suffix_len``
    of the record's canonical blocking key (lowercased alphanumeric,
    truncated to ``max_key_len``), one row per suffix.

    Suffix blocking (Aizawa & Oyama's suffix-array method, the fifth
    classical blocking family next to LSH banding, sorted neighborhood,
    token, and phonetic passes): two records co-block iff their keys share
    ANY sufficiently long suffix, which makes the pass robust to
    key-PREFIX corruption — a prepended greeting, a dropped honorific, an
    OCR error in the first characters — exactly where prefix-anchored keys
    (canon prefix, SNM sort keys) are blind. Per record the pass emits at
    most ``max_key_len - min_suffix_len + 1`` keys (7 at the defaults), so
    the inverted index is linear in the corpus.

    Everything is codegen: one regexp canonicalization, one
    sequence+transform building the suffix array in-row, one explode.
    Records whose key is shorter than ``min_suffix_len`` emit nothing (an
    unblockable value should produce no pairs)."""
    if min_suffix_len < 1:
        raise ValueError("min_suffix_len must be >= 1")
    if max_key_len < min_suffix_len:
        raise ValueError("max_key_len must be >= min_suffix_len")
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1,
        max_key_len,
    )
    n = F.length(key)
    sufs = F.when(
        n >= F.lit(min_suffix_len),
        F.transform(
            F.sequence(F.lit(1), n - F.lit(min_suffix_len) + F.lit(1)),
            lambda i: F.substring(key, i, F.lit(max_key_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("rec_id"), F.explode(sufs).alias("suffix_key")
    )


def suffix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_suffix_len: int = 6,
    max_key_len: int = 12,
    max_block_size: int = 50,
    out_a: str = "conv_id_a",
    out_b: str = "conv_id_b",
) -> DataFrame:
    """Candidate pairs from a suffix blocking pass: self equi-join on the
    suffix key with ``id_a < id_b``.

    ``max_block_size`` drops suffixes whose block exceeds the cap BEFORE
    the join (the Aizawa-Oyama "maximum block size" rule — ultra-common
    suffixes carry no discriminating signal and would cost O(freq^2)
    pairs); a pair sharing both a rare long suffix and a hot short one is
    still emitted through the rare one. Because shared suffixes nest (keys
    agreeing on their last k characters share k - min_suffix_len + 1
    keys), the pair stream is deduplicated with ONE groupBy on the pair
    key — the same exchange any candidate stream needs — keeping the
    longest surviving shared suffix as provenance.

    Emits (out_a, out_b, suffix_key, n_shared_suffixes) — feed into
    union_candidates as one pass of a multi-pass blocker."""
    keyed = suffix_keys(df, id_col, text_col, min_suffix_len, max_key_len)
    if max_block_size is not None:
        ok = (
            keyed.groupBy("suffix_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= F.lit(int(max_block_size)))
            .select("suffix_key")
        )
        keyed = keyed.join(ok, "suffix_key", "left_semi")
    a = keyed.select(F.col("suffix_key"), F.col("rec_id").alias(out_a))
    b = keyed.select(F.col("suffix_key"), F.col("rec_id").alias(out_b))
    return (
        a.join(b, "suffix_key")
        .where(F.col(out_a) < F.col(out_b))
        .groupBy(out_a, out_b)
        .agg(
            F.max_by("suffix_key", F.length("suffix_key")).alias("suffix_key"),
            F.count(F.lit(1)).alias("n_shared_suffixes"),
        )
    )
