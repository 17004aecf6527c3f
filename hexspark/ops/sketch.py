"""Deterministic frequency/membership sketches: count-min and Bloom.

Two sketch operators a 100-TB pipeline reaches for constantly:

- **Count-min sketch** (Cormode & Muthukrishnan): a depth x width counter
  grid giving over-estimating frequency answers in O(depth) per probe,
  built with ONE map-side-combinable aggregation whose result has at most
  ``depth * width`` rows regardless of input size — the heavy-hitter /
  frequency primitive when an exact per-key groupBy would shuffle billions
  of distinct keys for a handful of interesting ones.
- **Bloom filter semi-join pruning**: the classic shuffle-avoidance trick —
  build a bit array from the small side's join keys, broadcast it, and
  drop non-matching big-side rows *before* the join's exchange. At scale
  the filter is a few KB standing in for a multi-GB shuffle of rows that
  would never match.

Both use md5-derived hashing (``conv(substr(md5(salt || key), 1, 12), 16,
10)`` — 48 bits, exactly the construction ``ops/sampling._key_hash`` and
the ANN bucket oracles already mirror in DuckDB), so every estimate is
bit-reproducible on any engine, any partitioning — which is what makes
these sketches DuckDB-oracle-able where engine-native implementations
(Spark's count_min_sketch / bloom_filter_agg, DuckDB's approx_count_*)
never hash-match across engines.

Bloom words carry 62 usable bits, not 64: DuckDB raises on
``1::BIGINT << 63`` (signed overflow) and bit 62 would flip the sign on
round-trip formatting, so positions live in ``[0, 62 * n_words)`` and both
engines agree exactly.

Reference tie-in: hexhamming is itself a fixed-width-bitset library —
the Bloom word layout (bit_or of shiftleft over longs) is the same
64-bit-lane thinking as its SSE popcount loops (python_hexhamming.cc
hamming_distance_loop), applied to membership instead of distance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_BITS_PER_WORD = 62


def _hash48(key: Column, salt: str) -> Column:
    """48-bit integer from md5(salt || key) — DuckDB twin:
    ('0x' || substr(md5('<salt>' || key), 1, 12))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 12), 16, 10
    ).cast("long")


# --------------------------------------------------------------------------
# count-min sketch
# --------------------------------------------------------------------------


def cms_build(
    df: DataFrame, key: Column, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build a count-min sketch over ``key`` occurrences (one increment per
    input row): DataFrame (row, bucket, cnt) with <= depth*width rows.

    One posexplode + one groupBy: partials combine map-side, so the
    exchange moves at most depth*width counters per upstream partition —
    input-size-independent, the whole point of the sketch at scale."""
    buckets = F.array(*[_hash48(key, f"c{j}") % width for j in range(depth)])
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, key: Column, depth: int, width: int
) -> DataFrame:
    """Point-query the sketch for each probe row's key: adds ``est_cnt`` =
    min over rows of the hashed bucket's counter (the CMS upper bound;
    never under the true count). The sketch side is tiny by construction
    and broadcast, so probing is exchange-free on the probe side.

    Probe rows must be UNIQUE across ``probes.columns``: the output grain
    is reconstructed via a groupBy over every probe column, so duplicate
    probe rows collapse into one output row. Deduplicate first, or add a
    row-id column, if your probe set can repeat."""
    cols = [
        F.struct(
            F.lit(j).alias("row"), (_hash48(key, f"c{j}") % width).alias("bucket")
        )
        for j in range(depth)
    ]
    probed = probes.withColumn("_rb", F.explode(F.array(*cols))).select(
        *probes.columns, F.col("_rb.row").alias("row"), F.col("_rb.bucket").alias("bucket")
    )
    joined = probed.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


# --------------------------------------------------------------------------
# Bloom filter
# --------------------------------------------------------------------------


def bloom_build(
    df: DataFrame, key: Column, n_words: int = 32, n_hashes: int = 3
) -> DataFrame:
    """Bloom filter bits from the build side's keys: DataFrame
    (word: int, bits: long) with <= n_words rows (words with no bit set are
    absent — treat missing as 0). bit_or partials combine map-side, so the
    exchange carries at most n_words longs per upstream partition."""
    m = n_words * BLOOM_BITS_PER_WORD
    positions = F.array(*[_hash48(key, f"b{i}") % m for i in range(n_hashes)])
    return (
        df.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / BLOOM_BITS_PER_WORD).cast("int").alias("word"),
            (F.col("pos") % BLOOM_BITS_PER_WORD).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")).alias("bits"))
    )


# --------------------------------------------------------------------------
# HyperLogLog-style distinct sketch
# --------------------------------------------------------------------------

HLL_RHO_MAX = 49  # 48-bit rho window -> rho in [1, 49]
_HLL_POW2_RHO_MAX = 1 << HLL_RHO_MAX


def hll_alpha(m: int) -> float:
    """Flajolet et al.'s bias constant: the small-m table values, then the
    asymptotic formula."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, key: Column, m: int = 64) -> DataFrame:
    """HyperLogLog register table (bucket, max_rho) with <= m rows, from
    md5-derived bucket + rho so the sketch is bit-identical on any engine
    (engine-native approx_count_distinct never cross-matches).

    rho (1 + leading zeros of a 48-bit hash window) is computed on the
    md5 HEX STRING — leading '0' chars count 4 bits each, the first
    non-zero hex digit adds its own leading zeros via a 3-way CASE —
    because both engines share exact string semantics, while
    floor(log2(x)) would hang the result on libm rounding at power-of-two
    boundaries. max() per bucket partial-aggregates map-side, so the
    exchange carries <= m registers per upstream partition regardless of
    input size: the whole point of HLL at 100 TB."""
    k = key.cast("string")
    bucket = _hash48(k, "g") % m
    s = F.substring(F.md5(F.concat(F.lit("h"), k)), 1, 12)
    z = F.length(F.regexp_extract(s, "^(0*)", 1))
    d = F.substring(s, (z + 1).cast("int"), 1)
    extra = (
        F.when(d == "1", 3)
        .when(d.isin("2", "3"), 2)
        .when(d.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(z == 12, F.lit(HLL_RHO_MAX)).otherwise(z * 4 + extra + 1)
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, m: int) -> DataFrame:
    """One-row estimate from a register table: (m, n_set, s_scaled,
    est_distinct). The 2^-M harmonic sum is kept EXACT by scaling to
    integers — sum(2^(RHO_MAX - M)) + empty-register mass — so the only
    float op is one final division: no accumulation-order sensitivity,
    the same lesson as the event_sessions decimal-sum fix. No
    linear-counting branch: callers at < 2.5m distinct should count
    exactly instead of sketching."""
    alpha = hll_alpha(m)
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_set"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_RHO_MAX} - max_rho AS INT))"
            )
        ).alias("s_set"),
    )
    s_scaled = F.col("s_set") + (F.lit(m) - F.col("n_set")) * F.lit(_HLL_POW2_RHO_MAX)
    return agg.select(
        F.lit(m).alias("m"),
        F.col("n_set").cast("long").alias("n_set"),
        s_scaled.cast("long").alias("s_scaled"),
        F.round(
            F.lit(alpha * m * m * float(_HLL_POW2_RHO_MAX)) / s_scaled.cast("double"),
            2,
        ).alias("est_distinct"),
    )


def bloom_literal(bloom: DataFrame, n_words: int) -> "list[int]":
    """Materialize a (tiny, <= n_words rows) filter table into a dense
    word list — ONE driver-side collect of a few hundred longs, the same
    decide-at-plan-build pattern as blocking's adaptive skew gate."""
    words = {r["word"]: r["bits"] for r in bloom.collect()}
    return [int(words.get(w, 0)) for w in range(n_words)]


def bloom_prune(
    probes: DataFrame, key: Column, bits: "list[int]", n_hashes: int = 3
) -> DataFrame:
    """Filter ``probes`` through a LITERAL Bloom filter: the whole check is
    one codegen'd boolean projection — element_at into two constant arrays
    (filter words + powers of two) ANDed across the n_hashes positions. No
    explode, no join, no aggregate: the probe stream stays narrow, which
    is the plan Spark's own runtime bloom pushdown produces and the right
    shape at 100 TB (the filter rides the closure to every executor; the
    big side is never reshaped just to be tested). Maybe-contained
    semantics: false positives possible, false negatives never."""
    n_words = len(bits)
    m = n_words * BLOOM_BITS_PER_WORD
    words_arr = F.array(*[F.lit(b).cast("long") for b in bits])
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(BLOOM_BITS_PER_WORD)])
    cond = None
    for i in range(n_hashes):
        pos = _hash48(key, f"b{i}") % m
        word = (pos / BLOOM_BITS_PER_WORD).cast("int")
        bit = (pos % BLOOM_BITS_PER_WORD).cast("int")
        hit = (
            F.element_at(words_arr, word + 1).bitwiseAND(F.element_at(pow2, bit + 1))
            != 0
        )
        cond = hit if cond is None else cond & hit
    return probes.where(cond)
