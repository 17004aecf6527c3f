"""Privacy-preserving record linkage (PPRL): Bloom-filter encodings.

Classical PPRL (Schnell, Bachteler & Reiher 2009) lets two parties link
records WITHOUT exchanging plaintext identifiers: each party q-grams its
quasi-identifier string, hashes every gram with k keyed hash functions
into an m-bit Bloom filter, and only the bitmaps are compared — Dice
similarity of the bitmaps tracks Jaccard similarity of the underlying
gram sets, so typos survive encoding while the plaintext never leaves
the owner.

This is the same fixed-width-fingerprint-plus-within-distance shape as
the reference's hex kernels (hexhamming exposes hamming over fixed-width
hex signatures and a within-distance gate, python_hexhamming.cc:33-64);
PPRL swaps hamming-on-SimHash for Dice-on-Bloom but keeps every scale
property: fixed-size signatures, banded blocking, codegen pair gate.

Spark-first design — every stage is pure Catalyst (no Python UDF at all):

* **Encoding**: padded 2-grams via ``transform(sequence(...))``, each
  gram mapped to an integer code from its two ASCII bytes, then k
  universal hashes ``((a_i * code + b_i) mod P) mod m`` (P = 2^31 - 1,
  all arithmetic < 2^46, overflow-free in BIGINT on any engine — unlike
  a 64-bit mixer this needs NO hugeint emulation to mirror in SQL).
  The bitmap is represented as a sorted array<int> of set positions:
  bounded by min(k * grams, m) = m = 256 entries, fixed-width in
  expectation, shuffle-friendly, and ``array_intersect`` on two sorted
  deduped int arrays is a codegen kernel.
* **Blocking**: Bloom-LSH banding (Durham 2012) — ``n_bands`` fixed
  public position samples of ``band_bits`` bits each; two bitmaps that
  agree on every sampled bit of some band share a (band, key) block.
  Key space per band is 2^band_bits, so hot blocks stay bounded; pairs
  come from an equi-join on (band, key), never a cross join, and the
  per-band key is one integer — the identical banded-equi-join shape as
  blocking.lsh_bands.
* **Scoring**: integer-exact milli-Dice gate. Dice = 2·|A∧B|/(|A|+|B|)
  is kept as the integer triple (common_bits, bits_a, bits_b) and the
  threshold test is the cross-multiplied ``2000·common >= t·(na+nb)`` —
  no float leaves the operator (the event_sessions lesson: aggregated
  floats are engine-rounding bait).

At 10^12 rows: encoding is a narrow map stage; blocking shuffles
fixed-width (band:int, key:int, id, positions<=256 ints) rows; scoring
is a filter fused into the join output scan. No stage widens with
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Universal-hash family h_i(x) = ((A_i * x + B_i) mod P) mod M over gram
# codes x < 2^14.  P is the Mersenne prime 2^31 - 1; A_i * x < 2^45 so
# every intermediate fits comfortably in a signed 64-bit integer on both
# Spark and any SQL oracle engine.
PRIME = 2_147_483_647
M_BITS = 256
HASH_A = (1_103_515_245, 22_695_477, 1_664_525, 214_013)
HASH_B = (12_345, 1, 1_013_904_223, 2_531_011)

# Public Bloom-LSH band position samples: n_bands x band_bits fixed bit
# positions in [0, M_BITS).  Derived once from a fixed seed and frozen as
# literals so both parties (and the SQL oracle) agree without exchanging
# anything data-dependent.
BAND_POSITIONS = (
    (7, 59, 131, 197),
    (23, 83, 151, 211),
    (11, 101, 163, 229),
    (41, 89, 179, 241),
    (3, 67, 139, 251),
    (29, 109, 191, 223),
)


def _canon(col: Column) -> Column:
    """lowercase, alnum+space only — the canonicalization of the `canon`
    key (kernels.canon_keys_utf8; its parity with this JVM expression is
    test_columns.py::test_canon_keys_match_spark_expression_on_mixed_unicode)."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9 ]", "")


def bloom_positions(col: Column, q: int = 2) -> Column:
    """Sorted distinct array<int> of set Bloom-bit positions for ``col``.

    The string is padded with '^'/'$' sentinels (so even 1-char values
    produce >= 2 grams and leading/trailing characters are position-
    sensitive, per the classical construction), split into overlapping
    q-grams, each gram folded to an integer code from its ASCII bytes,
    and each code hashed K times into [0, M_BITS).
    """
    if q != 2:
        raise ValueError("only q=2 grams are supported (code fold is 2-byte)")
    padded = F.concat(F.lit("^"), _canon(col), F.lit("$"))
    codes = F.transform(
        F.sequence(F.lit(1), F.length(padded) - F.lit(1)),
        lambda i: (
            F.ascii(F.substring(padded, i, F.lit(1))).cast("bigint") * F.lit(128)
            + F.ascii(F.substring(padded, i + F.lit(1), F.lit(1))).cast("bigint")
        ),
    )
    positions = F.flatten(
        F.transform(
            codes,
            lambda c: F.array(
                *[
                    ((c * F.lit(a) + F.lit(b)) % F.lit(PRIME) % F.lit(M_BITS)).cast(
                        "int"
                    )
                    for a, b in zip(HASH_A, HASH_B)
                ]
            ),
        )
    )
    return F.array_sort(F.array_distinct(positions))


def encode(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bloom_bits array<int>, n_bits int) — the party-local encoding.

    This is the ONLY operator that sees plaintext; everything downstream
    consumes bitmaps. Narrow map stage, no shuffle.
    """
    bits = bloom_positions(F.col(text_col))
    return df.select(
        F.col(id_col).alias("rec_id"),
        bits.alias("bloom_bits"),
        F.size(bits).alias("n_bits"),
    )


def _band_keys(bits: Column) -> Column:
    """array<struct<band:int, key:int>> — one small integer key per band,
    bit j of the key = whether sampled position j is set."""
    entries = []
    for band, poss in enumerate(BAND_POSITIONS):
        key = F.lit(0)
        for j, p in enumerate(poss):
            key = key + F.when(
                F.array_contains(bits, F.lit(p)), F.lit(1 << j)
            ).otherwise(F.lit(0))
        entries.append(F.struct(F.lit(band).alias("band"), key.cast("int").alias("key")))
    return F.array(*entries)


def candidate_pairs(enc_a: DataFrame, enc_b: DataFrame | None = None) -> DataFrame:
    """Bloom-LSH blocked candidate pairs.

    One-table mode (``enc_b is None``): self-dedup pairs with
    ``rec_id_a < rec_id_b``.  Two-table mode: the clean-clean A x B
    quadrant only (the linkage.py:61 shape). Either way the join is an
    equi-join on (band, key) with a post-distinct on the id pair —
    identical scale shape to blocking.candidate_pairs.
    """
    def with_keys(enc: DataFrame) -> DataFrame:
        return enc.select(
            "rec_id",
            "bloom_bits",
            "n_bits",
            F.explode(_band_keys(F.col("bloom_bits"))).alias("bk"),
        ).select("rec_id", "bloom_bits", "n_bits", "bk.band", "bk.key")

    left = with_keys(enc_a)
    right = with_keys(enc_b) if enc_b is not None else left
    a = left.select(
        F.col("band"),
        F.col("key"),
        F.col("rec_id").alias("rec_id_a"),
        F.col("bloom_bits").alias("bits_arr_a"),
        F.col("n_bits").alias("bits_a"),
    )
    b = right.select(
        F.col("band"),
        F.col("key"),
        F.col("rec_id").alias("rec_id_b"),
        F.col("bloom_bits").alias("bits_arr_b"),
        F.col("n_bits").alias("bits_b"),
    )
    joined = a.join(b, on=["band", "key"])
    if enc_b is None:
        joined = joined.where(F.col("rec_id_a") < F.col("rec_id_b"))
    return (
        joined.groupBy("rec_id_a", "rec_id_b")
        .agg(
            F.first("bits_arr_a").alias("bits_arr_a"),
            F.first("bits_arr_b").alias("bits_arr_b"),
            F.first("bits_a").alias("bits_a"),
            F.first("bits_b").alias("bits_b"),
        )
    )


def dice_link(
    pairs: DataFrame,
    min_dice_milli: int = 800,
) -> DataFrame:
    """Integer-exact Dice gate over blocked bitmap pairs.

    Keeps pairs with Dice >= min_dice_milli/1000, tested as
    ``2000 * common_bits >= min_dice_milli * (bits_a + bits_b)`` so the
    output carries only exact integers (common_bits, bits_a, bits_b) —
    consumers that want the float divide at the edge.
    """
    common = F.size(F.array_intersect(F.col("bits_arr_a"), F.col("bits_arr_b")))
    return (
        pairs.withColumn("common_bits", common)
        .where(
            F.lit(2000) * F.col("common_bits")
            >= F.lit(int(min_dice_milli)) * (F.col("bits_a") + F.col("bits_b"))
        )
        .select("rec_id_a", "rec_id_b", "common_bits", "bits_a", "bits_b")
    )


def link(
    df_a: DataFrame,
    df_b: DataFrame | None,
    id_col: str,
    text_col: str,
    min_dice_milli: int = 800,
) -> DataFrame:
    """encode -> Bloom-LSH block -> Dice gate, end to end."""
    enc_a = encode(df_a, id_col, text_col)
    enc_b = encode(df_b, id_col, text_col) if df_b is not None else None
    return dice_link(candidate_pairs(enc_a, enc_b), min_dice_milli)
