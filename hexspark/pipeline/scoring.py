"""B6/B7 — pairwise scoring + match filter.

The hamming term is the reference's A2 kernel exactly (popcount of XOR over
32-byte signatures, python_hexhamming.h:167-197), vectorized over Arrow
batches; the match gate is A3's ``dist <= max_dist`` predicate
(python_hexhamming.cc:62-64). The secondary Jaro-Winkler term runs on the
short canonical keys, also batch-vectorized (hexspark.columns.jaro_winkler).

Plan shape: score_wide runs over wide pairs — rows that already carry
both sides' signature chunks and canon keys (blocking.candidate_pairs_wide
emits them; attach_signatures widens any other pair stream with two
equi-joins) — making scoring a pure narrow map stage (codegen hamming
gate, then the Arrow Jaro-Winkler kernel on survivors; zero joins, zero
shuffles).

    score = alpha * (1 - hamming_dist/256) + (1 - alpha) * jw(canon_a, canon_b)
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import columns as C

SIG_BITS = 256
DEFAULT_MAX_DIST = 20
DEFAULT_ALPHA = 0.75

N_CHUNKS = 8  # 8 x 32-bit hex chunks of the 256-bit signature
_CHUNK_HEX = 8  # hex chars per chunk


def sig_chunks_raw():
    """The 256-bit signature as 8 long expressions derived from sig_hex —
    THE single definition of the chunk decomposition (blocking and the
    incremental path build their band slices from these same columns)."""
    return [
        F.expr(
            f"CAST(conv(substring(sig_hex, {i * _CHUNK_HEX + 1}, {_CHUNK_HEX}), 16, 10)"
            " AS BIGINT)"
        )
        for i in range(N_CHUNKS)
    ]


def sig_chunks(side: str):
    """sig_chunks_raw with per-side aliases c{i}_{side} — computed map-side
    before the join shuffle, so the pair stream carries integers the JVM
    can XOR/popcount inside whole-stage codegen."""
    return [c.alias(f"c{i}_{side}") for i, c in enumerate(sig_chunks_raw())]


def hamming_jvm(side_a: str = "a", side_b: str = "b"):
    """Column: hamming distance as Σ bit_count(ca_i ^ cb_i) — pure Catalyst
    (whole-stage codegen, no Python boundary). This is the 100TB-scale
    realization of the reference's A2 kernel: the XOR+popcount runs where
    the data is, and the reference's early-exit optimization (cc:62-64)
    becomes a codegen-level filter that never ships a row to Python."""
    terms = " + ".join(
        f"bit_count(c{i}_{side_a} ^ c{i}_{side_b})" for i in range(N_CHUNKS)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def attach_signatures(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Widen pairs(conv_id_a, conv_id_b, ...) with both sides' canon keys
    and signature chunks — the columns score_wide, the FS scorers and the
    meta-blocking weight read. Two equi-joins (broadcast at sandbox scale
    via AQE, shuffle joins at 10^12-turn scale)."""
    sa = signatures.select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("canon").alias("canon_a"),
        *sig_chunks("a"),
    )
    sb = signatures.select(
        F.col("conv_id").alias("conv_id_b"),
        F.col("canon").alias("canon_b"),
        *sig_chunks("b"),
    )
    return pairs.join(sa, "conv_id_a").join(sb, "conv_id_b")


_JW_SCHEMA = "conv_id_a string, conv_id_b string, hamming_dist long, jw double, score double"


def _jw_batches(alpha: float):
    """mapInArrow kernel for the (already hamming-gated) survivor stream:
    computes Jaro-Winkler on the canon keys and the hybrid score."""
    from .. import columns as C

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            jw = C.jw_arrow(batch.column("canon_a"), batch.column("canon_b"))
            dist = batch.column("hamming_dist").to_numpy(zero_copy_only=False)
            score = alpha * (1.0 - dist / float(SIG_BITS)) + (1.0 - alpha) * jw
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("conv_id_a"),
                    batch.column("conv_id_b"),
                    batch.column("hamming_dist"),
                    pa.array(jw, type=pa.float64()),
                    pa.array(score, type=pa.float64()),
                ],
                names=["conv_id_a", "conv_id_b", "hamming_dist", "jw", "score"],
            )

    return run


def score_wide(
    pairs_wide: DataFrame,
    max_dist: int = DEFAULT_MAX_DIST,
    alpha: float = DEFAULT_ALPHA,
    min_score: float = 0.0,
) -> DataFrame:
    """B6+B7 over WIDE candidate pairs (blocking.candidate_pairs_wide):
    the pair rows already carry both signatures' chunks and canon keys, so
    this is a pure narrow map stage — JVM codegen hamming + gate, then the
    Jaro-Winkler Arrow kernel on the survivors. No joins, no shuffle.

    This is the scale-path realization of the reference's A2+A3 semantics
    (python_hexhamming.h:167-197, cc:62-64): XOR+popcount runs inside
    whole-stage codegen where the pair stream lives, and the within-dist
    gate prunes before anything crosses to Python."""
    gated = (
        pairs_wide.withColumn("hamming_dist", hamming_jvm())
        .where(F.col("hamming_dist") <= F.lit(max_dist))
        .select("conv_id_a", "conv_id_b", "hamming_dist", "canon_a", "canon_b")
    )
    scored = gated.mapInArrow(_jw_batches(alpha), _JW_SCHEMA)
    return scored.where(F.col("score") >= F.lit(min_score))
