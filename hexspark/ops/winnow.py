"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003;
the MOSS algorithm). The classic position-aware fingerprint family next
to SimHash (global near-dup signal, pipeline/simhash.py) and ExactSubstr
spans (exact duplicated-passage localization, ops/spandedup.py):
winnowing selects a GUARANTEED-coverage subset of k-gram hashes, so two
documents sharing any passage of at least w + k - 1 tokens share at
least one selected fingerprint — with only ~2/(w+1) of the grams kept.
That density/guarantee trade is what plagiarism/contamination indexes
(MOSS) are built on: an inverted index over the selected fingerprints
finds every long-enough verbatim overlap at a fraction of the full
k-gram index's size.

Exact algorithm (mirrored verbatim by the pure-Python test replay and
the DuckDB oracle in tests/test_winnow.py):

* tokens = ops/quality.words_array (the package-wide normalization).
* k-grams: space-joined runs of k consecutive tokens; gram position =
  0-based index of its first token.
* hash(gram) = first 12 hex chars of md5(gram) as a long — the repo's
  cross-engine integer-hash idiom (('0x'||substr(md5(g),1,12))::BIGINT
  in DuckDB, conv(substring(md5(g),1,12),16,10) in Spark; identical
  values by construction, no engine-native hash involved).
* windows: every w consecutive gram hashes. From each window select the
  MINIMUM hash; ties broken by the RIGHTMOST position (the paper's tie
  rule for plain winnowing, which makes the selection depend only on
  local content). Output the (global gram position, hash) of the
  selection; adjacent windows usually select the same gram, so the
  per-document output is deduplicated.

Guarantees (the paper's, enacted by the tests):
* any shared token run of length >= w + k - 1 yields a shared
  fingerprint VALUE in both documents (positions differ);
* no match shorter than k tokens is ever detected (k-grams can't see
  it) — the noise threshold;
* expected selected density 2/(w+1) on random input.

Execution shape at 100 TB: everything up to the window selection is
IN-ROW (codegen HOFs over one materialized token array — grams, hashes,
and per-window argmin each live in their own projection per the
materialize-first contract, no joins, no shuffle); the only exchange is
the final per-document distinct, keyed on (id, pos, fp). Cost is
O(tokens * w) per document with O(tokens) memory — the explode-free
shape; an index build afterwards is one groupBy on fp.

Reference anchor: no analogue in hexhamming; the brief's
"document fingerprinting" line, upgraded from the md5 whole-doc
fingerprint (ops/text.doc_fingerprint) to the local-guarantee family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hexspark.ops.quality import words_array


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(id, pos, fp): winnowing-selected k-gram fingerprints, one row per
    distinct (gram position, hash) selection. ``k`` is the gram length
    (noise threshold), ``w`` the window size — matches of length >=
    w + k - 1 tokens are guaranteed to share a fingerprint value."""
    if k < 1:
        raise ValueError(f"gram length k must be >= 1 (got {k})")
    if w < 1:
        raise ValueError(f"window size w must be >= 1 (got {w})")
    base = docs.select(F.col(id_col), words_array(F.col(text_col)).alias("_ws"))
    # each derivation in its own projection: HOF lambdas inline their
    # argument expression at every element call site (no CSE inside
    # lambdas — the ops/setjoin materialize-first lesson), so _ws, _gs
    # and _hs must each be materialized attributes, not nested exprs
    n_tok = F.size("_ws")
    grams = F.when(
        n_tok >= k,
        F.transform(
            F.sequence(F.lit(0), n_tok - k),
            lambda i: F.concat_ws(" ", F.slice(F.col("_ws"), i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gs = base.select(id_col, grams.alias("_gs"))
    hashes = F.transform(
        F.col("_gs"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 12), 16, 10).cast("long"),
    )
    hs = gs.select(id_col, hashes.alias("_hs"))
    n = F.size("_hs")
    win = lambda i: F.slice(F.col("_hs"), i + 1, w)  # noqa: E731
    # min of the window; rightmost occurrence via array_position on the
    # reversed slice (1-based from the right): global 0-based pos =
    # i + (w - pos_from_right + 1) - 1 = i + w - pos_from_right
    sels = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.struct(
                (
                    i
                    + w
                    - F.array_position(F.reverse(win(i)), F.array_min(win(i)))
                ).alias("pos"),
                F.array_min(win(i)).alias("fp"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,fp:long>>"))
    return (
        hs.select(F.col(id_col), F.explode(sels).alias("_s"))
        .select(id_col, F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
        .distinct()
    )


def fingerprint_matches(
    fps_a: DataFrame,
    fps_b: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints, with the shared
    count — the MOSS index probe: an equi-join on the fingerprint VALUE
    (positions deliberately ignored; they localize after the fact).
    One-table form (``fps_b=None``) yields each unordered pair once
    (id_a < id_b). The join is fp-keyed, so a fingerprint appearing in f
    documents contributes O(f^2) pairs — production indexes drop the
    boilerplate head first (same df-cap idea as token blocking); this
    helper is the exact primitive underneath."""
    a_id, b_id = f"{id_col}_a", f"{id_col}_b"
    a = fps_a.select(F.col(id_col).alias(a_id), "fp").distinct()
    if fps_b is None:
        b = fps_a.select(F.col(id_col).alias(b_id), "fp").distinct()
        pairs = a.join(b, "fp").where(F.col(a_id) < F.col(b_id))
    else:
        b = fps_b.select(F.col(id_col).alias(b_id), "fp").distinct()
        pairs = a.join(b, "fp")
    return pairs.groupBy(a_id, b_id).agg(F.count(F.lit(1)).alias("n_shared_fps"))
