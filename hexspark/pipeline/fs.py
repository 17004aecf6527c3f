"""B6-alt — Fellegi-Sunter probabilistic pairwise scoring.

The classical record-linkage decision model (Fellegi & Sunter 1969) that
sits beside the distance-threshold gate the reference's predicate
(`check_hexstrings_within_dist`, python_hexhamming.cc) generalizes to:
instead of one hamming cutoff, each comparison FIELD contributes a
log-likelihood-ratio weight — log2(m/u) when the field agrees,
log2((1-m)/(1-u)) when it disagrees — where m = P(agree | match) and
u = P(agree | non-match). The summed weight is gated at one threshold
(:func:`score_wide_fs`, by default the posterior-0.5 point of
:func:`default_threshold`).

Scale design:

* :func:`match_weight` is a pure-Catalyst projection: one CASE expression
  per field, summed — codegen, no shuffle, no UDF. At 100 TB it rides the
  pair stream for free, exactly like the bit_count hamming gate.
* :func:`estimate_mu` is the EM fit of (m, u, p) from UNLABELED pairs —
  the reason the model is usable at web scale where labels don't exist.
  The Spark side is ONE map-side-combinable aggregation: groupBy the k
  agreement booleans → at most 2^k pattern-count rows (k is 3-10 in
  practice, so the table is tiny regardless of pair count). EM then
  iterates on the driver over those counts with numpy — O(2^k · iters)
  scalar work, zero further cluster passes. Adding 10^12 pairs changes
  only the one aggregation's input size.

NULL agreement values (field missing on either side) contribute weight 0
and are excluded from that field's EM statistics — the standard
missing-at-random treatment.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class FieldParams(NamedTuple):
    m: float  # P(field agrees | record pair is a true match)
    u: float  # P(field agrees | record pair is a non-match)


def _validate(params: dict[str, FieldParams]) -> None:
    for name, fp in params.items():
        if not (0.0 < fp.m < 1.0 and 0.0 < fp.u < 1.0):
            raise ValueError(
                f"field {name!r}: m and u must be strictly inside (0, 1), "
                f"got m={fp.m}, u={fp.u}"
            )


def match_weight(
    pairs: DataFrame,
    params: dict[str, FieldParams],
    weight_col: str = "fs_weight",
) -> DataFrame:
    """Add the summed Fellegi-Sunter log2-likelihood-ratio weight over the
    given boolean agreement columns. NULL agreements contribute 0.

    The weights are Python-float constants folded into ONE codegen CASE
    sum — the plan is a projection, so the scorer adds nothing to the
    shuffle envelope of whatever pair stream it rides.
    """
    _validate(params)
    total: Column | None = None
    for col, fp in params.items():
        agree_w = math.log2(fp.m / fp.u)
        disagree_w = math.log2((1.0 - fp.m) / (1.0 - fp.u))
        term = (
            F.when(F.col(col).isNull(), F.lit(0.0))
            .when(F.col(col), F.lit(agree_w))
            .otherwise(F.lit(disagree_w))
        )
        total = term if total is None else total + term
    assert total is not None, "params must not be empty"
    return pairs.withColumn(weight_col, total)


def estimate_mu(
    pairs: DataFrame,
    agree_cols: list[str],
    p_init: float = 0.1,
    m_init: float = 0.9,
    u_init: float = 0.1,
    n_iter: int = 50,
    eps: float = 1e-6,
) -> tuple[dict[str, FieldParams], float]:
    """EM estimation of per-field (m, u) and the match prevalence p from
    unlabeled pairs, under the standard conditional-independence model.

    ONE distributed aggregation (pattern counts over the agreement
    booleans, at most 2^k + null-combination rows), then driver-side EM
    over the tiny count table. Returns ({field: FieldParams}, p).

    NULLs: a pair missing field f is excluded from f's m/u statistics but
    still contributes its non-null fields (fractional-count EM on the
    observed entries).
    """
    if not agree_cols:
        raise ValueError("agree_cols must not be empty")
    counts = (
        pairs.groupBy(*[F.col(c).cast("boolean").alias(c) for c in agree_cols])
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    patterns = [
        ([row[c] for c in agree_cols], float(row["_n"])) for row in counts
    ]
    k = len(agree_cols)
    m = [m_init] * k
    u = [u_init] * k
    p = p_init
    for _ in range(n_iter):
        # E-step: P(match | pattern) per pattern row
        m_new = [0.0] * k
        u_new = [0.0] * k
        m_den = [0.0] * k
        u_den = [0.0] * k
        p_num = 0.0
        total = 0.0
        for gamma, n in patterns:
            lm, lu = p, 1.0 - p
            for j, g in enumerate(gamma):
                if g is None:
                    continue
                lm *= m[j] if g else (1.0 - m[j])
                lu *= u[j] if g else (1.0 - u[j])
            w = lm / (lm + lu) if (lm + lu) > 0 else 0.0
            p_num += w * n
            total += n
            for j, g in enumerate(gamma):
                if g is None:
                    continue
                m_den[j] += w * n
                u_den[j] += (1.0 - w) * n
                if g:
                    m_new[j] += w * n
                    u_new[j] += (1.0 - w) * n
        p_next = p_num / total if total else p_init
        m_next = [
            min(max(m_new[j] / m_den[j], eps), 1 - eps) if m_den[j] else m[j]
            for j in range(k)
        ]
        u_next = [
            min(max(u_new[j] / u_den[j], eps), 1 - eps) if u_den[j] else u[j]
            for j in range(k)
        ]
        delta = max(
            abs(p_next - p),
            max(abs(a - b) for a, b in zip(m_next, m)),
            max(abs(a - b) for a, b in zip(u_next, u)),
        )
        p, m, u = p_next, m_next, u_next
        if delta < eps:
            break
    return (
        {c: FieldParams(m=m[j], u=u[j]) for j, c in enumerate(agree_cols)},
        p,
    )


class LevelParams(NamedTuple):
    """Multi-level (ordinal) comparison parameters: one probability per
    LEVEL instead of one per boolean outcome. ``m[l]`` = P(level = l |
    match), ``u[l]`` = P(level = l | non-match); both tuples sum to ~1
    over the field's levels. Level 0 is conventionally "disagree", the
    top level "exact agree", with graded similarity between — e.g. a
    3-level signature-chunk comparison (exact / within chunk_dist /
    beyond) extracts more evidence than collapsing exact and near into
    one boolean, because a true near-dup's chunks are mostly EXACT while
    a borderline impostor's merely NEAR."""

    m: tuple[float, ...]
    u: tuple[float, ...]


def _validate_levels(params: dict[str, LevelParams]) -> None:
    for name, lp in params.items():
        if len(lp.m) != len(lp.u) or len(lp.m) < 2:
            raise ValueError(
                f"field {name!r}: m and u need one entry per level "
                f"(>= 2 levels), got {len(lp.m)} and {len(lp.u)}"
            )
        for probs, tag in ((lp.m, "m"), (lp.u, "u")):
            if any(not (0.0 < x < 1.0) for x in probs):
                raise ValueError(
                    f"field {name!r}: every {tag}[l] must be strictly "
                    f"inside (0, 1), got {probs}"
                )


def level_weight(
    pairs: DataFrame,
    params: dict[str, LevelParams],
    weight_col: str = "fs_weight",
) -> DataFrame:
    """Summed Fellegi-Sunter weight over MULTI-LEVEL comparison columns:
    each field is a small-int level column (0..L-1; NULL = field missing)
    and contributes log2(m[l]/u[l]) at its observed level, 0 when NULL.
    Same scale shape as :func:`match_weight` — the per-level weights fold
    to Python-float literals inside ONE codegen CASE sum, a pure
    projection on the pair stream."""
    _validate_levels(params)
    total: Column | None = None
    for col, lp in params.items():
        term = F.when(F.col(col).isNull(), F.lit(0.0))
        for lvl, (ml, ul) in enumerate(zip(lp.m, lp.u)):
            term = term.when(F.col(col) == lvl, F.lit(math.log2(ml / ul)))
        # out-of-range level = caller bug; surface as NULL weight rather
        # than silently scoring 0 (ANSI mode will not mask it either)
        total = term if total is None else total + term
    assert total is not None, "params must not be empty"
    return pairs.withColumn(weight_col, total)


def estimate_mu_levels(
    pairs: DataFrame,
    level_cols: dict[str, int],
    p_init: float = 0.1,
    n_iter: int = 50,
    eps: float = 1e-6,
) -> tuple[dict[str, LevelParams], float]:
    """EM estimation of per-field per-LEVEL (m, u) and prevalence p from
    unlabeled pairs, generalizing :func:`estimate_mu` from boolean to
    categorical emissions (conditional independence across fields).

    ``level_cols`` maps column name -> number of levels L (values 0..L-1;
    NULL excluded from that field's statistics, contributing only its
    observed fields — same missing-at-random treatment as the boolean
    fit). Distributed cost is unchanged: ONE pattern-count aggregation
    (at most prod(L_j)+null-combination rows — tiny for the 2-4 fields /
    2-4 levels this models), then driver-side EM over the count table.

    Init breaks the match/non-match label symmetry by seeding m to favor
    HIGH levels and u to favor LOW levels (matches mostly agree exactly;
    random pairs mostly disagree) — the categorical analogue of
    m_init=0.9/u_init=0.1.
    """
    if not level_cols:
        raise ValueError("level_cols must not be empty")
    for c, n_levels in level_cols.items():
        if n_levels < 2:
            raise ValueError(f"field {c!r}: need >= 2 levels, got {n_levels}")
    names = list(level_cols)
    counts = (
        pairs.groupBy(*[F.col(c).cast("int").alias(c) for c in names])
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    patterns = [([row[c] for c in names], float(row["_n"])) for row in counts]
    for gamma, _ in patterns:
        for j, g in enumerate(gamma):
            if g is not None and not (0 <= g < level_cols[names[j]]):
                raise ValueError(
                    f"field {names[j]!r}: observed level {g} outside "
                    f"0..{level_cols[names[j]] - 1}"
                )
    k = len(names)
    sizes = [level_cols[c] for c in names]

    def _seed(size: int, rising: bool) -> list[float]:
        # geometric ramp across levels, normalized; rising=True puts the
        # mass on the top (exact) level
        raw = [2.0**i for i in range(size)]
        if not rising:
            raw.reverse()
        s = sum(raw)
        return [x / s for x in raw]

    m = [_seed(sizes[j], rising=True) for j in range(k)]
    u = [_seed(sizes[j], rising=False) for j in range(k)]
    p = p_init
    for _ in range(n_iter):
        m_new = [[0.0] * sizes[j] for j in range(k)]
        u_new = [[0.0] * sizes[j] for j in range(k)]
        m_den = [0.0] * k
        u_den = [0.0] * k
        p_num = 0.0
        total = 0.0
        for gamma, n in patterns:
            lm, lu = p, 1.0 - p
            for j, g in enumerate(gamma):
                if g is None:
                    continue
                lm *= m[j][g]
                lu *= u[j][g]
            w = lm / (lm + lu) if (lm + lu) > 0 else 0.0
            p_num += w * n
            total += n
            for j, g in enumerate(gamma):
                if g is None:
                    continue
                m_den[j] += w * n
                u_den[j] += (1.0 - w) * n
                m_new[j][g] += w * n
                u_new[j][g] += (1.0 - w) * n
        p_next = p_num / total if total else p_init

        def _norm(new_j: list[float], den: float, old_j: list[float]) -> list[float]:
            if not den:
                return old_j
            clipped = [min(max(x / den, eps), 1 - eps) for x in new_j]
            s = sum(clipped)
            return [x / s for x in clipped]

        m_next = [_norm(m_new[j], m_den[j], m[j]) for j in range(k)]
        u_next = [_norm(u_new[j], u_den[j], u[j]) for j in range(k)]
        delta = max(
            abs(p_next - p),
            max(
                abs(a - b)
                for j in range(k)
                for a, b in zip(m_next[j] + u_next[j], m[j] + u[j])
            ),
        )
        p, m, u = p_next, m_next, u_next
        if delta < eps:
            break
    return (
        {
            c: LevelParams(m=tuple(m[j]), u=tuple(u[j]))
            for j, c in enumerate(names)
        },
        p,
    )


def term_frequencies(records: DataFrame, col: str) -> DataFrame:
    """Relative frequency of each non-null value of ``col``:
    (value, tf_cnt, tf_n, tf) at distinct-value grain, tf = tf_cnt / tf_n.

    Feeds :func:`tf_adjusted_weight`. One map-side-combinable count per
    value plus a one-row broadcast total — no action, fully lazy. The
    output is distinct-value-sized: broadcastable for low-cardinality
    fields (lang, country, title); for high-cardinality fields pass
    ``broadcast=False`` downstream and let AQE place the join — the hot
    rows are the COMMON values, which is exactly where the adjustment
    bites, and a hash join on the agreed value handles them without
    blowing the driver.
    """
    counts = (
        records.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("tf_cnt"))
    )
    total = counts.agg(F.sum("tf_cnt").alias("tf_n"))
    return counts.crossJoin(F.broadcast(total)).withColumn(
        "tf", F.col("tf_cnt") / F.col("tf_n")
    )


def tf_adjusted_weight(
    pairs: DataFrame,
    agree_col: str,
    value_col: Column,
    fp: FieldParams,
    tfs: DataFrame,
    out_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """Single-field FS weight with a term-frequency adjustment (the
    Splink-style refinement of the classical model): agreement on value v
    scores ``log2(m / tf(v))`` instead of the field-average ``log2(m/u)``
    — agreeing on a RARE value (tf << u) is much stronger evidence than
    agreeing on a common one, e.g. two records sharing surname
    XANTHOPOULOS vs two sharing SMITH. Disagreement keeps the standard
    ``log2((1-m)/(1-u))``; NULL agreement contributes 0. When every value
    is equally common (tf == u for all v) the adjusted weight equals the
    base :func:`match_weight` term exactly.

    ``value_col`` is the record value the pair agreed on (either side —
    they're equal under agreement). The join key is NULL unless the pair
    agrees, so only agreeing pairs probe the frequency table; a value
    absent from ``tfs`` (impossible when the table was built from the
    same records) falls back to u. Cost on the pair stream: one
    broadcast-hash probe (``broadcast=True``, the default, for
    distinct-value tables that fit the driver) or one AQE-placed hash
    join — the scorer itself stays a codegen CASE projection.
    """
    _validate({agree_col: fp})
    key = F.when(F.col(agree_col), value_col)
    tf_side = tfs.select(F.col("value").alias("_tf_key"), "tf")
    if broadcast:
        tf_side = F.broadcast(tf_side)
    joined = pairs.withColumn("_tf_key", key).join(tf_side, "_tf_key", "left")
    agree_w = F.log2(F.lit(fp.m) / F.coalesce(F.col("tf"), F.lit(fp.u)))
    disagree_w = F.lit(math.log2((1.0 - fp.m) / (1.0 - fp.u)))
    w = (
        F.when(F.col(agree_col).isNull(), F.lit(0.0))
        .when(F.col(agree_col), agree_w)
        .otherwise(disagree_w)
    )
    return joined.withColumn(out_col, w).drop("_tf_key", "tf")


# ---------------------------------------------------------------------------
# Production composition: FS scoring over the pipeline's WIDE pair stream
# ---------------------------------------------------------------------------

DEFAULT_CHUNK_DIST = 4
DEFAULT_CANON_PREFIX = 16


def wide_pair_agreements(
    pairs_wide: DataFrame,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
    keep_canon_prefix: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Boolean comparison fields over the pipeline's wide candidate pairs
    (blocking.candidate_pairs_wide schema: conv_id_a/b, canon_a/b,
    c{i}_a/b signature chunk longs).

    Fields (all whole-stage-codegen expressions, no UDF, no shuffle;
    ``keep_canon_prefix=True`` additionally carries the a-side canon
    prefix value through — the join key for term-frequency adjustment):

    * ``agree_c{i}`` — bit_count(c{i}_a ^ c{i}_b) <= chunk_dist: the
      reference's within-distance predicate (python_hexhamming.cc:62-64)
      applied PER 32-bit signature chunk. Chunk-level agreement carries
      more information than the global distance alone: a true near-dup's
      few flipped bits leave most chunks inside the small radius, while a
      random pair disperses ~half-flipped bits across every chunk — so the
      agreement PATTERN separates concentrated from dispersed difference
      at the same global hamming distance.
    * ``agree_canon`` — equality of the first ``canon_prefix_len`` chars of
      the canonical keys (the Jaro-Winkler term's field analogue).

    Returns (pairs with agreement columns appended, agreement col names).
    """
    from .scoring import N_CHUNKS, hamming_jvm

    cols = []
    names = []
    for i in range(N_CHUNKS):
        nm = f"agree_c{i}"
        cols.append(
            (
                F.bit_count(
                    F.col(f"c{i}_a").bitwiseXOR(F.col(f"c{i}_b"))
                )
                <= F.lit(chunk_dist)
            ).alias(nm)
        )
        names.append(nm)
    cols.append(
        (
            F.substring("canon_a", 1, canon_prefix_len)
            == F.substring("canon_b", 1, canon_prefix_len)
        ).alias("agree_canon")
    )
    names.append("agree_canon")
    if keep_canon_prefix:
        cols.append(
            F.substring("canon_a", 1, canon_prefix_len).alias("canon_prefix")
        )
    return (
        pairs_wide.withColumn("hamming_dist", hamming_jvm()).select(
            "conv_id_a", "conv_id_b", "hamming_dist", *cols
        ),
        names,
    )


def default_threshold(p: float) -> float:
    """The posterior-0.5 decision weight: accept when the summed
    log2-likelihood ratio beats the prior odds against a match,
    log2((1-p)/p) — the parameter-free Bayes decision point, so a fitted
    model needs no hand-tuned cutoff."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"prevalence p must be in (0, 1), got {p}")
    return math.log2((1.0 - p) / p)


def fit_wide_pairs(
    pairs_wide: DataFrame,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
) -> tuple[dict[str, FieldParams], float]:
    """EM fit of the wide-pair comparison model from UNLABELED candidate
    pairs: one map-side-combinable pattern-count aggregation over the
    agreement booleans (<= 2^9 rows whatever the pair count), then
    driver-side EM (estimate_mu). Returns ({field: (m, u)}, prevalence)."""
    with_agree, names = wide_pair_agreements(
        pairs_wide, chunk_dist=chunk_dist, canon_prefix_len=canon_prefix_len
    )
    return estimate_mu(with_agree, names)


def canon_term_frequencies(
    signatures: DataFrame, canon_prefix_len: int = DEFAULT_CANON_PREFIX
) -> DataFrame:
    """Corpus frequency table of the canon-prefix comparison value, for
    term-frequency-adjusted FS scoring of the ``agree_canon`` field. Built
    from the SIGNATURES stage (one row per conversation), so the grain is
    distinct prefixes — data-sized, not pair-sized. In the runner this is
    a materialized stage table: incremental folds score under the CORPUS
    frequencies, mirroring how they reuse the fitted (m, u, p) model."""
    return term_frequencies(
        signatures.select(
            F.substring("canon", 1, canon_prefix_len).alias("canon_prefix")
        ),
        "canon_prefix",
    )


def score_wide_fs(
    pairs_wide: DataFrame,
    params: dict[str, FieldParams],
    threshold: float,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
    canon_tf: DataFrame | None = None,
    tf_broadcast: bool = False,
) -> DataFrame:
    """B6+B7 in Fellegi-Sunter mode: agreement fields → summed
    log2-likelihood weight → ``fs_weight >= threshold`` gate. The whole
    scorer is ONE codegen projection + filter on the pair stream — unlike
    the blend path there is no Python boundary at all (the Jaro-Winkler
    Arrow kernel is replaced by the canon-prefix field), so FS mode is the
    CHEAPER scorer as well as the calibrated one.

    ``canon_tf`` (from :func:`canon_term_frequencies`) switches the
    ``agree_canon`` field to its term-frequency-adjusted weight: sharing a
    CORPUS-COMMON opening (boilerplate greetings, templated preambles)
    stops counting as strong match evidence, while sharing a rare prefix
    counts for more. Cost: one hash join keyed on the agreed prefix —
    left default ``tf_broadcast=False`` because the distinct-prefix table
    scales with the corpus, and the hot join keys are precisely the
    common prefixes, which AQE's skew split handles; pass True only when
    the prefix table is known small. The chunk fields stay a pure codegen
    CASE either way.

    Output edges(conv_id_a, conv_id_b, hamming_dist, fs_weight)."""
    with_agree, names = wide_pair_agreements(
        pairs_wide,
        chunk_dist=chunk_dist,
        canon_prefix_len=canon_prefix_len,
        keep_canon_prefix=canon_tf is not None,
    )
    missing = set(names) - set(params)
    if missing:
        raise ValueError(f"params missing fields: {sorted(missing)}")
    if canon_tf is None:
        weighted = match_weight(with_agree, {n: params[n] for n in names})
    else:
        # Join BELOW the weight projection on the RAW a-side prefix (a
        # plain substring of a base attribute), not on the
        # when(agree_canon, prefix) key tf_adjusted_weight uses: a join
        # key that embeds the big agreement CASE trees sends Catalyst's
        # constraint inference (inferAdditionalConstraints) quadratic on
        # deep pair plans — the incremental fold's un-materialized
        # new-vs-all plan optimized for tens of minutes. Joining on the
        # simple key is semantics-identical (a disagreeing pair just
        # carries an unused tf) and keeps the giant CASEs in one
        # projection above the join.
        fp_canon = params["agree_canon"]
        tf_side = canon_tf.select(F.col("value").alias("_tf_key"), "tf")
        if tf_broadcast:
            tf_side = F.broadcast(tf_side)
        joined = with_agree.withColumn("_tf_key", F.col("canon_prefix")).join(
            tf_side, "_tf_key", "left"
        )
        chunk_fields = {n: params[n] for n in names if n != "agree_canon"}
        canon_term = (
            F.when(F.col("agree_canon").isNull(), F.lit(0.0))
            .when(
                F.col("agree_canon"),
                F.log2(F.lit(fp_canon.m) / F.coalesce(F.col("tf"), F.lit(fp_canon.u))),
            )
            .otherwise(
                F.lit(math.log2((1.0 - fp_canon.m) / (1.0 - fp_canon.u)))
            )
        )
        weighted = match_weight(joined, chunk_fields)
        weighted = weighted.withColumn(
            "fs_weight", F.col("fs_weight") + canon_term
        )
    return weighted.where(F.col("fs_weight") >= F.lit(threshold)).select(
        "conv_id_a", "conv_id_b", "hamming_dist", "fs_weight"
    )


def wide_pair_levels(
    pairs_wide: DataFrame,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
) -> tuple[DataFrame, dict[str, int]]:
    """Multi-level comparison fields over the wide candidate pairs — the
    ordinal refinement of :func:`wide_pair_agreements`. Every field is a
    3-level int (all codegen, no UDF, no shuffle):

    * ``lvl_c{i}`` — per-chunk signature comparison: 2 = chunks EXACTLY
      equal (dist 0), 1 = within ``chunk_dist`` (the reference's A3
      predicate, python_hexhamming.cc:62-64), 0 = beyond. A true near-dup
      leaves most chunks exactly equal; a borderline impostor at the same
      global distance shows merely-near chunks — a distinction the
      boolean model throws away.
    * ``lvl_canon`` — canonical-key comparison: 2 = first
      ``canon_prefix_len`` chars equal, 1 = only the first half agrees,
      0 = neither.

    Returns (pairs with level columns + hamming_dist, {field: n_levels}).
    """
    from .scoring import N_CHUNKS, hamming_jvm

    cols = []
    levels: dict[str, int] = {}
    for i in range(N_CHUNKS):
        nm = f"lvl_c{i}"
        d = F.bit_count(F.col(f"c{i}_a").bitwiseXOR(F.col(f"c{i}_b")))
        cols.append(
            F.when(d == 0, F.lit(2))
            .when(d <= F.lit(chunk_dist), F.lit(1))
            .otherwise(F.lit(0))
            .alias(nm)
        )
        levels[nm] = 3
    half = max(1, canon_prefix_len // 2)
    cols.append(
        F.when(
            F.substring("canon_a", 1, canon_prefix_len)
            == F.substring("canon_b", 1, canon_prefix_len),
            F.lit(2),
        )
        .when(
            F.substring("canon_a", 1, half) == F.substring("canon_b", 1, half),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("lvl_canon")
    )
    levels["lvl_canon"] = 3
    return (
        pairs_wide.withColumn("hamming_dist", hamming_jvm()).select(
            "conv_id_a", "conv_id_b", "hamming_dist", *cols
        ),
        levels,
    )


def fit_wide_levels(
    pairs_wide: DataFrame,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
) -> tuple[dict[str, LevelParams], float]:
    """EM fit of the multi-level wide-pair model from unlabeled candidate
    pairs — one pattern-count aggregation (<= 3^9 rows whatever the pair
    count), then driver EM (estimate_mu_levels)."""
    with_levels, levels = wide_pair_levels(
        pairs_wide, chunk_dist=chunk_dist, canon_prefix_len=canon_prefix_len
    )
    return estimate_mu_levels(with_levels, levels)


def score_wide_fs_levels(
    pairs_wide: DataFrame,
    params: dict[str, LevelParams],
    threshold: float,
    chunk_dist: int = DEFAULT_CHUNK_DIST,
    canon_prefix_len: int = DEFAULT_CANON_PREFIX,
) -> DataFrame:
    """FS scoring + gate under the multi-level model: level fields →
    summed per-level log2-likelihood weight → ``fs_weight >= threshold``.
    One codegen projection + filter, no Python boundary (same plan shape
    as :func:`score_wide_fs`).

    Output edges(conv_id_a, conv_id_b, hamming_dist, fs_weight)."""
    with_levels, levels = wide_pair_levels(
        pairs_wide, chunk_dist=chunk_dist, canon_prefix_len=canon_prefix_len
    )
    missing = set(levels) - set(params)
    if missing:
        raise ValueError(f"params missing fields: {sorted(missing)}")
    weighted = level_weight(with_levels, {n: params[n] for n in levels})
    return weighted.where(F.col("fs_weight") >= F.lit(threshold)).select(
        "conv_id_a", "conv_id_b", "hamming_dist", "fs_weight"
    )


def level_params_to_json(params: dict[str, LevelParams], p: float) -> dict:
    """Manifest-serializable multi-level model (levels key marks the
    format so a reader can't confuse it with the boolean model)."""
    return {
        "p": p,
        "levels": {k: [list(lp.m), list(lp.u)] for k, lp in params.items()},
    }


def level_params_from_json(d: dict) -> tuple[dict[str, LevelParams], float]:
    return (
        {
            k: LevelParams(m=tuple(v[0]), u=tuple(v[1]))
            for k, v in d["levels"].items()
        },
        d["p"],
    )


def params_to_json(params: dict[str, FieldParams], p: float) -> dict:
    """Manifest-serializable form of a fitted model — the runner stores it
    so INCREMENTAL batches score with the model fitted on the full corpus
    instead of refitting on a tiny batch."""
    return {"p": p, "fields": {k: [fp.m, fp.u] for k, fp in params.items()}}


def params_from_json(d: dict) -> tuple[dict[str, FieldParams], float]:
    return (
        {k: FieldParams(m=v[0], u=v[1]) for k, v in d["fields"].items()},
        d["p"],
    )
