"""Deterministic sampling for training-data pipelines.

`df.sample()` is seed-dependent but NOT content-stable: it draws from a
per-partition RNG stream, so the sampled set changes whenever partitioning,
row order, or cluster size changes — useless for reproducible corpus cuts,
A/B-stable eval splits, or cross-engine verification. These operators key
every draw off a HASH OF THE ROW'S OWN KEY instead:

* the decision for a row never depends on where it is or what else is in
  the table — adding data later keeps every earlier decision (stable
  incremental corpus growth);
* the same row lands in the same split on any engine that can compute md5
  (which is exactly what makes the DuckDB oracles possible);
* it's a pure Catalyst projection — no RNG state, no UDF, no shuffle for
  mixture_sample's per-domain bernoulli filter; the stratified form costs
  the one hash exchange any per-group top-k costs.

Hash choice: the first 12 hex chars of md5(salt || key) as a 48-bit uniform
integer. md5 is overkill-strong for sampling but is the one keyed hash both
Spark and DuckDB (and every other engine) expose identically; 48 bits keeps
the value exactly representable in a DOUBLE and in a SQL BIGINT, so the
threshold compare is bit-identical everywhere.

Reference parity note: the reference engine (hexhamming) has no sampling
surface; these extend the engine for the corpus-construction workflows
SURVEY.md §2.4 targets (dedup → quality-gate → SAMPLE → train).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HASH_BITS = 48
_HASH_MAX = float(1 << _HASH_BITS)  # exclusive upper bound, exact in double


def _key_hash(key_col, salt: str):
    """Uniform 48-bit integer from md5(salt || key), as a long column."""
    hx = F.md5(F.concat(F.lit(salt), key_col.cast("string")))
    return F.conv(F.substring(hx, 1, 12), 16, 10).cast("long")


def split_assign(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    salt: str = "s0",
    col_name: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test, ...)
    with probability proportional to ``weights`` — the standard ML split,
    content-stable and engine-portable. Splits are exhaustive and disjoint
    by construction: the [0, 2^48) hash range is cut into contiguous
    sub-ranges, one per split, in the (deterministic) insertion order of
    ``weights``; any residue from rounding goes to the last split.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: w for k, w in weights.items() if w < 0}
    if bad:
        raise ValueError(f"negative weights: {bad}")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to > 0")

    h = _key_hash(F.col(key), salt)
    names = list(weights)
    # cumulative integer boundaries; last boundary forced to 2^48 so the
    # ranges cover the whole hash space exactly
    bounds, acc = [], 0.0
    for name in names[:-1]:
        acc += weights[name] / total
        bounds.append(int(acc * _HASH_MAX))
    # when-chain in boundary order: the FIRST matching upper bound wins, so
    # each split owns the contiguous range [previous_bound, bound)
    cond = None
    for name, b in zip(names[:-1], bounds):
        this = h < F.lit(b)
        cond = F.when(this, F.lit(name)) if cond is None else cond.when(this, F.lit(name))
    expr = cond.otherwise(F.lit(names[-1])) if cond is not None else F.lit(names[-1])
    return df.withColumn(col_name, expr)


def stratified_sample_n(
    df: DataFrame, strata: str, key: str, n_per_stratum: int, salt: str = "s0"
) -> DataFrame:
    """Exactly-n-per-group sample: within each ``strata`` value, keep the
    ``n_per_stratum`` rows with the smallest key hash (ties broken by key —
    impossible anyway for distinct keys under a 48-bit hash at sane group
    sizes, but makes the result total-order deterministic regardless).

    This is the deterministic replacement for per-group reservoir sampling:
    the "reservoir" is just the bottom-n of a uniform hash order, so it is
    stable under reruns AND under incremental appends (a new row only
    enters a group's sample by displacing the current max-hash member —
    exactly reservoir semantics, without RNG state). Cost: the same single
    hash exchange + per-partition top-n any window top-k pays; no global
    sort.
    """
    if n_per_stratum <= 0:
        raise ValueError(f"n_per_stratum must be positive, got {n_per_stratum}")
    h = _key_hash(F.col(key), salt)
    w = Window.partitionBy(strata).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def mixture_sample(
    df: DataFrame,
    domain: str,
    key: str,
    target_weights: dict[str, float],
    scale: float = 1.0,
    salt: str = "s0",
) -> tuple[DataFrame, dict[str, dict]]:
    """Deterministic data-mixing sampler: downsample each ``domain`` so the
    OUTPUT corpus hits ``target_weights`` proportions (the mixture step a
    training pipeline runs last — e.g. 60% web, 30% code, 10% dialogue —
    Gopher/Llama-style source re-weighting, without RNG).

    Rates are the exact water-line solution with downsampling only (no row
    is ever duplicated): the largest output size with exact proportions is
    N_out = min_d(count_d / w_d), so rate_d = w_d * N_out * scale /
    count_d — the binding (scarcest-relative-to-target) domain keeps 100%
    at scale=1 and every other domain is thinned to match. Domains absent
    from ``target_weights`` are dropped (weight 0 — the filter is part of
    the mixing contract); target domains missing from the corpus fail
    loud rather than silently skewing the mixture.

    The keep decision is the content-stable 48-bit md5 rule, keep iff
    md5(salt || key) / 2^48 < rate (per-domain thresholds in ONE codegen
    CASE filter), so the cut is reproducible across runs, partitionings, and
    engines; the only pre-pass is one map-side-combinable domain count.

    Returns (sampled_df, plan) where plan[d] = {"count": corpus count,
    "rate": keep rate, "expected": rate * count} — the audit table.
    """
    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    if any(w <= 0 for w in target_weights.values()):
        raise ValueError("target weights must be positive (omit a domain to drop it)")
    if not 0.0 < scale <= 1.0:
        raise ValueError(f"scale must be in (0, 1], got {scale}")
    total_w = float(sum(target_weights.values()))
    weights = {d: w / total_w for d, w in target_weights.items()}
    counts = {
        r["d"]: r["c"]
        for r in df.groupBy(F.col(domain).alias("d")).agg(F.count(F.lit(1)).alias("c")).collect()
        if r["d"] in weights
    }
    missing = sorted(set(weights) - set(counts))
    if missing:
        raise ValueError(f"target domains missing from the corpus: {missing}")
    n_out = min(counts[d] / w for d, w in weights.items()) * scale
    plan: dict[str, dict] = {}
    cond = None
    h = _key_hash(F.col(key), salt)
    for d in sorted(weights):
        rate = min(1.0, weights[d] * n_out / counts[d])
        thresh = int(rate * _HASH_MAX)
        plan[d] = {"count": counts[d], "rate": rate, "expected": rate * counts[d]}
        this = (F.col(domain) == F.lit(d)) & (h < F.lit(thresh))
        cond = this if cond is None else cond | this
    return df.where(cond), plan
