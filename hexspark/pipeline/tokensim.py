"""Monge-Elkan token-level string comparison, pure Catalyst.

Field-level scorers (Jaro-Winkler, Levenshtein) treat a value as one
string, so token reorderings ("Robert Smith" vs "Smith, Robert") and
multi-token typos score poorly.
Monge & Elkan (1996) fix this with a two-level scheme: tokenize both
values, score every token of A against its BEST counterpart in B with an
inner character-level similarity, and average the bests:

    ME(A -> B) = (1/|A|) * sum_{ta in A} max_{tb in B} sim(ta, tb)

This module keeps the whole computation inside whole-stage codegen using
nested higher-order functions — ``aggregate(transform(tokens_a, ta ->
array_max(transform(tokens_b, tb -> sim(ta, tb)))))`` — so scoring a
candidate-pair frame adds NO shuffle, NO explode, and NO Python: per-row
work is the |A|x|B| token matrix evaluated by generated JVM code, with
|A|,|B| bounded by the tokenizer. That is the only shape that survives a
10^12-pair stream; the explode-join-regroup formulation would triple the
pair frame's row count and add two exchanges.

Scores are integer milli-similarities end to end (the inner similarity is
``1000 - (1000 * levenshtein) // max_len``), so every output column is an
exact integer on any engine — no float cell for an oracle to round
differently (the event_sessions lesson).

Reference anchor: hexhamming scores fixed-width signatures with one
global distance (hamming_distance, python_hexhamming.cc:33-42);
Monge-Elkan is the field-content counterpart for the survivorship /
clean-clean linkage stages (pipeline/linkage.py, pipeline/canonicalize.py)
where entity names, not fingerprints, must be compared.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(col: Column) -> Column:
    """lowercase alnum tokens, empties removed — the assemble.py:39 canon
    family applied per token."""
    canon = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " ")
    return F.filter(F.split(F.trim(canon), " +"), lambda t: F.length(t) > 0)


def inner_sim_milli(ta: Column, tb: Column) -> Column:
    """Normalized Levenshtein as an exact integer in [0, 1000]:
    1000 - (1000 * lev(ta, tb)) // max(len(ta), len(tb)).

    Levenshtein is a Spark codegen builtin (and a DuckDB builtin), so the
    inner loop never leaves the JVM and the SQL mirror is one expression.
    """
    maxlen = F.greatest(F.length(ta), F.length(tb))
    return (
        F.lit(1000)
        - F.floor((F.lit(1000) * F.levenshtein(ta, tb)) / maxlen).cast("int")
    ).cast("int")


def _best_sum(tokens_a: Column, tokens_b: Column) -> Column:
    """sum over ta in tokens_a of max over tb in tokens_b of sim(ta, tb);
    0 when either side is empty."""
    bests = F.transform(
        tokens_a,
        lambda ta: F.array_max(F.transform(tokens_b, lambda tb: inner_sim_milli(ta, tb))),
    )
    return F.when(
        (F.size(tokens_a) > 0) & (F.size(tokens_b) > 0),
        F.aggregate(bests, F.lit(0), lambda acc, x: acc + x),
    ).otherwise(F.lit(0)).cast("int")


def monge_elkan(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    prefix: str = "me",
) -> DataFrame:
    """Append integer Monge-Elkan columns to a candidate-pair frame.

    Adds four exact-integer columns (both directions, since ME is
    asymmetric; consumers that want the symmetric variant take
    ``(sum_ab/n_a + sum_ba/n_b) / 2`` at the edge):

    * ``{prefix}_sum_ab`` — sum of best-match milli-sims, A tokens vs B
    * ``{prefix}_n_a``    — token count of A (divide at the edge)
    * ``{prefix}_sum_ba`` / ``{prefix}_n_b`` — the reverse direction

    Narrow map stage: no exchange, no Python boundary.
    """
    ta = _tokens(F.col(col_a))
    tb = _tokens(F.col(col_b))
    return (
        pairs.withColumn("_ts_a", ta)
        .withColumn("_ts_b", tb)
        .withColumn(f"{prefix}_sum_ab", _best_sum(F.col("_ts_a"), F.col("_ts_b")))
        .withColumn(f"{prefix}_n_a", F.size("_ts_a").cast("int"))
        .withColumn(f"{prefix}_sum_ba", _best_sum(F.col("_ts_b"), F.col("_ts_a")))
        .withColumn(f"{prefix}_n_b", F.size("_ts_b").cast("int"))
        .drop("_ts_a", "_ts_b")
    )


def monge_elkan_gate(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    min_sym_milli: int = 850,
) -> DataFrame:
    """Match filter on the SYMMETRIC Monge-Elkan score, tested with integer
    cross-multiplication so no float is materialized:

        sum_ab/n_a + sum_ba/n_b >= 2 * t
        <=>  sum_ab * n_b + sum_ba * n_a >= 2 * t * n_a * n_b

    (n_a, n_b >= 1 enforced; token counts are tokenizer-bounded so the
    products stay far inside 64-bit range.)
    """
    scored = monge_elkan(pairs, col_a, col_b)
    lhs = (
        F.col("me_sum_ab").cast("bigint") * F.col("me_n_b")
        + F.col("me_sum_ba").cast("bigint") * F.col("me_n_a")
    )
    rhs = (
        F.lit(2 * int(min_sym_milli))
        * F.col("me_n_a").cast("bigint")
        * F.col("me_n_b")
    )
    return scored.where(
        (F.col("me_n_a") > 0) & (F.col("me_n_b") > 0) & (lhs >= rhs)
    )


def tfidf_weight_arrays(
    docs: DataFrame,
    id_col: str,
    text: Column,
    out_col: str = "wtoks",
) -> DataFrame:
    """(id, <out_col>: array<struct<token, w>>) — each record's distinct
    tokens with L2-NORMALIZED idf weights, the per-record vector SoftTFIDF
    consumes. With distinct tokens TF = 1, so Cohen's V(w,S) =
    log(TF+1)·log(IDF) collapses to a constant times ln(N/df) — and the
    constant cancels under the L2 norm, leaving w = ln(N/df) / ||·||.
    Corpus-wide ubiquitous tokens (df = N) get weight 0; a record made
    only of those gets an all-zero vector (norm guard). The doc count
    rides a one-row broadcast cross join (no driver action), df is one
    map-side-combinable aggregate; arrays are token-sorted so downstream
    left-folds are order-deterministic."""
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(_tokens(text))).alias("token")
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    weighted = (
        toks.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_v", F.log(F.col("_n") / F.col("_df")))
    )
    arr = weighted.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("token", "_v"))).alias("_a"),
        F.sqrt(F.sum(F.col("_v") * F.col("_v"))).alias("_norm"),
    )
    return arr.select(
        F.col(id_col),
        F.transform(
            "_a",
            lambda x: F.struct(
                x["token"].alias("token"),
                F.when(F.col("_norm") > 0, x["_v"] / F.col("_norm"))
                .otherwise(F.lit(0.0))
                .alias("w"),
            ),
        ).alias(out_col),
    )


def _soft_tfidf_dir(arr_a: Column, arr_b: Column, theta_milli: int) -> Column:
    """SoftTFIDF in one direction: sum over A's tokens whose best
    character-level match in B clears theta of
    w_a · w_best · sim/1000. Ties on sim break toward the larger w (the
    product is what matters; equal (sim, w) pairs give equal terms)."""

    def term(x):
        best = F.array_max(
            F.transform(
                arr_b,
                lambda y: F.struct(
                    inner_sim_milli(x["token"], y["token"]).alias("sim"),
                    y["w"].alias("w"),
                ),
            )
        )
        return F.when(
            best["sim"] >= F.lit(theta_milli),
            x["w"] * best["w"] * (best["sim"] / F.lit(1000.0)),
        ).otherwise(F.lit(0.0))

    return F.when(
        (F.size(arr_a) > 0) & (F.size(arr_b) > 0),
        F.aggregate(arr_a, F.lit(0.0), lambda acc, x: acc + term(x)),
    ).otherwise(F.lit(0.0))


def soft_tfidf(
    pairs: DataFrame,
    docs: DataFrame,
    id_a: str,
    id_b: str,
    id_col: str,
    text: Column,
    theta_milli: int = 900,
    prefix: str = "st",
) -> DataFrame:
    """Append SoftTFIDF columns (Cohen, Ravikumar & Fienberg 2003 — the
    hybrid comparator that fixed both failure modes at once: pure token
    measures miss per-token typos, pure character measures drown a typo'd
    token in unrelated context) to a candidate-pair frame:

    * ``{prefix}_ab``: Σ over A-tokens with a Levenshtein-milli best match
      >= theta_milli in B of w_A(t) · w_B(best) · sim/1000, with
      L2-normalized idf weights from tfidf_weight_arrays — 1.0 for
      identical token sets, 0 for disjoint ones, rare-token agreement
      counting far above stopword agreement.
    * ``{prefix}_ba``: the reverse direction (the measure is asymmetric;
      symmetric consumers average at the edge).

    Plan: two equi-joins attaching the weight arrays to the pair frame
    (record-id keyed), then a pure codegen nested-HOF expression — the
    same no-explode no-Python shape as monge_elkan. Float output (the idf
    logs), so pytest-pinned rather than hash-gated, like NMI."""
    arrs = tfidf_weight_arrays(docs, id_col, text)
    wa = arrs.select(F.col(id_col).alias(id_a), F.col("wtoks").alias("_wa"))
    wb = arrs.select(F.col(id_col).alias(id_b), F.col("wtoks").alias("_wb"))
    # left joins: a tokenless record has no weight row, but its PAIRS must
    # survive with score 0 (this appends columns, it must not drop rows);
    # the size() guard in _soft_tfidf_dir turns the NULL array into 0.0
    return (
        pairs.join(wa, id_a, "left")
        .join(wb, id_b, "left")
        .withColumn(
            f"{prefix}_ab",
            _soft_tfidf_dir(F.col("_wa"), F.col("_wb"), theta_milli),
        )
        .withColumn(
            f"{prefix}_ba",
            _soft_tfidf_dir(F.col("_wb"), F.col("_wa"), theta_milli),
        )
        .drop("_wa", "_wb")
    )
