"""Corpus-trained n-gram language-model quality scoring — the CCNet-style
filter (Wenzek et al. 2020) a training-data pipeline runs after the cheap
character heuristics (ops/text.quality_score) and before dedup: score
every document's cross-entropy under a language model trained on the
corpus itself (or a trusted reference slice of it), then keep the
head/middle of the perplexity distribution. This container has no KenLM;
the model here is a self-contained add-k-smoothed bigram LM expressed
entirely as Spark aggregates and joins — no Python in any hot path, no
external artifacts.

Model definition (exact, documented — the pure-Python test oracle
replays it arithmetic-for-arithmetic):

* Tokens: ops/quality.words_array (lowercased [a-z0-9]+ runs) — the SAME
  normalization as the repetition filters and the KN trigram LM, so every
  text operator in the package tokenizes identically.
* Vocabulary V: tokens with train count >= min_count; N = total token
  occurrences (all tokens, including rare ones — mass never vanishes).
* Unigram: lp1(w) = log2((c(w) + k) / (N + k * (V + 1))), with c(w) = 0
  for out-of-vocabulary tokens (the +1 is the implicit <unk> class).
* Bigram conditional, stupid-backoff flavored: lp2(w2 | w1) =
  log2((c(w1 w2) + k) / (c(w1) + k * (V + 1))) when w1 is in vocabulary,
  else lp1(w2) (no context mass to condition on).
* Document score: H = -(lp1(w_1) + sum_i lp2(w_{i+1} | w_i)) / n tokens
  (bits per token); perplexity = 2^H. Zero-token documents emit null
  scores rather than fake numbers.

Execution shape at 100 TB: training is two map-side-combinable count
aggregates (unigram, bigram) — the classic word-count shape, no skew
beyond Zipf head keys which partial aggregation absorbs. Scoring
explodes each document's bigrams in-row (codegen HOFs) and pays two
equi-joins against the count tables (broadcastable when the model is
capped, shuffle joins otherwise) plus one doc_id-keyed aggregate. Log
arithmetic is float, so this family is pytest-pinned by an
identical-arithmetic oracle, not driver-hash-gated.

Reference anchor: no analogue in hexhamming; training-data surface per
the round brief.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hexspark.ops.quality import word_ngrams, words_array


@dataclass(frozen=True)
class BigramLM:
    """Trained model handle: the two count tables plus scalar stats.

    unigrams: (w, c1) for vocabulary tokens (count >= min_count).
    bigrams:  (w1, w2, c12) restricted to in-vocabulary w1 (conditionals
              for OOV contexts back off to unigrams by definition).
    n_tokens: total train token occurrences (incl. OOV). vocab_size: |V|.
    """

    unigrams: DataFrame
    bigrams: DataFrame
    n_tokens: int
    vocab_size: int
    k: float


def train_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    k: float = 0.5,
) -> BigramLM:
    """Fit the bigram LM on a corpus (two count aggregates, one tiny
    scalar collect for (N, V))."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")
    if not k > 0:
        raise ValueError(f"smoothing k must be > 0 (got {k})")
    words = docs.select(words_array(F.col(text_col)).alias("_ws"))
    uni_all = (
        words.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    totals = uni_all.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("c1") >= min_count, 1).otherwise(0)), F.lit(0)
        ).alias("v"),
    ).first()
    vocab = uni_all.where(F.col("c1") >= min_count)
    bi = (
        words.select(F.explode(word_ngrams(F.col("_ws"), 2)).alias("g"))
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        # conditionals only exist for in-vocab contexts; OOV w1 backs off
        .join(vocab.select(F.col("w").alias("w1")), "w1", "left_semi")
    )
    return BigramLM(
        unigrams=vocab,
        bigrams=bi,
        n_tokens=int(totals["n"]),
        vocab_size=int(totals["v"]),
        k=float(k),
    )


def lm_score(
    docs: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document (n_tokens, cross_entropy bits/token, perplexity).

    The count-table joins carry no broadcast hint: AQE broadcasts a table
    whose measured size fits the threshold (a min_count-capped model) and
    shuffle-joins a huge one.
    """
    uni, bi = lm.unigrams, lm.bigrams
    denom_pad = F.lit(lm.k * (lm.vocab_size + 1))
    lp1 = lambda c1: F.log2(
        (F.coalesce(c1, F.lit(0)) + lm.k) / (F.lit(float(lm.n_tokens)) + denom_pad)
    )

    base = docs.select(F.col(id_col).alias("_id"), words_array(F.col(text_col)).alias("_ws"))
    # position grain: (doc, i, w1, w2) with w2 null on the last position —
    # one in-row sequence, so the first-token unigram term and every
    # bigram term flow through ONE explode + the same two joins
    pos = base.select(
        "_id",
        F.size("_ws").alias("_n"),
        F.posexplode_outer(
            F.transform(
                F.col("_ws"),
                # F.get is 0-indexed and null past the end (element_at
                # would THROW under ANSI mode on the last position)
                lambda w, i: F.struct(
                    w.alias("w"),
                    F.get(F.col("_ws"), i + 1).alias("w_next"),
                ),
            )
        ).alias("_i", "_t"),
    ).select("_id", "_n", F.col("_t.w").alias("w"), F.col("_t.w_next").alias("w_next"), "_i")

    scored = (
        pos.join(uni.select(F.col("w").alias("w"), F.col("c1").alias("c_w")), "w", "left")
        .join(
            bi.select(
                F.col("w1").alias("w"), F.col("w2").alias("w_next"), F.col("c12")
            ),
            ["w", "w_next"],
            "left",
        )
    )
    # term at position i: i==0 contributes lp1(w); every position with a
    # next token contributes the transition term for (w -> w_next)
    trans = F.when(
        F.col("c_w").isNotNull(),
        F.log2(
            (F.coalesce(F.col("c12"), F.lit(0)) + lm.k)
            / (F.col("c_w") + denom_pad)
        ),
    ).otherwise(
        # OOV context: back off to the unigram of the NEXT token (needs
        # its own count — resolved by a second unigram join below)
        F.lit(None).cast("double")
    )
    # second unigram lookup for the backoff target
    scored = scored.join(
        uni.select(F.col("w").alias("w_next"), F.col("c1").alias("c_next")),
        "w_next",
        "left",
    ).select(
        "_id",
        "_n",
        (
            F.when(F.col("_i") == 0, lp1(F.col("c_w"))).otherwise(F.lit(0.0))
            + F.when(
                F.col("w_next").isNotNull(),
                F.coalesce(trans, lp1(F.col("c_next"))),
            ).otherwise(F.lit(0.0))
        ).alias("lp"),
    )
    agg = scored.groupBy("_id").agg(
        F.first("_n").alias("n_tokens"), F.sum("lp").alias("lp_sum")
    )
    h = F.when(F.col("n_tokens") > 0, -F.col("lp_sum") / F.col("n_tokens"))
    return agg.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        h.alias("cross_entropy"),
        F.pow(F.lit(2.0), h).alias("perplexity"),
    )
