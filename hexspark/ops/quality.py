"""Repetition-based document quality filters — the Gopher/MassiveText
family of intra-document repetition signals (Rae et al. 2021, §A1.1) a
training-data pipeline applies before dedup: excessively self-repetitive
documents (scraper loops, boilerplate walls, keyword stuffing) are cheap
to detect from within-document n-gram statistics alone, no corpus-wide
state needed.

Per document this module computes, with exact integer numerators and one
IEEE division each (the repo-wide exactness discipline):

* ``dup_line_frac`` — duplicated lines / total lines, where a line is
  duplicated if its verbatim text occurs more than once in the document
  (ALL occurrences of a duplicated line count, the Gopher convention —
  same as ``dup_line_char_frac`` below).
* ``dup_line_char_frac`` — characters inside lines whose text occurs
  more than once (ALL occurrences count, as in Gopher) / total line
  characters.
* ``top_bigram_char_frac`` — max over word bigrams of
  occurrences x bigram-characters, / total word characters: the share of
  the document a single repeated two-word phrase could cover. (Gopher
  reports the most-FREQUENT bigram's coverage; taking the max of the
  coverage product is deterministic without tie-break rules and is the
  same signal — documented variant.)
* ``dup_trigram_char_frac`` — sum over word trigrams occurring more than
  once of occurrences x trigram-characters, / total word characters.

Execution shape: words/bigrams/trigrams are built IN-ROW with codegen
higher-order functions (transform over sequence — no Python), then each
grain explodes and aggregates keyed on doc_id — three hash aggregates
whose exchanges are all on the same doc_id key, so at 100 TB this is
embarrassingly parallel with map-side partial aggregation and no skew
beyond document size itself (bounded by max doc length, not corpus
shape). Degenerate documents (no lines, fewer words than n) emit 0.0
fractions, never nulls or divide-by-zero.

Reference anchor: no analogue in hexhamming; part of the training-data
surface the round brief adds on top of the reference's operator set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def words_array(text_col):
    """Lowercased word array: runs of [a-z0-9] after lowering. Shared
    normalization for the repetition filters and the language models
    (ops/lm.py, ops/kn.py): one definition, so every text operator
    tokenizes identically."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(r"[a-z0-9]+"), F.lit(0))


def word_ngrams(words_col, n: int):
    """In-row word n-grams as space-joined strings (empty array if the
    document has fewer than n words).

    PERFORMANCE CONTRACT: pass a MATERIALIZED column reference (project
    words_array(...) to a named column first), never the words_array
    expression inline — the gram builder reads its input once per F.get,
    so an inlined tokenizer would re-run the regex n times per gram
    (measured 15x wall-clock on an 8-gram contamination check). A
    projection boundary is enough: CollapseProject declines to inline
    expensive multiply-referenced expressions."""
    size = F.size(words_col)
    idx = F.sequence(F.lit(0), size - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words_col, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition fractions (see module docstring).

    Returns (id, n_lines, n_word_chars, dup_line_frac, dup_line_char_frac,
    top_bigram_char_frac, dup_trigram_char_frac).
    """
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), "\n").alias("_lines"),
        words_array(F.col(text_col)).alias("_words"),
    )

    # line grain: per-(doc, line-text) occurrence counts
    lines = (
        base.select("_id", F.explode("_lines").alias("line"))
        .groupBy("_id", "line")
        .agg(F.count(F.lit(1)).alias("c"), F.length(F.first("line")).alias("len"))
        .groupBy("_id")
        .agg(
            F.sum("c").alias("n_lines"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_lines"),
            F.sum(F.col("c") * F.col("len")).alias("line_chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("len")).otherwise(0)
            ).alias("dup_line_chars"),
        )
    )

    def _gram_agg(n: int, out_expr):
        grain = (
            base.select(
                "_id",
                F.explode_outer(word_ngrams(F.col("_words"), n)).alias("g"),
            )
            .groupBy("_id", "g")
            .agg(
                F.count(F.when(F.col("g").isNotNull(), 1)).alias("c"),
                # characters of one occurrence: gram length minus the n-1
                # joiner spaces (exact, since words are [a-z0-9]+ runs)
                (F.length(F.first("g")) - (n - 1)).alias("len"),
            )
        )
        return grain.groupBy("_id").agg(out_expr)

    big = _gram_agg(
        2, F.max(F.coalesce(F.col("c") * F.col("len"), F.lit(0))).alias("top_bigram_chars")
    )
    tri = _gram_agg(
        3,
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.col("len")).otherwise(0)
        ).alias("dup_trigram_chars"),
    )
    word_chars = base.select(
        "_id",
        F.aggregate(
            F.transform(F.col("_words"), F.length),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("n_word_chars"),
    )

    out = (
        word_chars.join(lines, "_id", "left")
        .join(big, "_id", "left")
        .join(tri, "_id", "left")
    )
    frac = lambda num, den: F.when(
        F.coalesce(den, F.lit(0)) > 0,
        F.coalesce(num, F.lit(0)).cast("double") / den,
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.col("n_word_chars"),
        frac(F.col("dup_lines"), F.col("n_lines")).alias("dup_line_frac"),
        frac(F.col("dup_line_chars"), F.col("line_chars")).alias("dup_line_char_frac"),
        frac(F.col("top_bigram_chars"), F.col("n_word_chars")).alias("top_bigram_char_frac"),
        frac(F.col("dup_trigram_chars"), F.col("n_word_chars")).alias("dup_trigram_char_frac"),
    )


# Gopher §A1.1 thresholds for the fractions this module computes
# (duplicate-line fraction 0.30, duplicate-line character fraction 0.20,
# top-2-gram character fraction 0.20, duplicated-3-gram coverage is the
# closest analogue of its duplicated-n-gram family — 0.18 is its 5-gram
# bound, kept as the documented default here).
DEFAULT_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_bigram_char_frac": 0.20,
    "dup_trigram_char_frac": 0.18,
}


def repetition_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
) -> DataFrame:
    """repetition_stats + a keep/drop verdict column.

    ``keep`` is true iff every fraction is at or under its threshold.
    Unknown threshold keys fail loud (a silently-ignored misspelled
    threshold would un-gate the filter).
    """
    th = dict(DEFAULT_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown threshold keys: {sorted(unknown)}")
        th.update(thresholds)
    stats = repetition_stats(docs, id_col, text_col)
    keep = F.lit(True)
    for k, v in th.items():
        keep = keep & (F.col(k) <= F.lit(float(v)))
    return stats.withColumn("keep", keep)
