"""Text-analysis operators: token counting, quality scoring, language-ID
heuristic, document fingerprinting. All pure Catalyst column expressions
(JVM codegen, no UDF) so they survive 100 TB scans and push down cleanly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_PUNCT_CLASS = "[.,!?;:]"


def token_count(text_col):
    """Whitespace token count (split on single spaces, empty tokens kept —
    identical to DuckDB string_split semantics for oracle parity)."""
    return F.size(F.split(text_col, " "))


def punct_ratio(text_col):
    clean = F.regexp_replace(text_col, _PUNCT_CLASS, "")
    return (F.length(text_col) - F.length(clean)).cast("double") / F.length(text_col)


def stopword_hits(text_col):
    toks = F.split(F.lower(text_col), " ")
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def quality_score(text_col):
    """Heuristic quality score in [0,1]: length band + stopword presence -
    punctuation excess. Deterministic arithmetic only (oracle-parity)."""
    n = F.length(text_col).cast("double")
    length_term = F.least(n / F.lit(400.0), F.lit(1.0))
    stop_term = F.least(
        stopword_hits(text_col).cast("double") / F.greatest(token_count(text_col).cast("double"), F.lit(1.0)) * F.lit(5.0),
        F.lit(1.0),
    )
    punct_term = F.least(punct_ratio(text_col) * F.lit(5.0), F.lit(1.0))
    return F.round(
        F.lit(0.5) * length_term + F.lit(0.3) * stop_term + F.lit(0.2) * (F.lit(1.0) - punct_term),
        6,
    )


def doc_fingerprint(text_col, n_hex: int = 16):
    """Content fingerprint: first n_hex chars of md5 of the normalized text
    (lowercase, collapsed whitespace). Used as the exact-dedup key."""
    norm = F.regexp_replace(F.lower(text_col), r"\s+", " ")
    return F.substring(F.md5(norm), 1, n_hex)


# language-ID heuristic: per-language marker-token hit counts; prediction =
# argmax with deterministic tie-break on language code. With synthetic token
# soup this is feature plumbing, not linguistics — the operator shape
# (score columns + greatest/argmax) is what carries to real corpora.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def _marker_counter(toks, markers):
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_scores(text_col):
    toks = F.split(F.lower(text_col), " ")
    return {lang: _marker_counter(toks, markers) for lang, markers in LANG_MARKERS.items()}


# ---------------------------------------------------------------------------
# SQL-expressible SimHash (oracle-checkable twin of the pipeline fingerprint)
# ---------------------------------------------------------------------------

def simhash_sql(docs, id_col: str = "doc_id", text_col: str = "text"):
    """256-bit SimHash computed ENTIRELY in Catalyst expressions, with a
    hash function (md5) every SQL engine can mirror — the oracle-checkable
    twin of the pipeline's Arrow fingerprint kernel
    (pipeline/simhash.py), pinning the fingerprint *semantics*
    (tokenize → per-token 256-bit hash → ±1 bit votes → sign) against an
    independent engine. The production kernel keeps its faster custom
    hash; this twin exists so the fingerprint stage family has a
    hash-green driver oracle, not just pytest pins.

    Definition (deterministic, engine-neutral):
      tokens  = distinct non-empty runs of [a-z0-9] from lower(text)
      hash(t) = md5(t) || md5(t || '#1')           (64 hex chars, 256 bits)
      vote(b) = sum over tokens of (bit b ? +1 : -1)
      sig bit b = 1 iff vote(b) >= 0
    Docs with no tokens produce no output row (both engines drop them
    identically). Output: (id, sig_hex), 64 lowercase hex chars.

    Plan shape: explode to (doc, token) → distinct → explode 256 bit
    positions → partial-aggregated groupBy — 256 rows per (doc, token),
    all fixed-width ints through both shuffles, no UDF anywhere. For
    production fingerprinting use pipeline/simhash.py (one Arrow pass, no
    explode); this operator's contract is oracle parity, not throughput.
    """
    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                        lambda t: t != "",
                    )
                )
            ).alias("tok"),
        )
    )
    hx = toks.select(
        "id",
        F.concat(
            F.md5(F.col("tok").cast("binary")),
            F.md5(F.concat(F.col("tok"), F.lit("#1")).cast("binary")),
        ).alias("hx"),
    )
    # one row per (doc, token, bit): vote = +1/-1 from the bit of the hex
    # nibble at position b/4 (bit 0 = MSB of the first nibble). expr form:
    # the Python shiftright/shiftleft helpers take only literal ints.
    bit = F.expr(
        "shiftright(cast(conv(substring(hx, cast(b / 4 as int) + 1, 1), 16, 10)"
        " as int), cast(3 - b % 4 as int)) & 1"
    )
    votes = (
        hx.select("id", F.explode(F.sequence(F.lit(0), F.lit(255))).alias("b"), "hx")
        .select("id", "b", F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).alias("v"))
        .groupBy("id", "b")
        .agg(F.sum("v").alias("vote"))
    )
    # reassemble: nibble value from its 4 bit votes, hex char per nibble,
    # string via ordered collect — 64 rows per doc at this point
    nibbles = (
        votes.groupBy("id", (F.col("b") / 4).cast("int").alias("n"))
        .agg(
            F.sum(
                F.when(
                    F.col("vote") >= 0,
                    F.expr("shiftleft(1, cast(3 - b % 4 as int))"),
                ).otherwise(F.lit(0))
            ).alias("nv")
        )
    )
    sig = (
        nibbles.groupBy("id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("n"), F.col("nv")))
                    ),
                    lambda s: F.lower(F.conv(s["nv"].cast("string"), 10, 16)),
                ),
            ).alias("sig_hex")
        )
    )
    return sig


def tfidf_top_terms(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """Top-k TF-IDF terms per document — the standard lexical feature /
    keyword-extraction op a training-data pipeline runs over a corpus
    (reference parity note: the reference kernel library stops at distance
    predicates; corpus statistics are pipeline-stage territory, like
    ops/text's other scoring columns).

    tf = term count in the document (lowercased, [^a-z0-9]+ split);
    idf = ln((N + 1) / (df + 1)) + 1 (smoothed, sklearn-style);
    weight = tf * idf; ties broken by token ascending.

    Plan shape, all Catalyst: explode → (doc, token) count aggregate
    (map-side combinable) → token document-frequency aggregate → join on
    token (df table is token-cardinality-sized, usually broadcast) → corpus
    count N attached via a one-row broadcast cross join → per-doc top-k
    window. The shuffles are keyed on tokens and doc ids — never on pair
    content — and every aggregate partial-combines, so the plan is the
    same envelope as any word-count at 100 TB. No UDF anywhere.

    Returns (id_col, token, tf, df, weight) with k rows per document.
    """
    from pyspark.sql import Window

    toks = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")).alias(
                "token"
            ),
        )
        .where(F.col("token") != "")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    weighted = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "weight",
            F.col("tf")
            * (
                F.log((F.col("_n") + 1) / (F.col("df") + 1)) + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("weight"), F.asc("token")
    )
    return (
        weighted.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(id_col, "token", "tf", "df", "weight")
    )
