"""PII detection and redaction over document text — the scrub pass a
training-data pipeline runs before any corpus ships: find emails, phone
numbers, IPv4 addresses, SSN-style ids, and (Luhn-validated) payment-card
numbers, count them per document, and redact them with typed placeholder
tokens.

All pure Catalyst column expressions — regexp_extract_all for spans,
transform/aggregate (codegen higher-order functions) for the Luhn
checksum and IPv4 octet-range validation — so the scrub is a single
whole-stage-codegen projection over the scan: no shuffle, no Python, no
data movement beyond the read. At 100 TB this is exactly the shape you
want for a full-corpus pass: embarrassingly parallel, column-pruned to
the text column, and composable with any downstream filter in the same
stage.

Detection is deliberately pattern-based and deterministic (this container
has no NER model, and a scrub pass must be auditable): the regexes are
documented below, and the two families where a bare regex over-fires —
card numbers and IPv4 — get exact arithmetic validation (Luhn mod-10 /
octet <= 255) in codegen rather than being left fuzzy.

Reference anchor: no analogue in hexhamming (reference/src/hexhamming.cpp
is a distance kernel); this extends the engine toward the documents-table
training-data surface the round brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Span patterns. Java regex (Spark-side). Each is anchored with \b word
# boundaries so redaction never eats surrounding prose.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# +1 / (555) 123-4567 / 555-123-4567 / 555.123.4567 — a separator between
# the groups is REQUIRED so plain 10-digit ids don't fire.
PHONE_RE = r"(?:\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
# 13-19 digits with optional single space/dash separators (ISO/IEC 7812);
# validated by Luhn before counting/redacting.
CARD_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def _luhn_ok(digits_col):
    """Luhn mod-10 checksum over a digit-string column, in codegen.

    Reverse the digit array, double every second digit (index 1, 3, ...),
    subtract 9 when the double exceeds 9, sum mod 10 == 0. transform +
    aggregate keep the whole check inside whole-stage codegen, with no
    Python UDF.
    """
    rev = F.reverse(F.split(digits_col, ""))
    terms = F.transform(
        rev,
        lambda d, i: F.when(
            i % 2 == 1,
            F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9).otherwise(
                d.cast("int") * 2
            ),
        ).otherwise(d.cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return (total % 10) == 0


def _valid_cards(text_col):
    """Array of Luhn-valid card candidates (separators stripped)."""
    cands = F.regexp_extract_all(text_col, F.lit(CARD_RE), F.lit(0))
    return F.filter(
        cands, lambda c: _luhn_ok(F.regexp_replace(c, r"[ -]", ""))
    )


def _valid_ips(text_col):
    """IPv4 candidates whose four octets are all <= 255."""
    cands = F.regexp_extract_all(text_col, F.lit(IPV4_RE), F.lit(0))
    return F.filter(
        cands,
        lambda ip: F.forall(
            F.split(ip, r"\."), lambda o: o.cast("int") <= 255
        ),
    )


def pii_counts(text_col):
    """Struct column of per-document PII span counts.

    Fields: n_emails, n_phones, n_ips (octet-validated), n_ssns, n_cards
    (Luhn-validated). One codegen projection; no shuffle. Counts are
    FIRST-VISIBLE-SPAN counts: chained adjacent PII of different types
    (see redact_pii's ``passes``) surfaces one span at a time, so the
    total flags the document even when the per-type split under-counts
    a glued chain — the right contract for a keep/drop gate.
    """
    n = lambda pat: F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
    return F.struct(
        n(EMAIL_RE).alias("n_emails"),
        n(PHONE_RE).alias("n_phones"),
        F.size(_valid_ips(text_col)).alias("n_ips"),
        n(SSN_RE).alias("n_ssns"),
        F.size(_valid_cards(text_col)).alias("n_cards"),
    )


def redact_pii(text_col, passes: int = 2):
    """Replace every detected span with its typed placeholder token.

    Order matters and is fixed: cards first (a card number contains
    phone/SSN-shaped substrings), then SSN, phone, email, IP. Card and IP
    replacement re-validate per candidate (Luhn / octet range) by
    replacing only the exact validated literals — regexp_replace with the
    quoted candidate — via a codegen aggregate over the candidate array,
    so an invalid 16-digit id is left untouched.

    ``passes``: CHAINED adjacent PII of different types (a card number
    glued to a phone number with no separator) can hide one span behind
    the other's missing word boundary; redacting the visible span exposes
    the hidden one. The projection is therefore applied ``passes`` times
    (default 2 — one exposure layer per extra pass; the adversarial
    probe in tests/test_pii.py shows 2 reaches the fixpoint on chained
    fragments, and the property test pins redact(redact(x)) ==
    redact(x) at the default). Still one codegen projection — the
    expression tree just composes with itself; replacement tokens contain
    no digits or @, so passes can only converge, never oscillate.
    """
    if passes < 1:
        raise ValueError(f"passes must be >= 1 (got {passes})")
    out = text_col
    for _ in range(passes):
        out = _redact_once(out)
    return out


def _redact_once(text_col):
    # exact-literal replacement for the validated families: fold the
    # candidate array through regexp_replace(\Qcand\E)
    def _replace_each(col, cands, token):
        return F.aggregate(
            cands,
            col,
            lambda acc, c: F.regexp_replace(
                acc, F.concat(F.lit(r"\Q"), c, F.lit(r"\E")), F.lit(token)
            ),
        )

    out = _replace_each(text_col, _valid_cards(text_col), "[CARD]")
    out = F.regexp_replace(out, SSN_RE, "[SSN]")
    out = F.regexp_replace(out, PHONE_RE, "[PHONE]")
    out = F.regexp_replace(out, EMAIL_RE, "[EMAIL]")
    out = _replace_each(out, _valid_ips(out), "[IP]")
    return out


def scrub_documents(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document scrub: (id, pii struct expanded, redacted text).

    The full-corpus pass: one projection, column-pruned to (id, text).
    Documents with zero hits pass through with text unchanged (asserted
    in tests — redaction is the identity on clean text).
    """
    counts = pii_counts(F.col(text_col))
    return docs.select(
        F.col(id_col),
        counts.alias("pii"),
        redact_pii(F.col(text_col)).alias("redacted_text"),
    ).select(
        id_col,
        "pii.*",
        (
            F.col("pii.n_emails")
            + F.col("pii.n_phones")
            + F.col("pii.n_ips")
            + F.col("pii.n_ssns")
            + F.col("pii.n_cards")
        ).alias("n_pii_total"),
        "redacted_text",
    )
