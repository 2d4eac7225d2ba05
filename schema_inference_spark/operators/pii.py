"""PII detection + redaction over text columns — pure JVM regex
expressions (no UDF, fully codegen'd, no shuffle): the scan-shaped
operator an LLM training pipeline runs over every document before
anything else sees the bytes.

Patterns are written to the common subset of Java regex (Spark) and RE2
(DuckDB) semantics — character classes, bounded repetition, and ``\\b``
word boundaries only (no backrefs, no lookaround) — so the operator is
fully oracle-gated: both engines must produce identical counts and
identical redacted text.

ref: the reference has no PII surface at all (it is a schema-algebra
PoC); this operator exists for the training-data pipeline scope, same
adjudication as dedup/textstats.

Scale: per-row JVM expressions inside WholeStageCodegen; 100-TB cost is
exactly one scan with no exchange. Redaction order is fixed
(email -> ssn -> phone -> ipv4) so overlapping matches resolve
deterministically in every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ordered: redaction applies top to bottom; SSN before PHONE so the
# xxx-xx-xxxx shape is never half-eaten by the phone pattern
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
]


def pii_count_columns(text_col: str = "text"):
    """The per-class match-count columns (``n_<class>`` bigint) and the
    total (``n_pii``) that ``pii_flags`` builds from."""
    counts = [F.regexp_count(F.col(text_col), F.lit(pat))
              .cast("bigint").alias(f"n_{name}")
              for name, pat in PII_PATTERNS]
    total = sum((F.col(f"n_{name}") for name, _ in PII_PATTERNS),
                F.lit(0)).cast("bigint")
    return counts, total


def pii_flags(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-document non-overlapping match counts for each PII class plus
    the total — one JVM regexp_count per class, single scan.

    Overlap contract: each class counts INDEPENDENTLY over the raw
    text, so a span matched by two classes (a phone-shaped string
    inside an email local-part, ``555-123-4567@x.com``) contributes to
    BOTH per-class counts and twice to ``n_pii`` — n_pii is "total
    class matches", not "distinct PII spans". This is deliberate: the
    per-class counts are the audit signal (how much of each class is
    present), and resolving nested spans here would make the counts
    disagree with the per-class regexes a downstream filter would run.
    The sequential form that DOES resolve overlaps (first class wins,
    in PII_PATTERNS order) is ``pii_redact``, whose ``n_redactions``
    counts tokens actually substituted. Asserted in
    tests/test_pii_contamination.py::test_overlapping_span_contract."""
    counts, total = pii_count_columns(text_col)
    return (df.select(F.col(id_col).alias("doc_id"), *counts)
            .withColumn("n_pii", total)
            .orderBy("doc_id"))


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Redact every PII class to a typed token (``<EMAIL>`` etc.) in the
    fixed PII_PATTERNS order; emits the redacted text, its sha256, and
    the redaction count so audit rows don't need the cleartext.

    ``n_redactions`` counts tokens ACTUALLY substituted — occurrences
    of each typed token in the redacted output minus any already
    present in the input (substitution only ever adds tokens: the
    token strings contain no characters any PII pattern can match, so
    pre-existing tokens pass through every replacement unchanged).
    Summing raw per-class match counts instead would overcount: a
    later-class match consumed by an earlier substitution (a
    phone-shaped local-part in ``555-123-4567@x.com``) matches the raw
    text but is never replaced."""
    red = F.col(text_col)
    for name, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    counts = sum((F.regexp_count(red, F.lit(f"<{name.upper()}>"))
                  - F.regexp_count(F.col(text_col),
                                   F.lit(f"<{name.upper()}>"))
                  for name, _ in PII_PATTERNS), F.lit(0))
    return (df.select(F.col(id_col).alias("doc_id"),
                      red.alias("redacted"),
                      F.sha2(red, 256).alias("redacted_sha"),
                      counts.cast("bigint").alias("n_redactions"))
            .orderBy("doc_id"))
