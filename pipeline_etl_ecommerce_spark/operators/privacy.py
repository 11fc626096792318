"""PII detection and redaction for training-data curation.

A corpus pipeline must be able to (a) measure how much PII a source emits
and (b) strip it before packing — at 100 TB both must be pure map stages.
Patterns are deliberately RE2-safe (no lookaround, no backreferences) so the
exact same regex text runs on Spark's Java regex engine AND DuckDB/RE2,
keeping the operator on the exact-oracle surface. Detection and redaction
are native ``regexp_extract_all`` / ``regexp_replace`` expressions — zero
Python, zero shuffles, fully pipelined into the scan.

Redaction order matters: emails are replaced before phone numbers so the
digits inside an already-redacted token cannot re-match a later pattern.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied in order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def _n_matches(c: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0))).cast("long")


def pii_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document PII hit counts (one column per pattern) plus a total.
    Counts are taken on the RAW text, each pattern independently."""
    c = F.col(text_col)
    counts = {name: _n_matches(c, pat) for name, pat, _ in PII_PATTERNS}
    total = None
    for col in counts.values():
        total = col if total is None else total + col
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[counts[name].alias(f"n_{name}") for name in counts],
        total.cast("long").alias("n_pii"),
    )


def redact_pii(col: Column) -> Column:
    """Replace every PII span with its typed placeholder, in PII_PATTERNS
    order (sequential rewrites, matching the SQL oracle's nested
    regexp_replace exactly)."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_documents(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """doc_id + redacted text + changed flag — the map-only curation step
    applied before packing/export."""
    c = F.col(text_col)
    red = redact_pii(c)
    return df.select(
        F.col(id_col).alias("doc_id"),
        red.alias("redacted_text"),
        (red != c).cast("int").alias("was_redacted"),
    )


def pii_redaction_sql() -> str:
    """DuckDB expression over ``text`` mirroring ``redact_pii`` (global-flag
    replaces, same pattern order) — exported so oracle SQL never drifts from the
    pattern table."""
    expr = "text"
    for _, pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


def pseudonymize(df: DataFrame, cols: Sequence[str], *, salt: str) -> DataFrame:
    """Salted-hash pseudonymization: replace each identifier column with the
    first 16 hex chars of sha256(salt || value) — stable joins
    across tables pseudonymized with the same salt, irreversible without
    it. NULLs stay NULL (a hashed NULL would silently mint a fake
    identity). Map-only; sha256 is whole-stage-codegen on the JVM."""
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.when(
                F.col(c).isNotNull(),
                F.substring(
                    F.sha2(F.concat(F.lit(salt), F.col(c).cast("string")), 256),
                    1,
                    16,
                ),
            ),
        )
    return out
