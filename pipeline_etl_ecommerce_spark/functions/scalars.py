"""Scalar expression helpers (SURVEY.md §2.8).

Everything here is a native Column expression — no Python UDFs (§2.11: zero
UDFs required for reference parity). Higher-order functions replace the
reference's per-row nested-array scans, keeping the hot path inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def parse_locale_double(col: str | Column) -> Column:
    """F4: pt-BR decimal-comma numeric parse (reference
    ``tarefa_sincronizar_catalogo_tiny.php:81``).

    The reference's ``(float)str_replace(',', '.')`` silently truncates
    thousands-separated input ('1.234,56' → 1.234); we strip the thousands
    dots when a decimal comma is present (documented fix, SURVEY §7.0).
    Plain dot-decimal and integer strings pass through; malformed → NULL."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    cleaned = F.when(
        c.contains(","), F.regexp_replace(F.regexp_replace(c, r"\.", ""), ",", ".")
    ).otherwise(c)
    return cleaned.cast("double")


def day_of(col: str | Column) -> Column:
    """Day-grain truncation (F3): timestamps → session-tz calendar date."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c)


def extract_deposito_saldo(depositos: Column, nome: str) -> Column:
    """F11/UD3: pull one warehouse's balance out of Tiny's ``depositos[]``
    array (reference ``worker_processar_estoque.php:71-80``); 0 when absent."""
    match = F.filter(depositos, lambda d: d["deposito"]["nome"] == F.lit(nome))
    return F.coalesce(
        F.when(F.size(match) > 0, match[0]["deposito"]["saldo"]), F.lit(0.0)
    )
