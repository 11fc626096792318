from .scalars import (
    parse_locale_double,
    day_of,
    extract_deposito_saldo,
)

__all__ = [
    "parse_locale_double",
    "day_of",
    "extract_deposito_saldo",
]
