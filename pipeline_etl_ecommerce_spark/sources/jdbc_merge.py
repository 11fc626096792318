"""JDBC write-side MERGE: the staging-table upsert recipe for RDBMS sinks.

The reference's production sink is MySQL ``INSERT ... ON DUPLICATE KEY
UPDATE`` (reference ``tarefa_consolidar_dados.php:144-150`` plus 10 more
sites — SURVEY.md §2.1 S9). Spark's built-in JDBC writer only supports
append/overwrite, so the idempotent-upsert contract needs the standard
two-phase recipe every large pipeline uses:

1. **Stage the delta.** ``df.write.jdbc(mode="overwrite")`` into a staging
   table (``option("truncate", "true")`` keeps the table's DDL/indexes).
   This is the only distributed step — executors write partitions in
   parallel over ``numPartitions`` JDBC connections; size it so each batch
   is a few thousand rows (``batchsize`` option) to amortize round trips.
2. **Merge on the server.** One driver-side statement moves staging into
   the target under the engine's native upsert — set-based, transactional,
   and proportional to the DELTA, never to the target:

   - MySQL ≥ 8.0.20: ``INSERT INTO t (...) SELECT ... FROM staging AS new
     ON DUPLICATE KEY UPDATE col = new.col`` (the ``VALUES()`` form is
     deprecated; requires a PRIMARY/UNIQUE key on the merge keys).
   - PostgreSQL / DuckDB: ``INSERT ... SELECT ... FROM staging
     ON CONFLICT (keys) DO UPDATE SET col = EXCLUDED.col``.

3. **Reset staging** (truncate) so the next run starts clean.

Idempotence: re-running the merge with the same staging rows is a no-op
(every row matches and updates to the same values) — the property that
makes the reference's late-data reprocessing (§2.10 T3) safe on a real
database, exactly mirroring the parquet-side ``upsert_to_path``.

Duplicate keys INSIDE the delta must be collapsed before staging (MySQL
would apply them in arbitrary order): call ``sinks.dedupe_last_wins`` first.

The statement functions are pure, contract-tested against
DuckDB's ``ON CONFLICT`` (which implements the same semantics); the caller
stages the delta and runs the statements on its own connection.
"""

from __future__ import annotations

_DIALECTS = ("mysql", "postgres", "duckdb")


def merge_statement(
    dialect: str,
    target: str,
    staging: str,
    keys: list[str],
    cols: list[str],
) -> str:
    """The single server-side upsert statement for ``dialect``.

    ``cols`` is the full column list of both tables; non-key columns are
    updated on conflict, key columns only matched. Pure string builder —
    identifiers are emitted verbatim, so callers own quoting/validation of
    table and column names (they come from the pipeline's own schema, not
    from user input).

    NOT-NULL keys only: SQL unique constraints treat NULL key components as
    never-matching, so this single-statement form would re-insert null-key
    rows on every run instead of updating them. For nullable keys (the
    reference's vendas key includes a nullable id_variacao) use
    ``merge_statements_null_safe``, which matches with ``<=>`` /
    ``IS NOT DISTINCT FROM`` — the same null-safe contract as the engine's
    ``merge_upsert``.
    """
    if dialect not in _DIALECTS:
        raise ValueError(f"dialect must be one of {_DIALECTS}, got {dialect!r}")
    if not keys:
        raise ValueError("keys must be non-empty")
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"keys not in cols: {missing}")
    updates = [c for c in cols if c not in keys]
    col_list = ", ".join(cols)
    if dialect == "mysql":
        # MySQL upserts on the table's PRIMARY/UNIQUE key — `keys` must be
        # that key. Alias form (8.0.20+); older servers use VALUES(col).
        if not updates:
            # degenerate all-key table: dup-key update must still be valid
            # SQL; assigning a key column to itself is the documented no-op.
            set_clause = f"{keys[0]} = new.{keys[0]}"
        else:
            set_clause = ", ".join(f"{c} = new.{c}" for c in updates)
        return (
            f"INSERT INTO {target} ({col_list}) "
            f"SELECT {col_list} FROM {staging} AS new "
            f"ON DUPLICATE KEY UPDATE {set_clause}"
        )
    key_list = ", ".join(keys)
    if not updates:
        return (
            f"INSERT INTO {target} ({col_list}) "
            f"SELECT {col_list} FROM {staging} "
            f"ON CONFLICT ({key_list}) DO NOTHING"
        )
    set_clause = ", ".join(f"{c} = EXCLUDED.{c}" for c in updates)
    return (
        f"INSERT INTO {target} ({col_list}) "
        f"SELECT {col_list} FROM {staging} "
        f"ON CONFLICT ({key_list}) DO UPDATE SET {set_clause}"
    )


def merge_statements_null_safe(
    dialect: str,
    target: str,
    staging: str,
    keys: list[str],
    cols: list[str],
) -> list[str]:
    """Null-safe upsert as DELETE-matching-then-INSERT (two statements —
    run them inside one transaction).

    ``ON DUPLICATE KEY`` / ``ON CONFLICT`` never fire when a key component
    is NULL (SQL UNIQUE treats NULLs as distinct), so the single-statement
    recipe silently DUPLICATES null-key rows on every re-run — while the
    engine's ``merge_upsert`` matches NULL keys null-safely (the reference's
    vendas key has a nullable id_variacao; its MySQL job really does have
    this duplication bug). For nullable keys use this variant: delete the
    null-safe-matched target rows (MySQL ``<=>`` / standard ``IS NOT
    DISTINCT FROM``), then insert the whole staging table. Idempotent for
    any key content."""
    if dialect not in _DIALECTS:
        raise ValueError(f"dialect must be one of {_DIALECTS}, got {dialect!r}")
    if not keys:
        raise ValueError("keys must be non-empty")
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"keys not in cols: {missing}")
    col_list = ", ".join(cols)
    if dialect == "mysql":
        pred = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        delete = f"DELETE t FROM {target} t JOIN {staging} s ON {pred}"
    else:
        pred = " AND ".join(f"t.{k} IS NOT DISTINCT FROM s.{k}" for k in keys)
        delete = f"DELETE FROM {target} t USING {staging} s WHERE {pred}"
    insert = f"INSERT INTO {target} ({col_list}) SELECT {col_list} FROM {staging}"
    return [delete, insert]


def truncate_statement(dialect: str, staging: str) -> str:
    if dialect not in _DIALECTS:
        raise ValueError(f"dialect must be one of {_DIALECTS}, got {dialect!r}")
    return f"TRUNCATE TABLE {staging}" if dialect != "duckdb" else f"DELETE FROM {staging}"


