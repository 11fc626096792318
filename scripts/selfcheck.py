"""Driver-style correctness harness: run every ``queries()`` entry on Spark
and its ``oracle_sql()`` on DuckDB over the same parquet, compare row count,
column names, and values (order-insensitive; floats exact-compared first,
then reported by max abs diff when not identical).

Usage: python scripts/selfcheck.py [--hostile] [sf_dir] [query ...]

``--hostile`` (or env SELFCHECK_HOSTILE=1) runs the catalog under a
deliberately unfriendly session — UTC timezone, none of the engine's tuned
confs — the way an external driver that owns its own SparkSession would.
Every callable must be self-sufficient: green under ``--hostile`` is the
proof that no result depends on ambient session configuration
(CORRECTNESS_r02's one red row was exactly such a dependence).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_etl_ecommerce_spark.schemas import TESTDATA_TABLES  # noqa: E402
from pipeline_etl_ecommerce_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


# --- oracle type-discipline gate -------------------------------------------
# CORRECTNESS_r04's only red row was a TYPE bug: DuckDB widened a windowed
# SUM(BIGINT)-BIGINT to HUGEINT (int128) and the driver's typed value-hash
# diverged from Spark's int64 even though every value matched.  The pandas
# comparison below collapses widths and cannot catch that class, so every
# selfcheck run now also asserts exact type parity between the Spark result
# schema and the DuckDB oracle's DESCRIBE output, per column.  Any DuckDB
# type with no Spark equivalent (HUGEINT, DECIMAL, TIMESTAMP WITH TIME
# ZONE, unsigned ints) fails outright.

_DUCK_CANON = {
    "BIGINT": "long",
    "INTEGER": "int",
    "SMALLINT": "short",
    "TINYINT": "byte",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "BOOLEAN": "boolean",
}

_SPARK_CANON = {
    "bigint": "long",
    "int": "int",
    "smallint": "short",
    "tinyint": "byte",
    "double": "double",
    "float": "float",
    "string": "string",
    "date": "date",
    # DuckDB TIMESTAMP is tz-naive; both Spark timestamp flavors collapse
    # to naive micros in the pandas/Arrow transfer the driver hashes
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "boolean": "boolean",
}


def type_parity_problems(spark_df, duck_describe_rows) -> list[str]:
    """Exact width parity, Spark schema vs DuckDB DESCRIBE (col, type) rows."""
    problems = []
    duck_types = {r[0]: r[1] for r in duck_describe_rows}
    spark_types = {f.name: f.dataType.simpleString() for f in spark_df.schema.fields}
    for col, dt in sorted(duck_types.items()):
        canon_d = _DUCK_CANON.get(dt)
        if canon_d is None:
            problems.append(f"column {col}: oracle type {dt} has no Spark twin — CAST it")
            continue
        st = spark_types.get(col)
        if st is None:
            continue  # name mismatch is reported by the value compare
        canon_s = _SPARK_CANON.get(st)
        if canon_s is None:
            problems.append(f"column {col}: spark type {st} not hash-comparable")
        elif canon_s != canon_d:
            problems.append(f"column {col}: type mismatch spark={st} oracle={dt}")
    return problems


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count differ: spark={len(spark_df)} duck={len(duck_df)}")
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sv_f, dv_f = sv.astype(float), dv.astype(float)
            exact = ((sv_f == dv_f) | (sv_f.isna() & dv_f.isna())).all()
            if not exact:
                diff = (sv_f - dv_f).abs().max()
                problems.append(f"column {c}: float mismatch, max abs diff = {diff}")
        else:
            if not (sv.astype(str) == dv.astype(str)).all():
                n_bad = int((sv.astype(str) != dv.astype(str)).sum())
                problems.append(f"column {c}: {n_bad} value mismatches")
    return problems


def hostile_spark():
    """A driver-shaped session: UTC tz, default confs, no engine tuning."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("selfcheck-hostile")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )


def main() -> int:
    argv = sys.argv[1:]
    hostile = os.environ.get("SELFCHECK_HOSTILE") == "1"
    if "--hostile" in argv:
        hostile = True
        argv = [a for a in argv if a != "--hostile"]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    qs = entrymod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    # --- oracle rounding lint (r6 verdict item 3): refuse to start on an
    # unadjudicated ROUND(integer-quotient) site — the binary-tie class the
    # advisors caught twice. Cheap (pure string pass over the catalog).
    from pipeline_etl_ecommerce_spark.oracle_lint import (
        round_tie_findings,
        stale_allowlist_entries,
    )

    oracle_all = __import__("__spark_entry__").oracle_sql()
    lint_hits = round_tie_findings(oracle_all)
    stale = stale_allowlist_entries(oracle_all)
    if lint_hits or stale:
        for q, site in lint_hits:
            print(f"[LINT] {q}: unadjudicated ROUND over a quotient: {site[:160]}")
        for k in stale:
            print(f"[LINT] stale allowlist entry (site no longer in catalog): {k[:160]}")
        print("\noracle rounding lint FAILED — see pipeline_etl_ecommerce_spark/oracle_lint.py")
        return 2
    print(f"[lint] oracle ROUND sites clean ({len(oracle_all)} oracles checked)")

    if hostile:
        print("[mode] HOSTILE session: UTC tz, default confs")
        spark = hostile_spark()
    else:
        spark = get_spark("selfcheck", cpus=8)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    # --- t1 smoke ---
    smoke = entrymod.entry(spark)
    n = smoke.count()
    print(f"[smoke] entry() -> {n} rows, {len(smoke.columns)} cols: {smoke.columns}")
    assert n > 0

    oracles = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf_spark = fn(spark, sf_dir)
            sdf = sdf_spark.toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            record[name] = {"match": False, "rows": None, "problems": [f"spark error: {str(ex)[:200]}"]}
            print(f"[FAIL] {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            record[name] = {"match": len(sdf) >= 0, "rows": len(sdf), "problems": [], "rows_only": True}
            print(f"[rows-only] {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            describe_rows = con.execute(f"DESCRIBE ({oracles[name]})").fetchall()
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            record[name] = {"match": False, "rows": len(sdf), "problems": [f"duckdb error: {str(ex)[:200]}"]}
            print(f"[FAIL] {name}: duckdb error: {str(ex)[:300]}")
            continue
        problems = type_parity_problems(sdf_spark, describe_rows)
        problems += compare(name, sdf, ddf)
        record[name] = {"match": not problems, "rows": len(sdf), "problems": [str(p)[:200] for p in problems]}
        if problems:
            failures.append(name)
            print(f"[FAIL] {name}: rows={len(sdf)}")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[ok] {name}: {len(sdf)} rows, {len(sdf.columns)} cols match exactly")

    print(f"\n{len(record) - len(failures)}/{len(record)} queries match")
    if json_out:
        # the standing full-catalog artifact (r7 verdict item 1): per-query
        # match booleans at this sf_dir — CORRECTNESS_r*.json's 50-row
        # window rotates, this records every row every round
        import json as _json

        payload = {
            "sf_dir": sf_dir,
            "hostile": hostile,
            "n_checked": len(record),
            "n_match": sum(1 for r in record.values() if r["match"]),
            "queries": record,
        }
        with open(json_out, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
