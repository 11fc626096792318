"""Driver-facing query catalog over the TPC-H-ish testdata (TESTDATA.md).

Each entry expresses one (or a cluster of) SURVEY.md §2 operators against the
driver's parquet tables, with a DuckDB oracle that mirrors the Spark plan's
arithmetic **in the same order** so double-precision results hash-match
(aggregates are rounded at CTE boundaries to absorb summation-order ulps).

Mapping of reference tables → testdata (FIXTURES.md §2):
  orders+lineitem → vendas_financeiro (order-item grain, freight rateio)
  part            → produtos_catalogo (costs, prefix/IN filters)
  part.p_brand    → the parent→child hierarchy for W1-W3 allocation
  customer        → dims for anti-join alerts / DISTINCT
  events          → trafego_diario / queues / streams (daily grain, late data)
  documents       → dedup + text analysis corpus
  embeddings      → similarity search corpus
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType
from pyspark.sql.window import Window

from .operators.allocation import AllocSpec, allocate_by_share, allocate_ratio_to_parent
from .operators.ranking import (
    distributed_ntile,
    first_per_group,
    rank_capture,
    top_k_per_group,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
ROW_KINDS = ("lazy", "executed", "streaming")
KIND: dict[str, str] = {}  # row -> one of ROW_KINDS, declared at register()

NS_PER_DAY = 86_400_000_000_000

# (applicationId, sf_dir) pairs whose events.ts epoch-scale probe passed —
# the guard in _events() runs once per pair, not once per query. Keyed by
# applicationId (like _side_table), NOT id(spark): id() values are reused
# after GC, so a new session could inherit a dead session's probe pass.
_EVENTS_PROBE_OK: set[tuple[str, str]] = set()
# per-(session, sf_dir) memo of _events' normalized lazy plan (see _events)
_EVENTS_DFS: dict[tuple[str, str], "DataFrame"] = {}


def register(name: str, sql: str | None = None, *, kind: str = "lazy"):
    """Add a catalog row. ``kind`` declares what calling it does, once, for
    the measurement tools to read:

    - ``"lazy"``: returns a plan; its work runs at the caller's action;
    - ``"executed"``: starts no stream, but before returning writes files in
      a ``_scratch_dir`` or runs its result under ``_conf_pin`` /
      ``_session_tz`` (so there is no plan to explain);
    - ``"streaming"``: starts a Structured Streaming query before returning.
    """
    if kind not in ROW_KINDS:
        raise ValueError(f"{name}: kind {kind!r} is not one of {ROW_KINDS}")

    def deco(fn):
        QUERIES[name] = fn
        KIND[name] = kind
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# Per-(session, sf_dir, table) base-DataFrame memo. A DataFrame is an
# immutable LAZY plan — handing the same object to every consumer changes
# nothing about what executes (each query's transformations derive new
# plans), but skips the per-call driver work every query paid on every
# table reference: parquet footer schema inference + DataSource resolution
# + file listing (~50-100 ms first read, ~22 ms with an explicit schema —
# measured; catalog-wide this was tens of seconds of pure driver-side
# metadata work per bench run). Caches plan METADATA only — no .cache()/
# persist is involved and all data is still computed from the parquet
# inputs on every invocation. Keyed by applicationId so a fresh session
# (e.g. the driver's own correctness runs) rebuilds from the footer.
_TABLE_DFS: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _TABLE_DFS.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _TABLE_DFS[key] = df
    return df


_FRAME_COUNTS: dict[tuple[str, str, str], int] = {}


def _counted(spark: SparkSession, sf_dir: str, label: str, df: DataFrame) -> int:
    """Memoized row count of an immutable per-session frame (base table or
    materialized side mart), used only to SIZE plans (adaptive k /
    nprobe). The frames never change within a session, so recomputing the
    count was one extra job per invocation per call site; the memo is a
    scalar size statistic (catalog-stats shape), not a result cache —
    every query still computes its answer from the parquet inputs."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), label)
    n = _FRAME_COUNTS.get(key)
    if n is None:
        n = df.count()
        _FRAME_COUNTS[key] = n
    return n


def _scratch_root() -> str:
    """The scratch root of every catalog row: $SPARK_GRAFT_SCRATCH, else
    /dev/shm when present — the RAM-backed stand-in for the fast local NVMe
    a real cluster gives its checkpoint/scratch dirs (scratch I/O should
    never ride the slow root disk) — else the system temp dir."""
    import tempfile as _tf

    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is None and os.path.isdir("/dev/shm"):
        root = "/dev/shm/spark-graft-scratch"
    root = root or _tf.gettempdir()
    os.makedirs(root, exist_ok=True)
    return root


@contextmanager
def _scratch_dir(prefix: str):
    """A fresh dir under :func:`_scratch_root` for an EXECUTED row (stream
    checkpoints, staged file drops, sink targets, bucketed-table
    locations), removed on the way out. Results are unaffected: these dirs
    hold per-call intermediates that are created and deleted inside one
    callable."""
    import shutil as _shutil
    import tempfile as _tf

    base = _tf.mkdtemp(prefix=prefix, dir=_scratch_root())
    try:
        yield base
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark build it
    is read either as int64 nanos (legacy ``nanosAsLong`` conf honored) or as
    TIMESTAMP_NTZ truncated to micros. Normalize to int64 **nanos** so all
    downstream epoch arithmetic (``ts DIV 1000`` = micros, matching DuckDB's
    ``epoch_us(ts)``) is mode-independent; the day is derived by epoch
    arithmetic — timezone-free, matching DuckDB's naive CAST(ts AS DATE).

    The normalized result is memoized per (session, sf_dir) like `_t`'s base
    tables: on the build in this container the ``nanosAsLong`` conf is
    ignored, so every call took the forced-BIGINT branch whose schema
    re-inference cost ~195 ms — ×~50 event-query callers ×3 bench reps that
    was ~30 s of pure driver-side metadata work per bench run. The memo is a
    lazy plan, not data; every invocation still scans parquet."""
    memo_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _EVENTS_DFS.get(memo_key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _t(spark, sf_dir, "events")
    if not isinstance(df.schema["ts"].dataType, LongType):
        # conf ignored: re-read with a forced BIGINT schema (reader emits
        # epoch micros for nanos columns) and scale back to nanos.
        forced = ", ".join(
            f"{f.name} BIGINT" if f.name == "ts" else f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema.fields
        )
        df = spark.read.schema(forced).parquet(os.path.join(sf_dir, "events.parquet"))
        # The ×1000 below assumes the forced-BIGINT read of the timestamp
        # column yields epoch MICROS. If a build instead surfaced raw nanos,
        # every timestamp would silently inflate 1000× — and under ANSI mode
        # the multiply itself would overflow long into a confusing
        # ARITHMETIC_OVERFLOW. Probe the max BEFORE scaling and fail loudly
        # outside a plausible epoch-micros range (1990..2120 ≈
        # 6.3e14..4.7e15). Once per (session, sf_dir): a parquet-footer-sized
        # agg, not something to repeat on all ~40 event queries.
        cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
        if cache_key not in _EVENTS_PROBE_OK:
            probe = df.agg(F.max("ts").alias("m")).collect()[0]["m"]
            if probe is not None and not (6.3e14 < probe < 4.7e15):
                raise ValueError(
                    f"events.ts forced-BIGINT read produced implausible epoch-micros "
                    f"(max={probe}); the reader did not return micros — adjust the "
                    f"scale factor in _events()"
                )
            _EVENTS_PROBE_OK.add(cache_key)
        df = df.withColumn("ts", F.col("ts") * F.lit(1000))
    out = df.withColumn(
        "event_date",
        F.date_add(F.lit("1970-01-01").cast("date"), F.floor(F.col("ts") / F.lit(NS_PER_DAY)).cast("int")),
    )
    _EVENTS_DFS[memo_key] = out
    return out


US_PER_DAY = 86_400_000_000

BUSINESS_TZ = "America/Sao_Paulo"


@contextmanager
def _session_tz(spark: SparkSession, tz: str = BUSINESS_TZ):
    """Pin the session timezone around an EXECUTED callable (one that runs a
    real stream / writes a sink before returning a materialized result).

    The driver owns the SparkSession and may run it under any host timezone
    (CORRECTNESS_r02's one red row was exactly this: the driver session ran
    UTC, so ``date_trunc('DAY', ...)`` bucketed 150 UTC-day groups instead of
    the 155 America/Sao_Paulo-day groups the oracle pins). Callables whose
    results are materialized *inside* the callable (localCheckpoint / parquet
    read-back of an executed sink) can safely pin-and-restore, because the
    returned rows no longer depend on session conf at the driver's collect
    time. LAZY callables must NOT use this — they should make the timezone
    explicit in the column expression instead (see ``_tz_day``)."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _tz_day(us_col):
    """Session-independent calendar day of a naive-UTC epoch-micros column in
    ``BUSINESS_TZ``. Every function in the chain carries its timezone
    explicitly: ``timestamp_micros`` builds the instant,
    ``from_utc_timestamp`` shifts by the per-instant offset of the zone
    (DST-correct), ``unix_micros`` drops back to tz-free epoch arithmetic,
    and the day number is integer floor-division — nothing reads
    ``spark.sql.session.timeZone``. Matches DuckDB's
    ``CAST(timezone(tz, timezone('UTC', ts)) AS DATE)``."""
    shifted = F.unix_micros(F.from_utc_timestamp(F.timestamp_micros(us_col), BUSINESS_TZ))
    return F.date_add(
        F.lit("1970-01-01").cast("date"),
        F.floor(shifted / F.lit(US_PER_DAY)).cast("int"),
    )


def _await_stream(query, timeout: int = 300) -> None:
    """``awaitTermination`` that REFUSES to fall through on timeout.

    ``StreamingQuery.awaitTermination(t)`` returns False when the stream is
    still running after ``t`` seconds; ignoring that boolean means a loaded
    driver session could read a partially-written sink and return an
    arbitrarily wrong — but plausible-looking — result. Raise instead: a loud
    timeout is diagnosable, a silent partial read is not."""
    if not query.awaitTermination(timeout):
        query.stop()
        raise TimeoutError(
            f"streaming query did not terminate within {timeout}s; "
            "refusing to read a partially-written sink"
        )


def _stage_drops(
    drops: str,
    rows: DataFrame,
    route: Callable[[Row], str | tuple[str, ...]],
    *,
    route_only: tuple[str, ...] = (),
) -> StructType:
    """Land a row set as the JSON-lines drop files of a file-source stream.

    One ``collect``; each row becomes one ``json.dumps(row.asDict())`` line
    (keys in column order) in the file ``route(row)`` names, or in each file
    of a tuple of names (a redelivery). ``route_only`` columns steer the
    router but are not written. Files are written one after another in name
    order, and callers name them in trigger order: a ``maxFilesPerTrigger=1``
    stream takes the oldest file first. Returns the staged schema, for the
    stream's reader."""
    lines: dict[str, list[str]] = {}
    for r in rows.collect():
        d = r.asDict()
        for c in route_only:
            del d[c]
        names = route(r)
        for name in (names,) if isinstance(names, str) else names:
            lines.setdefault(name, []).append(json.dumps(d) + "\n")
    os.makedirs(drops, exist_ok=True)
    for name in sorted(lines):
        with open(os.path.join(drops, name), "w") as f:
            f.writelines(lines[name])
    return rows.drop(*route_only).schema


def _by_parity(r: Row) -> str:
    """Two arrival waves split by the parity of the row's first column, its id."""
    return "b1.json" if r[0] % 2 == 0 else "b2.json"


def _late_every_fifth(r: Row) -> str:
    """Every fifth event arrives late, in the second trigger."""
    return "b2_late.json" if r.event_id % 5 == 0 else "b1_ontime.json"


# ===========================================================================
# Flagship: daily-consolidation-shaped query (SURVEY.md §3.1 over testdata)
# part = variation dim, p_brand = parent listing, lineitem = sales fact.
# Covers A1/A2 multi-sum, J1/J2 joins, W1 ratio allocation, W2 least-cap,
# W3 main-child fallback, F5-F7 scalar ops.
# ===========================================================================

_FLAGSHIP_SQL = """
WITH sales AS (
    SELECT l_partkey,
           CAST(SUM(l_quantity) AS BIGINT)                   AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS gross_revenue,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS discount_amount,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))), 2) AS DOUBLE) AS tax_amount,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS net_revenue,
           COUNT(*)                                          AS line_count
    FROM lineitem
    GROUP BY l_partkey
),
base AS (
    SELECT p.p_partkey, p.p_brand, p.p_retailprice,
           COALESCE(s.sum_qty, 0)          AS sum_qty,
           COALESCE(s.gross_revenue, 0.0)  AS gross_revenue,
           COALESCE(s.discount_amount, 0.0) AS discount_amount,
           COALESCE(s.tax_amount, 0.0)     AS tax_amount,
           COALESCE(s.net_revenue, 0.0)    AS net_revenue,
           COALESCE(s.line_count, 0)       AS line_count,
           ROUND(p.p_retailprice * COALESCE(s.sum_qty, 0), 2) AS inventory_cost
    FROM part p LEFT JOIN sales s ON s.l_partkey = p.p_partkey
),
brand AS (
    SELECT p_brand,
           CAST(ROUND(SUM(CAST(gross_revenue AS DECIMAL(18,2))), 2) AS DOUBLE) AS brand_gross,
           CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS brand_value,
           SUM(line_count)              AS brand_lines,
           MIN(p_partkey)               AS brand_main_part
    FROM base
    GROUP BY p_brand
)
SELECT b.p_partkey AS part_id,
       b.p_brand   AS brand,
       b.sum_qty, b.gross_revenue, b.discount_amount, b.tax_amount,
       b.net_revenue, b.line_count, b.inventory_cost,
       ROUND(CASE WHEN br.brand_gross > 0
                  THEN br.brand_value * (b.gross_revenue / br.brand_gross)
                  WHEN b.p_partkey = br.brand_main_part THEN br.brand_value
                  ELSE 0 END, 2) AS allocated_brand_value,
       CAST(ROUND(CASE WHEN br.brand_gross > 0
                  THEN LEAST(br.brand_lines * (b.gross_revenue / br.brand_gross),
                             CAST(b.sum_qty AS DOUBLE))
                  WHEN b.p_partkey = br.brand_main_part THEN br.brand_lines
                  ELSE 0 END, 0) AS BIGINT) AS allocated_ad_lines
FROM base b JOIN brand br ON b.p_brand = br.p_brand
"""


@register("flagship_consolidation", _FLAGSHIP_SQL)
def flagship_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")

    # Money sums in DECIMAL: exact arithmetic is summation-order independent,
    # so distributed partial aggregation matches the single-threaded oracle
    # bit-for-bit (products of 2dp values land exactly on .005 round ties,
    # where double accumulation order would decide the cent).
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    sales = lineitem.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(F.sum(ep), 2).cast("double").alias("gross_revenue"),
        F.round(F.sum(ep * disc), 2).cast("double").alias("discount_amount"),
        F.round(F.sum(ep * tax), 2).cast("double").alias("tax_amount"),
        F.round(F.sum(ep * (F.lit(1) - disc)), 2).cast("double").alias("net_revenue"),
        F.count("*").alias("line_count"),
    )

    base = (
        part.join(sales, part["p_partkey"] == sales["l_partkey"], "left")
        .select(
            "p_partkey",
            "p_brand",
            "p_retailprice",
            F.coalesce("sum_qty", F.lit(0)).alias("sum_qty"),
            F.coalesce("gross_revenue", F.lit(0.0)).alias("gross_revenue"),
            F.coalesce("discount_amount", F.lit(0.0)).alias("discount_amount"),
            F.coalesce("tax_amount", F.lit(0.0)).alias("tax_amount"),
            F.coalesce("net_revenue", F.lit(0.0)).alias("net_revenue"),
            F.coalesce("line_count", F.lit(0)).alias("line_count"),
        )
        .withColumn("inventory_cost", F.round(F.col("p_retailprice") * F.col("sum_qty"), 2))
    )

    # parent-level pre-aggregation — the reference's ETAPA 2.5, here a
    # broadcast-joined groupBy so the rounded denominator is shared with the
    # oracle bit-for-bit.
    brand = base.groupBy("p_brand").agg(
        F.round(F.sum(F.col("gross_revenue").cast("decimal(18,2)")), 2).cast("double").alias("brand_gross"),
        F.round(F.sum(F.col("p_retailprice").cast("decimal(18,2)")), 2).cast("double").alias("brand_value"),
        F.sum("line_count").alias("brand_lines"),
        F.min("p_partkey").alias("brand_main_part"),
    )

    joined = base.join(F.broadcast(brand), "p_brand")
    allocated = allocate_ratio_to_parent(
        joined,
        parent_key="p_brand",
        weight="gross_revenue",
        total_col="brand_gross",
        specs=[
            AllocSpec("brand_value", "allocated_brand_value", round_to=2),
            AllocSpec("brand_lines", "allocated_ad_lines", round_to=0, cap="sum_qty"),
        ],
        child_id="p_partkey",
        parent_id="brand_main_part",
    )

    return allocated.select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_brand").alias("brand"),
        "sum_qty",
        "gross_revenue",
        "discount_amount",
        "tax_amount",
        "net_revenue",
        "line_count",
        "inventory_cost",
        "allocated_brand_value",
        F.col("allocated_ad_lines").cast("long").alias("allocated_ad_lines"),
    )


# ===========================================================================
# A1: multi-sum aggregation with filter pushdown (TPC-H Q1 shape; S2/P2/F5)
# ===========================================================================

_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT)                                  AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
       COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_SQL)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                    * (F.lit(1) + F.col("l_tax").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# ===========================================================================
# W6/A4: per-order ratio allocation (freight rateio over order items)
# ===========================================================================

_FREIGHT_SQL = """
SELECT l.l_orderkey, l.l_linenumber,
       ROUND(CASE WHEN SUM(l.l_extendedprice) OVER (PARTITION BY l.l_orderkey) > 0
                  THEN o.o_totalprice * l.l_extendedprice
                       / SUM(l.l_extendedprice) OVER (PARTITION BY l.l_orderkey)
                  ELSE 0 END, 2) AS freight_alloc
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


@register("freight_allocation", _FREIGHT_SQL)
def freight_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    out = allocate_by_share(
        joined, group_key="l_orderkey", amount="o_totalprice", share="l_extendedprice", out="freight_alloc"
    )
    return out.select("l_orderkey", "l_linenumber", "freight_alloc")


# ===========================================================================
# J5/U3: anti-join (referential-integrity alert side output)
# ===========================================================================

_ANTI_SQL = """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("customers_without_orders", _ANTI_SQL)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ===========================================================================
# A6: DISTINCT projection
# ===========================================================================


@register("distinct_segments", "SELECT DISTINCT c_mktsegment FROM customer")
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ===========================================================================
# P4/P5/P6: null/empty guard + prefix NOT LIKE + IN-set filters
# (the reference's buggy OR-precedence filter, fixed per SURVEY §7.0)
# ===========================================================================

_PART_FILTER_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_retailprice
FROM part
WHERE p_name IS NOT NULL AND p_name <> ''
  AND p_name NOT LIKE 'small%'
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
"""


@register("part_filters", _PART_FILTER_SQL)
def part_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").isNotNull()
        & (F.col("p_name") != "")
        & ~F.col("p_name").startswith("small")
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_retailprice")


# ===========================================================================
# A2: aggregation on a derived coalesce key (reference line 93 semantics)
# ===========================================================================

_COALESCE_KEY_SQL = """
SELECT COALESCE(NULLIF(o_orderstatus, 'O'), o_orderpriority) AS grp,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY COALESCE(NULLIF(o_orderstatus, 'O'), o_orderpriority)
"""


@register("coalesce_key_agg", _COALESCE_KEY_SQL)
def coalesce_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("grp", F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.col("o_orderpriority")))
        .groupBy("grp")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
    )


# ===========================================================================
# T4/S2: daily tumbling-window rollup over the event stream
# ===========================================================================

_DAILY_EVENTS_SQL = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""


@register("daily_event_rollup", _DAILY_EVENTS_SQL)
def daily_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.groupBy("event_date", "event_type").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )


# ===========================================================================
# T2/F1: watermark-style D-3 lateness cutoff (reference's D-3 target day)
# ===========================================================================

_WATERMARK_SQL = """
SELECT CAST(e.ts AS DATE) AS event_date, COUNT(*) AS n_events
FROM events e, (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events) m
WHERE CAST(e.ts AS DATE) <= m.max_d - 3
GROUP BY CAST(e.ts AS DATE)
"""


@register("watermark_d3_events", _WATERMARK_SQL)
def watermark_d3_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    max_d = e.agg(F.max("event_date").alias("max_d"))
    return (
        e.crossJoin(F.broadcast(max_d))
        .filter(F.col("event_date") <= F.date_sub(F.col("max_d"), 3))
        .groupBy("event_date")
        .agg(F.count("*").alias("n_events"))
    )


# ===========================================================================
# S9-as-query: keyed last-wins dedup (upsert semantics; W7 first-per-group)
# ===========================================================================

_LAST_EVENT_SQL = """
SELECT user_id, event_id, event_type, value FROM (
    SELECT user_id, event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) t WHERE rn = 1
"""


@register("last_event_per_user", _LAST_EVENT_SQL)
def last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return first_per_group(
        e, "user_id", [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "event_type", "value")


# ===========================================================================
# §2.6 top-k per group
# ===========================================================================

_TOP3_SQL = """
SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT p_brand, p_partkey, p_retailprice,
           ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
    FROM part
) t WHERE rnk <= 3
"""


@register("top3_parts_per_brand", _TOP3_SQL)
def top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return top_k_per_group(
        p, "p_brand", [F.col("p_retailprice").desc(), F.col("p_partkey")], 3, rank_col="rnk"
    ).select("p_brand", "p_partkey", "p_retailprice", "rnk")


# ===========================================================================
# W4: position/rank capture with page arithmetic and 500-result cap
# (reference tarefa_coletar_posicionamento.php:64-93)
# ===========================================================================

_RANK_CAPTURE_SQL = """
SELECT event_id, CAST(posicao AS INTEGER) AS posicao,
       CAST(FLOOR((posicao - 1) / 50) AS INTEGER) + 1 AS pagina
FROM (
    SELECT event_id, ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS posicao
    FROM events
) t WHERE posicao <= 500
"""


@register("rank_capture_events", _RANK_CAPTURE_SQL)
def rank_capture_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    out = rank_capture(
        e, order_by=[F.col("value").desc(), F.col("event_id")], page_size=50, limit=500
    )
    return out.select("event_id", "posicao", "pagina")


# ===========================================================================
# U1: distinct key-set union (active set construction)
# ===========================================================================

_UNION_SQL = """
SELECT DISTINCT l_partkey AS part_id FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
UNION
SELECT DISTINCT l_partkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
"""


@register("union_active_parts", _UNION_SQL)
def union_active_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    early = li.filter(F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    late = li.filter(F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
    return (
        early.select(F.col("l_partkey").alias("part_id"))
        .union(late.select("l_partkey"))
        .distinct()
    )


# ===========================================================================
# W7/P8: deterministic first row per group (loop-break first-match)
# ===========================================================================

_FIRST_LINE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY l_shipdate, l_linenumber, l_partkey, l_quantity) AS rn
    FROM lineitem
) t WHERE rn = 1
"""


@register("first_lineitem_per_order", _FIRST_LINE_SQL)
def first_lineitem_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic data repeats (orderkey, shipdate, linenumber) for a
    # handful of rows at sf0.1, so the tie-break must extend to every
    # output column to make the pick engine-independent
    li = _t(spark, sf_dir, "lineitem")
    return first_per_group(
        li, "l_orderkey", ["l_shipdate", "l_linenumber", "l_partkey", "l_quantity"]
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


# ===========================================================================
# F10: JSON field extraction + aggregation (events.props payload)
# ===========================================================================

_JSON_SQL = """
SELECT props->>'$.k' AS k_str,
       COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY props->>'$.k'
"""


@register("json_props_extract", _JSON_SQL)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k")
    return (
        e.withColumn("k_str", k)
        .groupBy("k_str")
        .agg(F.count("*").alias("n"), F.sum(k.cast("long")).alias("k_sum"))
    )


# Spark 4 VariantType (the shredded semi-structured path): at 100 TB a JSON
# string column is re-parsed on every query, while VARIANT parses once and
# stores a binary-shredded encoding that typed path extraction reads
# directly. The query builds a NESTED document from known columns
# (to_json), parses it to VARIANT, and extracts typed values back through
# object, nested-object, and array-index paths — so the oracle is simply
# the ORIGINAL columns (lossless round-trip identity), and any extraction,
# typing, or path bug breaks the hash. props.k rides along through the
# same variant (string-typed, as stored). NULL discipline: to_json drops
# null fields, try_variant_get returns NULL on missing paths — identity
# holds for null inputs too.
_VARIANT_SQL = """
SELECT event_id, event_type AS t,
       user_id AS u, value AS amt,
       event_id AS id0,
       props->>'$.k' AS k_str
FROM events
"""


@register("variant_props_extract", _VARIANT_SQL)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(F.col("user_id").alias("u"), F.col("value").alias("amt")).alias(
                "who"
            ),
            F.array("event_id").alias("ids"),
            F.get_json_object("props", "$.k").alias("k"),
        )
    )
    v = e.select("event_id", F.parse_json(doc).alias("v"))
    return v.select(
        "event_id",
        F.try_variant_get("v", "$.t", "string").alias("t"),
        F.try_variant_get("v", "$.who.u", "long").alias("u"),
        F.try_variant_get("v", "$.who.amt", "double").alias("amt"),
        F.try_variant_get("v", "$.ids[0]", "long").alias("id0"),
        F.try_variant_get("v", "$.k", "string").alias("k_str"),
    )


# ===========================================================================
# Dedup (exact): hash-groupBy canonicalization over documents
# ===========================================================================

_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("dedup_exact_documents", _DEDUP_EXACT_SQL)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# ===========================================================================
# Text analysis v1: token count + vowel ratio (engine-parity formulation)
# ===========================================================================

_TOKEN_SQL = """
SELECT doc_id, n_chars,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
            END AS BIGINT) AS token_count,
       ROUND(CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS vowel_ratio
FROM documents
"""


@register("doc_token_stats", _TOKEN_SQL)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit(""))) + F.lit(1)
    )
    vowels = F.length(F.regexp_replace(F.col("text"), "[^aeiou]", ""))
    return d.select(
        "doc_id",
        "n_chars",
        tokens.cast("long").alias("token_count"),
        F.round(vowels.cast("double") / F.length(F.col("text")), 4).alias("vowel_ratio"),
    )


# --------------------------------------------------------------------------
# Driver correctness window (the driver records rows for the FIRST 50 names
# queries() emits). Round-11 rotation, strict oldest-driver-evidence-first:
# (a) the 8 rows whose plans changed or whose walls were adjudicated this
# round (single-pass sketch profile; the re-keyed _widen_by profile rows;
# the ivfadc family recovered by the eager mart fill; the simhash/CC star
# mart consumers) — their current form needs fresh driver evidence;
# (b) ALL 27 rows whose committed evidence is still r05-age, so after the
# r11 run no row's evidence predates r06 (the r10 verdict's #10
# done-criterion); (c) the 15 alphabetically-first r06-age rows fill the
# window to 50. Every row is selfcheck-green at sf0.001/0.01 this round
# (SELFCHECK_r10.json is the newest committed full-catalog record;
# CORRECTNESS_r11.json holds the r11 driver window); rotated-out greens
# stay protected by selfcheck+pytest.
# --------------------------------------------------------------------------
_DRIVER_PRIORITY = [
    # (a) changed-plan / adjudicated r11 rows
    "sketch_profile_lineitem",
    "column_profile",
    "approx_percentile_prices",
    "ivfadc_top3",
    "ivfadc_refined_top3",
    "ivfadc_recall_at3",
    "simhash_near_pairs",
    "near_dup_components_star",
    # (b) all rows with r05-age driver evidence (27)
    "lang_id_heuristic",
    "latest_event_max_by",
    "listagg_brand_part_names",
    "listagg_distinct_types",
    "minhash_candidate_pairs",
    "near_dup_verified_pairs",
    "ntile_price_quartiles",
    "posexplode_embeddings",
    "q12_priority_lines_by_status",
    "rank_capture_events",
    "recursive_hierarchy_rollup",
    "regex_token_extracts",
    "region_customer_rollup",
    "rocksdb_user_totals_executed",
    "simhash_documents",
    "streaming_static_enrichment",
    "supplier_same_nation_pairs",
    "table_checksum_by_day",
    "text_quality_score",
    "token_budget_mixture",
    "top3_parts_per_brand",
    "train_val_test_split",
    "trigram_perplexity_scores",
    "union_active_parts",
    "unpivot_flag_metrics",
    "watermark_d3_events",
    "xml_source_roundtrip",
    # (c) alphabetically-first r06-age rows, filling the window to 50
    "active_day_streaks",
    "bitmap_exact_distinct_users",
    "bm25_query_scores",
    "cdc_apply_snapshot",
    "clicks_before_purchase",
    "corpus_top_terms",
    "cube_status_priority",
    "customers_without_orders",
    "daily_event_rollup",
    "decontamination_report",
    "doc_repetition_stats",
    "event_sessions",
    "event_type_transitions",
    "flagship_consolidation",
    "freight_allocation",
]


def _driver_order() -> list[str]:
    pri = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    seen = set(pri)
    return pri + [n for n in QUERIES if n not in seen]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _driver_order()}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLE[n] for n in _driver_order() if n in ORACLE}


# ===========================================================================
# Batch 2: LLM-data-pipeline operators — dedup, similarity, text analysis,
# multimodal plumbing (BASELINE.json north-star; first-class components).
# ===========================================================================

from .operators.dedupe import (  # noqa: E402
    incremental_candidate_pairs,
    minhash_band_keys,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash32,
)
from .operators.multimodal import documents_as_media, extract_features  # noqa: E402
from .operators.similarity import cosine_topk, embedding_norms  # noqa: E402
from .operators.textstats import lang_id, quality_features, fingerprint, bpe_ish_token_count  # noqa: E402

_MINHASH_BANDS_SQL = """
WITH sh AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                          i -> substr(text, i, 5)) AS shingles
    FROM documents
),
dig AS (
    SELECT doc_id, list_transform(shingles, s -> md5(s)) AS dg FROM sh
),
sig AS (
    SELECT doc_id,
           list_aggregate(list_transform(dg, d -> substr(d, 1, 8)), 'min') AS mh0,
           list_aggregate(list_transform(dg, d -> substr(d, 9, 8)), 'min') AS mh1,
           list_aggregate(list_transform(dg, d -> substr(d, 17, 8)), 'min') AS mh2,
           list_aggregate(list_transform(dg, d -> substr(d, 25, 8)), 'min') AS mh3
    FROM dig
)
SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig
UNION ALL
SELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig
"""


@register("minhash_band_buckets", _MINHASH_BANDS_SQL)
def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _band_keys(spark, sf_dir)


_MINHASH_PAIRS_SQL = _MINHASH_BANDS_SQL.replace(
    "SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig\nUNION ALL\nSELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig",
    """bk AS (
    SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bk a JOIN bk b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""",
).replace(")\nbk AS (", "),\nbk AS (")


@register("minhash_candidate_pairs", _MINHASH_PAIRS_SQL)
def minhash_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the persisted band-key side-table matters twice over: the pair
    # self-join reads it on both sides (broadcast build has no exchange to
    # reuse — without a persist every md5 minhash runs twice), and the other
    # minhash entries share the same materialization.
    return minhash_candidate_pairs(_band_keys(spark, sf_dir))


_MINHASH_INC_SQL = _MINHASH_BANDS_SQL.replace(
    "SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig\nUNION ALL\nSELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig",
    """bk AS (
    SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig
)
SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a, greatest(a.doc_id, b.doc_id) AS doc_b
FROM bk a JOIN bk b
  ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id % 10 = 0 AND a.doc_id != b.doc_id""",
).replace(")\nbk AS (", "),\nbk AS (")


@register("minhash_incremental_pairs", _MINHASH_INC_SQL)
def minhash_incremental_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental half of the signature mart: candidate pairs touching the
    # "delta" batch only (docs with id % 10 == 0 stand in for a daily
    # ingest) — a delta × mart band join, never mart × mart. Composition
    # with the prior pair mart is asserted in test_incremental_minhash.
    bk = _band_keys(spark, sf_dir)
    delta = bk.filter(F.col("doc_id") % 10 == 0)
    return incremental_candidate_pairs(bk, delta)


def _simhash_sql() -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN substr(md5(tok), {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{j}"
        for j in range(32)
    )
    bits = " + ".join(f"CASE WHEN v{j} > 0 THEN CAST(power(2, {j}) AS BIGINT) ELSE CAST(0 AS BIGINT) END" for j in range(32))
    return f"""
WITH toks AS (
    SELECT doc_id, tok
    FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents)
    WHERE tok <> ''
),
votes AS (
    SELECT doc_id,
           {votes}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash FROM votes
"""


@register("simhash_documents", _simhash_sql())
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_sigs(spark, sf_dir)


_JACCARD_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
                                        i -> substr(text, i, 3))) AS grams
    FROM documents WHERE doc_id < 150
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM g a, g b WHERE a.doc_id < b.doc_id
"""


@register("ngram_jaccard_pairs", _JACCARD_SQL)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", k=3, max_id=150)


_KNN_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (
    SELECT vec_id AS cand_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
),
scored AS (
    SELECT q.query_id, c.cand_id,
           ROUND(list_aggregate(list_transform(list_zip(q.qv, c.cv), x -> x[1] * x[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(q.qv, x -> x * x), 'sum'))
                    * sqrt(list_aggregate(list_transform(c.cv, x -> x * x), 'sum'))), 6) AS cos_sim
    FROM q, c WHERE q.query_id <> c.cand_id
)
SELECT query_id, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM scored
) t WHERE rnk <= 3
"""


@register("knn_cosine_top3", _KNN_SQL)
def knn_cosine_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=3)


# Margin-based bitext mining (Artetxe & Schwenk 2019 / CCMatrix): the
# synthetic "languages" are the vec_id parity halves. r9 shipped the exact
# cross-join form over BOTH full halves — the one quadratic plan in the
# catalog (the r9 verdict's scale-killer). r10 replaces it with the
# IVF-indexed miner; the rows live in the IVF section below (after
# _kmeans_ctes is defined, which their oracles replay):
#   bitext_margin_pairs       — indexed miner over the full halves
#   bitext_margin_exact_slice — the exact rule, bounded audit slice only
#   bitext_knn_recall_at4     — measured recall of the indexed kNN leg


_NORMS_SQL = """
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
       ROUND(sqrt(list_aggregate(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                                x -> x * x), 'sum')), 6) AS l2_norm
FROM embeddings
"""


@register("embedding_norms", _NORMS_SQL)
def embedding_norms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_norms(_t(spark, sf_dir, "embeddings"), "embedding", "vec_id")


_LANG_SQL = """
WITH s AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|in)\\b')) AS INTEGER) AS score_en,
           CAST(len(regexp_extract_all(lower(text), '\\b(el|la|los|las|que|y|es)\\b')) AS INTEGER) AS score_es,
           CAST(len(regexp_extract_all(lower(text), '\\b(o|os|um|uma|que|e|de|da|do)\\b')) AS INTEGER) AS score_pt,
           CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|et|est|une)\\b')) AS INTEGER) AS score_fr
    FROM documents
)
SELECT doc_id, score_en, score_es, score_pt, score_fr,
       CASE WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_pt AND score_en >= score_fr THEN 'en'
            WHEN score_es > 0 AND score_es >= score_pt AND score_es >= score_fr THEN 'es'
            WHEN score_pt > 0 AND score_pt >= score_fr THEN 'pt'
            WHEN score_fr > 0 THEN 'fr'
            ELSE 'und' END AS predicted_lang
FROM s
"""


@register("lang_id_heuristic", _LANG_SQL)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_t(spark, sf_dir, "documents"), "text", "doc_id")


_QUALITY_SQL = r"""
WITH t AS (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS spaces,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS toks,
           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|is|to|in)\b')) AS DOUBLE) AS stop
    FROM documents
),
r AS (
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars_actual,
           toks AS n_tokens,
           ROUND(alpha / n, 6) AS alpha_ratio,
           ROUND(digits / n, 6) AS digit_ratio,
           ROUND(spaces / n, 6) AS space_ratio,
           ROUND((n - spaces) / greatest(CAST(toks AS DOUBLE), 1.0), 6) AS mean_token_len,
           ROUND(stop / greatest(CAST(toks AS DOUBLE), 1.0), 6) AS stopword_ratio
    FROM t
)
SELECT doc_id, n_chars_actual, n_tokens, alpha_ratio, digit_ratio, space_ratio,
       mean_token_len, stopword_ratio,
       ROUND(least(greatest(alpha_ratio * 0.6
                            + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 0.3 ELSE 0.0 END
                            + least(stopword_ratio, 0.5) * 0.2
                            - digit_ratio * 0.4, 0.0), 1.0), 6) AS quality_score
FROM r
"""


@register("text_quality_score", _QUALITY_SQL)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(_t(spark, sf_dir, "documents"), "text", "doc_id")


_FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^\\sA-Za-z0-9]')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


@register("doc_fingerprint", _FINGERPRINT_SQL)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint("text").alias("fingerprint"),
        bpe_ish_token_count("text").alias("bpe_ish_tokens"),
    )


# winnowing (MOSS): rolling k-gram hashes -> min per sliding window ->
# distinct selected fingerprints; shared substrings of length >= k+window-1
# are guaranteed to share a fingerprint
_WINNOW_SQL = """
WITH h AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                          i -> substr(md5(substr(text, i, 5)), 1, 8)) AS hs
    FROM documents
),
sel AS (
    SELECT doc_id,
           list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                          i -> list_min(hs[i:i+3])) AS sels
    FROM h
)
SELECT DISTINCT doc_id, unnest(sels) AS fp FROM sel
"""


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import winnow_fingerprints

    return _side_table(
        spark,
        sf_dir,
        "winnow_fps",
        lambda: winnow_fingerprints(
            _t(spark, sf_dir, "documents"), "text", "doc_id", k=5, window=4
        ),
    )


@register("winnow_fingerprints", _WINNOW_SQL)
def winnow_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _winnow_fps(spark, sf_dir)


# containment candidates: pairs sharing >= 2 RARE fingerprints (df <= 10 —
# the "stop fingerprint" cut that keeps the fp self-join linear-ish)
_WINNOW_PAIRS_SQL = _WINNOW_SQL.replace(
    "SELECT DISTINCT doc_id, unnest(sels) AS fp FROM sel",
    """fps AS (SELECT DISTINCT doc_id, unnest(sels) AS fp FROM sel),
dfreq AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM fps a JOIN fps b USING (fp) JOIN dfreq USING (fp)
WHERE dfreq.df <= 10 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2""",
).replace(")\nfps AS (", "),\nfps AS (")


@register("winnow_containment_pairs", _WINNOW_PAIRS_SQL)
def winnow_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import winnow_containment_pairs

    return winnow_containment_pairs(_winnow_fps(spark, sf_dir), max_df=10, min_shared=2)


_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       'ok' AS decode_status
FROM documents
"""


@register("multimodal_decode_stub", _MULTIMODAL_SQL)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return extract_features(documents_as_media(d))


# resize: the fake kernel truncates the payload to the width×height pixel
# budget, so the oracle is a substr+md5 — which is exactly the point: the
# Arrow batch plumbing is verified end-to-end even with a stub kernel.
_MULTIMODAL_RESIZE_SQL = """
SELECT doc_id AS media_id,
       CAST(64 AS BIGINT) AS width, CAST(48 AS BIGINT) AS height,
       CAST(least(length(text), 64 * 48) AS BIGINT) AS n_bytes,
       md5(substr(text, 1, 64 * 48)) AS content_hash,
       'ok' AS resize_status
FROM documents
"""


@register("multimodal_resize_stub", _MULTIMODAL_RESIZE_SQL)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import resize_media

    d = _t(spark, sf_dir, "documents")
    return resize_media(documents_as_media(d), width=64, height=48)


# frame sampling: one-to-many row kernel — each doc yields 4 "frames"
# (contiguous integer-division chunks of the payload in the fake kernel);
# the oracle reproduces the chunk boundaries with substr arithmetic.
_MULTIMODAL_FRAMES_SQL = """
SELECT d.doc_id AS media_id,
       CAST(i.frame_index AS BIGINT) AS frame_index,
       CAST((i.frame_index + 1) * length(text) // 4
            - i.frame_index * length(text) // 4 AS BIGINT) AS n_bytes,
       md5(substr(text,
                  i.frame_index * length(text) // 4 + 1,
                  (i.frame_index + 1) * length(text) // 4
                  - i.frame_index * length(text) // 4)) AS frame_hash,
       'ok' AS sample_status
FROM documents d, (SELECT unnest(generate_series(0, 3)) AS frame_index) i
"""


@register("multimodal_frame_sample", _MULTIMODAL_FRAMES_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(d), n_frames=4)


# REAL decode (NEW r4, the r3-verdict item 3): synthesize VALID on-disk
# payloads (PPM here, BMP below) from the SQL-replayable pixel formula in
# operators/multimodal.synth_raster — dims w=8+id%5, h=4+id%3, byte i =
# (id*31 + i*7) % 256 — then parse them with the dependency-free decoders in
# operators/imagecodec.py (headers, comments, BMP bottom-up padded BGR rows)
# and hash the exact pixel stats against this oracle. This is a genuine
# decode, not a stand-in: the decode stage sees only opaque bytes.
_IMAGE_DECODE_SQL_TMPL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, i.i, (doc_id * 31 + i.i * 7) % 256 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h * 3 - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels, CAST(255 AS BIGINT) AS maxval,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 1 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 2 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w * 3 THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h
"""


def _image_decode_stats(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from .operators.multimodal import extract_image_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return extract_image_stats(synthesize_images(ids, fmt=fmt))


@register("ppm_decode_stats", _IMAGE_DECODE_SQL_TMPL)
def ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "ppm")


# same formula, same oracle — but the payload is a bottom-up, 4-byte-row-
# padded, BGR-ordered BMP, so a decoder that ignores any of the three
# transforms fails the top_left/row0_sum columns even though the totals match.
@register("bmp_decode_stats", _IMAGE_DECODE_SQL_TMPL)
def bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "bmp")


# Perceptual image hashing (dHash, r9; MIXED formats r10): the standard
# near-duplicate IMAGE signal — integer grayscale, floor-index nearest
# resample to the 9×8 canonical grid, one horizontal-gradient bit per cell
# pair, 64 bits split MSB-first into two unsigned-32-bit values carried in
# signed int64 longs (signed-int64-safe Hamming on both engines). r10: the
# payload table cycles PPM/BMP/PNG/GIF by media_id % 4 and the kernel
# routes through the full format dispatch (multimodal.decode_image_raster)
# — all four encodings are LOSSLESS over the shared synth_raster formula,
# so the format-independent pixel oracle is unchanged: a kernel that
# botches ANY format's decode (BMP bottom-up BGR, a PNG filter, GIF LZW)
# now flips that quarter of the hash corpus.
_DHASH_H_CTES = """dims AS MATERIALIZED (
    SELECT doc_id, 8 + doc_id % 5 AS sw, 4 + doc_id % 3 AS sh FROM documents
),
px AS (
    SELECT doc_id, sw, sh, dy.i AS dy, dx.i AS dx,
           ((dy.i * sh // 8) * sw + (dx.i * sw // 9)) AS sp
    FROM dims,
         LATERAL (SELECT unnest(generate_series(0, 7)) AS i) dy,
         LATERAL (SELECT unnest(generate_series(0, 8)) AS i) dx
),
g AS (
    SELECT doc_id, sw, sh, dy, dx,
           (((doc_id * 31 + (3 * sp + 0) * 7) % 256)
            + ((doc_id * 31 + (3 * sp + 1) * 7) % 256)
            + ((doc_id * 31 + (3 * sp + 2) * 7) % 256)) // 3 AS gray
    FROM px
),
bits AS (
    SELECT a.doc_id, a.sw, a.sh, a.dy, a.dx,
           CASE WHEN b.gray > a.gray THEN 1 ELSE 0 END AS bit
    FROM g a JOIN g b ON b.doc_id = a.doc_id AND b.dy = a.dy AND b.dx = a.dx + 1
    WHERE a.dx < 8
),
h AS MATERIALIZED (
    SELECT doc_id, MAX(sw) AS sw, MAX(sh) AS sh,
           CAST(SUM(CASE WHEN dy < 4
                         THEN bit * (CAST(1 AS BIGINT) << (31 - (dy * 8 + dx)))
                         ELSE 0 END) AS BIGINT) AS hi,
           CAST(SUM(CASE WHEN dy >= 4
                         THEN bit * (CAST(1 AS BIGINT) << (31 - ((dy - 4) * 8 + dx)))
                         ELSE 0 END) AS BIGINT) AS lo
    FROM bits GROUP BY doc_id
)"""

_DHASH_SQL = f"""
WITH {_DHASH_H_CTES}
SELECT doc_id AS media_id,
       CAST(sw AS BIGINT) AS width, CAST(sh AS BIGINT) AS height,
       hi AS dhash_hi, lo AS dhash_lo,
       'ok' AS hash_status
FROM h
"""


# The mixed-format payload table and its hash mart, shared per (session,
# sf_dir) like the text-signature marts: synthesize + decode + hash ONCE,
# then image_dhash / image_dhash_near_pairs / image_dedup_canonical all
# read the persisted hashes (at scale: a perceptual-hash column maintained
# at media ingest, exactly the MinHash-signature contract).
def _mixed_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce as _reduce

    from .operators.multimodal import synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    parts = [
        synthesize_images(ids.filter(F.col("media_id") % 4 == i), fmt=f)
        for i, f in enumerate(("ppm", "bmp", "png", "gif"))
    ]
    return _reduce(DataFrame.unionByName, parts)


def _dhash_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import perceptual_dhash

    return _side_table(
        spark,
        sf_dir,
        "image_dhash_mixed",
        lambda: perceptual_dhash(_mixed_images(spark, sf_dir)),
    )


@register("image_dhash", _DHASH_SQL)
def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image perceptual dHash over REAL decoded payloads in four
    container formats (PPM/BMP/PNG/GIF by id) —
    operators/multimodal.perceptual_dhash via decode_image_raster."""
    return _dhash_mart(spark, sf_dir)


# Banded Hamming pairing over the dHashes (r9): 4 disjoint 16-bit bands →
# pigeonhole-complete candidates for Hamming <= 3 → exact bit_count(xor)
# verify. The oracle brute-forces all pairs from the formula-derived
# hashes, so a banding bug that DROPS a candidate (not just extra work)
# fails the count. 75 identical + ~600 near pairs at sf0.01 by
# construction of the modular pixel formula.
_DHASH_PAIRS_SQL = f"""
WITH {_DHASH_H_CTES}
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
"""


@register("image_dhash_near_pairs", _DHASH_PAIRS_SQL)
def image_dhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptually near-duplicate image pairs (Hamming <= 3 over dHash)
    via the pigeonhole band join — operators/multimodal.dhash_near_pairs
    over the shared mixed-format hash mart."""
    from .operators.multimodal import dhash_near_pairs

    return dhash_near_pairs(_dhash_mart(spark, sf_dir))


# Multi-probe extension (r10, the r9 verdict's optional recall radius): the
# 4-band pigeonhole is complete for Hamming <= 3 only; probing each band's
# value plus its 16 single-bit flips (Lv et al. 2007 multi-probe LSH) keeps
# SOME band reachable for any <= 7-flip pair — still an equi-join, probe
# fan-out x17. Same brute-force oracle shape at the wider threshold.
_DHASH_FAR_PAIRS_SQL = f"""
WITH {_DHASH_H_CTES}
SELECT a.doc_id AS media_a, b.doc_id AS media_b,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
"""


@register("image_dhash_far_pairs", _DHASH_FAR_PAIRS_SQL)
def image_dhash_far_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptually near-duplicate image pairs at the WIDER Hamming <= 7
    radius via single-bit multi-probe banding —
    operators/multimodal.dhash_near_pairs_multiprobe over the shared
    mixed-format hash mart."""
    from .operators.multimodal import dhash_near_pairs_multiprobe

    return dhash_near_pairs_multiprobe(_dhash_mart(spark, sf_dir))


# Image near-dup dedup END TO END (r10, r9 verdict item 5): dHash pairs →
# connected components → keep-best canonical — the text path's
# minhash→CC→keep_best composition at the image grain, reusing
# connected_components_star and keep_best_per_cluster UNCHANGED. "Best" =
# largest pixel area (ties → lowest media_id): the curation rule a media
# pipeline actually applies (keep the highest-resolution copy). The oracle
# nests the formula-derived hashes, the brute-force pair set, the recursive
# closure, and the ranked selection.
_IMAGE_CANON_SQL = f"""
WITH RECURSIVE {_DHASH_H_CTES},
ipairs AS (
    SELECT a.doc_id AS media_a, b.doc_id AS media_b
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
),
edges AS (
    SELECT media_a AS src, media_b AS dst FROM ipairs
    UNION ALL
    SELECT media_b AS src, media_a AS dst FROM ipairs
),
reach(node, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (
    SELECT node AS media_id, CAST(MIN(lab) AS BIGINT) AS component_id
    FROM reach GROUP BY node
),
ranked AS (
    SELECT c.component_id, c.media_id,
           CAST(hh.sw * hh.sh AS BIGINT) AS pixel_area,
           row_number() OVER (PARTITION BY c.component_id
                              ORDER BY hh.sw * hh.sh DESC, c.media_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
    FROM comp c JOIN h hh ON hh.doc_id = c.media_id
)
SELECT component_id, media_id AS best_media_id, pixel_area,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


def _image_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-grain image components ``(media_id, component_id)`` as a
    session side mart (the text path's near_dup_components contract: the
    closure runs ONCE per corpus version, consumers read the persisted
    table).

    EXACT-COLLAPSE-FIRST plan (the production shape at any scale): images
    with IDENTICAL 64-bit hashes are one clique by definition (Hamming 0),
    so collapse them to their min-id representative with one groupBy
    BEFORE clustering, run dhash_near_pairs + connected_components_star on
    the DISTINCT-hash representatives only, and map components back to
    members through the hash group. Identical-hash groups are exactly
    where near-dup graphs explode (the member-grain pair graph here is
    82,570 edges at sf0.1 — quadratic per identity group; reps: 1,082
    nodes / 2,550 edges; at 100 TB an exact-dup image cluster of 10^6
    members would be 10^12 member-grain edges vs ONE rep node). Components
    are unchanged: the rep is the group min, so min-label over reps = min
    media_id over members; isolated multi-member groups (no cross-hash
    edge) form their own component; singletons without edges stay out
    (the pair-graph contract, same as the text row)."""
    from .operators.dedupe import connected_components_star
    from .operators.multimodal import dhash_near_pairs

    def build() -> DataFrame:
        ok = _dhash_mart(spark, sf_dir).filter(F.col("hash_status") == "ok")
        grp = ok.groupBy("dhash_hi", "dhash_lo").agg(
            F.min("media_id").alias("rep_id"), F.count("*").alias("grp_size")
        )
        reps = grp.select(
            F.col("rep_id").alias("media_id"),
            "dhash_hi",
            "dhash_lo",
            F.lit("ok").alias("hash_status"),
        )
        rep_edges = dhash_near_pairs(reps).select(
            F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
        )
        comp_reps = connected_components_star(rep_edges)  # (doc_id=rep, comp)
        iso = (
            grp.filter(F.col("grp_size") >= 2)
            .join(comp_reps, grp["rep_id"] == comp_reps["doc_id"], "left_anti")
            .select(
                F.col("rep_id").alias("doc_id"), F.col("rep_id").alias("component_id")
            )
        )
        comp_all = comp_reps.unionByName(iso).withColumnRenamed("doc_id", "rep_id")
        return (
            ok.join(
                grp.select("dhash_hi", "dhash_lo", "rep_id"), ["dhash_hi", "dhash_lo"]
            )
            .join(comp_all, "rep_id")
            .select("media_id", "component_id")
        )

    return _side_table(spark, sf_dir, "image_components", build)


@register("image_dedup_canonical", _IMAGE_CANON_SQL)
def image_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical image per perceptual near-dup cluster: the
    :func:`_image_components` closure mart (collapse-first dhash pairs →
    connected_components_star) joined to per-member pixel areas,
    keep_best_per_cluster by area (ties → lowest media_id) — the text
    path's near_dup_keep_best composition at the image grain."""
    from .operators.dedupe import keep_best_per_cluster

    ok = _dhash_mart(spark, sf_dir).filter(F.col("hash_status") == "ok")
    area = ok.select(
        "media_id", (F.col("width") * F.col("height")).cast("long").alias("pixel_area")
    )
    return keep_best_per_cluster(
        _image_components(spark, sf_dir), area, score_col="pixel_area", id_col="media_id"
    ).select("component_id", "best_media_id", "pixel_area", "n_members")


# same formula, same oracle — but the payload is a REAL PNG (stdlib-zlib
# DEFLATE + CRC-checked chunks + per-row filters cycling through all five
# types 0..4), so a decoder that botches ANY filter's reconstruction, skips
# CRC verification, or mishandles multi-chunk IDAT reassembly fails the
# pixel hash. h = 4 + id%3 means rows 0..5 exist at h=6: every filter type
# including Paeth is exercised across the table.
@register("png_decode_stats", _IMAGE_DECODE_SQL_TMPL)
def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png")


# RGBA variant: 4-channel synth raster (w = 4+id%4, h = 5+id%3 — h ≥ 5 so
# EVERY image individually exercises all five filters), byte i over w*h*4 =
# (id*37 + i*11) % 256. Channel sums skip alpha (i%4 = 3); row0_sum keeps
# it — both definitions replayed here. bpp=4 also changes the filters'
# left-neighbor distance, which the RGB row cannot catch.
_PNG_RGBA_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 4 + doc_id % 4 AS w, 5 + doc_id % 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, i.i, (doc_id * 37 + i.i * 11) % 256 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h * 4 - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS channels, CAST(255 AS BIGINT) AS maxval,
       CAST(SUM(CASE WHEN i % 4 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 4 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 4 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 1 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 2 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w * 4 THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h
"""


@register("png_rgba_decode_stats", _PNG_RGBA_SQL)
def png_rgba_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_rgba")


# PALETTE PNG (NEW r7): color type 3, the ubiquitous web form — PLTE
# lookup, index-byte filtering (bpp=1), out-of-range-index rejection. The
# synth rasters have ≤ 72 pixels so palette encoding is exactly lossless:
# the oracle is the SAME pixel formula as the truecolor row, making the
# hash a cross-REPRESENTATION equality proof (truecolor and palette
# encodings of one image decode to identical stats).
@register("png_palette_decode_stats", _IMAGE_DECODE_SQL_TMPL)
def png_palette_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_palette")


# SUB-BYTE-DEPTH PNG (NEW r8): depths 1/2/4 rotating on id%3 — the LAST
# honest PNG gap closed, so every legal depth/color-type combination now
# decodes. Filters run over the bit-PACKED row bytes (left distance 1),
# samples unpack MSB-first per spec §7.2, and ids % 7 == 0 arrive Adam7-
# interlaced (each pass bit-packed independently — the layout a byte-depth
# decoder cannot fake). Full value range at every depth, so a mis-shifted
# unpack fails the sums.
_PNG_LOWDEPTH_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 15 END AS mx
  FROM documents
),
px AS (
  SELECT doc_id, w, h, mx, i.i, (doc_id * 29 + i.i * 7) % (mx + 1) AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels, CAST(mx AS BIGINT) AS maxval,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM(v) AS BIGINT) AS sum_g,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h, mx
"""


@register("png_lowdepth_decode_stats", _PNG_LOWDEPTH_SQL)
def png_lowdepth_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_lowdepth")


# GIF (NEW r8, operators/gifcodec.py): full LZW both directions (variable
# 3..12-bit codes, LSB packing, CLEAR/EOI, 4096-entry dictionary resets),
# first-appearance global color table, 4-pass interlace on ids % 5 == 0,
# extension skipping, strict sub-block/trailer checks. Exactly lossless at
# <= 256 colors, so the oracle is the SAME pixel formula as the truecolor
# row — the cross-representation equality proof, like palette PNG.
@register("gif_decode_stats", _IMAGE_DECODE_SQL_TMPL)
def gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "gif")


# GRAYSCALE PNG (NEW r7): color type 0 — 1 byte/pixel scanlines under the
# same cycling filters; channel sums and top-left replicate the gray
# channel, row0_sum covers the stored row (definitions in decode_png).
_PNG_GRAY_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, i.i, (doc_id * 41 + i.i * 13) % 256 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels, CAST(255 AS BIGINT) AS maxval,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM(v) AS BIGINT) AS sum_g,
       CAST(SUM(v) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h
"""


@register("png_gray_decode_stats", _PNG_GRAY_SQL)
def png_gray_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_gray")


# COLOR-KEY tRNS PNG (NEW r8): truecolor + a tRNS transparent-color chunk
# (key = pixel 0's triple) — decode widens to RGBA with alpha 0 exactly
# where the pixel equals the key. The raster formula's % 32 period makes
# the key recur every 32 pixels, so larger images carry multiple
# transparent pixels. The oracle replays the compare: pixel p matches iff
# (id*31 + 21p) % 32 = (id*31) % 32 ⟺ (21p) % 32 = 0 — written literally
# as ((i//3)*21) % 32 = 0. Channel sums exclude alpha, row0_sum includes
# it (the decode_png definitions).
_PNG_COLORKEY_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, i.i, (doc_id * 31 + i.i * 7) % 32 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h * 3 - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(4 AS BIGINT) AS channels, CAST(255 AS BIGINT) AS maxval,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 1 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 2 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w * 3 THEN v END)
            + SUM(CASE WHEN i % 3 = 0 AND i < w * 3 THEN
                    CASE WHEN ((i // 3) * 21) % 32 = 0 THEN 0 ELSE 255 END
                  END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h
"""


@register("png_colorkey_decode_stats", _PNG_COLORKEY_SQL)
def png_colorkey_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_colorkey")


# 16-BIT PNG (NEW r8): depth 16 — big-endian sample pairs, filter
# left-neighbor distance 6 BYTES (channels*2), ids % 7 == 0 interlaced.
# Every image has samples above 255 (formula % 65536), so a decoder that
# truncates to bytes, swaps endianness, or keeps the 8-bit filter distance
# fails the hash; maxval hashes as 65535.
_PNG_16BIT_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 4 + doc_id % 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, i.i, (doc_id * 97 + i.i * 101) % 65536 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w * h * 3 - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels, CAST(65535 AS BIGINT) AS maxval,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN i = 1 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN i = 2 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN i < w * 3 THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM px
GROUP BY doc_id, w, h
"""


@register("png_16bit_decode_stats", _PNG_16BIT_SQL)
def png_16bit_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_decode_stats(spark, sf_dir, "png_16bit")


# Baseline JPEG (NEW r7, verdict item 4): REAL lossy decode — markers,
# in-file DHT Huffman, dequant/zigzag/IDCT, YCbCr, 4:4:4 AND 4:2:0 MCU
# interleave (odd ids subsample, so both layouts run every round). Lossy ⇒
# the tolerance-band oracle convention (sketch_profile_lineitem): header
# facts (dims from SOF, subsampling from the sampling factors) hash
# exactly; pixel fidelity is a kernel-computed band boolean vs the
# regenerated original raster (measured worst |err| = 1, band = 4), which
# the oracle replays as literal TRUE — any decode drift flips it loudly.
_JPEG_DECODE_SQL = """
SELECT doc_id AS media_id,
       CAST(16 + doc_id % 9 AS BIGINT) AS width,
       CAST(16 + doc_id % 5 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       CASE doc_id % 3 WHEN 0 THEN '4:4:4' WHEN 1 THEN '4:2:0'
            ELSE '4:2:2' END AS subsampling,
       TRUE AS pixels_in_band, TRUE AS sums_in_band,
       'ok' AS decode_status
FROM documents
"""


@register("jpeg_decode_stats", _JPEG_DECODE_SQL)
def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import jpeg_decode_band_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return jpeg_decode_band_stats(synthesize_images(ids, fmt="jpeg"))


# PROGRESSIVE JPEG (NEW r8, T.81 Annex G): the multi-scan SOF2 layout —
# DC successive approximation (first + refinement) and per-component
# spectral AC bands each with a refinement pass (EOB-run coding,
# positional correction bits). Same oracle VERBATIM as the baseline row:
# the progressive encoder shares the baseline's plane/quant pipeline, so
# its quantized coefficients — and therefore the decoded raster and band
# booleans — are bit-identical to the baseline round-trip (pinned by
# test_bit_identical_to_baseline). A decoder bug in any scan polarity
# lands outside the band and flips the hash.
@register("jpeg_progressive_stats", _JPEG_DECODE_SQL)
def jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import jpeg_decode_band_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return jpeg_decode_band_stats(synthesize_images(ids, fmt="jpeg_progressive"))


# REAL nearest-neighbor resize, end-to-end: synth PPM (same formula) →
# resize_ppm_nearest to 4x3 → decode the RESIZED bytes → stats. The oracle
# replays the floor index map sx = dx*sw//4, sy = dy*sh//3 over the pixel
# formula, so a resampler that rounds instead of floors (or maps from the
# wrong corner) fails the hash even though dimensions look right.
_RESIZE_STATS_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS sw, 4 + doc_id % 3 AS sh FROM documents
),
px AS (
  SELECT doc_id, dy.i AS dy, dx.i AS dx,
         ((dy.i * sh // 3) * sw + (dx.i * sw // 4)) AS sp
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, 2)) AS i) dy,
       LATERAL (SELECT unnest(generate_series(0, 3)) AS i) dx
),
b AS (
  SELECT doc_id, dy, dx, c.i AS c,
         (doc_id * 31 + (3 * sp + c.i) * 7) % 256 AS v
  FROM px, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) c
)
SELECT doc_id AS media_id,
       CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels, CAST(255 AS BIGINT) AS maxval,
       CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(MAX(CASE WHEN dy = 0 AND dx = 0 AND c = 0 THEN v END) AS BIGINT) AS top_left_r,
       CAST(MAX(CASE WHEN dy = 0 AND dx = 0 AND c = 1 THEN v END) AS BIGINT) AS top_left_g,
       CAST(MAX(CASE WHEN dy = 0 AND dx = 0 AND c = 2 THEN v END) AS BIGINT) AS top_left_b,
       CAST(SUM(CASE WHEN dy = 0 THEN v END) AS BIGINT) AS row0_sum,
       'ok' AS decode_status
FROM b
GROUP BY doc_id
"""


@register("ppm_resize_stats", _RESIZE_STATS_SQL)
def ppm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import resize_image_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return resize_image_stats(synthesize_images(ids, fmt="ppm"), width=4, height=3)


# same oracle verbatim: the synth formula and floor map are format-agnostic,
# so the PNG path (decode through zlib + the five unfilters, resize, THEN
# re-encode as PNG and decode again) must land on pixel-identical stats —
# the whole codec round-trips inside the query, twice.
@register("png_resize_stats", _RESIZE_STATS_SQL)
def png_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import resize_image_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return resize_image_stats(synthesize_images(ids, fmt="png"), width=4, height=3)


# same oracle again for GIF (NEW r8): decode through LZW (+ de-interlace on
# ids % 5 == 0), resample, re-encode as GIF (palette rebuilt from the
# sampled colors), decode once more — lossless format, so the stats must be
# pixel-identical to the formula replay.
@register("gif_resize_stats", _RESIZE_STATS_SQL)
def gif_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import resize_image_stats, synthesize_images

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return resize_image_stats(synthesize_images(ids, fmt="gif"), width=4, height=3)


# REAL video-frame sampling, end-to-end: per-id concatenated-P6 stream of
# 2 + id%4 four-by-two frames (byte i of frame f = (id*31 + f*131 + i*7)
# % 256), sampled to 2 evenly spaced frames (floor map j*total//2) whose
# decoded channel sums the oracle replays. Catches wrong frame boundaries,
# wrong sample indices, and off-by-one stream splits.
_FRAME_STATS_SQL = """
WITH f AS MATERIALIZED (
  SELECT doc_id, 2 + doc_id % 4 AS total FROM documents
),
kept AS (
  SELECT doc_id, total, (j.i * total) // 2 AS frame_index
  FROM f, LATERAL (SELECT unnest(generate_series(0, 1)) AS i) j
),
b AS (
  SELECT doc_id, total, frame_index, i.i AS i,
         (doc_id * 31 + frame_index * 131 + i.i * 7) % 256 AS v
  FROM kept, LATERAL (SELECT unnest(generate_series(0, 23)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(frame_index AS BIGINT) AS frame_index,
       CAST(total AS BIGINT) AS n_frames_total,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       'ok' AS sample_status
FROM b
GROUP BY doc_id, total, frame_index
"""


@register("ppm_stream_frame_stats", _FRAME_STATS_SQL)
def ppm_stream_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import sample_frame_stats, synthesize_ppm_streams

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return sample_frame_stats(synthesize_ppm_streams(ids), n_frames=2)


# Frequent-items sketch (NEW r4): Misra-Gries via DataFrame.stat.freqItems —
# the one-pass bounded-memory heavy-hitters sketch for 100 TB categorical
# profiling. Same tolerance-banded-oracle contract as the approx tier: the
# algorithm GUARANTEES every item with frequency > support appears in the
# sketch, so the in_sketch boolean over the EXACT heavy-hitter set is
# deterministically TRUE and the driver's exact hash enforces it.
_FREQ_ITEMS_SQL = """
WITH c AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
),
t AS (SELECT SUM(n_events) AS total FROM c)
SELECT event_type, n_events,
       CAST(n_events AS DOUBLE) / total AS share,
       TRUE AS in_sketch
FROM c, t
WHERE CAST(n_events AS DOUBLE) / total > 0.2
"""


@register("freq_items_event_types", _FREQ_ITEMS_SQL)
def freq_items_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type")
    # one bounded-size sketch pass; the collected result is <= 1/support
    # items by construction (driver-safe at any scale)
    sketch = set(e.stat.freqItems(["event_type"], 0.2).collect()[0][0])
    counts = e.groupBy("event_type").agg(F.count("*").alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n_events").cast("double") / F.col("total"))
        .filter(F.col("share") > 0.2)
        .select(
            "event_type",
            "n_events",
            "share",
            F.col("event_type").isin(list(sketch)).alias("in_sketch"),
        )
    )


# Python UDTF (NEW r4, Spark 4 API surface): the SQL-callable one-to-many
# table function — overlapping word-window chunking via LATERAL, the
# LLM-corpus chunk shape when the consumer is SQL rather than a DataFrame
# pipeline. The oracle replays the window arithmetic with DuckDB list
# slicing over string_split (the split rule is a plain single-space split
# precisely so RE2-less replay is exact).
_UDTF_CHUNKS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
  -- the UDTF's `if not text: return` guard, replayed: '' and NULL yield no
  -- chunks.  len(words) > 0 would NOT replay it — string_split('', ' ')
  -- is [''] (one empty word), which the UDTF never emits (ADVICE r4).
  WHERE text IS NOT NULL AND text <> ''
)
SELECT doc_id,
       CAST(i.i AS INT) AS chunk_index,
       array_to_string(words[i.i * 8 + 1 : least(i.i * 8 + 16, len(words))], ' ') AS chunk_text,
       CAST(least(i.i * 8 + 16, len(words)) - i.i * 8 AS INT) AS n_words
FROM w, LATERAL (
  SELECT unnest(generate_series(0, (len(words) - 1) // 8)) AS i
) i
"""


@register("udtf_chunk_windows", _UDTF_CHUNKS_SQL)
def udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_index, c.chunk_text, c.n_words
        FROM __udtf_docs d, LATERAL chunk_windows(d.text) c
        """
    )


# TPC-H Q2 shape (NEW r4): correlated scalar subquery in WHERE — "rows at
# the per-group minimum" written exactly as a user would, so CATALYST does
# the decorrelation (per-key MIN aggregate joined back), unlike the Q17/Q20
# family where the rewrite is hand-built with windows. Ties at the minimum
# survive, as in Q2.
_Q2_MIN_PRICE_SQL = """
SELECT p.p_partkey AS part_id, p.p_brand AS brand,
       l.l_suppkey AS supp_id,
       CAST(l.l_extendedprice AS DOUBLE) AS min_price
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 10
  AND l.l_extendedprice = (
      SELECT MIN(l2.l_extendedprice) FROM lineitem l2
      WHERE l2.l_partkey = p.p_partkey)
"""


@register("q2_style_min_price_parts", _Q2_MIN_PRICE_SQL)
def q2_style_min_price_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q2_part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q2_lineitem")
    return spark.sql(
        """
        SELECT p.p_partkey AS part_id, p.p_brand AS brand,
               l.l_suppkey AS supp_id,
               CAST(l.l_extendedprice AS DOUBLE) AS min_price
        FROM __q2_part p JOIN __q2_lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 10
          AND l.l_extendedprice = (
              SELECT MIN(l2.l_extendedprice) FROM __q2_lineitem l2
              WHERE l2.l_partkey = p.p_partkey)
        """
    )


# TPC-H Q11 shape (NEW r4): group HAVING against a GLOBAL scalar subquery —
# brands whose revenue exceeds 2% of total revenue. Both sides aggregate in
# DECIMAL so the threshold compare is engine-exact; Spark plans the scalar
# as a broadcast single-row subquery, one fact scan per side.
_Q11_FRACTION_SQL = """
SELECT p.p_brand AS brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
HAVING SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) >
       (SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(18,2))) * 0.02 FROM lineitem l2)
"""


@register("q11_brand_revenue_fraction", _Q11_FRACTION_SQL)
def q11_brand_revenue_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q11_part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__q11_lineitem")
    return spark.sql(
        """
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue
        FROM __q11_lineitem l JOIN __q11_part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        HAVING SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) >
               (SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(18,2))) * 0.02
                FROM __q11_lineitem l2)
        """
    )


# ===========================================================================
# Batch 3: hierarchy rollup (A3), self-join (J7), insert-if-absent (S10)
# ===========================================================================

from .sources.sinks import insert_if_absent  # noqa: E402

_REGION_ROLLUP_SQL = """
WITH nat AS (
    SELECT n.n_nationkey, n.n_name, n.n_regionkey,
           COUNT(c.c_custkey) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS nation_balance
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name, n.n_regionkey
),
reg AS (
    SELECT n_regionkey,
           CAST(ROUND(SUM(CAST(COALESCE(nation_balance, 0.0) AS DECIMAL(18,2))), 2) AS DOUBLE) AS region_balance,
           SUM(n_customers) AS region_customers,
           MIN(n_nationkey) AS main_nation
    FROM nat GROUP BY n_regionkey
)
SELECT r.r_name AS region, n.n_name AS nation, n.n_customers,
       COALESCE(n.nation_balance, 0.0) AS nation_balance,
       ROUND(CASE WHEN rg.region_balance > 0
                  THEN rg.region_customers * (COALESCE(n.nation_balance, 0.0) / rg.region_balance)
                  WHEN n.n_nationkey = rg.main_nation THEN rg.region_customers
                  ELSE 0 END, 0) AS allocated_customers
FROM nat n
JOIN reg rg ON n.n_regionkey = rg.n_regionkey
JOIN region r ON r.r_regionkey = n.n_regionkey
"""


@register("region_customer_rollup", _REGION_ROLLUP_SQL)
def region_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 parent rollup + W1/W3 allocation over the nation→region hierarchy
    (FIXTURES.md §2 mapping for the reference's variation→parent rollup)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    customer = _t(spark, sf_dir, "customer")

    nat = (
        nation.join(customer, customer["c_nationkey"] == nation["n_nationkey"], "left")
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2).cast("double").alias("nation_balance"),
        )
    )
    reg = nat.groupBy("n_regionkey").agg(
        F.round(F.sum(F.coalesce(F.col("nation_balance"), F.lit(0.0)).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("region_balance"),
        F.sum("n_customers").alias("region_customers"),
        F.min("n_nationkey").alias("main_nation"),
    )
    joined = (
        nat.withColumn("nation_balance", F.coalesce(F.col("nation_balance"), F.lit(0.0)))
        .join(F.broadcast(reg), "n_regionkey")
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    allocated = allocate_ratio_to_parent(
        joined,
        parent_key="n_regionkey",
        weight="nation_balance",
        total_col="region_balance",
        specs=[AllocSpec("region_customers", "allocated_customers", round_to=0)],
        child_id="n_nationkey",
        parent_id="main_nation",
    )
    return allocated.select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        "n_customers",
        "nation_balance",
        F.col("allocated_customers").cast("double").alias("allocated_customers"),
    )


_SUPPLIER_PAIRS_SQL = """
SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b, a.s_nationkey AS nationkey
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
"""


@register("supplier_same_nation_pairs", _SUPPLIER_PAIRS_SQL)
def supplier_same_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7-style self-join (the reference's id→sku parent resolution shape)."""
    s = _t(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("supp_a"), F.col("s_nationkey").alias("nationkey"))
    b = s.select(F.col("s_suppkey").alias("supp_b"), F.col("s_nationkey").alias("nk_b"))
    return (
        a.join(b, (F.col("nationkey") == F.col("nk_b")) & (F.col("supp_a") < F.col("supp_b")))
        .select("supp_a", "supp_b", "nationkey")
    )


_NEW_USERS_SQL = """
WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
latest AS (SELECT DISTINCT user_id FROM events, mx WHERE CAST(ts AS DATE) = d),
prior AS (SELECT DISTINCT user_id FROM events, mx WHERE CAST(ts AS DATE) < d)
SELECT l.user_id FROM latest l WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE p.user_id = l.user_id)
"""


@register("insert_if_absent_users", _NEW_USERS_SQL)
def insert_if_absent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 INSERT IGNORE semantics through the actual sink helper: last-day
    user keys not present on any prior day."""
    e = _events(spark, sf_dir)
    mx = e.agg(F.max("event_date").alias("d"))
    with_max = e.crossJoin(F.broadcast(mx))
    latest = with_max.filter(F.col("event_date") == F.col("d")).select("user_id")
    prior = with_max.filter(F.col("event_date") < F.col("d")).select("user_id")
    return insert_if_absent(prior, latest, ["user_id"])


# ===========================================================================
# E4/E5 + W5: posexplode (array element + 1-based ordinal rank)
# ===========================================================================

_POSEXPLODE_SQL = """
SELECT vec_id,
       CAST(unnest(generate_series(1, len(embedding))) AS INTEGER) AS rank_pos,
       unnest(embedding) AS val
FROM embeddings WHERE vec_id < 50
"""


@register("posexplode_embeddings", _POSEXPLODE_SQL)
def posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E5 + W5: index-as-rank via posexplode (the reference's trends list
    position and search-page position arithmetic)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id", (F.col("pos") + 1).cast("int").alias("rank_pos"), "val"
    )


# IVF ANN moved to batch 10 (after the pinned-k-means CTE helper it now
# shares with kmeans_clusters / semantic_dedup_keep) so it gets a full
# DuckDB oracle instead of the former rows-only check.


# ===========================================================================
# Batch 4: end-to-end near-dup dedup — LSH candidates -> Jaccard verify ->
# canonicalization; SimHash Hamming pairing. (NOTES.md round-1 follow-ups.)
# ===========================================================================

from .operators.dedupe import (  # noqa: E402
    canonicalize_one_step,
    connected_components,
    simhash_near_pairs,
    verify_candidate_pairs,
)

_VERIFIED_PAIRS_SQL = _MINHASH_BANDS_SQL.rstrip().replace(
    "SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig\nUNION ALL\nSELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig",
    """bk AS (
    SELECT doc_id, 0 AS band, md5(mh0 || ',' || mh1) AS band_key FROM sig
    UNION ALL
    SELECT doc_id, 1 AS band, md5(mh2 || ',' || mh3) AS band_key FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bk a JOIN bk b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
grams AS (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
                                        i -> substr(text, i, 3))) AS g
    FROM documents
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             / len(list_distinct(list_concat(ga.g, gb.g))), 6) AS jaccard
FROM cand c JOIN grams ga ON ga.doc_id = c.doc_a JOIN grams gb ON gb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.6""",
).replace(")\nbk AS (", "),\nbk AS (")


# Signature side-tables, shared per (session, sf_dir): MinHash band keys,
# SimHash signatures, and the verified near-dup pair set are each computed
# ONCE and persisted, then every downstream catalog entry reads the
# materialized table. This is the signatures-as-a-mart design: at scale these
# are persisted tables keyed by corpus version, not recomputed per query.
_SIDE_TABLES: dict[tuple[str, str, str], DataFrame] = {}
_SIDE_LOCKS: dict[tuple[str, str, str], "threading.Lock"] = {}
_SIDE_LOCKS_GUARD = threading.Lock()


def _side_lock(key: tuple[str, str, str]) -> "threading.Lock":
    with _SIDE_LOCKS_GUARD:
        return _SIDE_LOCKS.setdefault(key, threading.Lock())


def _side_table(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    # abspath: the on-disk mart path is keyed by os.path.abspath(sf_dir), so
    # the memo key must be too — two spellings of one directory (relative vs
    # absolute, trailing slash) would otherwise create two memo entries that
    # both overwrite the SAME parquet path while the first read-back frame
    # still points at it (r10 ADVICE item 1).
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    if key not in _SIDE_TABLES:
        # per-key lock: warm_side_tables builds marts from a thread pool and
        # several wave-mates read the same upstream mart (all three centroid
        # trainings consume embeddings_dvec) — without the lock each racer
        # would persist its own copy of the build
        with _side_lock(key):
            if key not in _SIDE_TABLES:
                _SIDE_TABLES[key] = _materialize_mart(spark, build(), name, sf_dir)
    return _SIDE_TABLES[key]


def _materialize_mart(
    spark: SparkSession, df: DataFrame, name: str, sf_dir: str
) -> DataFrame:
    """Materialize a side mart ONCE and hand every consumer a LEAF-scan
    DataFrame over the materialized files — the literal "persisted table
    keyed by corpus version" shape these marts model at scale.

    The previous ``persist() + count()`` kept execution cheap but left every
    consumer's LOGICAL plan carrying the full build lineage (the ivfadc rows
    analyzed 200+-Exchange trees per invocation: plan canonicalization for
    the cache lookup + optimizer passes over the dead lineage cost ~1 s of
    pure driver time per rep — guide §3.3/§7.3, "very large plans: planning
    time itself becomes the bottleneck; materialise an intermediate to
    truncate the plan"). Writing the mart to session scratch parquet and
    reading it back makes each consumer plan start at a file scan.

    The read-back passes the build's schema explicitly, so empty marts and
    exact nullability/NTZ round-trip; parquet stores doubles/longs/arrays
    bit-exactly, so results are unchanged. Falls back to persist() for any
    frame parquet cannot carry (e.g. a NullType column).

    The read-back is re-widened and persist()-ed: a freshly written mart
    is a handful of small files, so the scan packs into ONE input split
    (openCostInBytes swamps the tiny files) and every consumer's
    join/probe stage would run single-core — the leaf-scan-only variant
    doubled simhash_near_pairs (0.55 -> 1.12 s, bisected to exactly this:
    the banded self-join's probe side inherited the cache's 1 partition,
    where the pre-parquet cached build carried its shuffle's 32).
    Repartitioning once at build time (billed to side_table_build, like
    an ingest choosing its write layout) and persisting hands consumers a
    tiny logical plan, full parallelism, AND cache-speed repeated reads;
    MEMORY_AND_DISK spills gracefully if marts outgrow storage memory."""
    # The on-disk path must carry the SF-dir identity like the memo key
    # does: a session that touches two sf_dirs (the 10x stress battery, a
    # driver harness sweeping SFs) would otherwise have the second build
    # OVERWRITE the first's files while the first's read-back frames still
    # point at them — caught by the stress run reading sf1-sized marts for
    # the sf0.1 measurement.
    sf_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(_session_mart_root(spark), sf_tag, name)
    try:
        df.write.mode("overwrite").parquet(path)
    except Exception:
        kept = df.persist()
        kept.count()  # materialize eagerly so callers never re-run the lineage
        return kept
    scan = spark.read.schema(df.schema).parquet(path)
    target = spark.sparkContext.defaultParallelism
    if scan.rdd.getNumPartitions() < target:
        scan = scan.repartition(target)
    kept = scan.persist()
    # Eager fill (r10 ADVICE item 2): persist() is lazy, so the cache fill
    # (read-back + re-widen shuffle) would otherwise be paid by each mart's
    # FIRST CONSUMER action — billed to an arbitrary query instead of
    # side_table_build, contradicting the documented attribution.
    kept.count()
    return kept


def _session_mart_root(spark: SparkSession) -> str:
    """Session-scoped dir under :func:`_scratch_root` for materialized side
    marts (removed at interpreter exit)."""
    mart_root = os.path.join(_scratch_root(), f"marts-{spark.sparkContext.applicationId}")
    if mart_root not in _MART_ROOTS_CLEANUP:
        import atexit
        import shutil as _shutil

        _MART_ROOTS_CLEANUP.add(mart_root)
        atexit.register(_shutil.rmtree, mart_root, ignore_errors=True)
    os.makedirs(mart_root, exist_ok=True)
    return mart_root


_MART_ROOTS_CLEANUP: set[str] = set()


def _band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "minhash_band_keys",
        lambda: minhash_band_keys(
            _t(spark, sf_dir, "documents"), "text", "doc_id", k=5, num_hashes=4, bands=2
        ),
    )


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "simhash32",
        lambda: simhash32(_t(spark, sf_dir, "documents"), "text", "doc_id"),
    )


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "near_dup_verified_pairs",
        lambda: verify_candidate_pairs(
            _t(spark, sf_dir, "documents"),
            minhash_candidate_pairs(_band_keys(spark, sf_dir)),
            "text",
            "doc_id",
            k=3,
            threshold=0.6,
        ),
    )


@register("near_dup_verified_pairs", _VERIFIED_PAIRS_SQL)
def near_dup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _verified_pairs(spark, sf_dir)


_CANONICAL_SQL = _VERIFIED_PAIRS_SQL.replace(
    """SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
             / len(list_distinct(list_concat(ga.g, gb.g))), 6) AS jaccard
FROM cand c JOIN grams ga ON ga.doc_id = c.doc_a JOIN grams gb ON gb.doc_id = c.doc_b
WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
      / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.6""",
    """verified AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN grams ga ON ga.doc_id = c.doc_a JOIN grams gb ON gb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
          / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.6
),
partners AS (
    SELECT doc_a AS doc, doc_b AS partner FROM verified
    UNION ALL
    SELECT doc_b AS doc, doc_a AS partner FROM verified
),
mins AS (SELECT doc, MIN(partner) AS min_partner FROM partners GROUP BY doc)
SELECT d.doc_id, LEAST(d.doc_id, COALESCE(m.min_partner, d.doc_id)) AS canonical_id
FROM documents d LEFT JOIN mins m ON m.doc = d.doc_id""",
)
# the verified CTE closes the WITH chain, so 'grams' needs a trailing comma fix
_CANONICAL_SQL = _CANONICAL_SQL.replace(
    "    FROM documents\n)\nverified AS (", "    FROM documents\n),\nverified AS ("
)


@register("near_dup_canonical_ids", _CANONICAL_SQL)
def near_dup_canonical_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return canonicalize_one_step(d, _verified_pairs(spark, sf_dir), "doc_id")


# End-to-end training-data curation: quality gate + near-dup canonical keep,
# composed as ONE declarative plan (the full LSH -> verify -> canonicalize
# chain feeds a join, no intermediate actions). Nested-WITH subqueries reuse
# the canonical and quality oracle SQL verbatim.
_CURATED_SQL = f"""
WITH canon AS (
{_CANONICAL_SQL}
),
q AS (
{_QUALITY_SQL}
)
SELECT q.doc_id, q.n_tokens, q.quality_score
FROM q JOIN canon c ON c.doc_id = q.doc_id
WHERE c.doc_id = c.canonical_id AND q.n_tokens >= 30 AND q.alpha_ratio >= 0.8
"""


@register("curated_documents", _CURATED_SQL)
def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the curation pipeline a 100 TB pretraining ingest would run daily:
    # near-dup canonicalization keeps one doc per duplicate cluster
    # (doc_id == canonical_id), then length/alpha quality gates drop junk.
    # Reuses the shared verified-pairs side table, so the LSH chain runs
    # once per session even though three catalog entries consume it.
    d = _t(spark, sf_dir, "documents")
    q = quality_features(d, "text", "doc_id")
    canon = canonicalize_one_step(d, _verified_pairs(spark, sf_dir), "doc_id")
    return (
        q.join(canon, "doc_id")
        .filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("n_tokens") >= 30)
            & (F.col("alpha_ratio") >= 0.8)
        )
        .select("doc_id", "n_tokens", "quality_score")
    )


def _simhash_pairs_sql() -> str:
    base = _simhash_sql().rstrip()
    # wrap the signature query as a CTE and band it into 4 bytes
    return f"""
WITH sigs AS (
{base}
),
banded AS (
    SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS band_byte
    FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_byte = b.band_byte AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


@register("simhash_near_pairs", _simhash_pairs_sql())
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = simhash_near_pairs(_simhash_sigs(spark, sf_dir), max_hamming=4)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# Oracle: the same transitive closure as iterative label propagation, but as
# a DuckDB recursive CTE — every node collects the labels of everything that
# can reach it (UNION dedups, so the recursion terminates), then takes the
# minimum. Mirrors connected_components' min-label contract exactly.
_COMPONENTS_SQL = f"""
WITH RECURSIVE vpairs AS (
    SELECT doc_a, doc_b FROM (
{_VERIFIED_PAIRS_SQL}
    ) vsub
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM vpairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
reach(node, lab) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS component_id
FROM reach GROUP BY node
"""


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the propagation result is itself a session side table: both
    # near_dup_components and near_dup_keep_best consume it, and the
    # 8-round label propagation (~4s at sf0.1) should run once, like the
    # signature marts it derives from
    return _side_table(
        spark,
        sf_dir,
        "near_dup_components",
        lambda: connected_components(_verified_pairs(spark, sf_dir)),
    )


@register("near_dup_components", _COMPONENTS_SQL)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the verified near-dup relation: iterative
    min-label propagation (O(diameter) rounds). The oracle replays the same
    closure as a DuckDB recursive CTE over the identical verified-pairs edge
    list, so this formerly rows-only query now has a full value-hash check."""
    return _components(spark, sf_dir)


@register("near_dup_components_star", _COMPONENTS_SQL)
def near_dup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAME closure, computed by the alternating large-star/small-star
    algorithm (Kiveris et al. 2014; O(log² n) rounds on ANY topology —
    the opt-in for long-chain graphs where label-prop's O(diameter) round
    count degenerates). Components are algorithm-independent, so the row
    shares near_dup_components' oracle verbatim: a hash match here is a
    cross-ALGORITHM equality proof on real data, on top of the
    hypothesis property test (tests/test_cc_star.py)."""
    from .operators.dedupe import connected_components_star

    return connected_components_star(_verified_pairs(spark, sf_dir))


# ===========================================================================
# Embedding-cosine near-dup pairs: hyperplane-LSH buckets + exact cosine.
# Planes are deterministic literals (math.sin recipe) inlined into BOTH the
# Spark plan and the SQL text, so the bucket keys match bit-for-bit.
# ===========================================================================

import math  # noqa: E402

from .operators.similarity import embedding_near_dup_pairs  # noqa: E402

_EMB_DIM = 64
_N_PLANES = 6
PLANES = [
    [round(math.sin(0.1 + 7.0 * b + 13.0 * i), 6) for i in range(_EMB_DIM)]
    for b in range(_N_PLANES)
]


def _emb_near_dup_sql() -> str:
    plane_sql = []
    for b, p in enumerate(PLANES):
        lits = ", ".join(repr(x) for x in p)
        plane_sql.append(
            f"CASE WHEN list_aggregate(list_transform(list_zip(v, [{lits}]::DOUBLE[]), x -> x[1] * x[2]), 'sum') >= 0 THEN '1' ELSE '0' END"
        )
    bucket = " || ".join(plane_sql)
    return f"""
WITH sig AS (
    SELECT vec_id AS vid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           {bucket} AS bucket,
           sqrt(list_aggregate(list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x), 'sum')) AS nv
    FROM embeddings
)
SELECT a.vid AS vec_a, b.vid AS vec_b,
       ROUND(list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
             / (a.nv * b.nv), 6) AS cos_sim
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vid < b.vid
WHERE list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
      / (a.nv * b.nv) >= 0.3
"""


def _emb_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic random embeddings have no true near-dups (max in-bucket
    # cosine ~0.48), so the catalog entries use 0.3 — "most similar pairs" —
    # to keep the oracle check non-vacuous. Shared side table: the pair set
    # feeds both the pairs query and the multimodal curation chain.
    return _side_table(
        spark,
        sf_dir,
        "embedding_near_dup_pairs",
        lambda: embedding_near_dup_pairs(
            _t(spark, sf_dir, "embeddings"), PLANES, threshold=0.3
        ),
    )


@register("embedding_near_dup_pairs", _emb_near_dup_sql())
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb_pairs(spark, sf_dir)


# ===========================================================================
# Batch 5: skew-safe aggregation on the graded surface — the two-phase
# salted groupBy must produce results identical to a plain groupBy.
# ===========================================================================

from .operators.skew import salted_groupby_agg  # noqa: E402

_SALTED_AGG_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
"""


@register("salted_returnflag_totals", _SALTED_AGG_SQL)
def salted_returnflag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_returnflag has single-digit cardinality over the whole fact — the
    # textbook hot-key aggregation. The salted two-phase shape spreads each
    # flag over 16 reducers in the first exchange; the oracle is the plain
    # GROUP BY, proving result equivalence. Money sums run in DECIMAL for
    # cross-engine .005-tie parity (NOTES.md invariant).
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    out = salted_groupby_agg(li, ["l_returnflag"], ["qty", "price"], n_salts=16, count_col="n_lines")
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("long").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
        "n_lines",
    )


from .operators.skew import salted_join  # noqa: E402

_SALTED_JOIN_SQL = """
WITH dim AS (
    SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_label FROM lineitem
)
SELECT d.flag_label,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
GROUP BY d.flag_label
"""


@register("salted_join_flag_counts", _SALTED_JOIN_SQL)
def salted_join_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the salted-join shape for a hot fact key against a non-broadcastable
    # dim: the dim replicates once per salt, the fact scatters
    # deterministically, and the join key becomes (key, salt) — so one hot
    # key occupies n_salts partitions. Oracle = the plain equi-join,
    # proving result equivalence.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    dim = li.select("l_returnflag").distinct().withColumn(
        "flag_label", F.concat(F.lit("flag_"), F.col("l_returnflag"))
    )
    joined = salted_join(li, dim, "l_returnflag", n_salts=8)
    return joined.groupBy("flag_label").agg(
        F.count("*").alias("n_lines"), F.sum("qty").alias("sum_qty")
    )


@contextmanager
def _conf_pin(spark: SparkSession, confs: dict[str, str]):
    """Pin a set of session confs around an EXECUTED callable, restoring (or
    unsetting) each afterwards — the conf twin of ``_session_tz``. Only valid
    when the result is materialized (localCheckpoint / sink read-back) before
    the pin is released."""
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# AQE skew-join demo (NEW r4, the r3-verdict item 5): the AUTOMATIC
# counterpart of salted_join_flag_counts. A 90%-hot synthetic key joins a
# non-broadcastable dim under AQE's runtime skew-split
# (spark.sql.adaptive.skewJoin) with thresholds scaled to the test SFs;
# at 100 TB the DEFAULT thresholds (256 MB partition, 5x median) trigger on
# exactly this shape, which is why manual salting is only needed for the
# cases in operators/skew.py's docstring (skewed AGGREGATION, and joins
# whose downstream partitioning AQE refuses to break without
# forceOptimizeSkewedJoin). Result is execution-conf-independent — the pin
# just makes the skew-split observable at toy scale; the plan guard
# asserting the split actually fires lives in tests/test_aqe_skew.py.
_AQE_SKEW_SQL = """
WITH fact AS MATERIALIZED (
  SELECT CASE WHEN l_orderkey % 1000 < 900 THEN 'HOT'
              ELSE 'cold_' || CAST(l_orderkey % 1000 AS VARCHAR) END AS skew_key,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
dim AS (SELECT DISTINCT skew_key, 'seg_' || skew_key AS seg_label FROM fact)
SELECT d.seg_label,
       COUNT(*) AS n_lines,
       CAST(SUM(f.qty) AS BIGINT) AS sum_qty
FROM fact f JOIN dim d USING (skew_key)
GROUP BY d.seg_label
"""

_AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
    # grouping on the join key downstream would normally make AQE skip the
    # split (it breaks the output partitioning); force it for the demo, the
    # way a real skew incident would be handled in production
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # the dim must not broadcast, or there is no shuffle join to split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _aqe_skew_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Skewed fact + non-broadcastable dim shaped so OptimizeSkewedJoin can
    actually act at toy SF. Two production lessons are baked in (both found
    empirically — NOTES.md round 4):

    - the fact is checkpointed at 16 partitions: AQE splits a skewed reduce
      partition at MAPPER-BLOCK granularity, and a small parquet file is one
      row group = one mapper = nothing to split. At 100 TB a scan has
      thousands of mappers, so the checkpoint only emulates normal scale.
    - the dim is checkpointed too: otherwise its distinct's final
      HashAggregate sits between the join's Sort and the shuffle stage, and
      OptimizeSkewedJoin's pattern (Sort directly over the shuffle read)
      never matches — a real "why didn't AQE save me" production gotcha."""
    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 1000 < 900, F.lit("HOT"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("l_orderkey") % 1000).cast("string")))
        .alias("skew_key"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    fact = fact.repartition(16).localCheckpoint()
    dim = (
        fact.select("skew_key")
        .distinct()
        .withColumn("seg_label", F.concat(F.lit("seg_"), F.col("skew_key")))
        .localCheckpoint()
    )
    return fact, dim


@register("aqe_skew_join_flag_counts", _AQE_SKEW_SQL, kind="executed")
def aqe_skew_join_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = _aqe_skew_frames(spark, sf_dir)
    joined = fact.join(dim, "skew_key")
    agg = joined.groupBy("seg_label").agg(
        F.count("*").alias("n_lines"), F.sum("qty").alias("sum_qty")
    )
    with _conf_pin(spark, _AQE_SKEW_CONFS):
        return agg.localCheckpoint()


# ===========================================================================
# Approximate-aggregate tier (NEW r4, the r3-verdict item 7): at 100 TB the
# exact tiers (count_distinct shuffles, sort-based percentile) give way to
# one-pass mergeable sketches — HLL++ and t-digest/GK. Sketch estimates are
# engine-specific, so the value-hash contract is a DERIVED check: the query
# emits the EXACT value plus a boolean "the sketch landed within its
# advertised error band", computed in-plan; the oracle emits the exact value
# and TRUE. A sketch drifting out of tolerance flips the boolean and fails
# the hash — a tolerance-banded oracle under an exact-compare driver.
# ===========================================================================

_APPROX_DISTINCT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_distinct,
       COUNT(*) AS n_events,
       TRUE AS hll_within_band
FROM events
GROUP BY event_type
"""


@register("approx_distinct_events", _APPROX_DISTINCT_SQL)
def approx_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=2%) next to the exact distinct. The
    acceptance band is 5% relative with an absolute floor of 3 — loose vs the
    configured rsd, tight enough that a broken sketch (or a wrong column)
    cannot pass. Both aggregates compute in ONE groupBy pass: at 100 TB the
    exact side is the expensive one; the sketch is the one you keep."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    agg = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", 0.02).alias("__hll"),
    )
    band = F.greatest(F.col("exact_distinct").cast("double") * 0.05, F.lit(3.0))
    return agg.select(
        "event_type",
        "exact_distinct",
        "n_events",
        (F.abs(F.col("__hll") - F.col("exact_distinct")) <= band).alias("hll_within_band"),
    )


_APPROX_PCTL_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
       TRUE AS approx_within_band
FROM lineitem
GROUP BY l_returnflag
"""


@register("approx_percentile_prices", _APPROX_PCTL_SQL)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch, accuracy 10000) banded against the exact
    interpolated percentile. accuracy=10000 bounds RANK error at ~0.01%; the
    value band is 2% relative, generous for any real price distribution but
    fatal to a mis-sketched one. One aggregation pass computes both."""
    # r10: the sf-scale file is one split, so BOTH percentile partials ran
    # on one core (the 1-split cliff). _widen_by spreads rows by a hash of
    # the value column — no-op on real multi-split inputs (where map-side
    # partials must stay ahead of the exchange), no round-robin sort pass
    # locally. Exact percentile buffers a counts-map (order-independent)
    # and the sketch is oracle-BANDED, never hashed, so redistribution
    # cannot move the result. Measured 1.47 -> 1.05s (min-of-7).
    from .operators.importance import _widen_by

    # r11 (verdict item 9): both projected columns in the key — a single
    # low-cardinality hash key could concentrate the partitions the widen
    # exists to spread.
    li = _widen_by(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag",
        "l_extendedprice",
    )
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("__exact"),
        F.percentile_approx("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)).alias("__approx"),
    )
    within = (
        (F.abs(F.col("__approx")[0] - F.col("__exact")[0]) <= F.col("__exact")[0] * 0.02)
        & (F.abs(F.col("__approx")[1] - F.col("__exact")[1]) <= F.col("__exact")[1] * 0.02)
    )
    return agg.select(
        "l_returnflag",
        F.round(F.col("__exact")[0], 6).alias("p50_exact"),
        F.round(F.col("__exact")[1], 6).alias("p95_exact"),
        within.alias("approx_within_band"),
    )


# VALUES / range / stack table-function round (r3-verdict item 7): a monthly
# 1995 revenue calendar built from generator functions — range() for the
# months (no month without a row, even with zero orders), an inline VALUES
# table for the quarter map, and stack() to unpivot the metrics into long
# form. All three are Spark-native leaf/generator operators (no data read
# for the calendar side); the orders scan keeps its year range-predicate
# pushdown.
_RANGE_STACK_SQL = """
WITH cal AS (SELECT unnest(generate_series(1, 12)) AS month),
qmap(qnum, q_label) AS (VALUES (1, 'Q1'), (2, 'Q2'), (3, 'Q3'), (4, 'Q4')),
om AS (
  SELECT month(o_orderdate) AS month,
         COUNT(*) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY 1
),
base AS (
  SELECT cal.month, q.q_label,
         COALESCE(om.n_orders, 0) AS n_orders,
         CAST(COALESCE(om.revenue, 0) AS DOUBLE) AS revenue
  FROM cal JOIN qmap q ON q.qnum = (cal.month - 1) // 3 + 1
  LEFT JOIN om ON om.month = cal.month
)
SELECT month, q_label, 'n_orders' AS metric, CAST(n_orders AS DOUBLE) AS value FROM base
UNION ALL
SELECT month, q_label, 'revenue' AS metric, revenue AS value FROM base
"""


@register("range_stack_calendar", _RANGE_STACK_SQL)
def range_stack_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    cal = spark.range(1, 13).select(F.col("id").alias("month"))
    qmap = spark.sql(
        "SELECT * FROM VALUES (1, 'Q1'), (2, 'Q2'), (3, 'Q3'), (4, 'Q4') AS t(qnum, q_label)"
    )
    o = _t(spark, sf_dir, "orders")
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    om = (
        o.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy(F.month("o_orderdate").cast("long").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )
    )
    base = (
        cal.withColumn("qnum", ((F.col("month") - 1) / F.lit(3)).cast("int") + 1)
        .join(F.broadcast(qmap), "qnum")
        .join(om, "month", "left")
        .select(
            "month",
            "q_label",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("revenue").cast("double"), F.lit(0.0)).alias("revenue"),
        )
    )
    return base.select(
        "month",
        "q_label",
        F.expr(
            "stack(2, 'n_orders', CAST(n_orders AS DOUBLE), 'revenue', revenue) AS (metric, value)"
        ),
    ).select("month", "q_label", "metric", "value")


# ===========================================================================
# Runtime pruning demos (NEW r4): the two mechanisms that decide whether a
# 100 TB fact scan reads 100 TB or 8 TB — dynamic partition pruning (skip
# whole partitions from a join-time-known dim filter) and the runtime
# bloom filter (row-level might_contain pushed into the fact scan when the
# dim predicate is NOT on the join key, so nothing static can be inferred).
# Both are result-neutral optimizations, so the catalog result is correct
# under any driver conf; the plan guards proving the filters actually
# appear live in tests/test_runtime_pruning.py.
# ===========================================================================

_QMAP_ROWS = ",".join(f"({m},'Q{(m - 1) // 3 + 1}')" for m in range(1, 13))

_DPP_SQL = """
SELECT month(o_orderdate) AS month,
       'Q1' AS q_label,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE month(o_orderdate) IN (1, 2, 3)
GROUP BY month(o_orderdate)
"""


@register("dpp_quarter_order_counts", _DPP_SQL, kind="executed")
def dpp_quarter_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED dynamic-partition-pruning shape: orders land in a
    month-partitioned mart; a parquet-backed quarter dim filtered to Q1
    joins on the partition column, so the fact scan's PartitionFilters
    gain a dynamicpruning subquery and 9 of 12 partitions are never read.
    Two non-obvious requirements are part of the demo (probed empirically,
    NOTES r4): the dim must be a FILE source — a VALUES local relation
    constant-folds its filter away and DPP sees no selective predicate —
    and the join key must be the partition column itself."""
    o = _t(spark, sf_dir, "orders")
    with _scratch_dir(prefix="dpp_") as base:
        fact_path = os.path.join(base, "fact")
        dim_path = os.path.join(base, "dim")
        (
            # project to the two columns the query touches BEFORE the write
            # (guide §2.3): the DPP demo needs the partition column and the
            # measure, not the whole order row — writing/scanning the other
            # seven columns tripled the mart's bytes for nothing
            o.select(
                F.month("o_orderdate").cast("int").alias("month"),
                "o_totalprice",
            )
            .write.partitionBy("month")
            .mode("overwrite")
            .parquet(fact_path)
        )
        spark.sql(
            f"SELECT * FROM VALUES {_QMAP_ROWS} AS t(month, q_label)"
        ).write.mode("overwrite").parquet(dim_path)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter(F.col("q_label") == "Q1")
        out = (
            fact.join(dim, "month")
            .groupBy(F.col("month").cast("long").alias("month"), "q_label")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )
        return out.localCheckpoint()


_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # creation side must be SMALLER than creationSideThreshold and the
    # application-side scan LARGER than its threshold; the defaults
    # (10MB / 10GB) are sized for real clusters, so the toy-SF demo scales
    # them the same way the AQE demo scales its skew thresholds
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
    # force a shuffle join: a broadcast join already ships the dim to every
    # task and needs no bloom filter
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

_BLOOM_SQL = """
SELECT p.p_type,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#23'
GROUP BY p.p_type
"""


@register("bloom_filter_brand_revenue", _BLOOM_SQL, kind="executed")
def bloom_filter_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED runtime-bloom-filter shape: the dim predicate (p_brand) is
    NOT on the join key, so neither static pushdown nor DPP can prune the
    fact side — only the runtime bloom filter built from the filtered dim's
    join keys (bloom_filter_agg -> might_contain in the lineitem scan) cuts
    the fact rows entering the shuffle. At 100 TB this is the difference
    between shuffling the whole fact and shuffling the ~1/25 that can
    match. Result is conf-independent; the pin (thresholds scaled to toy
    SF) makes the filter observable, and the result materializes under it."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey", "p_type"
    )
    out = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    with _conf_pin(spark, _BLOOM_CONFS):
        return out.localCheckpoint()


# ===========================================================================
# Batch 6: deterministic sampling/splitting — training-data split assignment
# must be reproducible bit-for-bit in any engine (no seeded RNG).
# ===========================================================================

from .operators.sampling import deterministic_split, stratified_sample  # noqa: E402

_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("train_val_test_split", _SPLIT_SQL)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identity-hash split: stable across runs/engines/partitionings — a doc
    # can never migrate between splits when the corpus is re-sharded, and
    # delta ingests join the same scheme statelessly. Map-only, no shuffle.
    d = _t(spark, sf_dir, "documents")
    return deterministic_split(d, "doc_id", train=0.8, val=0.1).select("doc_id", "split")


_STRATIFIED_SQL = """
SELECT doc_id, lang
FROM documents
WHERE substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
"""


@register("stratified_doc_sample", _STRATIFIED_SQL)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~20% of EVERY language independently (the hash mixes the stratum into
    # the identity), for language-balanced corpus subsets.
    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", "doc_id", fraction=0.2).select("doc_id", "lang")


from .operators.packing import pack_sequences  # noqa: E402
from .operators.textstats import token_count  # noqa: E402

_PACK_SQL = r"""
WITH t AS (
    SELECT doc_id, source,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS cum_excl
    FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_excl // 512 AS BIGINT) AS pack_id,
       CAST(cum_excl % 512 AS BIGINT) AS pack_offset
FROM c
"""


@register("packed_sequences", _PACK_SQL)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequence packing for training: docs laid end-to-end per source shard,
    # pack = floor(start_offset / 512-token budget). One window per shard —
    # parallelism is the shard count, no global sort.
    d = _t(spark, sf_dir, "documents")
    counted = d.select("doc_id", "source", token_count("text").alias("n_tokens"))
    return pack_sequences(counted, "doc_id", "n_tokens", budget=512, shard_col="source")


from .operators.packing import assemble_packs  # noqa: E402

_ASSEMBLED_SQL = r"""
WITH t AS (
    SELECT doc_id, source, text,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, source, text, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS cum_excl
    FROM t
)
SELECT source, CAST(cum_excl // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_hash
FROM c
GROUP BY source, CAST(cum_excl // 512 AS BIGINT)
"""


@register("assembled_packs", _ASSEMBLED_SQL)
def assembled_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pack assignments -> actual training sequences: concat member texts in
    # id order (array_sort over structs — collect_list alone is
    # order-nondeterministic under shuffles). The hash of each assembled
    # sequence is oracle-checked, so in-pack ordering is verified
    # bit-for-bit.
    d = _t(spark, sf_dir, "documents")
    counted = d.select("doc_id", "source", "text", token_count("text").alias("n_tokens"))
    packed = pack_sequences(counted, "doc_id", "n_tokens", budget=512, shard_col="source")
    out = assemble_packs(packed, "doc_id", "text", "n_tokens", shard_col="source")
    return out.select(
        "source", "pack_id", "n_docs", "pack_tokens",
        F.md5(F.col("packed_text").cast("binary")).alias("text_hash"),
    )


# Full multimodal curation: text near-dup canonical keep + quality gates
# (curated_documents) MINUS embedding near-dups of lower-id docs. Each
# stage's SQL is reused verbatim as a nested-WITH subquery.
def _curated_full_sql() -> str:
    return f"""
WITH cur AS (
{_CURATED_SQL}
),
ep AS (
{_emb_near_dup_sql()}
),
partners AS (
    SELECT vec_a AS doc, vec_b AS partner FROM ep
    UNION ALL
    SELECT vec_b AS doc, vec_a AS partner FROM ep
),
emb_canon AS (SELECT doc, MIN(partner) AS min_partner FROM partners GROUP BY doc)
SELECT cur.doc_id, cur.n_tokens, cur.quality_score
FROM cur LEFT JOIN emb_canon e ON e.doc = cur.doc_id
WHERE e.doc IS NULL OR cur.doc_id <= e.min_partner
"""


@register("curated_documents_multimodal", _curated_full_sql())
def curated_documents_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the complete curation chain a multimodal corpus would run: text-level
    # near-dup canonicalization + quality gates, then embedding-level
    # near-dup removal (keep the lowest-id member of each embedding pair
    # cluster). Embeddings join documents on vec_id == doc_id.
    base = curated_documents(spark, sf_dir)
    pairs = _emb_pairs(spark, sf_dir)
    partners = pairs.select(F.col("vec_a").alias("doc"), F.col("vec_b").alias("partner")).unionByName(
        pairs.select(F.col("vec_b").alias("doc"), F.col("vec_a").alias("partner"))
    )
    emb_canon = partners.groupBy("doc").agg(F.min("partner").alias("min_partner"))
    return (
        base.join(emb_canon, base["doc_id"] == emb_canon["doc"], "left")
        .filter(F.col("doc").isNull() | (F.col("doc_id") <= F.col("min_partner")))
        .select("doc_id", "n_tokens", "quality_score")
    )


# ===========================================================================
# Batch 7: train + apply a character-n-gram language classifier fully in the
# engine — profiles learned on the hash-split train set, applied to test.
# ===========================================================================

from .operators.sampling import deterministic_split as _dsplit  # noqa: E402
from .operators.textstats import classify_lang_ngram, train_lang_profiles  # noqa: E402

_NGRAM_LANG_SQL = r"""
WITH split AS (
    SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' AS is_train
    FROM documents
),
tg AS (
    SELECT lang,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(length(lower(text)) - 2, 1)),
               i -> substr(lower(text), i, 3)))) AS gram
    FROM split WHERE is_train
),
counts AS (SELECT lang, gram, count(*) AS n_docs FROM tg GROUP BY lang, gram),
prof AS (
    SELECT lang, gram FROM (
        SELECT lang, gram,
               row_number() OVER (PARTITION BY lang ORDER BY n_docs DESC, gram) AS rnk
        FROM counts) WHERE rnk <= 50
),
test AS (SELECT * FROM split WHERE NOT is_train),
dg AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(length(lower(text)) - 2, 1)),
               i -> substr(lower(text), i, 3)))) AS gram
    FROM test
),
ov AS (
    SELECT doc_id, prof.lang, count(*) AS n_overlap
    FROM dg JOIN prof USING (gram) GROUP BY doc_id, prof.lang
),
best AS (
    SELECT doc_id, lang, n_overlap FROM (
        SELECT doc_id, lang, n_overlap,
               row_number() OVER (PARTITION BY doc_id ORDER BY n_overlap DESC, lang) AS rnk
        FROM ov) WHERE rnk = 1
)
SELECT t.doc_id, t.lang AS true_lang,
       COALESCE(b.lang, 'und') AS predicted_lang,
       CAST(COALESCE(b.n_overlap, 0) AS BIGINT) AS n_overlap
FROM test t LEFT JOIN best b USING (doc_id)
"""


@register("ngram_lang_classifier", _NGRAM_LANG_SQL)
def ngram_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end in-engine ML: character-trigram profiles (top-50 per lang by
    # document frequency) are TRAINED on the deterministic hash-split train
    # set and APPLIED to the held-out test set via a broadcast model-table
    # join. NOTE: the synthetic lang label is independent of the text (all
    # docs share one vocabulary), so chance-level accuracy here is the
    # data's ceiling — the oracle pins the exact train/apply pipeline, and
    # tests/test_llm_data_ops proves real discrimination on real languages.
    out, test = _lang_predictions(spark, sf_dir)
    return test.select("doc_id", F.col("lang").alias("true_lang")).join(out, "doc_id")


def _lang_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the trained model is a side table like the signature marts: at scale
    # the trigram profile table is a persisted mart keyed by model version,
    # and every consumer (classifier, confusion matrix, routing) reads it
    def build():
        d = _dsplit(_t(spark, sf_dir, "documents"), "doc_id", train=0.8, val=0.0)
        train = d.filter(F.col("split") == "train")
        return train_lang_profiles(train, "text", "lang", n=3, top_k=50)

    return _side_table(spark, sf_dir, "lang_trigram_profiles", build)


def _lang_predictions(spark: SparkSession, sf_dir: str):
    d = _dsplit(_t(spark, sf_dir, "documents"), "doc_id", train=0.8, val=0.0)
    test = d.filter(F.col("split") != "train")
    out = classify_lang_ngram(test, _lang_profiles(spark, sf_dir), "text", "doc_id", n=3)
    return out, test


_LANG_CONFUSION_SQL = f"""
WITH preds AS (
{_NGRAM_LANG_SQL}
)
SELECT true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM preds GROUP BY 1, 2
"""


@register("lang_confusion_matrix", _LANG_CONFUSION_SQL)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trigram classifier on the held-out split —
    the evaluation a lang-routing pipeline publishes. Second consumer of
    the trained-profile side table (the model trains once per session,
    like the signature marts)."""
    out, test = _lang_predictions(spark, sf_dir)
    joined = test.select("doc_id", F.col("lang").alias("true_lang")).join(out, "doc_id")
    return joined.groupBy("true_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )


# ===========================================================================
# Batch 8: lexical retrieval — BM25 relevance and per-doc tf-idf keywords.
# ===========================================================================

from .operators.retrieval import bm25_scores, tfidf_top_terms  # noqa: E402

_BM25_SQL = r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents WHERE length(trim(text)) > 0
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term != '' GROUP BY doc_id),
consts AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
    FROM toks WHERE term IN ('spark', 'shuffle', 'broadcast')
    GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       count(*) AS n_terms_matched,
       ROUND(SUM(ln(1 + (c.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))), 6) AS score
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts c
GROUP BY tf.doc_id
"""


@register("bm25_query_scores", _BM25_SQL)
def bm25_query_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 against a fixed query — the topical-filter shape: one tf shuffle,
    # df/avgdl broadcast, score entirely in the JVM.
    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d, "text", "doc_id", ["spark", "shuffle", "broadcast"])


_TFIDF_SQL = r"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
    FROM documents WHERE length(trim(text)) > 0
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
    FROM toks WHERE term != '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, term, ROUND(tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
    FROM scored) WHERE rnk <= 3
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), "text", "doc_id", top_k=3)


# ===========================================================================
# Batch 3: corpus-hygiene operators — repetition quality, PII, train/test
# decontamination, column profiling, deterministic shuffle-sharding.
# ===========================================================================

from .operators.decontam import contamination_report  # noqa: E402
from .operators.privacy import pii_counts, pii_redaction_sql, redact_documents  # noqa: E402
from .operators.profiling import profile_columns, sketch_profile  # noqa: E402
from .operators.sharding import shuffle_shards  # noqa: E402
from .operators.textstats import repetition_features  # noqa: E402

_REPETITION_SQL = r"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
    FROM documents
),
uni AS (SELECT doc_id, unnest(toks) AS tok FROM base),
ucnt AS (SELECT doc_id, tok, count(*) AS c FROM uni GROUP BY 1, 2),
ustat AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(max(c) AS BIGINT) AS top_c
    FROM ucnt GROUP BY 1
),
big AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM base WHERE len(toks) >= 2
),
bcnt AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
bstat AS (SELECT doc_id, max(c) AS top_b, sum(c) AS n_bigrams FROM bcnt GROUP BY 1)
SELECT u.doc_id, u.n_tokens, u.n_distinct_tokens,
       ROUND(CAST(u.n_distinct_tokens AS DOUBLE) / u.n_tokens, 6) AS distinct_ratio,
       ROUND(CAST(u.top_c AS DOUBLE) / u.n_tokens, 6) AS top_token_frac,
       COALESCE(ROUND(CAST(b.top_b AS DOUBLE) / b.n_bigrams, 6), 0.0) AS top_bigram_frac
FROM ustat u LEFT JOIN bstat b USING (doc_id)
"""


@register("doc_repetition_stats", _REPETITION_SQL)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition gates: top-token / top-bigram mass flags
    # boilerplate and degenerate text that length/alpha checks miss.
    return repetition_features(_t(spark, sf_dir, "documents"), "text", "doc_id")


def _pii_scan_sql() -> str:
    from .operators.privacy import PII_PATTERNS

    cols = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in PII_PATTERNS)
    return f"SELECT doc_id,\n       {cols},\n       CAST({total} AS BIGINT) AS n_pii\nFROM documents"


@register("pii_scan", _pii_scan_sql())
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RE2-safe patterns so the identical regex text runs on Java regex and
    # DuckDB; pure map stage pipelined into the scan.
    return pii_counts(_t(spark, sf_dir, "documents"), "text", "doc_id")


_PII_REDACT_SQL = f"""
SELECT doc_id,
       {pii_redaction_sql()} AS redacted_text,
       CAST(CASE WHEN {pii_redaction_sql()} <> text THEN 1 ELSE 0 END AS INTEGER)
           AS was_redacted
FROM documents
"""


@register("pii_redacted_documents", _PII_REDACT_SQL)
def pii_redacted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_documents(_t(spark, sf_dir, "documents"), "text", "doc_id")


def _decontam_sql(n: int) -> str:
    gram = " || ' ' || ".join(f"t[i + {k}]" for k in range(n))
    return f"""
WITH sp AS (
    SELECT doc_id, text,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
toks AS (
    SELECT doc_id, split,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS t
    FROM sp WHERE split IN ('train', 'test')
),
grams AS (
    SELECT doc_id, split,
           unnest(list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
                                               i -> {gram}))) AS gram
    FROM toks WHERE len(t) >= {n}
),
test_g AS (SELECT DISTINCT gram FROM grams WHERE split = 'test'),
train_g AS (SELECT doc_id, gram FROM grams WHERE split = 'train'),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM train_g GROUP BY 1),
hits AS (
    SELECT doc_id, count(*) AS n_contaminated_grams
    FROM train_g JOIN test_g USING (gram) GROUP BY 1
)
SELECT h.doc_id,
       CAST(h.n_contaminated_grams AS BIGINT) AS n_contaminated_grams,
       CAST(p.n_grams AS BIGINT) AS n_grams,
       ROUND(CAST(h.n_contaminated_grams AS DOUBLE) / p.n_grams, 6) AS contaminated_frac
FROM hits h JOIN per_doc p USING (doc_id)
"""


@register("decontamination_report", _decontam_sql(5))
def decontamination_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train/test benchmark-leakage check over the identity-hash split: the
    # eval side's distinct 5-gram set is broadcast; the corpus side never
    # shuffles on gram.
    d = deterministic_split(_t(spark, sf_dir, "documents"), "doc_id", train=0.8, val=0.1)
    train = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")
    return contamination_report(train, test, "text", "doc_id", n=5)


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"]

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows, COUNT({c}) AS n_non_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value, CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


@register("column_profile", _PROFILE_SQL)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact tier of the data-quality profiler (one agg pass + stack unpivot);
    # the 100 TB tier is sketch_profile_lineitem below.
    return profile_columns(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


# Tolerance-banded oracle (the hll_sketch_union_distinct contract): the
# HLL estimate and t-digest quantiles are implementation-defined, so the
# engine-specific values stay OUT of the hash; instead the query emits the
# exact group stats plus booleans asserting each sketch landed inside its
# published error band — approx_count_distinct(rsd=0.05) within 15% (3σ),
# percentile_approx(accuracy=10000, rank error ≤ 1e-4) within ±0.02 rank
# (200× the guarantee). The exact percentile/count-distinct side exists
# only to band-check the sketch at test SF; the production 100 TB path is
# the sketch alone (single pass, mergeable, constant memory).
_SKETCH_PROFILE_SQL = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct_exact,
       TRUE AS distinct_in_band, TRUE AS p50_in_band, TRUE AS p95_in_band
FROM lineitem GROUP BY l_returnflag
"""


@register("sketch_profile_lineitem", _SKETCH_PROFILE_SQL)
def sketch_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-check the sketch tier against the exact tier in ONE aggregation
    pass (r10 verdict item 6, guide §2.4): the sketch aggregates (HLL,
    t-digest — the same expressions operators/profiling.sketch_profile
    runs at 100 TB) and their exact companions (count_distinct, exact
    percentile — test-SF-only band references) ride a single groupBy over
    a single scan, instead of two scans + two shuffles + a join. Every
    aggregate computes the identical value over the identical rows; only
    the plan shape changed (verified: 2 scans/10 Exchanges -> 1 scan, no
    join — plans/r11/sketch_profile_lineitem_{before,after}.txt)."""
    from .operators.importance import _widen_by

    # same widen sketch_profile applies: the sf-scale file is one split, so
    # every partial would run on one core; keyed by all consumed columns
    # (verdict item 9), no-op on real multi-split inputs.
    li = _widen_by(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice", "l_partkey"
        ),
        "l_returnflag",
        "l_extendedprice",
        "l_partkey",
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_partkey", 0.05).alias("approx_distinct"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95], 10000
        ).alias("approx_quantiles"),
        # size(collect_set) = exact distinct (both ignore NULLs) WITHOUT
        # the distinct-aggregate Expand rewrite, which would re-key phase 1
        # by (returnflag, partkey) and instantiate every heavy percentile
        # buffer per fine group instead of per returnflag (measured: the
        # count_distinct form was 1.3 s SLOWER than the join it replaced).
        # The set is bounded by the per-group distinct count — this exact
        # tier is the test-SF band reference; at 100 TB the sketch alone
        # ships (module docstring above).
        F.size(F.collect_set("l_partkey")).cast("long").alias("n_distinct_exact"),
        F.expr(
            "percentile(l_extendedprice, array(0.48, 0.52, 0.93, 0.97))"
        ).alias("qb"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "n_distinct_exact",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct_exact"))
            / F.col("n_distinct_exact")
            <= F.lit(0.15)
        ).alias("distinct_in_band"),
        (
            (F.element_at("approx_quantiles", 1) >= F.element_at("qb", 1))
            & (F.element_at("approx_quantiles", 1) <= F.element_at("qb", 2))
        ).alias("p50_in_band"),
        (
            (F.element_at("approx_quantiles", 2) >= F.element_at("qb", 3))
            & (F.element_at("approx_quantiles", 2) <= F.element_at("qb", 4))
        ).alias("p95_in_band"),
    )


_SHARD_SQL = """
WITH h AS (
    SELECT doc_id, substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
    FROM documents
),
s AS (
    SELECT doc_id, h8,
           CASE WHEN h8 < '20000000' THEN 0 WHEN h8 < '40000000' THEN 1
                WHEN h8 < '60000000' THEN 2 WHEN h8 < '80000000' THEN 3
                WHEN h8 < 'a0000000' THEN 4 WHEN h8 < 'c0000000' THEN 5
                WHEN h8 < 'e0000000' THEN 6 ELSE 7 END AS shard
    FROM h
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h8, doc_id) AS BIGINT) AS pos
FROM s
"""


@register("shuffle_shards_docs", _SHARD_SQL)
def shuffle_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic epoch shuffle: shard = hash high bits, pos = hash rank
    # within shard — reproducible random order with shard-level parallelism.
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shards(d, "doc_id", n_shards=8, seed="0")


# ===========================================================================
# Batch 4: event-time analytics (sessionization, as-of attribution, keyed
# range join) and multi-level OLAP (rollup / cube / pivot, heavy hitters).
# ===========================================================================

from .operators.asof import asof_join, range_join  # noqa: E402
from .operators.olap import cube_agg, pivot_agg, rollup_agg  # noqa: E402
from .operators.sessions import session_stats  # noqa: E402
from .operators.textstats import vocab_top_terms  # noqa: E402

_GAP_US = 30 * 60 * 1_000_000  # 30-minute idle gap, microseconds
# events.parquet is TIMESTAMP(NANOS): Spark reads raw int64 nanos, DuckDB
# truncates to its native microsecond timestamps — so event-time queries
# run on MICROSECONDS on both engines (floor(ns/1000) == epoch_us).
_HOUR_US = 3_600_000_000

_SESSIONS_SQL = f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tns, value FROM events),
f AS (
    SELECT *, CASE WHEN lag(tns) OVER w IS NULL
                     OR tns - lag(tns) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS is_start
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)
),
s AS (
    SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tns, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_index
    FROM f
)
SELECT user_id, session_index, COUNT(*) AS n_events,
       MIN(tns) AS session_start, MAX(tns) AS session_end,
       MAX(tns) - MIN(tns) AS duration,
       ROUND(SUM(value), 2) AS total_value
FROM s GROUP BY 1, 2
"""


@register("event_sessions", _SESSIONS_SQL)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization: one shuffle on user_id shared by the lag
    # window, the running session counter, and the per-session aggregation.
    e = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        "value",
    )
    return session_stats(
        e, "user_id", "ts_us", gap=_GAP_US, value_col="value", tiebreak_cols=["event_id"]
    )


_LAST_TOUCH_SQL = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tns FROM events),
p AS (SELECT event_id, user_id, tns FROM e WHERE event_type = 'purchase'),
t AS (
    SELECT user_id, tns, event_id, event_type
    FROM e WHERE event_type IN ('click', 'view')
    QUALIFY row_number() OVER (PARTITION BY user_id, tns ORDER BY event_id DESC) = 1
)
SELECT p.event_id, p.user_id, p.tns AS purchase_ts,
       t.event_id AS touch_event_id, t.event_type AS touch_type,
       t.tns AS touch_ts, p.tns - t.tns AS us_since_touch
FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tns >= t.tns
"""


@register("last_touch_attribution", _LAST_TOUCH_SQL)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # backward-inclusive as-of join via the union+window plan (one shuffle,
    # no row expansion) — vs DuckDB's native ASOF JOIN as the oracle.
    e = _events(spark, sf_dir)
    ts_us = F.expr("ts DIV 1000")  # integer div: ts/1000 in DOUBLE loses ULPs at 1e18
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("purchase_ts")
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        ts_us.alias("touch_ts_src"),
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        ts_us.alias("touch_ts"),
    )
    out = asof_join(
        purchases,
        touches,
        ["user_id"],
        "purchase_ts",
        "touch_ts_src",
        payload_cols=["touch_event_id", "touch_type", "touch_ts"],
        right_tiebreak="touch_event_id",
        prefix="",
    )
    return out.select(
        "event_id", "user_id", "purchase_ts", "touch_event_id", "touch_type",
        "touch_ts", (F.col("purchase_ts") - F.col("touch_ts")).alias("us_since_touch"),
    )


_CLICKS_BEFORE_SQL = f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tns FROM events),
p AS (SELECT event_id, user_id, tns FROM e WHERE event_type = 'purchase'),
c AS (SELECT user_id, tns FROM e WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.tns AS purchase_ts,
       CAST(COUNT(c.tns) AS BIGINT) AS n_clicks_prev_hour
FROM p LEFT JOIN c
  ON c.user_id = p.user_id AND c.tns >= p.tns - {_HOUR_US} AND c.tns < p.tns
GROUP BY 1, 2, 3
"""


@register("clicks_before_purchase", _CLICKS_BEFORE_SQL)
def clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed time-range join via coarse time-cell equi-join + exact refine;
    # left join of the counts back keeps zero-click purchases.
    e = _events(spark, sf_dir)
    ts_us = F.expr("ts DIV 1000")  # integer div: ts/1000 in DOUBLE loses ULPs at 1e18
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("purchase_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", ts_us.alias("click_ts")
    )
    pairs = range_join(
        p, c, ["user_id"], "purchase_ts", "click_ts",
        lo=-_HOUR_US, hi=0, bucket=_HOUR_US,
    )
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("n_clicks_prev_hour"))
    return p.join(counts, "event_id", "left").select(
        "event_id", "user_id", "purchase_ts",
        F.coalesce("n_clicks_prev_hour", F.lit(0)).cast("long").alias("n_clicks_prev_hour"),
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_returnflag_status", _ROLLUP_SQL)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL-standard ROLLUP in one Expand+aggregate pass — the generalization
    # of the reference's hand-built variation→parent re-aggregation (A3).
    li = _t(spark, sf_dir, "lineitem")
    return rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        ],
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("cube_status_priority", _CUBE_SQL)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return cube_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").alias("total_price"),
        ],
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_F,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END) AS BIGINT) AS qty_O
FROM lineitem
GROUP BY l_returnflag
"""


@register("pivot_status_qty", _PIVOT_SQL)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit-value pivot (static schema — no value-discovery scan job)
    li = _t(spark, sf_dir, "lineitem")
    out = pivot_agg(
        li, ["l_returnflag"], "l_linestatus", ["F", "O"],
        F.sum("l_quantity"), out_prefix="qty_",
    )
    return out.select(
        "l_returnflag",
        F.coalesce("qty_F", F.lit(0.0)).cast("long").alias("qty_F"),
        F.coalesce("qty_O", F.lit(0.0)).cast("long").alias("qty_O"),
    )


_VOCAB_SQL = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS term
    FROM documents
),
stats AS (
    SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM toks GROUP BY 1
),
topk AS (SELECT * FROM stats ORDER BY n_occurrences DESC, term LIMIT 20)
SELECT term, n_occurrences, n_docs,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, term) AS INTEGER) AS rnk
FROM topk
"""


@register("corpus_top_terms", _VOCAB_SQL)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact heavy hitters: TakeOrderedAndProject top-k, never a global sort
    return vocab_top_terms(_t(spark, sf_dir, "documents"), "text", "doc_id", k=20)


# ===========================================================================
# Batch 5: statistical profiling (exact power-sum moments, nearest-rank
# percentiles, fixed histograms), time-series regularization (gap-fill,
# rolling windows), and blocked fuzzy (edit-distance) pairing.
# ===========================================================================

from .operators.dedupe import edit_distance_pairs  # noqa: E402
from .operators.stats import (  # noqa: E402
    descriptive_stats,
    fixed_histogram,
    group_percentiles,
)
from .operators.timeseries import daily_gapfill, rolling_daily  # noqa: E402

_STATS_SQL = """
WITH g AS (
    SELECT l_returnflag, COUNT(*) AS n,
           SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sx,
           SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxx,
           SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sy,
           SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS syy,
           SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxy
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_x,
       ROUND(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                  / (n - 1.0)), 6) AS stddev_x,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS corr_xy
FROM g
"""


@register("returnflag_price_stats", _STATS_SQL)
def returnflag_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # moments from exact decimal power sums: the groupBy stays an ordinary
    # mergeable hash-agg; the float math happens once on exact inputs.
    return descriptive_stats(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


_PCTL_SQL = """
WITH r AS (
    SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag,
       MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN l_extendedprice END) AS p50,
       MAX(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT) THEN l_extendedprice END) AS p95
FROM r GROUP BY 1
"""


@register("price_percentiles", _PCTL_SQL)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-rank (type-1) percentiles: integer rank selection, no
    # interpolation arithmetic to diverge between engines.
    return group_percentiles(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice",
        [0.5, 0.95], out_names=["p50", "p95"],
    )


_HIST_SQL = """
SELECT o_orderstatus,
       CAST(least(greatest(floor((o_totalprice - 0.0) / 50000.0), 0), 11) AS BIGINT) AS bucket,
       COUNT(*) AS n_rows
FROM orders GROUP BY 1, 2
"""


@register("order_price_histogram", _HIST_SQL)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # static-bound equi-width histogram: no min/max pre-pass, one groupBy
    return fixed_histogram(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_totalprice",
        lo=0.0, width=50000.0, n_buckets=12,
    )


_GAPFILL_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS event_date, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(min(event_date), max(event_date),
                                       INTERVAL 1 DAY)) AS DATE) AS event_date
    FROM daily GROUP BY user_id
)
SELECT s.user_id, s.event_date, COALESCE(d.n_rows, 0) AS n_rows, d.total_value
FROM spine s LEFT JOIN daily d USING (user_id, event_date)
"""


@register("user_daily_gapfill", _GAPFILL_SQL)
def user_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # densify each user's daily series over its own [min, max] day span —
    # spine rows come from sequence+explode, never a global calendar cross.
    e = _events(spark, sf_dir)
    return daily_gapfill(
        e, "user_id", "event_date",
        agg_cols={
            "total_value": F.round(
                F.sum(F.col("value").cast("decimal(18,6)")), 2
            ).cast("double")
        },
    )


_ROLLING_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS event_date,
           SUM(CAST(value AS DECIMAL(38,6))) AS v,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dayn
    FROM events GROUP BY 1, 2
)
SELECT user_id, event_date,
       ROUND(CAST(v AS DOUBLE), 2) AS day_value,
       ROUND(CAST(SUM(v) OVER wall AS DOUBLE), 2) AS running_total,
       ROUND(CAST(SUM(v) OVER w7 AS DOUBLE), 2) AS trailing_sum,
       ROUND(CAST(SUM(v) OVER w7 AS DOUBLE) / COUNT(*) OVER w7, 6) AS trailing_avg
FROM daily
WINDOW wall AS (PARTITION BY user_id ORDER BY dayn
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       w7 AS (PARTITION BY user_id ORDER BY dayn
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register("user_rolling_value", _ROLLING_SQL)
def user_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact DECIMAL frame sums over range-framed epoch-day numbers; gaps
    # respected without densifying.
    e = _events(spark, sf_dir)
    return rolling_daily(e, "user_id", "event_date", "value", window_days=7)


_FUZZY_SQL = """
WITH b AS (
    SELECT doc_id, lang,
           CAST(floor(length(lower(trim(text))) / 20.0) AS BIGINT) AS lb,
           substr(lower(trim(text)), 1, 60) AS pfx
    FROM documents
)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, b2.pfx) AS BIGINT) AS edit_dist
FROM b a JOIN b b2 ON a.lang = b2.lang AND a.lb = b2.lb AND a.doc_id < b2.doc_id
WHERE levenshtein(a.pfx, b2.pfx) <= 5
"""


@register("fuzzy_text_pairs", _FUZZY_SQL)
def fuzzy_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked Levenshtein near-pairs: quadratic only inside (lang, length
    # bucket) blocks; edit distance runs JVM-side in codegen.
    return edit_distance_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        block_cols=["lang"], length_bucket=20, prefix_len=60, max_dist=5,
    )


# ===========================================================================
# Batch 9: corpus assembly — chunking, cross-doc duplicated n-grams,
# temperature mixture sampling
# ===========================================================================

from .operators.chunking import chunk_documents  # noqa: E402
from .operators.sampling import temperature_mixture_sample  # noqa: E402
from .operators.textstats import dup_ngram_fraction  # noqa: E402

_CHUNK_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
    WHERE len(string_split(text, ' ')) > 0
),
starts AS (
    SELECT doc_id, t,
           unnest(generate_series(0, greatest(len(t) - 1, 0), 8)) AS chunk_start,
           generate_subscripts(generate_series(0, greatest(len(t) - 1, 0), 8), 1) - 1 AS chunk_index
    FROM toks
)
SELECT doc_id,
       CAST(chunk_index AS INTEGER) AS chunk_index,
       CAST(chunk_start AS INTEGER) AS chunk_start,
       CAST(len(list_slice(t, chunk_start + 1, chunk_start + 16)) AS INTEGER) AS chunk_tokens,
       array_to_string(list_slice(t, chunk_start + 1, chunk_start + 16), ' ') AS chunk_text
FROM starts
"""


@register("doc_chunks", _CHUNK_SQL)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed 16-token windows, stride 8 (50% overlap): map-only fan-out, the
    # canonical corpus → context-length-bounded training sequence step.
    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id", chunk_size=16, stride=8
    )


_DUP_NGRAM_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
g AS (
    SELECT doc_id,
           array_to_string(list_slice(t, i, i + 4), ' ') AS gram
    FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
    WHERE len(t) >= 5
),
gram_df AS (
    SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN gram_df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN gram_df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
           AS dup_gram_frac
FROM g JOIN gram_df USING (gram)
GROUP BY g.doc_id
"""


@register("dup_ngram_stats", _DUP_NGRAM_SQL)
def dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # share of each doc's word 5-grams that appear in >=2 documents —
    # cross-document boilerplate signal (C4/RefinedWeb-style hygiene).
    return dup_ngram_fraction(_t(spark, sf_dir, "documents"), "text", "doc_id", n=5)


_MIXTURE_SQL = """
WITH cnt AS (
    SELECT lang AS _stratum, COUNT(*) AS _n FROM documents GROUP BY lang
),
pw AS (
    SELECT _stratum, _n, CAST(ROUND(POW(_n, 0.5), 6) AS DECIMAL(38,6)) AS _p FROM cnt
),
tot AS (SELECT SUM(_p) AS _tp FROM pw),
rates AS (
    SELECT _stratum, _n,
           ROUND(LEAST(1.0, 120 * (CAST(_p AS DOUBLE) / CAST(_tp AS DOUBLE)) / _n), 6)
               AS keep_rate
    FROM pw, tot
),
thr AS (
    SELECT _stratum, keep_rate,
           CASE WHEN keep_rate >= 1.0 THEN 'g'
                ELSE printf('%08x', CAST(FLOOR(keep_rate * 4294967296.0) AS BIGINT))
           END AS _t
    FROM rates
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text, t.keep_rate
FROM documents d JOIN thr t ON d.lang = t._stratum
WHERE substr(md5(d.lang || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8) < t._t
"""


@register("mixture_sampled_docs", _MIXTURE_SQL)
def mixture_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # alpha=0.5 temperature rebalancing of the skewed lang distribution at a
    # ~120-doc budget (scaled by SF via the per-stratum counts): dominant
    # 'en' is cut hardest, rare langs keep proportionally more.
    return temperature_mixture_sample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", alpha=0.5, budget=120
    )


# ===========================================================================
# Batch 10: embedding clustering — deterministic k-means + SemDeDup
# ===========================================================================

from .operators.clustering import (  # noqa: E402
    _assign as _kmeans_assign_step,
    centroids_table,
    semantic_dedup_verdict,
)
from .operators.similarity import _dvec  # noqa: E402


def _kmeans_ctes(
    k: int | str,
    iters: int,
    *,
    vec_sql: str = "embedding",
    pfx: str = "",
    where_sql: str = "",
) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs mirroring
    ``operators.clustering`` step for step (same init, same 6dp-rounded
    argmin with cid tie-break, same DECIMAL-sum/9dp-rounded means).
    ``vec_sql`` picks the vector expression over `embeddings` (a
    ``list_slice`` trains a per-subspace PQ codebook); ``pfx`` namespaces
    the CTEs so several trainings compose in one query. ``k`` is either a
    literal (PQ codebooks: codebook size is a design constant) or a SQL
    scalar expression (the coarse-quantizer family: k scales with corpus
    size via the adaptive_k formula, replayed here through a
    LIMIT-subquery so the oracle picks the same k at every SF).
    ``where_sql`` restricts the TRAINING rows (the delta-ingest rows train
    on the base slice only) — pass e.g. ``"WHERE vec_id % 10 < 8"``."""
    d2 = (
        f"ROUND(list_aggregate(list_transform(list_zip({pfx}vv.vec, c.cvec),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6)"
    )
    k_limit = str(k) if isinstance(k, int) else f"({k})"
    parts = [
        f"{pfx}vv AS (SELECT vec_id AS _vid,"
        f" list_transform({vec_sql}, x -> CAST(x AS DOUBLE)) AS vec"
        f" FROM embeddings {where_sql})",
        f"{pfx}c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY _vid) - 1 AS INTEGER) AS cid,"
        f" vec AS cvec FROM (SELECT _vid, vec FROM {pfx}vv ORDER BY _vid LIMIT {k_limit}))",
    ]
    for it in range(1, iters + 1):
        prev = f"{pfx}c{it - 1}"
        parts.append(
            f"{pfx}a{it} AS (SELECT _vid, vec, cid, d2 FROM ("
            f" SELECT *, ROW_NUMBER() OVER (PARTITION BY _vid ORDER BY d2, cid) AS rn"
            f" FROM (SELECT {pfx}vv._vid, {pfx}vv.vec, c.cid, {d2} AS d2"
            f" FROM {pfx}vv, {prev} c))"
            f" WHERE rn = 1)"
        )
        if it < iters:
            parts.append(
                f"{pfx}m{it} AS (SELECT cid, i - 1 AS pos,"
                f" ROUND(CAST(SUM(CAST(vec[i] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 9) AS m"
                f" FROM {pfx}a{it}, unnest(generate_series(1, len(vec))) AS u(i) GROUP BY cid, i)"
            )
            parts.append(
                f"{pfx}c{it} AS (SELECT {pfx}c{it - 1}.cid,"
                f" COALESCE(n.nv, {pfx}c{it - 1}.cvec) AS cvec"
                f" FROM {pfx}c{it - 1} LEFT JOIN (SELECT cid, list(m ORDER BY pos) AS nv"
                f" FROM {pfx}m{it} GROUP BY cid) n USING (cid))"
            )
    return "WITH " + ",\n".join(parts)


_KMEANS_ITERS = 2
# Coarse-quantizer cluster count scales with the corpus (adaptive_k: keep
# E[cluster size] ≈ 64 so SemDeDup's within-cluster pair budget is constant
# as data grows — fixed k was a measured 42× cliff at a 10× corpus). The
# oracle computes the SAME k from the same table via a LIMIT-subquery:
# sf0.01 (500 vecs) → 8, sf0.1 (2000) → 32, the 10× stress (20000) → 313.
_KMEANS_TARGET = 64
_KMEANS_K_SQL = (
    f"SELECT GREATEST(8, CAST(CEIL(COUNT(*) / {_KMEANS_TARGET}.0) AS BIGINT))"
    " FROM embeddings"
)

_KMEANS_SQL = f"""
{_kmeans_ctes(_KMEANS_K_SQL, _KMEANS_ITERS)}
SELECT _vid AS vec_id, CAST(cid AS INTEGER) AS cluster_id, d2 AS dist2
FROM a{_KMEANS_ITERS}
"""


# ONE parsed (vec_id, double-vec) frame per (session, sf_dir): kmeans, the
# search quantizer, the delta quantizer, and the assignment layers all
# train/assign from this shared mart instead of each re-scanning and
# re-casting embeddings.parquet (r7 verdict item 4: side_table_build ran
# three separate trainings whose scan+parse prefixes were redundant). At
# scale this is the ingest-time "vectors" table every ANN artifact derives
# from; the trainings themselves stay distinct because their (k-policy,
# corpus-slice) contracts differ — kmeans k=n/64 on 100%, search quantizer
# k=sqrt(n) on 100%, delta quantizer k=sqrt(0.8n) on the 80% base slice.
def _emb_dvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "embeddings_dvec",
        lambda: _t(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("_vid"), _dvec(F.col("embedding")).alias("_v")
        ),
    )


# Centroid mart, shared per (session, sf_dir) exactly like the MinHash
# signature mart: Lloyd's runs ONCE, then kmeans_clusters /
# semantic_dedup_keep / ivf_ann_top3 all read the persisted centroids +
# assignment (at scale these are tables keyed by corpus version; the
# train/assign split in operators/clustering.py is this same contract).
def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        f"kmeans_centroids_adaptive{_KMEANS_TARGET}_i{_KMEANS_ITERS}",
        lambda: centroids_table(
            _emb_dvec(spark, sf_dir), "_v", "_vid",
            k=None, iters=_KMEANS_ITERS,  # adaptive: k = max(8, ceil(n/64))
        ),
    )


def _kmeans_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        return _kmeans_assign_step(
            _emb_dvec(spark, sf_dir), _kmeans_centroids(spark, sf_dir)
        )

    return _side_table(
        spark, sf_dir, f"kmeans_assignment_adaptive{_KMEANS_TARGET}_i{_KMEANS_ITERS}", build
    )


@register("kmeans_clusters", _KMEANS_SQL)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lloyd's with pinned init/tie-breaks/rounding so the oracle replays the
    # exact trajectory; see operators/clustering.py for the scale shape.
    return _kmeans_assignment(spark, sf_dir).select(
        F.col("_vid").alias("vec_id"),
        F.col("cid").cast("int").alias("cluster_id"),
        F.col("dist2"),
    )


_SEMDEDUP_SQL = f"""
{_kmeans_ctes(_KMEANS_K_SQL, _KMEANS_ITERS)},
sides AS (
    SELECT cid, _vid, vec,
           sqrt(list_aggregate(list_transform(vec, x -> x * x), 'sum')) AS nrm
    FROM a{_KMEANS_ITERS}
),
pairs AS (
    SELECT a._vid AS va, b._vid AS vb,
           ROUND(list_aggregate(list_transform(list_zip(a.vec, b.vec),
                                               p -> p[1] * p[2]), 'sum')
                 / (a.nrm * b.nrm), 6) AS cos
    FROM sides a JOIN sides b ON a.cid = b.cid AND a._vid < b._vid
),
shadowed AS (SELECT DISTINCT vb FROM pairs WHERE cos >= 0.4)
SELECT a._vid AS vec_id, CAST(a.cid AS INTEGER) AS cluster_id,
       (s.vb IS NULL) AS kept
FROM a{_KMEANS_ITERS} a LEFT JOIN shadowed s ON a._vid = s.vb
"""


@register("semantic_dedup_keep", _SEMDEDUP_SQL)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup: cosine comparisons only within a k-means cluster, so the
    # pair join is quadratic per cluster instead of per corpus. Reads the
    # shared assignment mart instead of re-running Lloyd's.
    return semantic_dedup_verdict(_kmeans_assignment(spark, sf_dir), threshold=0.4)


# IVF ANN with the pinned k-means coarse quantizer: the oracle replays the
# full trajectory — Lloyd's CTEs (shared with kmeans_clusters), the same
# 6dp-rounded probe ranking, and the cosine re-rank — so the formerly
# rows-only IVF query now has a value-hash check. Since r6 the quantizer's
# k is adaptive (∝ corpus size), so nprobe scales with it to hold the
# probed FRACTION at the family's pinned 3-of-8 (a fixed nprobe probed a
# shrinking fraction and the measured worst-query recall@3 fell 0.67→0.33
# at sf0.1; see operators.ivf.adaptive_nprobe). ceil(k*3/8) is exact on
# both engines (power-of-two dyadic multiplier). sf0.01 stays k=8/nprobe=3
# — byte-identical to the r4/r5 recorded trajectory.
_IVF_K = 3
_IVF_NPROBE_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(({_KMEANS_K_SQL}) * 3.0 / 8.0) AS BIGINT))"
)

_IVF_SQL = f"""
{_kmeans_ctes(_KMEANS_K_SQL, _KMEANS_ITERS)},
qv AS (SELECT _vid AS query_id, vec AS qvec FROM vv WHERE _vid < 10),
probe AS (
    SELECT query_id, qvec, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cid) AS prn
        FROM (
            SELECT q.query_id, q.qvec, c.cid,
                   ROUND(list_aggregate(list_transform(list_zip(q.qvec, c.cvec),
                                                       p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6) AS d2
            FROM qv q, c{_KMEANS_ITERS - 1} c
        )
    ) WHERE prn <= ({_IVF_NPROBE_SQL})
),
invlists AS (SELECT _vid AS cand_id, vec AS cvec2, cid FROM a{_KMEANS_ITERS}),
scored AS (
    SELECT p.query_id, c.cand_id,
           ROUND(list_aggregate(list_transform(list_zip(p.qvec, c.cvec2),
                                               pr -> pr[1] * pr[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(p.qvec, x -> x * x), 'sum'))
                    * sqrt(list_aggregate(list_transform(c.cvec2, x -> x * x), 'sum'))), 6) AS cos_sim
    FROM probe p JOIN invlists c ON c.cid = p.cid AND c.cand_id <> p.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM scored
) WHERE rnk <= {_IVF_K}
"""

from .operators.ivf import ivf_search_pinned  # noqa: E402


@register("ivf_ann_top3", _IVF_SQL)
def ivf_ann_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import adaptive_k
    from .operators.ivf import adaptive_nprobe

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_search_pinned(
        _kmeans_assignment(spark, sf_dir),
        _kmeans_centroids(spark, sf_dir),
        emb.filter(F.col("vec_id") < 10),
        nprobe=adaptive_nprobe(adaptive_k(_counted(spark, sf_dir, "embeddings", emb))),
        k=_IVF_K,
    )


# ANN index audit (NEW r4): recall@3 of the IVF index against the exact
# brute-force top-3 — "measure, don't guess" applied to the index itself.
# Composes the two verified rankings (exact kNN + IVF) per query id; the
# oracle nests both proven SQL bodies. At 100 TB this is the query a
# vector-index owner schedules after every rebuild: exact top-k on a
# SAMPLE of queries (here the <10 slice) joined against the index answer.
_RECALL_SQL = f"""
WITH exact_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_KNN_SQL}
    ) e_sub
),
ann_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_IVF_SQL}
    ) a_sub
)
SELECT e.query_id,
       CAST(count(a.cand_id) AS BIGINT) AS n_hits,
       ROUND(CAST(count(a.cand_id) AS DOUBLE) / 3.0, 6) AS recall_at3
FROM exact_k e
LEFT JOIN ann_k a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


@register("ivf_recall_at3", _RECALL_SQL)
def ivf_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of the IVF index vs exact cosine top-3: a left
    join of the exact hit list against the index's (both already
    value-hash-verified queries, both reading the shared centroid mart),
    so each exact hit matches at most one index row; count(matched)/3.
    The per-query rows are what an index monitor alerts on — a global
    average hides a single dead probe list."""
    exact = knn_cosine_top3(spark, sf_dir).select("query_id", "cand_id")
    ann = (
        ivf_ann_top3(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ann, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("_n"))
        .select(
            "query_id",
            F.col("_n").cast("long").alias("n_hits"),
            F.round(F.col("_n").cast("double") / F.lit(3.0), 6).alias("recall_at3"),
        )
    )


# SUBLINEAR IVF (NEW r7, the r6 verdict's headline): a DEDICATED search-only
# quantizer with k = max(8, ceil(sqrt(n))) and 2-way SPILLED inverted lists
# (every vector in its 2 nearest lists), probed at nprobe = max(3,
# ceil(sqrt(k))). Probed fraction √k/k shrinks as the corpus grows —
# expected candidates ≈ 2·n^(3/4), vs the dedup-shared quantizer's constant
# 3/8 of the corpus (linear). The spill is what keeps recall: measured at
# sf0.1 (k=45, nprobe=7), single-assignment worst-query recall@3 = 0.67,
# spilled = 1.0 at every query and SF. All arithmetic stays pinned
# (6dp-rounded distances, cid tie-breaks, sqrt/ceil exact IEEE on both
# engines), so the oracle replays training, spill, probe, and re-rank.
_IVF_SUB_K_SQL = "SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings"
_IVF_SUB_NPROBE_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(SQRT(CAST(({_IVF_SUB_K_SQL}) AS DOUBLE))) AS BIGINT))"
)
_IVF_SUB_SPILL = 2

_IVF_SUB_D2 = (
    "ROUND(list_aggregate(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6)"
)

# The spilled-lists + probe CTEs, shared verbatim by the sublinear top-k
# oracle and the IVFADC oracle below (both replay the same search mart).
_IVF_SUB_SEARCH_CTES = f"""sdist AS (
    SELECT svv._vid, svv.vec, c.cid,
           {_IVF_SUB_D2.format(a="svv.vec", b="c.cvec")} AS d2
    FROM svv, sc{_KMEANS_ITERS - 1} c
),
slists AS (
    SELECT _vid AS cand_id, vec AS cvec2, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY _vid ORDER BY d2, cid) AS rn FROM sdist
    ) WHERE rn <= {_IVF_SUB_SPILL}
),
sqv AS (SELECT _vid AS query_id, vec AS qvec FROM svv WHERE _vid < 10),
sprobe AS (
    SELECT query_id, qvec, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cid) AS prn
        FROM (
            SELECT q.query_id, q.qvec, c.cid,
                   {_IVF_SUB_D2.format(a="q.qvec", b="c.cvec")} AS d2
            FROM sqv q, sc{_KMEANS_ITERS - 1} c
        )
    ) WHERE prn <= ({_IVF_SUB_NPROBE_SQL})
)"""

_IVF_SUB_SQL = f"""
{_kmeans_ctes(_IVF_SUB_K_SQL, _KMEANS_ITERS, pfx="s")},
{_IVF_SUB_SEARCH_CTES},
sscored AS (
    SELECT DISTINCT p.query_id, c.cand_id,
           ROUND(list_aggregate(list_transform(list_zip(p.qvec, c.cvec2),
                                               pr -> pr[1] * pr[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(p.qvec, x -> x * x), 'sum'))
                    * sqrt(list_aggregate(list_transform(c.cvec2, x -> x * x), 'sum'))), 6) AS cos_sim
    FROM sprobe p JOIN slists c ON c.cid = p.cid AND c.cand_id <> p.query_id
)
SELECT query_id, cand_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
    FROM sscored
) WHERE rnk <= {_IVF_K}
"""


# Search-index marts, shared per (session, sf_dir) like the kmeans marts:
# train the dedicated sqrt-k quantizer ONCE, spill lists once, then any
# query batch probes them (the persisted-mart contract of
# operators.ivf.build_search_index).
def _ivf_search_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import centroids_table as _ct
    from .operators.ivf import sublinear_k

    def build() -> DataFrame:
        dv = _emb_dvec(spark, sf_dir)
        return _ct(dv, "_v", "_vid", k=sublinear_k(dv.count()), iters=_KMEANS_ITERS)

    return _side_table(spark, sf_dir, f"ivf_search_centroids_sqrt_i{_KMEANS_ITERS}", build)


def _ivf_search_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ivf import spilled_assignment

    return _side_table(
        spark,
        sf_dir,
        f"ivf_search_lists_sqrt_sp{_IVF_SUB_SPILL}_i{_KMEANS_ITERS}",
        lambda: spilled_assignment(
            _emb_dvec(spark, sf_dir),
            _ivf_search_centroids(spark, sf_dir),
            vec_col="_v",
            id_col="_vid",
            spill=_IVF_SUB_SPILL,
        ),
    )


@register("ivf_ann_sublinear_top3", _IVF_SUB_SQL)
def ivf_ann_sublinear_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ivf import sublinear_k, sublinear_nprobe

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_search_pinned(
        _ivf_search_lists(spark, sf_dir),
        _ivf_search_centroids(spark, sf_dir),
        emb.filter(F.col("vec_id") < 10),
        nprobe=sublinear_nprobe(sublinear_k(_counted(spark, sf_dir, "embeddings", emb))),
        k=_IVF_K,
        dedupe_candidates=True,  # spilled lists can surface a candidate twice
    )


_SUB_RECALL_SQL = f"""
WITH exact_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_KNN_SQL}
    ) e_sub
),
ann_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_IVF_SUB_SQL}
    ) a_sub
)
SELECT e.query_id,
       CAST(count(a.cand_id) AS BIGINT) AS n_hits,
       ROUND(CAST(count(a.cand_id) AS DOUBLE) / 3.0, 6) AS recall_at3
FROM exact_k e
LEFT JOIN ann_k a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


@register("ivf_sublinear_recall_at3", _SUB_RECALL_SQL)
def ivf_sublinear_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of the SUBLINEAR index vs exact cosine top-3 —
    the monitor row that proves the √n quantizer + 2-way spill holds
    recall 1.0 while probing a shrinking fraction of the corpus (the
    constant-fraction index this replaces probed 3/8 forever)."""
    exact = knn_cosine_top3(spark, sf_dir).select("query_id", "cand_id")
    ann = (
        ivf_ann_sublinear_top3(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ann, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("_n"))
        .select(
            "query_id",
            F.col("_n").cast("long").alias("n_hits"),
            F.round(F.col("_n").cast("double") / F.lit(3.0), 6).alias("recall_at3"),
        )
    )


# ---------------------------------------------------------------------------
# Margin-based bitext mining, IVF-INDEXED (r10 — closes the r9 verdict's one
# quadratic plan): each parity "language" trains its OWN sublinear search
# index (√n-cluster pinned Lloyd's + 2-way spilled lists — exactly the
# build_search_index contract the ivf_ann_sublinear_top3 family verifies),
# the forward/backward kNN legs probe the OTHER side's lists
# (similarity.ivf_knn_normed: per-row norms, per-pair work = one dot), and
# the margin algebra is shared verbatim with the exact rule. Per batch the
# candidate work is O(|A|·|B|^(3/4) + |B|·|A|^(3/4)) instead of O(|A|·|B|).
# All arithmetic stays pinned (6dp d2/cos rounding, cid/cand tie-breaks,
# IEEE sqrt/ceil), so the oracle replays BOTH trainings, both spills, both
# probe legs, and the margin algebra end to end.
# ---------------------------------------------------------------------------
_BITEXT_SPILL = 2
_BITEXT_KNN = 4
_BITEXT_TAU = 1.1

_BITEXT_KA_SQL = (
    "SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings"
    " WHERE vec_id % 2 = 0"
)
_BITEXT_KB_SQL = (
    "SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings"
    " WHERE vec_id % 2 = 1"
)
_BITEXT_NPA_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(SQRT(CAST(({_BITEXT_KA_SQL}) AS DOUBLE))) AS BIGINT))"
)
_BITEXT_NPB_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(SQRT(CAST(({_BITEXT_KB_SQL}) AS DOUBLE))) AS BIGINT))"
)

_BITEXT_NORM = "sqrt(list_aggregate(list_transform({v}, x -> x * x), 'sum'))"
_BITEXT_COS = (
    "ROUND(list_aggregate(list_transform(list_zip({q}, {c}), pr -> pr[1] * pr[2]), 'sum')"
    " / ({qn} * {cn}), 6)"
)


def _bitext_side_ctes(pfx: str, cond: str, k_sql: str) -> str:
    """One side's search index as CTEs: pinned Lloyd's training
    (``_kmeans_ctes`` on the side's slice, ``cond`` the membership
    predicate), the 2-way spilled inverted lists with per-row norms, and
    the side's query table with norms."""
    base = _kmeans_ctes(k_sql, _KMEANS_ITERS, pfx=pfx, where_sql=f"WHERE {cond}")
    return (
        base
        + f""",
{pfx}dist AS (
    SELECT {pfx}vv._vid, {pfx}vv.vec, c.cid,
           {_IVF_SUB_D2.format(a=f"{pfx}vv.vec", b="c.cvec")} AS d2
    FROM {pfx}vv, {pfx}c{_KMEANS_ITERS - 1} c
),
{pfx}lists AS (
    SELECT _vid AS cand_id, vec AS cvec2, {_BITEXT_NORM.format(v="vec")} AS cnorm, cid
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY _vid ORDER BY d2, cid) AS rn FROM {pfx}dist)
    WHERE rn <= {_BITEXT_SPILL}
),
{pfx}q AS (SELECT _vid AS query_id, vec AS qvec, {_BITEXT_NORM.format(v="vec")} AS qnorm FROM {pfx}vv)"""
    )


def _bitext_knn_ctes(qpfx: str, lpfx: str, outpfx: str, nprobe_sql: str) -> str:
    """One kNN leg as CTEs: ``{qpfx}q`` queries probe their ``nprobe``
    nearest ``{lpfx}`` centroids, candidates come from the spilled-list
    equi-join (DISTINCT collapses double-probed border vectors — identical
    rounded cos_sim by construction), top-``_BITEXT_KNN`` per query."""
    return f""",
{outpfx}probe AS (
    SELECT query_id, qvec, qnorm, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cid) AS prn
        FROM (
            SELECT q.query_id, q.qvec, q.qnorm, c.cid,
                   {_IVF_SUB_D2.format(a="q.qvec", b="c.cvec")} AS d2
            FROM {qpfx}q q, {lpfx}c{_KMEANS_ITERS - 1} c
        )
    ) WHERE prn <= ({nprobe_sql})
),
{outpfx}scored AS (
    SELECT DISTINCT p.query_id, l.cand_id,
           {_BITEXT_COS.format(q="p.qvec", c="l.cvec2", qn="p.qnorm", cn="l.cnorm")} AS cos_sim
    FROM {outpfx}probe p JOIN {lpfx}lists l ON l.cid = p.cid
),
{outpfx}k AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
        FROM {outpfx}scored
    ) WHERE rnk <= {_BITEXT_KNN}
)"""


def _bitext_margin_sql(
    cond_a: str, cond_b: str, k_a_sql: str, k_b_sql: str, np_a_sql: str, np_b_sql: str
) -> str:
    """The full indexed-miner oracle for any two disjoint side predicates:
    both trainings + spills, both probe legs, the margin algebra."""
    return (
        _bitext_side_ctes("ga", cond_a, k_a_sql)
        + ",\n"
        + _bitext_side_ctes("gb", cond_b, k_b_sql)[len("WITH ") :]
        + _bitext_knn_ctes("ga", "gb", "f", np_b_sql)
        + _bitext_knn_ctes("gb", "ga", "b", np_a_sql)
        + f""",
m AS (
    SELECT fk.query_id AS qa, fk.cand_id AS cb, fk.cos_sim,
           ROUND(2 * fk.cos_sim / (ax.ax + ay.ay), 6) AS margin
    FROM fk
    JOIN (SELECT query_id, AVG(cos_sim) AS ax FROM fk GROUP BY query_id) ax
      ON ax.query_id = fk.query_id
    JOIN (SELECT query_id, AVG(cos_sim) AS ay FROM bk GROUP BY query_id) ay
      ON ay.query_id = fk.cand_id
)
SELECT qa AS src_id, cb AS tgt_id, cos_sim, margin FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY margin DESC, cb) AS rn
    FROM m) t
WHERE rn = 1 AND margin >= {_BITEXT_TAU}
"""
    )


_BITEXT_MARGIN_SQL = _bitext_margin_sql(
    "vec_id % 2 = 0",
    "vec_id % 2 = 1",
    _BITEXT_KA_SQL,
    _BITEXT_KB_SQL,
    _BITEXT_NPA_SQL,
    _BITEXT_NPB_SQL,
)


# Per-side search-index marts, shared per (session, sf_dir) like the other
# ANN marts: each "language" trains its dedicated √n quantizer once and
# spills its lists once; the miner (and any later query batch) probes them.
# ``tag`` keys the mart name; ``cond`` is the side's membership predicate
# over the parsed-vector frame.
def _bitext_centroids_for(
    spark: SparkSession, sf_dir: str, tag: str, cond: Column
) -> DataFrame:
    from .operators.ivf import sublinear_k

    def build() -> DataFrame:
        dv = _emb_dvec(spark, sf_dir).filter(cond)
        return centroids_table(dv, "_v", "_vid", k=sublinear_k(dv.count()), iters=_KMEANS_ITERS)

    return _side_table(
        spark, sf_dir, f"bitext_centroids_{tag}_i{_KMEANS_ITERS}", build
    )


def _bitext_lists_for(
    spark: SparkSession, sf_dir: str, tag: str, cond: Column
) -> DataFrame:
    from .operators.ivf import spilled_assignment

    return _side_table(
        spark,
        sf_dir,
        f"bitext_lists_{tag}_sp{_BITEXT_SPILL}_i{_KMEANS_ITERS}",
        lambda: spilled_assignment(
            _emb_dvec(spark, sf_dir).filter(cond),
            _bitext_centroids_for(spark, sf_dir, tag, cond),
            vec_col="_v",
            id_col="_vid",
            spill=_BITEXT_SPILL,
        ),
    )


def _bitext_centroids(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    return _bitext_centroids_for(
        spark, sf_dir, f"p{parity}", F.col("_vid") % 2 == parity
    )


def _bitext_lists(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    return _bitext_lists_for(spark, sf_dir, f"p{parity}", F.col("_vid") % 2 == parity)


@register("bitext_margin_pairs", _BITEXT_MARGIN_SQL)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-mined aligned pairs across the two parity 'languages' —
    operators/similarity.margin_mined_pairs_indexed over the per-side
    sublinear IVF marts (r10: no cross join over unbounded sides; the r9
    exact form survives as bitext_margin_exact_slice)."""
    from .operators.ivf import sublinear_nprobe
    from .operators.similarity import margin_mined_pairs_indexed

    dv = _emb_dvec(spark, sf_dir)  # persisted parsed-vector mart
    np_a = sublinear_nprobe(_counted(spark, sf_dir, "bitext_centroids_p0", _bitext_centroids(spark, sf_dir, 0)))
    np_b = sublinear_nprobe(_counted(spark, sf_dir, "bitext_centroids_p1", _bitext_centroids(spark, sf_dir, 1)))
    return margin_mined_pairs_indexed(
        dv.filter(F.col("_vid") % 2 == 0),
        dv.filter(F.col("_vid") % 2 == 1),
        _bitext_lists(spark, sf_dir, 0),
        _bitext_centroids(spark, sf_dir, 0),
        _bitext_lists(spark, sf_dir, 1),
        _bitext_centroids(spark, sf_dir, 1),
        vec_col="_v",
        id_col="_vid",
        k=_BITEXT_KNN,
        tau=_BITEXT_TAU,
        nprobe_a=np_a,
        nprobe_b=np_b,
    )


# The r9 exact rule, kept ONLY over a bounded audit slice (the
# knn_cosine_top3 contract: the cross join is fine when a side is small
# and broadcast). 60 ids per side at every SF — constant cost as the
# corpus grows; this is the row an alignment auditor runs on a sample.
_BITEXT_SLICE_BOUND = 120

_BITEXT_EXACT_SLICE_SQL = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id < {_BITEXT_SLICE_BOUND}
),
a AS (SELECT * FROM e WHERE vec_id % 2 = 0),
b AS (SELECT * FROM e WHERE vec_id % 2 = 1),
s_ab AS (
    SELECT a.vec_id AS qa, b.vec_id AS cb,
           ROUND(list_aggregate(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(a.v, x -> x * x), 'sum'))
                    * sqrt(list_aggregate(list_transform(b.v, x -> x * x), 'sum'))), 6) AS cos_sim
    FROM a, b
),
fk AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cos_sim DESC, cb) AS rnk
        FROM s_ab) t
    WHERE rnk <= {_BITEXT_KNN}
),
bk AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cb ORDER BY cos_sim DESC, qa) AS rnk
        FROM s_ab) t
    WHERE rnk <= {_BITEXT_KNN}
),
ax AS (SELECT qa, AVG(cos_sim) AS ax FROM fk GROUP BY qa),
ay AS (SELECT cb, AVG(cos_sim) AS ay FROM bk GROUP BY cb),
m AS (
    SELECT fk.qa, fk.cb, fk.cos_sim,
           ROUND(2 * fk.cos_sim / (ax.ax + ay.ay), 6) AS margin
    FROM fk JOIN ax USING (qa) JOIN ay USING (cb)
)
SELECT qa AS src_id, cb AS tgt_id, cos_sim, margin FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY margin DESC, cb) AS rn
    FROM m) t
WHERE rn = 1 AND margin >= {_BITEXT_TAU}
"""


@register("bitext_margin_exact_slice", _BITEXT_EXACT_SLICE_SQL)
def bitext_margin_exact_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT margin rule over a bounded 60-per-side audit slice —
    operators/similarity.margin_mined_pairs. Constant cost at any corpus
    size; pairs with bitext_margin_pairs the way knn_cosine_top3 pairs
    with the IVF rows."""
    from .operators.similarity import margin_mined_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _BITEXT_SLICE_BOUND
    )
    return margin_mined_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=_BITEXT_KNN,
        tau=_BITEXT_TAU,
    )


# Measured recall of the indexed kNN leg vs the exact rule on a bounded
# query sample (the ivf_sublinear_recall_at3 pattern): the margin miner's
# approximation is audited, not assumed. Exact leg = 10 side-A queries ×
# full side B (bounded broadcast baseline); indexed leg = the same queries
# through side B's spilled lists at the production nprobe.
_BITEXT_RECALL_SQL = (
    _bitext_side_ctes("gb", "vec_id % 2 = 1", _BITEXT_KB_SQL)
    + f""",
xaq AS (
    SELECT vec_id AS query_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec,
           {_BITEXT_NORM.format(v="list_transform(embedding, x -> CAST(x AS DOUBLE))")} AS qnorm
    FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 20
)"""
    + _bitext_knn_ctes("xa", "gb", "r", _BITEXT_NPB_SQL)
    + f""",
exactk AS (
    SELECT query_id, cand_id FROM (
        SELECT q.query_id, l.cand_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_BITEXT_COS.format(q="q.qvec", c="l.vec", qn="q.qnorm", cn=_BITEXT_NORM.format(v="l.vec"))} DESC,
                            l.cand_id
               ) AS rnk
        FROM xaq q, (SELECT vec_id AS cand_id,
                            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                     FROM embeddings WHERE vec_id % 2 = 1) l
    ) WHERE rnk <= {_BITEXT_KNN}
)
SELECT e.query_id,
       CAST(count(a.cand_id) AS BIGINT) AS n_hits,
       ROUND(CAST(count(a.cand_id) AS DOUBLE) / {_BITEXT_KNN}.0, 6) AS recall_at4
FROM exactk e
LEFT JOIN rk a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""
)


@register("bitext_knn_recall_at4", _BITEXT_RECALL_SQL)
def bitext_knn_recall_at4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@4 of the indexed forward-kNN leg vs exact cosine
    top-4 on a bounded query sample — the monitor row for the bitext
    miner's approximation (the ivf_sublinear_recall_at3 contract)."""
    from .operators.ivf import sublinear_nprobe
    from .operators.similarity import cosine_topk, ivf_knn_arrow

    dv = _emb_dvec(spark, sf_dir)
    qs = dv.filter((F.col("_vid") % 2 == 0) & (F.col("_vid") < 20))
    side_b = dv.filter(F.col("_vid") % 2 == 1)
    np_b = sublinear_nprobe(_counted(spark, sf_dir, "bitext_centroids_p1", _bitext_centroids(spark, sf_dir, 1)))
    exact = cosine_topk(
        side_b, qs, vec_col="_v", id_col="_vid", k=_BITEXT_KNN
    ).select("query_id", "cand_id")
    ann = (
        ivf_knn_arrow(
            _bitext_lists(spark, sf_dir, 1),
            _bitext_centroids(spark, sf_dir, 1),
            qs,
            vec_col="_v",
            id_col="_vid",
            nprobe=np_b,
            k=_BITEXT_KNN,
        )
        .select("query_id", "cand_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ann, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("_n"))
        .select(
            "query_id",
            F.col("_n").cast("long").alias("n_hits"),
            F.round(F.col("_n").cast("double") / F.lit(float(_BITEXT_KNN)), 6).alias(
                "recall_at4"
            ),
        )
    )


# Asymmetric corpus sizes (r10, the r9 verdict's optional surface): real
# bitext corpora are never balanced — here side A is the vec_id % 3 == 0
# third and side B the remaining two thirds, so each direction probes an
# index built at a DIFFERENT k (√n_a vs √n_b) and nprobe. Same operator,
# same algebra, same oracle builder — only the side predicates change.
_BITEXT3_COND_A = "vec_id % 3 = 0"
_BITEXT3_COND_B = "vec_id % 3 <> 0"
_BITEXT3_KA_SQL = (
    "SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings"
    f" WHERE {_BITEXT3_COND_A}"
)
_BITEXT3_KB_SQL = (
    "SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings"
    f" WHERE {_BITEXT3_COND_B}"
)
_BITEXT3_NPA_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(SQRT(CAST(({_BITEXT3_KA_SQL}) AS DOUBLE))) AS BIGINT))"
)
_BITEXT3_NPB_SQL = (
    f"SELECT GREATEST(3, CAST(CEIL(SQRT(CAST(({_BITEXT3_KB_SQL}) AS DOUBLE))) AS BIGINT))"
)

_BITEXT3_MARGIN_SQL = _bitext_margin_sql(
    _BITEXT3_COND_A,
    _BITEXT3_COND_B,
    _BITEXT3_KA_SQL,
    _BITEXT3_KB_SQL,
    _BITEXT3_NPA_SQL,
    _BITEXT3_NPB_SQL,
)


@register("bitext_margin_asymmetric", _BITEXT3_MARGIN_SQL)
def bitext_margin_asymmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed margin mining across ASYMMETRIC sides (1/3 vs 2/3 of the
    corpus): each direction probes an index trained at its own √n — the
    realistic shape where the low-resource side is much smaller than the
    high-resource one. operators/similarity.margin_mined_pairs_indexed."""
    from .operators.ivf import sublinear_nprobe
    from .operators.similarity import margin_mined_pairs_indexed

    dv = _emb_dvec(spark, sf_dir)
    cond_a = F.col("_vid") % 3 == 0
    cond_b = F.col("_vid") % 3 != 0
    la = _bitext_lists_for(spark, sf_dir, "m3a", cond_a)
    ca = _bitext_centroids_for(spark, sf_dir, "m3a", cond_a)
    lb = _bitext_lists_for(spark, sf_dir, "m3b", cond_b)
    cb = _bitext_centroids_for(spark, sf_dir, "m3b", cond_b)
    return margin_mined_pairs_indexed(
        dv.filter(cond_a),
        dv.filter(cond_b),
        la,
        ca,
        lb,
        cb,
        vec_col="_v",
        id_col="_vid",
        k=_BITEXT_KNN,
        tau=_BITEXT_TAU,
        nprobe_a=sublinear_nprobe(_counted(spark, sf_dir, "bitext_centroids_m3a", ca)),
        nprobe_b=sublinear_nprobe(_counted(spark, sf_dir, "bitext_centroids_m3b", cb)),
    )


# ===========================================================================
# Batch 11: classic OLAP joins (TPC-H Q3/Q5 shapes) + full ranking-window
# surface (lag/lead/ntile) — the ad-hoc BI queries a mart must serve.
# ===========================================================================

_SHIP_PRIORITY_SQL = """
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


@register("shipping_priority_top10", _SHIP_PRIORITY_SQL)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3 shape: selective dim filter broadcast into a two-fact join,
    # DECIMAL revenue, global top-10 (TakeOrderedAndProject — no full sort).
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_LOCAL_VOLUME_SQL = """
SELECT n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("local_supplier_volume", _LOCAL_VOLUME_SQL)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5 shape: six-way join where every dim side broadcasts and the
    # local-supplier condition (s_nationkey = c_nationkey) rides the join.
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .join(F.broadcast(s), (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_EVENT_DELTAS_SQL = """
SELECT user_id, event_id,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
       CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS BIGINT) AS gap_us,
       CAST(lead(epoch_us(ts)) OVER w - epoch_us(ts) AS BIGINT) AS next_gap_us,
       CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
            AS INTEGER) AS value_quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


@register("user_event_deltas", _EVENT_DELTAS_SQL)
def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lag/lead/ntile on one per-user ordering: Spark runs all three window
    # functions inside a single Window exec over one shuffle by user_id.
    e = _events(spark, sf_dir).withColumn("us", F.expr("ts DIV 1000"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("rn"),
        (F.col("us") - F.lag("us").over(w)).cast("long").alias("gap_us"),
        (F.lead("us").over(w) - F.col("us")).cast("long").alias("next_gap_us"),
        F.ntile(4).over(wv).cast("int").alias("value_quartile"),
    )


# ===========================================================================
# Batch 12: correlated-aggregate filter (TPC-H Q17 shape) + the full
# corpus -> training-sequences composition
# ===========================================================================

_SMALL_QTY_SQL = """
WITH pa AS (
    SELECT l_partkey,
           ROUND(0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                        / COUNT(*)), 6) AS thr
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7, 2)
            AS DOUBLE) AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < pa.thr
"""


@register("small_quantity_revenue", _SMALL_QTY_SQL)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 shape: the correlated scalar subquery (per-part average
    # quantity) rewritten as a window over l_partkey — one shuffle serves
    # both the threshold and the filter, no second scan of lineitem.
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    thr = F.round(
        F.lit(0.2)
        * (F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double")
           / F.count("*").over(w)),
        6,
    )
    return (
        li.withColumn("_thr", thr)
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7, 2)
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


_TRAINING_SEQ_SQL = f"""
WITH cur AS (
{_CURATED_SQL}
),
mix AS (
{_MIXTURE_SQL}
),
sel AS (
    SELECT m.doc_id, m.text FROM mix m JOIN cur c ON c.doc_id = m.doc_id
),
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM sel
    WHERE len(string_split(text, ' ')) > 0
),
starts AS (
    SELECT doc_id, t,
           unnest(generate_series(0, greatest(len(t) - 1, 0), 32)) AS chunk_start,
           generate_subscripts(generate_series(0, greatest(len(t) - 1, 0), 32), 1) - 1
               AS chunk_index
    FROM toks
)
SELECT doc_id,
       CAST(chunk_index AS INTEGER) AS chunk_index,
       CAST(len(list_slice(t, chunk_start + 1, chunk_start + 32)) AS INTEGER) AS chunk_tokens,
       array_to_string(list_slice(t, chunk_start + 1, chunk_start + 32), ' ') AS chunk_text
FROM starts
"""


@register("corpus_training_sequences", _TRAINING_SEQ_SQL)
def corpus_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the whole pretraining ingest in one plan: temperature-rebalanced
    # mixture sample ∩ curated corpus (near-dup canonical + quality gates),
    # then 32-token training sequences. Each stage reuses the catalog's
    # session-cached side tables, so composition costs only the final join
    # and the map-only chunk fan-out.
    mix = mixture_sampled_docs(spark, sf_dir).select("doc_id", "text")
    cur = curated_documents(spark, sf_dir).select("doc_id")
    return chunk_documents(mix.join(cur, "doc_id"), "text", "doc_id", chunk_size=32).drop(
        "chunk_start"
    )


# ===========================================================================
# Batch 13: EXISTS semi-join (TPC-H Q4 shape) + per-language quantile
# quality gate
# ===========================================================================

_LATE_SHIP_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o.o_orderpriority
"""


@register("late_shipment_priority", _LATE_SHIP_SQL)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 shape: EXISTS as a LEFT SEMI join — the equi key drives the
    # hash join and the ship-after-60-days predicate rides it, so lineitem
    # is touched once and never duplicates order rows.
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_QUALITY_GATE_SQL = f"""
WITH q AS (
{_QUALITY_SQL}
),
ql AS (
    SELECT q.doc_id, d.lang, q.quality_score
    FROM q JOIN documents d USING (doc_id)
),
ranked AS (
    SELECT lang, quality_score,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality_score) AS rk,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM ql
),
p AS (
    SELECT lang,
           MAX(CASE WHEN rk = CAST(ceil(0.25 * n) AS BIGINT)
                    THEN quality_score END) AS p25
    FROM ranked GROUP BY lang
)
SELECT ql.doc_id, ql.lang, ql.quality_score, p.p25
FROM ql JOIN p USING (lang)
WHERE ql.quality_score >= p.p25
"""


@register("quality_gate_p25", _QUALITY_GATE_SQL)
def quality_gate_p25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-driven quality floor: drop each language's bottom quartile by
    # quality score. The threshold is an exact nearest-rank percentile PER
    # LANGUAGE (group_percentiles), so the window stays partitioned — no
    # single-partition global sort — and the tiny per-lang threshold table
    # broadcasts back onto the corpus.
    d = _t(spark, sf_dir, "documents")
    ql = (
        quality_features(d, "text", "doc_id")
        .join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "quality_score")
    )
    from .operators.stats import group_percentiles

    p = group_percentiles(ql, ["lang"], "quality_score", [0.25], out_names=["p25"])
    return (
        ql.join(F.broadcast(p), "lang")
        .filter(F.col("quality_score") >= F.col("p25"))
        .select("doc_id", "lang", "quality_score", "p25")
    )


_RETURNED_TOP_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
           AS revenue,
       CAST(ROUND(CAST(c.c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS c_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("returned_item_top_customers", _RETURNED_TOP_SQL)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q10 shape: returned-item revenue per customer over one quarter,
    # top 20. Nation broadcasts; the quarter filter prunes orders at the
    # scan; top-20 via TakeOrderedAndProject.
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select(
            "c_custkey", "c_name", "n_name", "revenue",
            F.round(F.col("c_acctbal").cast("decimal(18,2)"), 2).cast("double").alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


from .operators.sampling import hash_topk_sample  # noqa: E402

_TOPK_SAMPLE_SQL = """
SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8),
                        doc_id
           ) AS rk
    FROM documents
) t WHERE rk <= 15
"""


@register("per_lang_eval_sample", _TOPK_SAMPLE_SQL)
def per_lang_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exactly 15 docs per language by smallest identity hash: hard quotas
    # (eval-set construction) with the same engine-independent membership
    # contract as the rate-based samplers.
    return hash_topk_sample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", k=15
    ).select("doc_id", "lang")


_LARGE_ORDER_SQL = """
WITH big AS (
    SELECT l_orderkey, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 150
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS o_totalprice,
       CAST(b.sum_qty AS BIGINT) AS sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 50
"""


@register("large_order_customers", _LARGE_ORDER_SQL)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18 shape: HAVING threshold on the lineitem rollup drives the
    # join — the aggregate shrinks the fact before it ever touches orders,
    # and the surviving keys are few enough to broadcast.
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2).cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


_FORECAST_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue_delta,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("forecast_revenue_change", _FORECAST_SQL)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 shape: pure scan-side predicates (all four reach the parquet
    # scan as PushedFilters) + one DECIMAL aggregate — the query whole-stage
    # codegen should reduce to a single pipelined stage.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_discount").cast("decimal(18,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )


_ORDER_DIST_SQL = """
WITH per_cust AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
"""


@register("customer_order_distribution", _ORDER_DIST_SQL)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 shape: LEFT OUTER join keeps zero-order customers (COUNT of
    # the null-extended key is 0), then a second aggregation builds the
    # distribution. The first agg reuses the join's c_custkey partitioning.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_DISJUNCT_SQL = """
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 25)
   OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 35)
"""


@register("disjunctive_predicate_revenue", _DISJUNCT_SQL)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst extracts
    # the common single-side implications (brand IN-set to the part scan,
    # quantity range to the lineitem scan) so both scans pre-filter even
    # though the full disjunction can only resolve after the join.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 35))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.filter(cond).agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_DECON_CLEAN_SQL = f"""
WITH rep AS (
{_decontam_sql(5)}
),
sp2 AS (
    SELECT doc_id, lang, source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT s.doc_id, s.lang, s.source
FROM sp2 s
WHERE s.split = 'train'
  AND NOT EXISTS (
      SELECT 1 FROM rep WHERE rep.doc_id = s.doc_id AND rep.contaminated_frac > 0.0
  )
"""


@register("decontaminated_documents", _DECON_CLEAN_SQL)
def decontaminated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the actionable output of the leakage check: the training split with
    # every doc sharing ANY 5-gram with the eval split anti-joined away.
    d = deterministic_split(_t(spark, sf_dir, "documents"), "doc_id", train=0.8, val=0.1)
    train = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")
    from .operators.decontam import decontaminate

    return decontaminate(train, test, "text", "doc_id", n=5, max_frac=0.0).select(
        "doc_id", "lang", "source"
    )


# ===========================================================================
# Batch 17: remaining classic OLAP shapes — promo share (Q14), top supplier
# (Q15), nation-pair volume (Q7), idle-rich-customers (Q22)
# ===========================================================================

_PROMO_SQL = """
SELECT CAST(ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
            / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
            AS DOUBLE) AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""


@register("promo_revenue_share", _PROMO_SQL)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q14 shape: conditional aggregation — both sums ride one pass
    # over the joined month; part broadcasts.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.00).cast("decimal(18,2)"))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
        ).cast("double").alias("promo_revenue_pct"),
        F.count("*").alias("n_lines"),
    )


_TOP_SUPPLIER_SQL = """
WITH rev AS (
    SELECT l_suppkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
               AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@register("top_supplier_quarter", _TOP_SUPPLIER_SQL)
def top_supplier_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15 shape: the scalar MAX subquery becomes a one-row broadcast
    # aggregate equi-joined back onto the revenue table — ALL max-revenue
    # suppliers survive ties (equality keeps every matching row), exactly
    # like the SQL form, and with NO global sort anywhere: the r8 verdict
    # flagged the previous rank-over-aggregates window as an avoidable
    # single-reducer sort of the supplier table.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            ).cast("double").alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx")).drop("_mx")
    s = _t(spark, sf_dir, "supplier")
    return top.join(s, top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


_NATION_PAIR_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
           AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
"""


@register("nation_pair_volume", _NATION_PAIR_SQL)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q7 shape: bidirectional nation-pair condition across two dim
    # chains + per-year grouping on an extracted date part.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("volume"))
    )


_IDLE_RICH_SQL = """
WITH avg_bal AS (
    SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_custkey, c.c_mktsegment,
       CAST(ROUND(CAST(c.c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS c_acctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
"""


@register("idle_rich_customers", _IDLE_RICH_SQL)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q22 shape: scalar aggregate subquery (broadcast single row) +
    # NOT EXISTS as a LEFT ANTI join against recent orders (above-average
    # balance but inactive since 2001 — the churn-risk list).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_a"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal").cast("decimal(18,2)"), 2).cast("double").alias("c_acctbal"),
        )
    )


_INTERSECT_SQL = """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
"""


@register("parts_sold_both_years", _INTERSECT_SQL)
def parts_sold_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTERSECT (distinct semantics) — the set op the reference never had;
    # Spark plans it as an aggregate + LEFT SEMI join, so both branches
    # shrink to distinct keys before anything joins.
    li = _t(spark, sf_dir, "lineitem")
    y96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_partkey")
    y97 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_partkey")
    return y96.intersect(y97)


_ROWS_FRAME_SQL = """
SELECT user_id, event_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3,
       ROUND(first_value(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS first_val
FROM events
"""


@register("user_moving_avg_rows", _ROWS_FRAME_SQL)
def user_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ROWS-frame windows (count-based, vs the rolling operator's RANGE
    # frames): last-3-event moving average + running first_value, both on
    # one per-user ordering so they share a single Window exec. The 3-row
    # AVG divides a double sum by a tiny count — deterministic because the
    # frame is at most 3 values summed in frame order on both engines.
    e = _events(spark, sf_dir).withColumn("us", F.expr("ts DIV 1000"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 6).alias("moving_avg3"),
        F.round(F.first("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6).alias(
            "first_val"
        ),
    )


_EXCEPT_SQL = """
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
EXCEPT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
"""


@register("parts_discontinued_after_1996", _EXCEPT_SQL)
def parts_discontinued_after_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXCEPT (distinct set difference) completes the set-op family with
    # UNION (union_active_parts) and INTERSECT (parts_sold_both_years);
    # planned as aggregate + LEFT ANTI on the shrunken key sets.
    li = _t(spark, sf_dir, "lineitem")
    y96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_partkey")
    y97 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("l_partkey")
    return y96.subtract(y97)


_GSETS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS INTEGER) AS gid
FROM documents
GROUP BY GROUPING SETS ((lang), (source), ())
"""


@register("doc_counts_grouping_sets", _GSETS_SQL)
def doc_counts_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit GROUPING SETS (neither ROLLUP nor CUBE covers this set list):
    # per-lang totals, per-source totals, and the grand total in ONE Expand
    # + aggregate pass — three aggregations for one scan + one shuffle.
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents_gs")
    return spark.sql(
        """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(grouping(lang) * 2 + grouping(source) AS INT) AS gid
        FROM documents_gs
        GROUP BY lang, source GROUPING SETS ((lang), (source), ())
        """
    )


_MARKET_SHARE_SQL = """
WITH vol AS (
    SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
           sn.n_name AS supp_nation,
           SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY YEAR(o.o_orderdate), sn.n_name
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                           ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS market_share
FROM vol
GROUP BY o_year
"""


@register("nation_market_share", _MARKET_SHARE_SQL)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8 shape: two-level ratio aggregation — per-(year, supplier
    # nation) DECIMAL volumes, then one nation's share of the yearly total.
    # Both sums stay DECIMAL until the final double division.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"), "supp_nation")
        .agg(F.sum(rev).alias("volume"))
    )
    target = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
        F.lit(0.00).cast("decimal(18,2)")
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(target).cast("double") / F.sum("volume").cast("double"), 6
        ).alias("market_share")
    )


# ===========================================================================
# Batch 15 (round 2): the streaming pipelines' batch halves as driver
# queries — document_ingest_stream's incremental-LSH composition and
# training_sequence_stream's chunk-replace redelivery, expressed as pure
# batch plans so the streaming-shared logic sits under the value-hash check
# (VERDICT r1 #8). File I/O (checkpoint, mart paths) is the only part the
# driver can't see; the merges and joins here are the exact per-batch code.
# ===========================================================================

from .sources.sinks import replace_groups  # noqa: E402


@register("streaming_ingest_pairs_converged", _MINHASH_PAIRS_SQL)
def streaming_ingest_pairs_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document_ingest_stream's convergence contract: an initial corpus's
    candidate pairs UNION the delta×mart incremental pairs equals a full-
    corpus LSH recompute (the oracle IS the full-recompute SQL). Docs with
    doc_id % 3 == 0 play the delta batch. Band keys are per-doc independent,
    so filtering the shared signature mart is identical to hashing the two
    batches separately (update_signature_mart's contract)."""
    bk = _band_keys(spark, sf_dir)
    initial_bk = bk.filter(F.col("doc_id") % 3 != 0)
    delta_bk = bk.filter(F.col("doc_id") % 3 == 0)
    initial_pairs = minhash_candidate_pairs(initial_bk)
    incremental = incremental_candidate_pairs(bk, delta_bk)
    return initial_pairs.unionByName(incremental).distinct()


_CHUNK_REPLACE_SQL = """
WITH docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
                ELSE text END AS text
    FROM documents
),
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM docs2
    WHERE len(string_split(text, ' ')) > 0
),
starts AS (
    SELECT doc_id, t,
           unnest(generate_series(0, greatest(len(t) - 1, 0), 8)) AS chunk_start,
           generate_subscripts(generate_series(0, greatest(len(t) - 1, 0), 8), 1) - 1 AS chunk_index
    FROM toks
)
SELECT doc_id,
       CAST(chunk_index AS INTEGER) AS chunk_index,
       CAST(chunk_start AS INTEGER) AS chunk_start,
       CAST(len(list_slice(t, chunk_start + 1, chunk_start + 16)) AS INTEGER) AS chunk_tokens,
       array_to_string(list_slice(t, chunk_start + 1, chunk_start + 16), ' ') AS chunk_text
FROM starts
"""


@register("streaming_chunk_replace", _CHUNK_REPLACE_SQL)
def streaming_chunk_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """training_sequence_stream's redelivery contract: docs with
    doc_id % 7 == 0 are redelivered TRUNCATED to their first 10 tokens
    (fewer chunks than before), and replace_groups swaps each redelivered
    doc's whole chunk set. The oracle chunks the final corpus state
    directly — a hash match proves the replace left no stale tail chunks,
    the exact failure mode a (doc_id, chunk_index) upsert would have."""
    d = _t(spark, sf_dir, "documents")
    chunks1 = chunk_documents(d, "text", "doc_id", chunk_size=16, stride=8)
    redelivered = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    )
    chunks2 = chunk_documents(redelivered, "text", "doc_id", chunk_size=16, stride=8)
    return replace_groups(chunks1, chunks2, ["doc_id"])


# Weighted sampling without replacement (Efraimidis-Spirakis): selection
# probability proportional to n_chars. The oracle rebuilds the identical
# uniform draw by parsing the 8 hash hexits positionally (exact integer
# arithmetic) and replays the 9dp-rounded pow ranking.
_WEIGHTED_SAMPLE_SQL = """
WITH w AS (
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
    FROM documents WHERE n_chars > 0
),
u AS (
    SELECT doc_id, wt,
           (list_aggregate(list_transform(generate_series(1, 8),
                i -> (strpos('0123456789abcdef', substr(h, i, 1)) - 1)
                     * CAST(power(16, 8 - i) AS BIGINT)), 'sum') + 1.0)
           / (power(16, 8) + 1.0) AS u
    FROM w
)
SELECT doc_id, ROUND(power(u, 1.0 / wt), 9) AS sample_score
FROM u
ORDER BY sample_score DESC, doc_id
LIMIT 100
"""

from .operators.sampling import weighted_sample_topk  # noqa: E402


@register("weighted_doc_sample", _WEIGHTED_SAMPLE_SQL)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus selection: 100 docs sampled without
    replacement with probability proportional to n_chars (stand-in for any
    per-doc quality weight). Deterministic A-ES race keyed on the identity
    hash; global top-k plans as TakeOrderedAndProject."""
    return weighted_sample_topk(
        _t(spark, sf_dir, "documents"), "n_chars", "doc_id", k=100
    ).select("doc_id", "sample_score")


# Model-based scoring plumbing (classifier-filter pattern): the stub model
# is deterministic md5 arithmetic, so even the mapInPandas batch-inference
# path gets a value-hash oracle — the kernel swaps for a real classifier
# without touching the plumbing under test.
_MODEL_SCORE_SQL = """
WITH h AS (
    SELECT doc_id, substr(md5(COALESCE(text, '')), 1, 6) AS hx FROM documents
),
s AS (
    SELECT doc_id,
           list_aggregate(list_transform(generate_series(1, 6),
                i -> (strpos('0123456789abcdef', substr(hx, i, 1)) - 1)
                     * CAST(power(16, 6 - i) AS BIGINT)), 'sum') / power(16, 6) AS model_score
    FROM h
)
SELECT doc_id, model_score,
       CASE WHEN model_score >= 0.67 THEN 'high'
            WHEN model_score >= 0.33 THEN 'mid'
            ELSE 'low' END AS score_bucket
FROM s
"""

from .operators.scoring import score_documents  # noqa: E402


@register("model_scored_documents", _MODEL_SCORE_SQL)
def model_scored_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference over the corpus (Arrow mapInPandas; md5-stub
    kernel, exact dyadic scores — see operators/scoring.py). The oracle
    replays the stub arithmetic positionally, proving the Arrow batch path
    end-to-end at value level."""
    return score_documents(_t(spark, sf_dir, "documents"), "text", "doc_id")


# Exact-substring duplication (gram-diagonal run merge): the suffix-array
# dedup modality from Lee et al. 2022, as a shuffle-native plan. Oracle
# replays the identical construction.
_EXACT_SPAN_SQL = """
WITH g AS (
    SELECT doc_id, i AS pos, substr(text, i, 20) AS gram
    FROM documents, unnest(generate_series(1, greatest(length(text) - 19, 1))) AS u(i)
    WHERE length(text) >= 20
),
gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram),
fg AS (SELECT g.* FROM g JOIN gdf USING (gram) WHERE df BETWEEN 2 AND 100),
m AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
           a.pos - b.pos AS diag
    FROM fg a JOIN fg b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, diag, rg, COUNT(*) AS run_grams FROM (
        SELECT doc_a, doc_b, diag,
               pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS rg
        FROM m) t
    GROUP BY doc_a, doc_b, diag, rg
)
SELECT doc_a, doc_b,
       CAST(MAX(run_grams) + 19 AS BIGINT) AS longest_span,
       CAST(COUNT(*) AS BIGINT) AS n_runs
FROM runs GROUP BY doc_a, doc_b
HAVING MAX(run_grams) + 19 >= 40
"""

from .operators.dedupe import exact_span_pairs, keep_best_per_cluster  # noqa: E402


def _span_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared df-cut gram-match frame (doc_a, doc_b, pos_a, diag) at
    gram_len=20 / max_df=100 — the ONE corpus-scale shuffle behind both
    exact_span_pairs_docs and span_deduped_documents, persisted once per
    (session, sf_dir) like the minhash/simhash signature marts. At scale
    this is an ingest-time table keyed by corpus version: pair reporting
    and span removal are two cheap consumers of the same postings join."""
    from .operators.dedupe import _span_gram_matches

    return _side_table(
        spark,
        sf_dir,
        "span_gram_matches_g20_df100",
        lambda: _span_gram_matches(
            _t(spark, sf_dir, "documents"), "text", "doc_id",
            gram_len=20, max_df=100,
        )[1],
    )


@register("exact_span_pairs_docs", _EXACT_SPAN_SQL)
def exact_span_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of documents sharing an exact character run >= 40 chars, with
    the longest shared span — the exact-substring dedup signal (catches
    copy-paste duplication that token-set methods dilute). Reads the
    shared span_gram_matches mart; only the diagonal run merge runs here."""
    return exact_span_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        gram_len=20, min_span=40, max_df=100,
        matches=_span_matches(spark, sf_dir),
    )


# Exact-substring dedup with REMOVAL (r9) — the second half of Lee et al.
# 2022: cut every >=40-char duplicated run from the HIGHER-id document
# (lowest id keeps the canonical copy), interval-UNION per doc (touching
# intervals merge), text rebuilt from the kept segments. Pure
# higher-order-expression rebuild on the Spark side (no Python stage); the
# oracle replays the identical construction — gram stream, df cut,
# diagonal runs, island merge (break only when s > running MAX(e)),
# LAG-based segment rebuild — so clean_text must match CHARACTER FOR
# CHARACTER, not just in counts.
def _span_removal_sql(src: str = "documents") -> str:
    """Cross-doc span-removal oracle, parameterized by source relation so
    the composed full-rule row can replay it over an intermediate CTE."""
    return f"""
WITH g AS (
    SELECT doc_id, i AS pos, substr(text, i, 20) AS gram
    FROM {src}, unnest(generate_series(1, greatest(length(text) - 19, 1))) AS u(i)
    WHERE length(text) >= 20
),
gdf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram),
fg AS (SELECT g.* FROM g JOIN gdf USING (gram) WHERE df BETWEEN 2 AND 100),
m AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
           a.pos - b.pos AS diag
    FROM fg a JOIN fg b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, diag, rg, MIN(pos_a) AS start_a, COUNT(*) AS run_grams
    FROM (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS rg
        FROM m) t
    GROUP BY doc_a, doc_b, diag, rg
),
spans AS (
    SELECT DISTINCT doc_b AS doc, start_a - diag AS s,
           start_a - diag + run_grams + 19 AS e
    FROM runs WHERE run_grams + 19 >= 40
),
brk AS (
    SELECT doc, s, e,
           CASE WHEN s <= COALESCE(MAX(e) OVER (
                    PARTITION BY doc ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 0 ELSE 1 END AS is_new
    FROM spans
),
isl AS (SELECT doc, s, e, SUM(is_new) OVER (PARTITION BY doc ORDER BY s, e) AS grp FROM brk),
mi AS (SELECT doc, grp, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY doc, grp),
segs AS (
    SELECT doc, COALESCE(LAG(e) OVER (PARTITION BY doc ORDER BY s), 1) AS ks, s AS ke FROM mi
    UNION ALL
    SELECT doc, MAX(e) AS ks, NULL AS ke FROM mi GROUP BY doc
),
pieces AS (
    SELECT d.doc_id, sg.ks,
           CASE WHEN sg.ke IS NULL THEN substr(d.text, CAST(sg.ks AS INT))
                ELSE substr(d.text, CAST(sg.ks AS INT), CAST(sg.ke - sg.ks AS INT))
           END AS piece
    FROM segs sg JOIN {src} d ON d.doc_id = sg.doc
),
rebuilt AS (
    SELECT doc_id, string_agg(piece, '' ORDER BY ks) AS clean_text
    FROM pieces GROUP BY doc_id
),
stats AS (SELECT doc, COUNT(*) AS n_spans, SUM(e - s) AS chars FROM mi GROUP BY doc)
SELECT d.doc_id, COALESCE(r.clean_text, d.text) AS clean_text,
       CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans_removed,
       CAST(COALESCE(st.chars, 0) AS BIGINT) AS chars_removed
FROM {src} d
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
LEFT JOIN stats st ON st.doc = d.doc_id
"""


_SPAN_REMOVAL_SQL = _span_removal_sql()


@register("span_deduped_documents", _SPAN_REMOVAL_SQL)
def span_deduped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its >=40-char duplicated spans CUT (lowest-id
    occurrence kept canonical): operators/dedupe.remove_duplicate_spans —
    see the operator docstring for the keep rule and the HOF rebuild.
    Reads the shared span_gram_matches mart (one postings join for the
    whole span family)."""
    from .operators.dedupe import remove_duplicate_spans

    return remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        gram_len=20, min_span=40, max_df=100,
        matches=_span_matches(spark, sf_dir),
    )


# WITHIN-document span removal (r10) — the intra-document half of the full
# Lee et al. 2022 rule (the cross-doc row above deliberately scopes it
# out; together they recover the complete removal). First occurrence kept,
# every later same-doc occurrence of a >=16-char run cut; tandem repeats
# collapse to one period via the diag=period run. gram_len=8/min_span=16
# because the synthetic corpus repeats short word runs within docs (72
# spans across 60 docs at sf0.01) but never 40-char ones. The oracle
# replays the per-(doc,gram) occurrence cut (2..100 — the df cut's
# analogue), the self-join diagonals, island merge, and the LAG rebuild —
# clean_text compared character for character.
def _span_intra_removal_sql(src: str = "documents") -> str:
    """Intra-doc span-removal oracle, parameterized by source relation
    (same reason as :func:`_span_removal_sql`)."""
    return f"""
WITH g AS (
    SELECT doc_id, i AS pos, substr(text, i, 8) AS gram
    FROM {src}, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS u(i)
    WHERE length(text) >= 8
),
occ AS (
    SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY doc_id, gram
    HAVING COUNT(*) BETWEEN 2 AND 100
),
fg AS (SELECT g.* FROM g JOIN occ USING (doc_id, gram)),
m AS (
    SELECT DISTINCT a.doc_id AS doc, a.pos AS pos_a, b.pos - a.pos AS diag
    FROM fg a JOIN fg b ON a.doc_id = b.doc_id AND a.gram = b.gram AND a.pos < b.pos
),
runs AS (
    SELECT doc, diag, rg, MIN(pos_a) AS start_a, COUNT(*) AS run_grams
    FROM (
        SELECT doc, diag, pos_a,
               pos_a - ROW_NUMBER() OVER (PARTITION BY doc, diag ORDER BY pos_a) AS rg
        FROM m) t
    GROUP BY doc, diag, rg
),
spans AS (
    SELECT DISTINCT doc, start_a + diag AS s,
           start_a + diag + run_grams + 7 AS e
    FROM runs WHERE run_grams + 7 >= 16
),
brk AS (
    SELECT doc, s, e,
           CASE WHEN s <= COALESCE(MAX(e) OVER (
                    PARTITION BY doc ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 0 ELSE 1 END AS is_new
    FROM spans
),
isl AS (SELECT doc, s, e, SUM(is_new) OVER (PARTITION BY doc ORDER BY s, e) AS grp FROM brk),
mi AS (SELECT doc, grp, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY doc, grp),
segs AS (
    SELECT doc, COALESCE(LAG(e) OVER (PARTITION BY doc ORDER BY s), 1) AS ks, s AS ke FROM mi
    UNION ALL
    SELECT doc, MAX(e) AS ks, NULL AS ke FROM mi GROUP BY doc
),
pieces AS (
    SELECT d.doc_id, sg.ks,
           CASE WHEN sg.ke IS NULL THEN substr(d.text, CAST(sg.ks AS INT))
                ELSE substr(d.text, CAST(sg.ks AS INT), CAST(greatest(sg.ke - sg.ks, 0) AS INT))
           END AS piece
    FROM segs sg JOIN {src} d ON d.doc_id = sg.doc
),
rebuilt AS (
    SELECT doc_id, string_agg(piece, '' ORDER BY ks) AS clean_text
    FROM pieces GROUP BY doc_id
),
stats AS (SELECT doc, COUNT(*) AS n_spans, SUM(e - s) AS chars FROM mi GROUP BY doc)
SELECT d.doc_id, COALESCE(r.clean_text, d.text) AS clean_text,
       CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans_removed,
       CAST(COALESCE(st.chars, 0) AS BIGINT) AS chars_removed
FROM {src} d
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
LEFT JOIN stats st ON st.doc = d.doc_id
"""


_SPAN_INTRA_REMOVAL_SQL = _span_intra_removal_sql()


@register("span_intra_deduped_documents", _SPAN_INTRA_REMOVAL_SQL)
def span_intra_deduped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its WITHIN-doc >=16-char repeated spans cut
    (first occurrence kept): operators/dedupe.remove_intra_duplicate_spans
    — the intra-document complement of span_deduped_documents; the
    (doc, gram) co-partitioned self-join never crosses documents."""
    from .operators.dedupe import remove_intra_duplicate_spans

    return remove_intra_duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        gram_len=8, min_span=16, max_occ=100,
    )


# The FULL Lee et al. 2022 removal (r10): cross-document phase first (the
# keep rule needs the original texts to decide which doc owns the
# canonical copy), then the intra-document phase over the CLEANED texts —
# cutting a cross-doc copy can itself leave a doc whose remaining halves
# repeat, and intra-first would let a within-doc repeat survive inside a
# span the cross phase was about to cut. Counts/chars are summed across
# the phases. The oracle nests both parameterized CTE pipelines (DuckDB
# scopes the inner WITH per phase) and joins the two one-row-per-doc
# outputs — clean_text matched character for character through BOTH
# rebuilds.
_SPAN_FULL_REMOVAL_SQL = f"""
WITH cross_out AS (
{_span_removal_sql("documents")}
),
docs2 AS (SELECT doc_id, clean_text AS text FROM cross_out),
intra_out AS (
{_span_intra_removal_sql("docs2")}
)
SELECT i.doc_id, i.clean_text,
       CAST(c.n_spans_removed + i.n_spans_removed AS BIGINT) AS n_spans_removed,
       CAST(c.chars_removed + i.chars_removed AS BIGINT) AS chars_removed
FROM intra_out i JOIN cross_out c ON c.doc_id = i.doc_id
"""


@register("span_full_deduped_documents", _SPAN_FULL_REMOVAL_SQL)
def span_full_deduped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete Lee et al. 2022 exact-substring removal: cross-doc
    spans cut first (lowest id keeps the canonical copy, via the shared
    span_gram_matches mart), then within-doc repeats cut from the cleaned
    texts; per-doc span/char counts summed across the phases."""
    from .operators.dedupe import (
        remove_duplicate_spans,
        remove_intra_duplicate_spans,
    )

    crossed = remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        gram_len=20, min_span=40, max_df=100,
        matches=_span_matches(spark, sf_dir),
    ).localCheckpoint(eager=False)  # one doc-bounded frame, three consumers
    intra = remove_intra_duplicate_spans(
        crossed.select("doc_id", F.col("clean_text").alias("text")),
        "text", "doc_id", gram_len=8, min_span=16, max_occ=100,
    )
    cross_stats = crossed.select(
        "doc_id",
        F.col("n_spans_removed").alias("_cn"),
        F.col("chars_removed").alias("_cc"),
    )
    return intra.join(cross_stats, "doc_id").select(
        "doc_id",
        "clean_text",
        (F.col("_cn") + F.col("n_spans_removed")).cast("long").alias("n_spans_removed"),
        (F.col("_cc") + F.col("chars_removed")).cast("long").alias("chars_removed"),
    )


# ===========================================================================
# Batch 15 (r2 cont.): warehouse-history + event-hygiene surface — SCD2
# interval build, windowed event dedup (watermark-dedup batch analogue),
# weekly cohort retention. All single-shuffle window/agg plans.
# ===========================================================================

from .operators.scd import scd2_from_log  # noqa: E402
from .operators.sessions import cohort_retention, dedupe_bursts  # noqa: E402

_SCD2_SQL = """
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
f AS (
    SELECT *, CASE WHEN row_number() OVER w = 1
                     OR lag(event_type) OVER w IS DISTINCT FROM event_type
                   THEN 1 ELSE 0 END AS is_change
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
r AS (
    SELECT *, SUM(is_change) OVER (PARTITION BY user_id ORDER BY tus, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
    FROM f
),
r2 AS (
    SELECT *, first_value(event_id) OVER (PARTITION BY user_id, run_id
              ORDER BY tus, event_id) AS fe
    FROM r
),
runs AS (
    SELECT user_id, event_type AS attr_value, run_id,
           MIN(tus) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(fe) AS first_event
    FROM r2 GROUP BY 1, 2, 3
)
SELECT user_id, attr_value, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_events, first_event,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM runs WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, first_event)
"""


@register("scd2_event_type_history", _SCD2_SQL)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval history of each user's event_type runs: the
    valid_from/valid_to table a warehouse derives when the previous value
    matters, not just the reference's keep-latest upsert (SURVEY.md §2.1
    S9). One shuffle on user_id shared by every window pass — see
    operators/scd.py."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.expr("ts DIV 1000").alias("tus")
    )
    return scd2_from_log(
        e, ["user_id"], "event_type", "tus", tiebreak_cols=["event_id"]
    )


_DEBOUNCE_US = 6 * 3600 * 1_000_000  # 6h: rapid-fire repeats of one action

_DEBOUNCE_SQL = f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus, value FROM events),
f AS (
    SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                     OR tus - lag(tus) OVER w > {_DEBOUNCE_US} THEN 1 ELSE 0 END AS keep
    FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY tus, event_id)
)
SELECT event_id, user_id, event_type, tus, value FROM f WHERE keep = 1
"""


@register("debounced_events", _DEBOUNCE_SQL)
def debounced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event dedup: drop an event when the same (user, type) fired
    less than 6h earlier — the batch analogue of streaming
    dropDuplicatesWithinWatermark for double-fired telemetry (the
    reference's at-least-once queue redelivery, SURVEY.md §2.10 T5). Lag
    window + filter after one shuffle — see operators/sessions.py
    dedupe_bursts."""
    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000").alias("tus"), "value"
    )
    return dedupe_bursts(
        e, ["user_id", "event_type"], "tus", gap=_DEBOUNCE_US, tiebreak_cols=["event_id"]
    )


_COHORT_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
firsts AS (SELECT user_id, date_trunc('week', MIN(d)) AS cohort_week FROM e GROUP BY user_id),
act AS (SELECT DISTINCT user_id, date_trunc('week', d) AS active_week FROM e)
SELECT f.cohort_week,
       CAST((a.active_week - f.cohort_week) // 7 AS BIGINT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM act a JOIN firsts f USING (user_id)
GROUP BY 1, 2
"""


@register("cohort_retention_weekly", _COHORT_SQL)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over the event log (cohort = ISO
    week of first event). First-event agg + activity distinct shuffle on
    user_id, co-partitioned join, tiny final agg — see
    operators/sessions.py cohort_retention."""
    e = _events(spark, sf_dir).select("user_id", "event_date")
    return cohort_retention(e, "user_id", "event_date")


# Quality-aware canonical selection: min-id canonicalization keeps an
# arbitrary cluster member; curation keeps the BEST one. Composes the
# connected-components closure with the quality features — both stages'
# SQL reused verbatim as nested CTE bodies.
_KEEP_BEST_SQL = f"""
WITH comp AS (
{_COMPONENTS_SQL}
),
q AS (
{_QUALITY_SQL}
),
ranked AS (
    SELECT c.component_id, c.doc_id, q.quality_score,
           row_number() OVER (PARTITION BY c.component_id
                              ORDER BY q.quality_score DESC, c.doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
    FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT component_id, doc_id AS best_doc_id, quality_score,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@register("near_dup_keep_best", _KEEP_BEST_SQL)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection after near-dup clustering: from each
    connected component of verified pairs, keep the member with the highest
    quality score (ties -> lowest doc_id). Reuses the shared verified-pairs
    mart; one window shuffle on component_id — see
    operators/dedupe.py keep_best_per_cluster."""
    comp = _components(spark, sf_dir)
    q = quality_features(_t(spark, sf_dir, "documents"), "text", "doc_id")
    return keep_best_per_cluster(comp, q, score_col="quality_score")


# Inverted-index postings build — the index-construction job behind the
# retrieval scorers. Postings rendered as a sorted CSV string so the value
# bytes are engine-independent.
_INVERTED_INDEX_SQL = r"""
WITH toks AS (
    SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                  t -> t <> '')) AS term
        FROM documents) u
),
stats AS (
    SELECT term, COUNT(*) AS df,
           array_to_string((list_sort(list(doc_id)))[1:20], ',') AS postings
    FROM toks GROUP BY term
)
SELECT term, df, postings FROM stats WHERE df >= 2
"""

from .operators.retrieval import inverted_index  # noqa: E402


@register("inverted_index_postings", _INVERTED_INDEX_SQL)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (document frequency, capped sorted postings): map-side
    per-doc term dedup, then a single term-partitioned Exchange shared by
    the df window, the rank cap, and the postings aggregation — see
    operators/retrieval.py inverted_index."""
    return inverted_index(
        _t(spark, sf_dir, "documents"), "text", "doc_id", min_df=2, max_postings=20
    )


# C4-style boilerplate pruning: exact-repeated 8-token segments are dropped
# corpus-wide and the survivors reassembled in order. Exact duplicate docs
# lose ALL their segments; token-less docs drop out (both engines).
_BOILERPLATE_SQL = r"""
WITH base AS (
    SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS l
    FROM documents
),
segs AS (
    SELECT doc_id, i AS seg_idx,
           array_to_string(l[(i*8+1):(i*8+8)], ' ') AS seg
    FROM base, unnest(generate_series(0, CAST(ceil(len(l) / 8.0) AS BIGINT) - 1)) AS u(i)
),
keep AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) <= 1),
kept AS (SELECT s.doc_id, s.seg_idx, s.seg FROM segs s JOIN keep USING (seg)),
rebuilt AS (
    SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments FROM segs GROUP BY doc_id)
SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text, t.n_segments,
       CAST(t.n_segments - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""

from .operators.textstats import remove_boilerplate_segments  # noqa: E402


@register("boilerplate_pruned_documents", _BOILERPLATE_SQL)
def boilerplate_pruned_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-segment boilerplate removal (C4's line dedup with a
    token-window segmenter): three shuffles — segment-frequency count,
    keep-join, per-doc reassembly — see operators/textstats.py
    remove_boilerplate_segments."""
    return remove_boilerplate_segments(
        _t(spark, sf_dir, "documents"), "text", "doc_id", seg_tokens=8, max_docs=1
    )


# Year-over-year revenue reconciliation — the FULL OUTER join surface
# (parts sold in only one of the two years survive with a zero side).
# Deltas subtract in DECIMAL so cent-exact on both engines.
_YOY_SQL = """
WITH y95 AS (
    SELECT l_partkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev_1995
    FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1
),
y96 AS (
    SELECT l_partkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev_1996
    FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1
)
SELECT COALESCE(a.l_partkey, b.l_partkey) AS part_id,
       COALESCE(a.rev_1995, 0.0) AS rev_1995,
       COALESCE(b.rev_1996, 0.0) AS rev_1996,
       CAST(CAST(COALESCE(b.rev_1996, 0.0) AS DECIMAL(18,2))
            - CAST(COALESCE(a.rev_1995, 0.0) AS DECIMAL(18,2)) AS DOUBLE) AS delta
FROM y95 a FULL OUTER JOIN y96 b ON a.l_partkey = b.l_partkey
"""


@register("yoy_part_revenue", _YOY_SQL)
def yoy_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part 1995-vs-1996 revenue with FULL OUTER reconciliation: parts
    sold in only one year keep a zero other side. Both branches aggregate
    before the join (small sides), and the year filters sit at the scans;
    the co-partitioned full-outer join reuses the aggregation exchange."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731

    def year_rev(y, alias):
        # range predicates instead of year(): the comparison pushes down to
        # the parquet scan (row-group pruning), where a function-wrapped
        # column never does
        lo = F.lit(f"{y}-01-01 00:00:00").cast("timestamp_ntz")
        hi = F.lit(f"{y + 1}-01-01 00:00:00").cast("timestamp_ntz")
        return (
            li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
            .groupBy("l_partkey")
            .agg(F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias(alias))
        )

    a, b = year_rev(1995, "rev_1995"), year_rev(1996, "rev_1996")
    return (
        a.join(b, "l_partkey", "full")
        .select(
            F.col("l_partkey").alias("part_id"),
            F.coalesce("rev_1995", F.lit(0.0)).alias("rev_1995"),
            F.coalesce("rev_1996", F.lit(0.0)).alias("rev_1996"),
            (
                F.coalesce("rev_1996", F.lit(0.0)).cast("decimal(18,2)")
                - F.coalesce("rev_1995", F.lit(0.0)).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("delta"),
        )
    )


# Interpolated percentiles (percentile_cont semantics) — complements the
# nearest-rank family in operators/stats.py. Both engines interpolate
# linearly at (n-1)*p over the sorted values; 6dp rounding pins the float.
_PCTL_CONT_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.90), 6) AS p90
FROM lineitem GROUP BY l_returnflag
"""


@register("price_percentiles_cont", _PCTL_CONT_SQL)
def price_percentiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation percentiles per return flag (SQL
    percentile_cont). Spark's ``percentile`` is the exact sort-based
    aggregate (one shuffle, no sketch); the approximate path for the
    100 TB tier is sketch_profile_lineitem's t-digest."""
    from .operators.stats import group_percentiles_cont

    li = _t(spark, sf_dir, "lineitem")
    return group_percentiles_cont(
        li, ["l_returnflag"], "l_extendedprice", [0.25, 0.5, 0.75, 0.9],
        out_names=["p25", "p50", "p75", "p90"],
    )


# Collocation detection (word2vec-style phrase mining): adjacent token
# pairs scored by lift = P(ab) / (P(a)P(b)). Lift is pure arithmetic on
# counts (no transcendental), so it is bit-identical across engines where
# log-PMI could differ in the last ulp; the ranking is the same.
_COLLOCATION_SQL = r"""
WITH base AS (
    SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS l
    FROM documents
),
uni AS (
    SELECT unnest(l) AS w FROM base
),
ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM ucnt),
big AS (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM base, unnest(generate_series(1, len(l) - 1)) AS u(i)
    WHERE len(l) >= 2
),
bcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM big GROUP BY w1, w2),
btot AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS b FROM bcnt)
SELECT w1, w2, n_pair,
       ROUND((CAST(n_pair AS DOUBLE) * t.t * t.t) / (btot.b * a.c * z.c), 6) AS lift
FROM bcnt JOIN ucnt a ON a.w = w1 JOIN ucnt z ON z.w = w2, tot t, btot
WHERE n_pair >= 5
ORDER BY lift DESC, w1, w2
LIMIT 20
"""


@register("collocation_lift_top20", _COLLOCATION_SQL)
def collocation_lift_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-pair collocations by lift. Bigrams and unigrams are
    built map-side from one tokenization; the scalar totals broadcast into
    the scoring join; global top-20 plans as TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "").alias("l")
    )
    uni = base.select(F.explode("l").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = ucnt.agg(F.sum("c").cast("double").alias("t"))
    big = (
        base.filter(F.size("l") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1),"
                    " i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n_pair"))
    btot = bcnt.agg(F.sum("n_pair").cast("double").alias("b"))
    a = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    z = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bcnt.filter(F.col("n_pair") >= 5)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(z), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                (F.col("n_pair").cast("double") * F.col("t") * F.col("t"))
                / (F.col("b") * F.col("c1") * F.col("c2")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(20)
    )


# Johnson-Lindenstrauss random projection: 64-dim embeddings -> 6 pinned
# projection components (the PLANES matrix the hyperplane LSH signs).
# Map-side only; the oracle replays the identical literal matrix.
def _rand_proj_sql() -> str:
    comps = []
    for i, p in enumerate(PLANES):
        lits = ", ".join(repr(x) for x in p)
        comps.append(
            f"ROUND(list_aggregate(list_transform(list_zip(v, [{lits}]::DOUBLE[]),"
            f" x -> x[1] * x[2]), 'sum'), 6) AS p{i}"
        )
    cols = ",\n       ".join(comps)
    return f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
)
SELECT vec_id,
       {cols}
FROM base
"""


from .operators.similarity import random_projection  # noqa: E402


@register("embedding_random_projection", _rand_proj_sql())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection of every embedding onto the 6 pinned hyperplanes —
    single-scan map-side codegen, no shuffle; see
    operators/similarity.py random_projection."""
    return random_projection(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", PLANES
    )


# Data-quality constraint report (dbt-test / Deequ shape): declarative
# checks -> one violation count per rule, over the same scans the
# pipelines use.
_DQ_SQL = """
SELECT 'not_null:customer(c_custkey,c_nationkey)' AS rule,
       CAST(SUM(CASE WHEN c_custkey IS NULL OR c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
FROM customer
UNION ALL
SELECT 'unique:orders(o_orderkey)',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1) t
UNION ALL
SELECT 'accepted_values:lineitem.l_returnflag[A,N,R]',
       CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'referential:orders.o_custkey->customer.c_custkey',
       CAST(COUNT(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
UNION ALL
SELECT 'referential:lineitem.l_partkey->part.p_partkey',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
"""

from .operators.dq import (  # noqa: E402
    check_accepted_values,
    check_not_null,
    check_referential,
    check_unique,
    dq_report,
)


@register("dq_constraint_report", _DQ_SQL)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report: not-null, key-uniqueness,
    accepted-values and two referential-integrity checks, each a single
    aggregation (anti-joins broadcast their dim key side) — see
    operators/dq.py."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return dq_report([
        check_not_null(cust, ["c_custkey", "c_nationkey"], table="customer"),
        check_unique(orders, ["o_orderkey"], table="orders"),
        check_accepted_values(li, "l_returnflag", ["A", "N", "R"], table="lineitem"),
        check_referential(orders, cust, "o_custkey", "c_custkey",
                          child_table="orders", parent_table="customer"),
        check_referential(li, part, "l_partkey", "p_partkey",
                          child_table="lineitem", parent_table="part"),
    ])


# Incremental SimHash pairs: delta (doc_id % 10 == 0) × mart band join —
# the SimHash analog of minhash_incremental_pairs. Oracle rebands the
# signature CTE on both sides with the delta filter on one.
def _simhash_inc_sql() -> str:
    base = _simhash_sql().rstrip()
    return f"""
WITH sigs AS (
{base}
),
banded AS (
    SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS band_byte
    FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band) b
)
SELECT DISTINCT least(d.doc_id, m.doc_id) AS doc_a,
       greatest(d.doc_id, m.doc_id) AS doc_b,
       CAST(bit_count(xor(d.simhash, m.simhash)) AS INTEGER) AS hamming
FROM banded d JOIN banded m
  ON d.band = m.band AND d.band_byte = m.band_byte AND d.doc_id <> m.doc_id
WHERE d.doc_id % 10 = 0
  AND bit_count(xor(d.simhash, m.simhash)) <= 4
"""


from .operators.dedupe import incremental_simhash_pairs  # noqa: E402


@register("simhash_incremental_pairs", _simhash_inc_sql())
def simhash_incremental_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-pairs touching the delta batch (docs with
    id % 10 == 0 stand in for a daily ingest): delta × mart byte-band join,
    never mart × mart; composition invariant asserted in
    tests/test_incremental_minhash.py."""
    sigs = _simhash_sigs(spark, sf_dir)
    delta = sigs.filter(F.col("doc_id") % 10 == 0)
    out = incremental_simhash_pairs(sigs, delta, max_hamming=4)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


# Sessionized funnel: view -> click -> purchase must occur IN ORDER within
# a session (first occurrences non-decreasing). One sessionize shuffle; the
# funnel is a per-session expression + tiny count.
_FUNNEL_SQL = f"""
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
f AS (
    SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                     OR tus - lag(tus) OVER w > {_GAP_US} THEN 1 ELSE 0 END AS is_start
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
s AS (
    SELECT *, CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_index
    FROM f
),
per_sess AS (
    SELECT user_id, session_index,
           MIN(CASE WHEN event_type = 'view' THEN tus END) AS t0,
           MIN(CASE WHEN event_type = 'click' THEN tus END) AS t1,
           MIN(CASE WHEN event_type = 'purchase' THEN tus END) AS t2
    FROM s GROUP BY 1, 2
),
c AS (
    SELECT SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS n0,
           SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0 THEN 1 ELSE 0 END) AS n1,
           SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
                     AND t2 IS NOT NULL AND t2 >= t1 THEN 1 ELSE 0 END) AS n2
    FROM per_sess
)
SELECT 1 AS step_index, 'view' AS step, CAST(COALESCE(n0, 0) AS BIGINT) AS n_sessions FROM c
UNION ALL
SELECT 2, 'click', CAST(COALESCE(n1, 0) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'purchase', CAST(COALESCE(n2, 0) AS BIGINT) FROM c
"""

from .operators.sessions import funnel_counts  # noqa: E402


@register("session_funnel_counts", _FUNNEL_SQL)
def session_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel over gap sessions — see
    operators/sessions.py funnel_counts."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.expr("ts DIV 1000").alias("tus")
    )
    return funnel_counts(
        e, "user_id", "tus", "event_type", ["view", "click", "purchase"],
        gap=_GAP_US, tiebreak_cols=["event_id"],
    )


# Salted-hash pseudonymization: stable irreversible identities; both
# engines compute sha256 over identical bytes, so even the hashes match.
_PSEUDO_SQL = """
SELECT event_id,
       substr(sha256('pepper-2026' || CAST(user_id AS VARCHAR)), 1, 16) AS user_pseudo,
       event_type, value
FROM events
"""


@register("pseudonymized_events", _PSEUDO_SQL)
def pseudonymized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymized event log: user_id replaced by a salted sha256 prefix
    (stable joins under one salt, irreversible without it; NULL-safe).
    Map-only codegen — see operators/privacy.py pseudonymize."""
    from .operators.privacy import pseudonymize

    e = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    return pseudonymize(e, ["user_id"], salt="pepper-2026").withColumnRenamed(
        "user_id", "user_pseudo"
    )


# Schema-on-read JSON flattening: from_json with an explicit struct schema
# (the S8 JSON-source pattern applied to an embedded column), plus a
# defaulted daily aggregate over the extracted field.
_PROPS_FLAT_SQL = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       CAST(SUM(CAST(COALESCE(props->>'$.k', '0') AS BIGINT)) AS BIGINT) AS k_total,
       CAST(SUM(CASE WHEN props->>'$.k' IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM events
GROUP BY 1, 2
"""


@register("events_props_flat_daily", _PROPS_FLAT_SQL)
def events_props_flat_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON flattening (from_json with an explicit schema — never
    schema inference, which would add a pre-pass over 100 TB) feeding a
    defaulted daily aggregate. One groupBy; extraction is map-side
    codegen."""
    e = _events(spark, sf_dir)
    parsed = e.withColumn("p", F.from_json(F.col("props"), "k BIGINT"))
    return parsed.groupBy("event_date", "event_type").agg(
        F.sum(F.coalesce(F.col("p.k"), F.lit(0))).cast("long").alias("k_total"),
        F.sum(F.when(F.col("p.k").isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
    )


# The corpus driver's stage-5 curation (plans/corpus_pipeline.py) as an
# oracle-checked query: quality-aware representative per component + gates.
_CURATED_BEST_SQL = f"""
WITH best AS (
{_KEEP_BEST_SQL}
),
compq AS (
{_COMPONENTS_SQL}
),
q AS (
{_QUALITY_SQL}
)
SELECT q.doc_id, q.n_tokens, q.quality_score
FROM q
LEFT JOIN compq c ON c.doc_id = q.doc_id
LEFT JOIN best b ON b.component_id = c.component_id
WHERE (c.doc_id IS NULL OR q.doc_id = b.best_doc_id)
  AND q.n_tokens >= 30 AND q.alpha_ratio >= 0.8
"""


@register("curated_documents_best", _CURATED_BEST_SQL)
def curated_documents_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware curation (scripts/run_corpus.py stage 5): each
    near-dup component keeps its HIGHEST-quality member (not min-id), then
    the length/alpha gates apply. Shares the components and quality side
    tables with the rest of the family."""
    comp = _components(spark, sf_dir)
    q = quality_features(_t(spark, sf_dir, "documents"), "text", "doc_id")
    best = keep_best_per_cluster(comp, q, score_col="quality_score")
    return (
        q.join(comp.select("doc_id", "component_id"), "doc_id", "left")
        .join(best.select("component_id", "best_doc_id"), "component_id", "left")
        .filter(F.col("component_id").isNull() | (F.col("doc_id") == F.col("best_doc_id")))
        .filter((F.col("n_tokens") >= 30) & (F.col("alpha_ratio") >= 0.8))
        .select("doc_id", "n_tokens", "quality_score")
    )


# Rolling 7-day distinct active users per day. Rolling DISTINCT cannot use
# a window frame (sets do not merge by subtraction), so the shape is the
# day-spine range join: per-(user, day) activity deduped once, then each
# activity row feeds the <= 7 days it supports; countDistinct per day.
_WAU_SQL = """
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
days AS (SELECT DISTINCT d FROM act)
SELECT days.d AS event_date,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
FROM days JOIN act a ON a.d <= days.d AND a.d >= days.d - 6
GROUP BY 1
"""


@register("rolling_weekly_active_users", _WAU_SQL)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct actives: activity deduped to (user, day) in
    one shuffle, then a bounded fan-out join against the tiny broadcast
    day spine (each activity row expands to <= 7 day buckets) and a
    per-day distinct count. At 100 TB the fan-out is 7x the DEDUPED
    activity table, never 7x the event log."""
    e = _events(spark, sf_dir).select("user_id", F.col("event_date").alias("d")).distinct()
    days = e.select(F.col("d").alias("day")).distinct()
    return (
        e.join(
            F.broadcast(days),
            (F.col("d") <= F.col("day")) & (F.col("d") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy(F.col("day").alias("event_date"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


# ===========================================================================
# Batch 16: move pytest-only SURVEY rows under the oracle gate — F2 session
# timezone conversion, S12 keyed UPDATE merge, F4 locale numeric parse.
# ===========================================================================

# F2/T4: UTC event instants -> America/Sao_Paulo calendar dates. Both
# engines make the conversion explicit (naive-UTC -> instant -> SP wall
# clock), so the result is independent of either engine's session default.
_SP_TZ_SQL = """
SELECT CAST(timezone('America/Sao_Paulo', timezone('UTC', ts)) AS DATE) AS sp_date,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


@register("sp_timezone_daily_rollup", _SP_TZ_SQL)
def sp_timezone_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup on America/Sao_Paulo wall-clock dates (the reference's
    business timezone, SURVEY.md §2.8 F2 / §2.10 T4): a UTC event at 01:00
    lands on the PREVIOUS SP calendar day. The conversion is explicit in the
    column expression (``_tz_day``: from_utc_timestamp + epoch arithmetic),
    so the result is identical under ANY driver session timezone — this is a
    LAZY callable, collected after it returns, and must not depend on a
    session-tz pin the way r2's version did."""
    e = _events(spark, sf_dir)
    return (
        e.withColumn("sp_date", _tz_day(F.expr("ts DIV 1000")))
        .groupBy("sp_date")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


# S12: UPDATE part SET p_retailprice = new WHERE key matched — update-only
# merge; keys missing from the updates table keep their old value, and
# updates never insert.
_KEYED_UPDATE_SQL = """
WITH upd AS (
    SELECT p_partkey,
           CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS new_price
    FROM part WHERE p_size > 40
)
SELECT p.p_partkey, p.p_brand,
       COALESCE(u.new_price, p.p_retailprice) AS p_retailprice
FROM part p LEFT JOIN upd u ON u.p_partkey = p.p_partkey
"""


@register("keyed_update_retailprice", _KEYED_UPDATE_SQL)
def keyed_update_retailprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed UPDATE semantics (SURVEY.md §2.1 S12) as a value-checked
    query: large parts get a 10% repricing via sources.sinks.keyed_update —
    matched keys update, unmatched keep their value, nothing inserts."""
    from .sources.sinks import keyed_update

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    updates = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") > 40)
        .select(
            "p_partkey",
            F.round(
                F.col("p_retailprice").cast("decimal(18,2)") * F.lit("1.1").cast("decimal(3,2)"), 2
            )
            .cast("double")
            .alias("p_retailprice"),
        )
    )
    return keyed_update(part, updates, ["p_partkey"], ["p_retailprice"])


# F4: pt-BR decimal-comma parse, exercised as a round-trip: render each
# retail price as a grouped pt-BR string ('1.234,56'), then parse it back
# with the engine's locale parser. Both engines format with {:,.2f}
# grouping then swap separators, so the strings — and the parse — match.
_LOCALE_PARSE_SQL = """
WITH c AS (
    SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents
    FROM part
),
s AS (
    SELECT p_partkey,
           replace(format('{:,}', cents // 100), ',', '.')
             || ',' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS br_price
    FROM c
)
SELECT p_partkey, br_price,
       CAST(replace(replace(br_price, '.', ''), ',', '.') AS DOUBLE) AS parsed
FROM s
"""


@register("locale_parse_roundtrip", _LOCALE_PARSE_SQL)
def locale_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pt-BR numeric parse (SURVEY.md §2.8 F4, reference
    tarefa_sincronizar_catalogo_tiny.php:81) under the hash gate: format
    each price as a thousands-grouped decimal-comma string, then recover
    the double with functions.scalars.parse_locale_double (which strips
    thousands dots — the reference's str_replace truncates them)."""
    from .functions.scalars import parse_locale_double

    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    br = F.concat(
        F.translate(F.format_number((cents / 100).cast("long"), 0), ",", "."),
        F.lit(","),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    return p.select(
        "p_partkey",
        br.alias("br_price"),
        parse_locale_double(br).alias("parsed"),
    )


# S14: queue status transitions as a value-checked query. claim_batch's
# data_processamento timestamp is nondeterministic, so the check covers
# the deterministic columns (id-ordered claim set + transitioned status).
_QUEUE_CLAIM_SQL = """
WITH q AS (
    SELECT o_orderkey AS id,
           CASE o_orderstatus WHEN 'O' THEN 'pendente'
                              WHEN 'P' THEN 'processando'
                              ELSE 'concluido' END AS status
    FROM orders
),
c AS (SELECT id FROM q WHERE status = 'pendente' ORDER BY id LIMIT 100)
SELECT q.id, CASE WHEN c.id IS NOT NULL THEN 'processando' ELSE q.status END AS status
FROM q LEFT JOIN c ON q.id = c.id
"""


@register("queue_claim_transitions", _QUEUE_CLAIM_SQL)
def queue_claim_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue claim semantics (SURVEY.md §2.1 S14, reference
    worker batch claim UPDATE...LIMIT): the id-ordered first 100 pending
    rows transition to 'processando', everything else is untouched — via
    plans.queues.claim_batch, deterministic where MySQL relied on scan
    order."""
    from .plans.queues import claim_batch

    q = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_orderstatus") == "O", "pendente")
        .when(F.col("o_orderstatus") == "P", "processando")
        .otherwise("concluido")
        .alias("status"),
        F.lit(None).cast("timestamp").alias("data_processamento"),
    )
    _, after = claim_batch(q, batch_size=100)
    return after.select("id", "status")


# E2 + F12: null-preserving explode (explode_outer) and format_string.
# Rows whose filter empties the array survive with a NULL word.
_EXPLODE_OUTER_SQL = """
WITH base AS (
    SELECT p_partkey,
           list_filter(string_split(p_name, ' '), w -> length(w) >= 6) AS words
    FROM part
),
ex AS (
    SELECT p_partkey,
           unnest(CASE WHEN len(words) = 0 THEN [NULL] ELSE words END) AS word
    FROM base
)
SELECT p_partkey, word,
       printf('%s#%d', COALESCE(word, '-'), p_partkey) AS label
FROM ex
"""


@register("part_name_explode_outer", _EXPLODE_OUTER_SQL)
def part_name_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (SURVEY.md §2.9 E2 — the reference keeps
    variation-less listings as one row) + format_string labels (F12): parts
    whose name has no long word survive the explode with a NULL word."""
    p = _t(spark, sf_dir, "part")
    words = F.filter(F.split(F.col("p_name"), " "), lambda w: F.length(w) >= 6)
    return p.select(
        "p_partkey", F.explode_outer(words).alias("word")
    ).select(
        "p_partkey",
        "word",
        F.format_string("%s#%d", F.coalesce(F.col("word"), F.lit("-")), F.col("p_partkey")).alias("label"),
    )


# U2: bag union — UNION ALL keeps duplicates (orders matching both arms
# count twice), unlike U1's set-union key merge.
_BAG_UNION_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT o_orderpriority FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
) u GROUP BY 1
"""


@register("priority_bag_union_counts", _BAG_UNION_SQL)
def priority_bag_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union (SURVEY.md §2.7 U2): UNION ALL of two overlapping order
    slices — rows matching both predicates count twice, proving no
    implicit distinct."""
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 200000).select("o_orderpriority")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return big.unionAll(open_).groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n")
    )


# F11/UD3: nested struct-array extraction (the reference's Tiny depositos[]
# scan) under the oracle gate. Warehouse entries are synthesized from part
# columns so both engines build the identical nested value, then the HOF
# extraction pulls one warehouse's balance by name ('geral' exists on every
# row; 'reserva' only for large parts — absent matches fall back to 0).
_DEPOSITO_SQL = """
WITH d AS (
    SELECT p_partkey,
           CASE WHEN p_size > 25 THEN
             [{'deposito': {'nome': 'geral',
                            'saldo': CAST(p_size AS DOUBLE)}},
              {'deposito': {'nome': 'reserva',
                            'saldo': CAST(p_size AS DOUBLE) / 2}}]
           ELSE
             [{'deposito': {'nome': 'geral',
                            'saldo': CAST(p_size AS DOUBLE)}}]
           END AS depositos
    FROM part
)
SELECT p_partkey,
       COALESCE(list_filter(depositos, x -> x.deposito.nome = 'geral')[1].deposito.saldo, 0.0) AS saldo_geral,
       COALESCE(list_filter(depositos, x -> x.deposito.nome = 'reserva')[1].deposito.saldo, 0.0) AS saldo_reserva
FROM d
"""


@register("deposito_saldo_extract", _DEPOSITO_SQL)
def deposito_saldo_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-of-struct balance extraction (SURVEY.md §2.8 F11/UD3,
    reference worker_processar_estoque.php:71-80) as a value-checked
    query: higher-order filter over the nested depositos[] value, 0.0
    when the named warehouse is absent — pure codegen expressions, zero
    Python (see functions.scalars.extract_deposito_saldo)."""
    from .functions.scalars import extract_deposito_saldo

    p = _t(spark, sf_dir, "part")
    entry = lambda nome, saldo: F.struct(  # noqa: E731
        F.struct(F.lit(nome).alias("nome"), saldo.alias("saldo")).alias("deposito")
    )
    size = F.col("p_size").cast("double")
    deps = F.when(
        F.col("p_size") > 25,
        F.array(entry("geral", size), entry("reserva", size / 2)),
    ).otherwise(F.array(entry("geral", size)))
    d = p.select("p_partkey", deps.alias("depositos"))
    return d.select(
        "p_partkey",
        extract_deposito_saldo(F.col("depositos"), "geral").alias("saldo_geral"),
        extract_deposito_saldo(F.col("depositos"), "reserva").alias("saldo_reserva"),
    )


# T5 at-least-once dedup, EXECUTED: this query runs a real Structured
# Streaming job (file source -> dropDuplicatesWithinWatermark -> parquet
# sink, Trigger.AvailableNow) inside the catalog callable. The event log
# is split into two JSONL drop files with every third event REDELIVERED in
# both; the stream must emit each event exactly once, so the sink equals
# the plain event table — which is exactly what the oracle selects.
_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
       value FROM events WHERE event_id <= 20000
"""


@register("streaming_dedup_executed", _STREAM_DEDUP_SQL, kind="streaming")
def streaming_dedup_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once -> exactly-once via a REAL stream (SURVEY.md §2.10
    T1/T5): the reference's queue redelivery becomes
    dropDuplicatesWithinWatermark keyed on event_id, run under
    Trigger.AvailableNow over two drop files whose contents overlap. The
    result is localCheckpoint-materialized so the temp dirs can be removed
    before the driver collects."""
    from .streaming.runner import (
        dedup_stream,
        read_json_stream,
        run_parquet_append,
        stream_shuffle_partitions,
    )

    # deterministic cap: full coverage at the correctness SFs, bounded
    # driver-side JSONL staging at bench scale
    e = _events(spark, sf_dir).filter(F.col("event_id") <= 20000).select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000").alias("tus"), "value"
    )

    with _scratch_dir(prefix="stream_dedup_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        # evens -> file 1, odds -> file 2, every third -> BOTH
        schema = _stage_drops(drops, e, lambda r: (
            ("b1.json", "b2.json") if r.event_id % 3 == 0
            else "b1.json" if r.event_id % 2 == 0 else "b2.json"
        ))
        stream = (
            read_json_stream(spark, drops, schema, max_files_per_trigger=1)
            .withColumn("__et", F.expr("timestamp_micros(tus)"))
        )
        deduped = dedup_stream(stream, ["event_id"], "__et").drop("__et")
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_parquet_append(deduped, target, ckpt))
        return spark.read.parquet(target).localCheckpoint()


# T2/T3/T4 EXECUTED: watermarked daily rollup run as a real stream, with
# every fifth event arriving LATE (second trigger) inside the 3-day
# watermark. Update-mode re-emission + keyed upsert converge the mart to
# exactly the batch rollup — which is what the oracle computes.
_STREAM_ROLLUP_SQL = """
SELECT CAST(timezone('America/Sao_Paulo', timezone('UTC', ts)) AS DATE) AS event_date,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events WHERE event_id <= 20000
GROUP BY 1, 2
"""


@register("streaming_rollup_executed", _STREAM_ROLLUP_SQL, kind="streaming")
def streaming_rollup_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data convergence proven by EXECUTION (SURVEY.md §2.10 T2-T4):
    a real watermarked 1-day-tumbling stream over two triggers — the
    second delivers the late slice — MERGEd into a keyed mart that must
    equal the full batch rollup value-for-value.

    Session-independence: ``daily_rollup_stream`` buckets days in the
    SESSION timezone by contract (the engine semantic the reference's cron
    batches assume), so this callable pins the session tz to the business
    timezone for the duration of the run and restores it afterwards — the
    result is localCheckpoint-materialized before the pin is released, so
    the rows the driver collects cannot depend on its ambient tz. This was
    CORRECTNESS_r02's one red row: an unpinned UTC driver session produced
    150 UTC-day groups where the oracle pins 155 America/Sao_Paulo-day
    groups."""
    from .streaming.runner import (
        daily_rollup_stream,
        read_json_stream,
        run_upsert_stream,
        stream_shuffle_partitions,
    )

    e = _events(spark, sf_dir).filter(F.col("event_id") <= 20000).select(
        "event_id", "event_type", F.expr("ts DIV 1000").alias("tus"), "value"
    )

    with _scratch_dir(prefix="stream_rollup_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        schema = _stage_drops(drops, e, _late_every_fifth)
        # Pin the session tz BEFORE the plan is built: ResolveTimeZone bakes
        # the session zone into date_trunc at analysis time, so the pin must
        # cover DataFrame construction, not just stream execution. The
        # localCheckpoint materializes the result while still pinned.
        with _session_tz(spark):
            stream = (
                read_json_stream(spark, drops, schema, max_files_per_trigger=1)
                .withColumn("__et", F.expr("timestamp_micros(tus)"))
            )
            rolled = daily_rollup_stream(
                stream,
                ts_col="__et",
                key_cols=["event_type"],
                aggs=[
                    F.count("*").alias("n_events"),
                    F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                    .cast("double")
                    .alias("total_value"),
                ],
                watermark="3 days",
            )
            with stream_shuffle_partitions(spark, 2):
                _await_stream(run_upsert_stream(
                    rolled, target, ["event_date", "event_type"], ckpt
                ))
            return spark.read.parquet(target).localCheckpoint()


# ===========================================================================
# Batch 17 (r2 cont.): the remaining classic join-DAG shapes — TPC-H Q21
# (only-late supplier via double EXISTS), Q20 (nested half-quantity
# threshold), Q9 (multi-dim star profit), Q16 (distinct-count + NOT IN).
# Each is the decorrelated, one-pass rewrite: the EXISTS/NOT-EXISTS pairs
# become per-order counters on a single shuffled pass over the fact, never
# a second scan per subquery — the shape that survives a 100 TB lineitem.
# ===========================================================================

_WAITING_SUPP_SQL = """
WITH per AS (
    SELECT l.l_orderkey, l.l_suppkey,
           MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS is_late
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1, 2
),
w AS (
    SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
           SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
    FROM per
)
SELECT s.s_name, COUNT(*) AS numwait
FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE w.is_late = 1 AND w.n_supp >= 2 AND w.n_late = 1
GROUP BY s.s_name
"""


@register("waiting_suppliers", _WAITING_SUPP_SQL)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    finished multi-supplier order. The reference formulation is
    EXISTS(other supplier) AND NOT EXISTS(other late supplier); both
    decorrelate into per-order counters over ONE (orderkey, suppkey)
    aggregate — one fact shuffle + one window, instead of two extra
    correlated scans of lineitem. Supplier dim joins broadcast."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"), 1
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per.withColumn("n_supp", F.count("*").over(w)).withColumn(
        "n_late", F.sum("is_late").over(w)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.filter(
            (F.col("is_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(s), flagged.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


_DOMINANT_SUPP_SQL = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
),
w AS (
    SELECT *, SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty FROM ps
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS dominant_parts,
       CAST(SUM(supp_qty) AS DOUBLE) AS dominant_qty
FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE 2 * supp_qty > part_qty
GROUP BY 1, 2
"""


@register("dominant_part_suppliers", _DOMINANT_SUPP_SQL)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers shipping more than half a part's 1996
    volume. The correlated half-quantity subquery decorrelates into a
    window total over the SAME (part, supp) aggregate — the fact is read
    and shuffled exactly once; the half-open timestamp range pushes to the
    scan. Quantities stay DECIMAL end-to-end so the 2x-threshold compare
    and the window total are order-independent and engine-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("supp_qty")
    )
    w = ps.withColumn(
        "part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        w.filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .join(F.broadcast(s), w.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count("*").alias("dominant_parts"),
            F.sum("supp_qty").cast("double").alias("dominant_qty"),
        )
    )


_NATION_PROFIT_SQL = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                      - CAST(p.p_retailprice AS DECIMAL(12,2))
                          * CAST(l.l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
           AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
"""


@register("nation_yearly_profit", _NATION_PROFIT_SQL)
def nation_yearly_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (net revenue minus inventory cost proxy) per
    supplier nation per order year, across the full star — lineitem joined
    to part (name-token filter), supplier, nation, orders. part/supplier/
    nation broadcast after pruning; orders joins on the orderkey the fact
    is already flowing on. Every money term is an exact DECIMAL product
    (max 4dp), so the sum is order-independent; one final 2dp round."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_term = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.col("p_retailprice").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "decimal(12,2)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit_term), 2).cast("double").alias("profit"))
    )


_SUPP_CNT_SQL = """
SELECT p.p_brand, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#4' AND p.p_type NOT LIKE 'SMALL%'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


@register("supplier_cnt_by_part", _SUPP_CNT_SQL)
def supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per surviving (brand, size)
    after inequality/NOT-LIKE/IN-set part predicates and a NOT IN
    complaint-list exclusion. NOT IN becomes a broadcast LEFT ANTI join
    (the excluded-supplier list is tiny by construction); the part dim is
    pre-pruned by its predicates before broadcasting, so the fact-side
    work is one join + one distinct aggregate."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & ~F.col("p_type").like("SMALL%")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ===========================================================================
# Batch 18 (r2 cont.): corpus-curation additions — DSIR-style importance
# weights (hashed-n-gram likelihood ratio, Xie et al. 2023), Simpson
# character-diversity quality signal, winsorized robust statistics.
# ===========================================================================

_DSIR_SQL = """
WITH toks AS (
    SELECT doc_id, lang,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
    FROM documents
),
b AS (
    SELECT doc_id, lang,
           list_aggregate(list_transform(generate_series(1, 6),
                i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
                     * CAST(power(16, 6 - i) AS BIGINT)), 'sum') % 64 AS bucket
    FROM toks
),
counts AS (
    SELECT bucket, COUNT(*) AS raw_count,
           SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS target_count
    FROM b GROUP BY bucket
),
tot AS (SELECT SUM(raw_count) AS nr, SUM(target_count) AS nt FROM counts),
ratio AS (
    SELECT bucket,
           ROUND((CAST(target_count + 1 AS DOUBLE) * (CAST(nr AS DOUBLE) + 64.0))
               / (CAST(raw_count + 1 AS DOUBLE) * (CAST(nt AS DOUBLE) + 64.0)),
               8) AS bucket_ratio
    FROM counts, tot
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(bucket_ratio AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*),
             6) AS importance_weight
FROM b JOIN ratio USING (bucket)
GROUP BY b.doc_id
"""

from .operators.importance import dsir_importance_weights  # noqa: E402


@register("dsir_importance_weights", _DSIR_SQL)
def dsir_importance_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over the corpus with the English slice as
    the target distribution: hashed-unigram bucket likelihood ratios,
    broadcast onto the token stream, reduced per doc (see
    operators/importance.py for the scale + determinism contract). The
    weight column feeds weighted_doc_sample's A-ES top-k to complete the
    select-by-resampling loop."""
    return dsir_importance_weights(
        _t(spark, sf_dir, "documents"), "text", "doc_id", F.col("lang") == "en"
    )


_CHAR_DIVERSITY_SQL = """
WITH chars AS (
    SELECT doc_id,
           substr(lower(text), i, 1) AS gram
    FROM documents,
         LATERAL unnest(generate_series(1, greatest(length(text), 1))) AS t(i)
),
per AS (
    SELECT doc_id, gram, COUNT(*) AS n FROM chars GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_chars_total,
       CAST(COUNT(*) AS BIGINT) AS distinct_chars,
       ROUND(1.0 - CAST(SUM(n * n) AS DOUBLE) / CAST(SUM(n) * SUM(n) AS DOUBLE),
             6) AS simpson_diversity
FROM per
GROUP BY doc_id
"""

from .operators.textstats import char_diversity  # noqa: E402


@register("doc_char_diversity", _CHAR_DIVERSITY_SQL)
def doc_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity (Simpson index) quality signal — the
    low-diversity tail is padding/separator junk that length ratios miss.
    Integer arithmetic until one final division, so engine-exact without
    the log() entropy form (operators/textstats.char_diversity)."""
    return char_diversity(_t(spark, sf_dir, "documents"), "text", "doc_id")


_WINSORIZED_SQL = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
thresholds AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rk = CAST(ceil(0.05 * n) AS BIGINT) THEN l_extendedprice END) AS p_lo,
           MAX(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT) THEN l_extendedprice END) AS p_hi
    FROM ranked GROUP BY l_returnflag
),
clipped AS (
    SELECT l.l_returnflag, t.p_lo, t.p_hi,
           CAST(least(greatest(l.l_extendedprice, t.p_lo), t.p_hi) AS DECIMAL(18,2)) AS w
    FROM lineitem l JOIN thresholds t USING (l_returnflag)
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(p_lo) AS p_lo,
       MAX(p_hi) AS p_hi,
       CAST(ROUND(SUM(w), 2) AS DOUBLE) AS winsorized_sum,
       ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS winsorized_mean
FROM clipped
GROUP BY l_returnflag
"""


@register("winsorized_price_stats", _WINSORIZED_SQL)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust revenue statistics: extended price winsorized at the
    per-returnflag nearest-rank [p05, p95], then DECIMAL-summed. The
    one-row-per-group threshold table broadcasts back onto the fact — two
    passes, no quadratic step (operators/stats.winsorized_stats)."""
    from .operators.stats import winsorized_stats

    return winsorized_stats(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice"
    )


# ===========================================================================
# Batch 19 (r2 cont.): product quantization — the memory layer of IVF-PQ.
# Two 32-dim subspaces, one pinned Lloyd's codebook each (the oracle
# replays both trainings via the namespaced CTE generator), ADC top-3.
# ===========================================================================

_PQ_M, _PQ_K, _PQ_TOPK = 2, 8, 3

_PQ_SQL = (
    _kmeans_ctes(_PQ_K, _KMEANS_ITERS, vec_sql="list_slice(embedding, 1, 32)", pfx="s0_")
    + ",\n"
    + _kmeans_ctes(
        _PQ_K, _KMEANS_ITERS, vec_sql="list_slice(embedding, 33, 64)", pfx="s1_"
    )[len("WITH ") :]
    + f""",
codes AS (
    SELECT _vid, 0 AS sub, cid AS code FROM s0_a{_KMEANS_ITERS}
    UNION ALL
    SELECT _vid, 1 AS sub, cid AS code FROM s1_a{_KMEANS_ITERS}
),
books AS (
    SELECT 0 AS sub, cid, cvec FROM s0_c{_KMEANS_ITERS - 1}
    UNION ALL
    SELECT 1 AS sub, cid, cvec FROM s1_c{_KMEANS_ITERS - 1}
),
qsubs AS (
    SELECT _vid AS query_id, 0 AS sub, vec AS qv FROM s0_vv WHERE _vid < 10
    UNION ALL
    SELECT _vid AS query_id, 1 AS sub, vec AS qv FROM s1_vv WHERE _vid < 10
),
dtable AS (
    SELECT q.query_id, b.sub, b.cid AS code,
           ROUND(list_aggregate(list_transform(list_zip(q.qv, b.cvec),
                                               p -> (p[1] - p[2]) * (p[1] - p[2])),
                                'sum'), 6) AS sub_dist
    FROM qsubs q JOIN books b ON b.sub = q.sub
),
scored AS (
    SELECT d.query_id, c._vid AS cand_id, ROUND(SUM(sub_dist), 6) AS adc_dist
    FROM codes c JOIN dtable d ON d.sub = c.sub AND d.code = c.code
    WHERE c._vid <> d.query_id
    GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_dist, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS rnk
    FROM scored
) WHERE rnk <= {_PQ_TOPK}
"""
)

from .operators.pq import pq_adc_topk, pq_codebooks, pq_encode  # noqa: E402


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "pq_codebooks_m2k8i2",
        lambda: pq_codebooks(
            _t(spark, sf_dir, "embeddings"), "embedding", "vec_id",
            m=_PQ_M, k=_PQ_K, iters=_KMEANS_ITERS, dim=64,
        ),
    )


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_table(
        spark,
        sf_dir,
        "pq_codes_m2k8i2",
        lambda: pq_encode(
            _t(spark, sf_dir, "embeddings"),
            _pq_codebooks(spark, sf_dir),
            "embedding",
            "vec_id",
            m=_PQ_M,
            dim=64,
        ),
    )


@register("pq_adc_top3", _PQ_SQL)
def pq_adc_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou et al. 2011): per-subspace pinned
    Lloyd's codebooks + 2-byte codes mart + ADC top-3 for the same query
    set as the IVF/KNN family. The float corpus never enters the search
    plan — only the codes mart and a broadcast distance table (see
    operators/pq.py for the 100 TB contract). Codebooks + codes are
    session side tables, the persisted-mart pattern."""
    return pq_adc_topk(
        _pq_codes(spark, sf_dir),
        _pq_codebooks(spark, sf_dir),
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10),
        "embedding",
        "vec_id",
        m=_PQ_M,
        k=_PQ_TOPK,
        dim=64,
    )


# IVFADC (NEW r7): the canonical billion-scale ANN layout (Jégou et al.
# 2011) — coarse-probe the SUBLINEAR spilled inverted lists for candidate
# ids, then rank candidates by PQ asymmetric distance over the 2-byte
# codes mart. The float corpus appears in NEITHER search stage; cost ∝
# probed candidates × m. The oracle composes the two already-verified
# trainings (sublinear quantizer pfx "s"; per-subspace PQ codebooks pfx
# "s0_"/"s1_") and replays probe → candidate → ADC → rank exactly.
_IVFADC_SQL = (
    _kmeans_ctes(_IVF_SUB_K_SQL, _KMEANS_ITERS, pfx="s")
    + ",\n"
    + _kmeans_ctes(_PQ_K, _KMEANS_ITERS, vec_sql="list_slice(embedding, 1, 32)", pfx="s0_")[len("WITH ") :]
    + ",\n"
    + _kmeans_ctes(_PQ_K, _KMEANS_ITERS, vec_sql="list_slice(embedding, 33, 64)", pfx="s1_")[len("WITH ") :]
    + ",\n"
    + _IVF_SUB_SEARCH_CTES
    + f""",
scand AS (
    SELECT DISTINCT p.query_id, c.cand_id
    FROM sprobe p JOIN slists c ON c.cid = p.cid AND c.cand_id <> p.query_id
),
codes AS (
    SELECT _vid, 0 AS sub, cid AS code FROM s0_a{_KMEANS_ITERS}
    UNION ALL
    SELECT _vid, 1 AS sub, cid AS code FROM s1_a{_KMEANS_ITERS}
),
books AS (
    SELECT 0 AS sub, cid, cvec FROM s0_c{_KMEANS_ITERS - 1}
    UNION ALL
    SELECT 1 AS sub, cid, cvec FROM s1_c{_KMEANS_ITERS - 1}
),
qsubs AS (
    SELECT _vid AS query_id, 0 AS sub, vec AS qv FROM s0_vv WHERE _vid < 10
    UNION ALL
    SELECT _vid AS query_id, 1 AS sub, vec AS qv FROM s1_vv WHERE _vid < 10
),
dtable AS (
    SELECT q.query_id, b.sub, b.cid AS code,
           ROUND(list_aggregate(list_transform(list_zip(q.qv, b.cvec),
                                               p -> (p[1] - p[2]) * (p[1] - p[2])),
                                'sum'), 6) AS sub_dist
    FROM qsubs q JOIN books b ON b.sub = q.sub
),
adc AS (
    SELECT s.query_id, s.cand_id, ROUND(SUM(d.sub_dist), 6) AS adc_dist
    FROM scand s
    JOIN codes c ON c._vid = s.cand_id
    JOIN dtable d ON d.query_id = s.query_id AND d.sub = c.sub AND d.code = c.code
    GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_dist, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS rnk
    FROM adc
) WHERE rnk <= {_PQ_TOPK}
"""
)


@register("ivfadc_top3", _IVFADC_SQL)
def ivfadc_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC: sublinear coarse probe (spilled √n-quantizer lists) +
    PQ asymmetric-distance ranking over the codes mart — all four marts
    (search lists, search centroids, PQ codes, PQ codebooks) are the
    persisted session side tables the other rows already verify."""
    from .operators.clustering import adaptive_k  # noqa: F401 (doc parity)
    from .operators.ivf import ivfadc_topk, sublinear_k, sublinear_nprobe

    emb = _t(spark, sf_dir, "embeddings")
    return ivfadc_topk(
        _ivf_search_lists(spark, sf_dir),
        _ivf_search_centroids(spark, sf_dir),
        _pq_codes(spark, sf_dir),
        _pq_codebooks(spark, sf_dir),
        emb.filter(F.col("vec_id") < 10),
        m=_PQ_M,
        nprobe=sublinear_nprobe(sublinear_k(_counted(spark, sf_dir, "embeddings", emb))),
        k=_PQ_TOPK,
        dim=64,
    )


# IVFADC+R (Jégou et al. 2011 §V): exact re-rank of the ADC top-REFINE
# shortlist against the stored list vectors — the production configuration
# of the compressed path. Measured on this corpus (random structureless
# embeddings — PQ's worst case, it exploits low-dim cluster structure real
# embeddings have): ADC-only avg recall@3 ≈ 0.1-0.3; refine=32 lifts it to
# ≈ 0.73-0.83 at 32 point-lookups/query, and refine = all-probed equals
# the uncompressed sublinear row's 1.0 — the knob trades lookups for
# recall smoothly and BOTH ends are verified rows.
_IVFADC_REFINE = 32

_IVFADC_REFINED_SQL = (
    _IVFADC_SQL.rsplit("SELECT query_id, cand_id, adc_dist", 1)[0]
    + f""",
shortlist AS (
    SELECT query_id, cand_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, cand_id) AS srn
        FROM adc
    ) WHERE srn <= {_IVFADC_REFINE}
),
exactd AS (
    SELECT s.query_id, s.cand_id,
           {_IVF_SUB_D2.format(a="q.qvec", b="v.vec")} AS d2
    FROM shortlist s
    JOIN sqv q ON q.query_id = s.query_id
    JOIN svv v ON v._vid = s.cand_id
)
SELECT query_id, cand_id, d2, CAST(rnk AS INTEGER) AS rnk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, cand_id) AS rnk
    FROM exactd
) WHERE rnk <= {_PQ_TOPK}
"""
)


@register("ivfadc_refined_top3", _IVFADC_REFINED_SQL)
def ivfadc_refined_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R: the compressed probe/rank chain of ivfadc_top3 plus an
    exact squared-L2 re-rank of the ADC top-32 shortlist (32 point
    lookups per query into the list vectors). The oracle replays the
    shortlist cut and the exact re-rank on top of the composed trainings."""
    from .operators.ivf import ivfadc_topk, sublinear_k, sublinear_nprobe

    emb = _t(spark, sf_dir, "embeddings")
    return ivfadc_topk(
        _ivf_search_lists(spark, sf_dir),
        _ivf_search_centroids(spark, sf_dir),
        _pq_codes(spark, sf_dir),
        _pq_codebooks(spark, sf_dir),
        emb.filter(F.col("vec_id") < 10),
        m=_PQ_M,
        nprobe=sublinear_nprobe(sublinear_k(_counted(spark, sf_dir, "embeddings", emb))),
        k=_PQ_TOPK,
        refine=_IVFADC_REFINE,
        dim=64,
    )


# Recall audit for the COMPRESSED path: IVFADC is doubly approximate
# (probe truncation + PQ quantization), so unlike the uncompressed
# sublinear row its recall is an empirical number to MONITOR, not a 1.0 to
# assert. The row records per-query recall@3 of the REFINED (production)
# config vs exact cosine — the number an index owner alerts on after a
# codebook or quantizer rebuild; the driver hash proves both engines
# measure the identical value.
_IVFADC_RECALL_SQL = f"""
WITH exact_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_KNN_SQL}
    ) e_sub
),
ann_k AS MATERIALIZED (
    SELECT query_id, cand_id FROM (
{_IVFADC_REFINED_SQL}
    ) a_sub
)
SELECT e.query_id,
       CAST(count(a.cand_id) AS BIGINT) AS n_hits,
       ROUND(CAST(count(a.cand_id) AS DOUBLE) / 3.0, 6) AS recall_at3
FROM exact_k e
LEFT JOIN ann_k a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
"""


# Delta ingest into the SEARCH index (NEW r7): the O(delta) pattern the
# incremental MinHash/SimHash marts already prove, applied to the ANN
# tier — train the sublinear quantizer on the BASE slice (vec_id%10 < 8)
# once, then spill-assign NEW vectors (the %10 >= 8 delta) into the
# existing lists with the same pinned argmin: broadcast centroids + one
# window over the delta only, never a retrain or corpus rescan. A vector
# lands in identical lists whether it arrived in the training batch or a
# later delta (training's pinned argmin, extended to spilled lists).
_IVF_DELTA_WHERE = "WHERE vec_id % 10 < 8"
_IVF_DELTA_K_SQL = (
    f"SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings {_IVF_DELTA_WHERE}"
)

_IVF_DELTA_SQL = f"""
{_kmeans_ctes(_IVF_DELTA_K_SQL, _KMEANS_ITERS, pfx="b", where_sql=_IVF_DELTA_WHERE)},
dvv AS (
    SELECT vec_id AS _vid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings WHERE vec_id % 10 >= 8
),
ddist AS (
    SELECT dvv._vid, c.cid,
           ROUND(list_aggregate(list_transform(list_zip(dvv.vec, c.cvec),
                                               p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6) AS d2
    FROM dvv, bc{_KMEANS_ITERS - 1} c
)
SELECT _vid AS vec_id, CAST(cid AS INTEGER) AS cluster_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY _vid ORDER BY d2, cid) AS rn FROM ddist
) WHERE rn <= {_IVF_SUB_SPILL}
"""


def _ivf_delta_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import centroids_table as _ct
    from .operators.ivf import sublinear_k

    def build() -> DataFrame:
        base = _emb_dvec(spark, sf_dir).filter(F.col("_vid") % 10 < 8)
        return _ct(base, "_v", "_vid", k=sublinear_k(base.count()), iters=_KMEANS_ITERS)

    return _side_table(spark, sf_dir, f"ivf_delta_centroids_sqrt_i{_KMEANS_ITERS}", build)


@register("ivf_delta_list_ingest", _IVF_DELTA_SQL)
def ivf_delta_list_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ivf import spilled_assignment

    delta = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 >= 8)
    sp = spilled_assignment(
        delta, _ivf_delta_centroids(spark, sf_dir), spill=_IVF_SUB_SPILL
    )
    return sp.select(
        F.col("_vid").alias("vec_id"), F.col("cid").cast("int").alias("cluster_id")
    )


# The same delta ingest EXECUTED as a real stream (T1/T5 applied to the
# ANN tier): new embeddings arrive as two JSONL drop files (two real
# AvailableNow triggers), each micro-batch spill-assigns its vectors
# against the PERSISTED base-trained centroid mart inside foreachBatch
# and appends to the list mart — O(batch) work per trigger, no retrain,
# no corpus rescan. The streamed mart must equal the batch delta
# assignment bit-for-bit, so the oracle is _IVF_DELTA_SQL verbatim.
@register("streaming_ann_ingest_executed", _IVF_DELTA_SQL, kind="streaming")
def streaming_ann_ingest_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ivf import spilled_assignment
    from .streaming.runner import read_json_stream, run_batches, stream_shuffle_partitions

    cents = _ivf_delta_centroids(spark, sf_dir)
    delta = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 10 >= 8)
        .select("vec_id", _dvec(F.col("embedding")).alias("embedding"))
    )

    with _scratch_dir(prefix="stream_ann_ingest_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        # bounded staging: the DELTA slice only; each vector arrives exactly
        # once, in one of two REAL triggers
        schema = _stage_drops(drops, delta, _by_parity)

        def ingest(bdf, _batch_id: int) -> None:
            sp = spilled_assignment(bdf, cents, spill=_IVF_SUB_SPILL)
            sp.select(
                F.col("_vid").alias("vec_id"),
                F.col("cid").cast("int").alias("cluster_id"),
            ).write.mode("append").parquet(target)

        stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_batches(stream, ckpt, ingest))
        return spark.read.parquet(target).localCheckpoint()


@register("ivfadc_recall_at3", _IVFADC_RECALL_SQL)
def ivfadc_recall_at3(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = knn_cosine_top3(spark, sf_dir).select("query_id", "cand_id")
    ann = (
        ivfadc_refined_top3(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(ann, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("_n"))
        .select(
            "query_id",
            F.col("_n").cast("long").alias("n_hits"),
            F.round(F.col("_n").cast("double") / F.lit(3.0), 6).alias("recall_at3"),
        )
    )


# ===========================================================================
# Batch 20 (r2 cont.): PageRank centrality over the verified near-dup
# graph — 3 damped power-iteration rounds, unrolled in the oracle.
# ===========================================================================

def _pagerank_rounds_sql(iters: int) -> str:
    # fixed-point integer rounds (see operators/graph.py): 0.15 = 3/20,
    # 0.85 = 17/20, all floor division — no float rounding anywhere
    rounds = []
    for it in range(1, iters + 1):
        prev = f"r{it - 1}"
        rounds.append(
            f"r{it} AS (SELECT e.dst AS node,"
            f" (3000000000 // (20 * (SELECT n FROM nn)))"
            f" + (17 * SUM(r.r // d.deg)) // 20 AS r"
            f" FROM edges e JOIN {prev} r ON r.node = e.src"
            f" JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
    return ",\n".join(rounds)


_PAGERANK_ITERS = 3

_PAGERANK_SQL = f"""
WITH vpairs AS (
    SELECT doc_a, doc_b FROM (
{_VERIFIED_PAIRS_SQL}
    ) vsub
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM vpairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src AS node, 1000000000 // (SELECT n FROM nn) AS r FROM deg),
{_pagerank_rounds_sql(_PAGERANK_ITERS)}
SELECT node AS doc_id, CAST(r AS BIGINT) AS pagerank_e9 FROM r{_PAGERANK_ITERS}
"""

from .operators.graph import pagerank_undirected  # noqa: E402


@register("near_dup_pagerank", _PAGERANK_SQL)
def near_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based canonical selection signal: PageRank over the
    verified near-dup pair graph (3 damped rounds; see operators/graph.py
    for the per-round one-join-one-groupBy shape and the FIXED-POINT
    integer arithmetic the oracle unrolls — float ranks hit 9dp rounding
    ties between engines, integer 1e-9 units cannot). Reads the shared
    verified-pairs side table like the components family."""
    return pagerank_undirected(
        _verified_pairs(spark, sf_dir), "doc_a", "doc_b",
        iters=_PAGERANK_ITERS, id_out="doc_id",
    )


# DSIR capstone: the full select-by-resampling loop — importance weights
# feed the A-ES weighted sampler, so the selected corpus is distributed
# like the target (Xie et al. 2023's estimator end to end).
_DSIR_SELECT_SQL = f"""
WITH dsirw AS (
    SELECT * FROM (
{_DSIR_SQL}
    ) dsub
),
hashed AS (
    SELECT doc_id, importance_weight,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
    FROM dsirw
),
u AS (
    SELECT doc_id, importance_weight,
           (list_aggregate(list_transform(generate_series(1, 8),
                i -> (strpos('0123456789abcdef', substr(h, i, 1)) - 1)
                     * CAST(power(16, 8 - i) AS BIGINT)), 'sum') + 1.0)
           / (power(16, 8) + 1.0) AS u
    FROM hashed
)
SELECT doc_id, importance_weight,
       ROUND(power(u, 1.0 / importance_weight), 9) AS sample_score
FROM u
ORDER BY sample_score DESC, doc_id
LIMIT 60
"""


@register("dsir_selected_corpus", _DSIR_SELECT_SQL)
def dsir_selected_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end to end: hashed-n-gram importance weights (target = the
    English slice) drive Efraimidis-Spirakis weighted sampling without
    replacement — selection probability proportional to the target/raw
    likelihood ratio, the paper's resampling estimator as one composed
    plan (map-only scoring over the weight table, TakeOrderedAndProject
    global top-k)."""
    w = dsir_importance_weights(
        _t(spark, sf_dir, "documents"), "text", "doc_id", F.col("lang") == "en"
    )
    return weighted_sample_topk(w, "importance_weight", "doc_id", k=60).select(
        "doc_id", "importance_weight", "sample_score"
    )


# ===========================================================================
# Batch 21 (r2 cont.): distributed BPE vocabulary training — the merge
# loop over the vocab-sized word-frequency table, unrolled in the oracle.
# ===========================================================================

def _bpe_ctes(rounds: int) -> str:
    """Unrolled BPE training rounds mirroring ``operators.bpe`` step for
    step: same ``|sym `` marker encoding, same non-overlapping replace
    merge, same (count desc, left, right) argmax."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    # b{r} scalar subqueries nested inside later rounds' replace() would
    # otherwise re-evaluate the whole training tree exponentially (the
    # apply oracle went from minutes to <1s with materialization)
    parts = [
        # mirrors bpe.word_frequencies exactly, INCLUDING the reserved-
        # character exclusion ('|' and non-space whitespace cannot round-
        # trip the marker encoding) — without this the two engines train
        # on different vocabularies the moment a corpus contains one such
        # word (latent on current testdata, which has none)
        "wf AS MATERIALIZED (SELECT w AS word, COUNT(*) AS cnt FROM"
        " (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        " WHERE w <> '' AND NOT regexp_matches(w, '[|\\s]') GROUP BY w)",
        "w0 AS MATERIALIZED (SELECT cnt, array_to_string(list_transform("
        "generate_series(1, length(word)), i -> '|' || substr(word, i, 1) || ' '),"
        " '') AS s FROM wf)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"sy{r} AS MATERIALIZED (SELECT cnt, list_transform(list_filter(string_split(s, '|'),"
            f" x -> x <> ''), x -> rtrim(x)) AS sym FROM w{r - 1})"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT pr[1] AS lft, pr[2] AS rgt, SUM(cnt) AS c FROM"
            f" (SELECT cnt, unnest(list_transform(generate_series(1, len(sym) - 1),"
            f" i -> [sym[i], sym[i + 1]])) AS pr FROM sy{r}) GROUP BY 1, 2)"
        )
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT lft, rgt, c FROM p{r}"
            f" ORDER BY c DESC, lft, rgt LIMIT 1)"
        )
        if r < rounds:
            parts.append(
                f"w{r} AS MATERIALIZED (SELECT cnt, replace(s,"
                f" '|' || (SELECT lft FROM b{r}) || ' |' || (SELECT rgt FROM b{r}) || ' ',"
                f" '|' || (SELECT lft FROM b{r}) || (SELECT rgt FROM b{r}) || ' ') AS s"
                f" FROM w{r - 1})"
            )
    return "WITH " + ",\n".join(parts)


_BPE_ROUNDS = 6

_BPE_SQL = (
    _bpe_ctes(_BPE_ROUNDS)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS round, lft AS \"left\", rgt AS \"right\","
        f" CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
)

from .operators.bpe import learn_bpe_merges  # noqa: E402


@register("bpe_merge_table", _BPE_SQL)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) as DataFrame rounds:
    the corpus collapses to its vocab-sized word-frequency table, then
    each round is one pair-count groupBy + a one-row argmax that
    BROADCASTS into a marker-string replace — no driver-side corpus
    state, integer counts only (see operators/bpe.py). The oracle unrolls
    all six rounds."""
    return _side_table(
        spark, sf_dir, "bpe_merges_r6",
        lambda: learn_bpe_merges(_t(spark, sf_dir, "documents"), "text", rounds=_BPE_ROUNDS),
    )


# ===========================================================================
# Batch 22 (r2 cont.): the last path-level sink rows EXECUTED under the
# value hash — S11 append, S13 truncate+reload, S16 partitioned BI mart
# each run against a real temp mart inside the callable (the same
# executed-artifact pattern as the streaming_* queries).
# ===========================================================================

_SINK_APPEND_SQL = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b1,
       CAST(SUM(CASE WHEN batch = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b2
FROM (
    SELECT p_brand, 1 AS batch FROM part WHERE p_size <= 25
    UNION ALL
    SELECT p_brand, 2 AS batch FROM part WHERE p_size > 20
)
GROUP BY p_brand
"""


@register("sink_append_roundtrip", _SINK_APPEND_SQL, kind="executed")
def sink_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 EXECUTED: two overlapping slices appended to one parquet mart
    (``append_to_path``), read back and aggregated — append semantics are
    bag semantics, so the p_size 21..25 overlap must appear once per
    batch. The oracle is the same bag union computed directly."""
    from .sources.sinks import append_to_path

    p = _t(spark, sf_dir, "part")
    with _scratch_dir(prefix="sink_append_") as base:
        target = os.path.join(base, "mart")
        append_to_path(
            p.filter(F.col("p_size") <= 25).select("p_brand", F.lit(1).alias("batch")),
            target,
        )
        append_to_path(
            p.filter(F.col("p_size") > 20).select("p_brand", F.lit(2).alias("batch")),
            target,
        )
        return (
            spark.read.parquet(target)
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("batch") == 1, 1).otherwise(0)).alias("n_b1"),
                F.sum(F.when(F.col("batch") == 2, 1).otherwise(0)).alias("n_b2"),
            )
            .localCheckpoint()
        )


_SINK_RELOAD_SQL = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
FROM customer
GROUP BY c_mktsegment
"""


@register("sink_truncate_reload", _SINK_RELOAD_SQL, kind="executed")
def sink_truncate_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 EXECUTED: the mart is first loaded with a WRONG slice (half the
    rows, balances zeroed), then truncate+reloaded with the real table
    (``overwrite_path``); the read-back aggregate must equal the clean
    batch aggregate — proving the overwrite replaced, not merged."""
    from .sources.sinks import overwrite_path

    c = _t(spark, sf_dir, "customer")
    with _scratch_dir(prefix="sink_reload_") as base:
        target = os.path.join(base, "mart")
        overwrite_path(
            c.filter(F.col("c_custkey") % 2 == 0).withColumn("c_acctbal", F.lit(0.0)),
            target,
        )
        overwrite_path(c, target)
        return (
            spark.read.parquet(target)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_customers"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_balance"),
            )
            .localCheckpoint()
        )


_SINK_BI_SQL = """
SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-03-01'
GROUP BY 1, 2
"""


@register("sink_partitioned_bi_mart", _SINK_BI_SQL, kind="executed")
def sink_partitioned_bi_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 EXECUTED: a MONTH-partitioned BI mart (daily data, monthly
    directories — partitioning on the raw date column made one directory
    per distinct day, thousands of tiny files and a 32s write at sf0.1;
    the month grain plus a write-side repartition on the partition column
    gives one file per directory and ~0.5s) read back through a
    partition-PRUNED scan (two months' directories). The value hash
    proves the partition column round-trips through the directory
    encoding and the pruned read sees every row."""
    from .sources.sinks import append_to_path

    o = (
        _t(spark, sf_dir, "orders")
        .withColumn("order_date", F.col("o_orderdate").cast("date"))
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
    )
    with _scratch_dir(prefix="sink_bi_") as base:
        target = os.path.join(base, "mart")
        append_to_path(
            o.select("order_month", "order_date", "o_orderstatus", "o_totalprice")
            .repartition("order_month"),
            target,
            partition_by=["order_month"],
        )
        return (
            spark.read.parquet(target)
            .filter(F.col("order_month").isin("1998-01", "1998-02"))
            .groupBy("order_date", "o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("revenue"),
            )
            .localCheckpoint()
        )


# T7 EXECUTED: a 5-day backfill drives the daily batch transform through
# the runner's date loop into a keyed-upsert mart — run TWICE, because
# the whole point of T7 is idempotent convergence (a re-run of any slice
# of history must not change the mart). Oracle = the plain batch rollup
# of those days.
_BACKFILL_SQL = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-03' AND CAST(ts AS DATE) <= DATE '2024-01-07'
GROUP BY 1, 2
"""


@register("backfill_daily_rollup", _BACKFILL_SQL, kind="executed")
def backfill_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 EXECUTED: ``streaming.runner.backfill`` reprocesses
    2024-01-03..07 day by day (each day one pruned batch transform) into
    an upsert mart keyed on (event_date, event_type), twice over — the
    second pass must converge to the identical mart, which must equal
    the one-shot batch rollup the oracle computes."""
    import datetime as _dt

    from .sources.sinks import upsert_to_path
    from .streaming.runner import backfill

    ev = _events(spark, sf_dir)

    def run_day(d: _dt.date) -> DataFrame:
        return (
            ev.filter(F.col("event_date") == F.lit(d))
            .groupBy("event_date", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_value"),
            )
        )

    days = [_dt.date(2024, 1, 3) + _dt.timedelta(days=i) for i in range(5)]
    with _scratch_dir(prefix="backfill_") as base:
        target = os.path.join(base, "mart")
        backfill(days, run_day, lambda df: upsert_to_path(df, target, ["event_date", "event_type"]))
        backfill(days, run_day, lambda df: upsert_to_path(df, target, ["event_date", "event_type"]))
        return spark.read.parquet(target).localCheckpoint()


def _bpe_apply_sql(rounds: int) -> str:
    """Apply the learned merges (scalar subqueries from the b{r} CTEs) to
    every corpus word, in training order, and count subword tokens."""
    s = "s"
    for r in range(1, rounds + 1):
        s = (
            f"replace({s}, '|' || (SELECT lft FROM b{r}) || ' |' || (SELECT rgt FROM b{r})"
            f" || ' ', '|' || (SELECT lft FROM b{r}) || (SELECT rgt FROM b{r}) || ' ')"
        )
    return f"""
{_bpe_ctes(rounds)},
dw AS MATERIALIZED (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
enc AS MATERIALIZED (
    SELECT doc_id, array_to_string(list_transform(generate_series(1, length(w)),
        i -> '|' || substr(w, i, 1) || ' '), '') AS s
    FROM dw
),
ap AS MATERIALIZED (SELECT doc_id, {s} AS s FROM enc)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(s) - length(replace(s, '|', ''))) AS BIGINT) AS n_subwords
FROM ap GROUP BY doc_id
"""


_BPE_TOKENIZE_SQL = _bpe_apply_sql(_BPE_ROUNDS)

def _bpe_merge_list(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """The learned merge table as a collected model artifact, shared per
    (session, sf_dir) like the other marts — training runs once, the
    tokenize/fertility consumers reuse the list."""
    mart = _side_table(
        spark, sf_dir, "bpe_merges_r6",
        lambda: learn_bpe_merges(_t(spark, sf_dir, "documents"), "text", rounds=_BPE_ROUNDS),
    )
    return [
        (r["left"], r["right"])
        for r in sorted(mart.collect(), key=lambda r: r["round"])
    ]


@register("bpe_tokenized_docs", _BPE_TOKENIZE_SQL)
def bpe_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer SHIPPING path: the 6-row learned merge table is
    collected once (the model artifact — exactly what a tokenizer deploy
    does) and baked into a map-only codegen replace chain over the
    corpus; output is per-doc word and subword-token counts. The oracle
    re-learns AND re-applies the merges entirely in SQL."""
    # r10: one map-only pass (operators/bpe.bpe_tokens_expr) — the former
    # apply_bpe_merges explode/groupBy plus doc_id re-join computed the
    # same counts through a corpus shuffle and a join; this plan has zero
    # exchanges. The where-clause keeps the old inner join's semantics:
    # wordless documents emit no row.
    from .operators.bpe import bpe_tokens_expr, split_words

    d = _t(spark, sf_dir, "documents")
    merges = _bpe_merge_list(spark, sf_dir)
    return (
        d.select("doc_id", split_words("text").alias("__w"))
        .where(F.size("__w") > 0)
        .select(
            "doc_id",
            F.size("__w").cast("long").alias("n_words"),
            F.size(bpe_tokens_expr(F.col("__w"), merges)).cast("long").alias("n_subwords"),
        )
    )


# ===========================================================================
# Batch 23 (r2 cont.): the remaining ranking/frame window surface —
# percent_rank, cume_dist, first/last_value over an explicit ROWS frame,
# and a RANGE-framed running sum — in one pass over one window shuffle.
# ===========================================================================

_WINDOW_SURFACE_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS last_order,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS trailing_30d_spend
FROM orders
WHERE o_custkey < 150
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("customer_order_window_surface", _WINDOW_SURFACE_SQL)
def customer_order_window_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of SQL's window surface in one plan: percent_rank /
    cume_dist, an unbounded-following last_value frame, and a time-RANGE
    trailing-30-day spend — all five functions share the single
    (custkey, orderdate) sort, so the plan is ONE Exchange + one Window
    (the range frame re-sorts only logically). DECIMAL running sum keeps
    the frame aggregate engine-exact."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # integer DAY numbers, not epoch seconds: the NTZ->instant cast goes
    # through the session timezone and DST makes the shift non-constant,
    # flipping rows at the 30-day boundary (measured). Days are tz-free.
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w_range), 2
        )
        .cast("double")
        .alias("trailing_30d_spend"),
    )


# T4/T5 EXECUTED, stateful sessionization: a REAL session_window stream
# (two triggers; the second is a far-future sentinel that advances the
# watermark past every real session end, closing all state) upserted into
# a session mart. Oracle = gaps-and-islands over the same events with
# session_window's boundary rule (a gap of EXACTLY `gap` starts a new
# session — merge happens only strictly inside the window end).
_STREAM_SESSIONS_SQL = f"""
WITH e AS (
    SELECT user_id, epoch_us(ts) AS tus, event_id
    FROM events WHERE event_id <= 20000 AND user_id < 50
),
marked AS (
    SELECT user_id, tus,
           CASE WHEN lag(tus) OVER w IS NULL
                     OR tus - lag(tus) OVER w >= {6 * 3600 * 1_000_000}
                THEN 1 ELSE 0 END AS is_start
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
sess AS (
    SELECT user_id, tus,
           SUM(is_start) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_index
    FROM marked
)
SELECT user_id,
       MIN(tus) AS session_start_us,
       MAX(tus) + {6 * 3600 * 1_000_000} AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_index
"""


@register("streaming_sessions_executed", _STREAM_SESSIONS_SQL, kind="streaming")
def streaming_sessions_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization EXECUTED (SURVEY.md §2.10 T4/T5
    + applyInPandasWithState's declarative sibling): session_window with
    a 6-hour gap over a real two-trigger file stream; a sentinel event 40
    days past the horizon advances the watermark so every real session
    closes and append-mode emits it exactly once into the keyed mart.
    Output in tz-free epoch micros; the oracle replays session_window's
    boundary rule as batch gaps-and-islands."""
    from .streaming.runner import (
        read_json_stream,
        run_upsert_stream,
        session_stream,
        stream_shuffle_partitions,
    )

    e = _events(spark, sf_dir).filter(
        (F.col("event_id") <= 20000) & (F.col("user_id") < 50)
    ).select("user_id", F.expr("ts DIV 1000").alias("tus"))
    sentinel = e.agg(
        F.lit(-1).cast("long").alias("user_id"),
        (F.max("tus") + 40 * 86400 * 1_000_000).alias("tus"),
    )

    with _scratch_dir(prefix="stream_sessions_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        schema = _stage_drops(drops, e, lambda r: "b1_events.json")
        _stage_drops(drops, sentinel, lambda r: "b2_sentinel.json")
        stream = (
            read_json_stream(spark, drops, schema, max_files_per_trigger=1)
            .withColumn("__et", F.expr("timestamp_micros(tus)"))
        )
        sessions = session_stream(
            stream,
            ts_col="__et",
            key_cols=["user_id"],
            aggs=[F.count("*").alias("n_events")],
            gap="6 hours",
            watermark="1 day",
        ).select(
            "user_id",
            F.unix_micros(F.col("session_start")).alias("session_start_us"),
            F.unix_micros(F.col("session_end")).alias("session_end_us"),
            "n_events",
        )
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_upsert_stream(
                sessions, target, ["user_id", "session_start_us"], ckpt,
                output_mode="append",
            ))
        return (
            spark.read.parquet(target)
            .filter(F.col("user_id") >= 0)
            .localCheckpoint()
        )


# ===========================================================================
# Batch 24 (r2 cont.): operational ingestion robustness EXECUTED —
# schema evolution across mart generations, and the corrupt-record
# quarantine (dead-letter) path of the JSON source.
# ===========================================================================

_SCHEMA_EVO_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority
FROM (
    SELECT o_orderstatus, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus
"""


@register("sink_schema_evolution", _SCHEMA_EVO_SQL, kind="executed")
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution EXECUTED: generation 1 of a mart lacks a column
    that generation 2 adds (the standard additive-column migration);
    ``mergeSchema`` reads both generations as one table, old rows
    surfacing NULL for the new column. The hash check proves the merged
    read sees every row of both generations with the right nullability —
    the operational contract a 100 TB mart's readers rely on during a
    rolling schema change."""
    from .sources.sinks import append_to_path

    o = _t(spark, sf_dir, "orders")
    with _scratch_dir(prefix="schema_evo_") as base:
        target = os.path.join(base, "mart")
        append_to_path(
            o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus"),
            target,
        )
        append_to_path(
            o.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey", "o_orderstatus", "o_orderpriority"
            ),
            target,
        )
        return (
            spark.read.option("mergeSchema", "true")
            .parquet(target)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                F.count("o_orderpriority").alias("n_with_priority"),
            )
            .localCheckpoint()
        )


_QUARANTINE_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_good,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE event_id <= 20000 AND event_id % 97 = 0) AS n_quarantined
FROM events
WHERE event_id <= 20000 AND event_id % 97 <> 0
GROUP BY event_type
"""


@register("json_quarantine_ingest", _QUARANTINE_SQL, kind="executed")
def json_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter ingestion EXECUTED: a JSON drop where every 97th event
    line is TRUNCATED mid-record is read PERMISSIVE with a
    ``_corrupt_record`` column; corrupt lines quarantine to a dead-letter
    mart instead of poisoning the batch, good rows aggregate normally.
    The oracle recomputes both populations from the id rule — the hash
    check proves no good row is lost and every corrupt line is captured
    (the S8 source's operational failure path, reference ingestion
    scripts crash on the first bad payload)."""
    e = _events(spark, sf_dir).filter(F.col("event_id") <= 20000).select(
        "event_id", "event_type"
    )
    rows = e.collect()
    with _scratch_dir(prefix="quarantine_") as base:
        drop = os.path.join(base, "drop.json")
        dead = os.path.join(base, "dead_letter")
        raw = None  # bound inside try; guard the finally so an early failure
        # (e.g. writing the drop file) surfaces as itself, not a NameError
        try:
            with open(drop, "w") as f:
                for r in rows:
                    line = json.dumps({"event_id": r.event_id, "event_type": r.event_type})
                    f.write((line[: len(line) // 2] if r.event_id % 97 == 0 else line) + "\n")
            schema = StructType.fromDDL(
                "event_id bigint, event_type string, _corrupt_record string"
            )
            raw = (
                spark.read.schema(schema)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .json(drop)
                .cache()  # Spark requires caching to reference _corrupt_record
            )
            bad = raw.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
            bad.write.mode("overwrite").parquet(dead)
            n_bad = spark.read.parquet(dead).count()
            good = raw.filter(F.col("_corrupt_record").isNull())
            return (
                good.groupBy("event_type")
                .agg(F.count("*").alias("n_good"))
                .withColumn("n_quarantined", F.lit(n_bad).cast("long"))
                .localCheckpoint()
            )
        finally:
            if raw is not None:
                raw.unpersist()


# ===========================================================================
# S4-S6 EXECUTED: the three REST pagination dialects run end-to-end against
# an in-process fake API backed by the driver tables — fetch loop on the
# driver, JSONL landing zone, DISTRIBUTED parse with explicit schema, then a
# set-based aggregate the oracle recomputes straight from the source table.
# The hash match proves the pagination visited every row exactly once
# (a double-fetched or dropped page flips the counts).
# ===========================================================================

_REST_OFFSET_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events WHERE event_id <= 20000
GROUP BY event_type
"""


@register("rest_offset_ingest", _REST_OFFSET_SQL, kind="executed")
def rest_offset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 offset/limit ingest EXECUTED (reference merge-pages loop,
    ``tarefa_coletar_financas.php:17-41``): a fake API serves the events
    slice in offset-ordered pages with a ``paging.total``; the connector
    fetches until ``offset >= total`` (pages 2+ concurrently — the one
    parallelism the offset dialect permits), lands JSONL, and the engine
    parses distributed and aggregates."""
    from .sources.rest import fetch_offset_limit, ingest_pages

    src = (
        _events(spark, sf_dir)
        .filter(F.col("event_id") <= 20000)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
        .collect()
    )
    rows = [{"event_id": r.event_id, "event_type": r.event_type, "value": r.value} for r in src]

    def fetch(offset: int, limit: int) -> dict:
        return {"results": rows[offset : offset + limit], "paging": {"total": len(rows)}}

    with _scratch_dir(prefix="rest_offset_") as base:
        schema = StructType.fromDDL("event_id bigint, event_type string, value double")
        df = ingest_pages(
            spark, fetch_offset_limit(fetch, limit=1000, max_workers=4), schema, base
        )
        return (
            df.groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_value"),
            )
            .localCheckpoint()
        )


_REST_SCROLL_SQL = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM part
GROUP BY p_brand
"""


@register("rest_scroll_ingest", _REST_SCROLL_SQL, kind="executed")
def rest_scroll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 scroll ingest EXECUTED (reference do/while on ``scroll_id``,
    ``tarefa_sincronizar_anuncios_meli.php:14-37``): sequential by
    construction — each page's token comes from the previous response;
    terminates on the first empty page."""
    from .sources.rest import fetch_scroll, ingest_pages

    src = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_retailprice")
        .orderBy("p_partkey")
        .collect()
    )
    rows = [
        {"p_partkey": r.p_partkey, "p_brand": r.p_brand, "p_retailprice": r.p_retailprice}
        for r in src
    ]
    page_size = 500

    def fetch(scroll_id: str | None) -> dict:
        lo = 0 if scroll_id is None else int(scroll_id)
        return {"results": rows[lo : lo + page_size], "scroll_id": str(lo + page_size)}

    with _scratch_dir(prefix="rest_scroll_") as base:
        schema = StructType.fromDDL("p_partkey bigint, p_brand string, p_retailprice double")
        df = ingest_pages(spark, fetch_scroll(fetch), schema, base)
        return (
            df.groupBy("p_brand")
            .agg(
                F.count("*").cast("long").alias("n_parts"),
                F.round(F.sum(F.col("p_retailprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_price"),
            )
            .localCheckpoint()
        )


_REST_PAGE_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
FROM customer
GROUP BY c_mktsegment
"""


@register("rest_page_ingest", _REST_PAGE_SQL, kind="executed")
def rest_page_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 page-number ingest EXECUTED (reference ``pagina=N`` until the
    first empty page, ``tarefa_sincronizar_catalogo_tiny.php:16-33`` and 3
    sibling jobs)."""
    from .sources.rest import fetch_page_number, ingest_pages

    src = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
        .collect()
    )
    rows = [
        {"c_custkey": r.c_custkey, "c_mktsegment": r.c_mktsegment, "c_acctbal": r.c_acctbal}
        for r in src
    ]
    page_size = 700

    def fetch(page: int) -> list[dict]:
        lo = (page - 1) * page_size
        return rows[lo : lo + page_size]

    with _scratch_dir(prefix="rest_page_") as base:
        schema = StructType.fromDDL("c_custkey bigint, c_mktsegment string, c_acctbal double")
        df = ingest_pages(spark, fetch_page_number(fetch), schema, base)
        return (
            df.groupBy("c_mktsegment")
            .agg(
                F.count("*").cast("long").alias("n_customers"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_acctbal"),
            )
            .localCheckpoint()
        )


# Tokenizer fertility by language — THE metric that decides whether a
# shared BPE vocabulary under-serves a language (high subwords/word =
# more tokens per sentence = less effective context for that language).
_BPE_FERTILITY_SQL = f"""
{_bpe_ctes(_BPE_ROUNDS)},
dw AS MATERIALIZED (
    SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ) WHERE w <> ''
),
enc AS MATERIALIZED (
    SELECT doc_id, array_to_string(list_transform(generate_series(1, length(w)),
        i -> '|' || substr(w, i, 1) || ' '), '') AS s
    FROM dw
),
ap AS MATERIALIZED (SELECT doc_id, {{APPLY}} AS s FROM enc)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(ap.s) - length(replace(ap.s, '|', ''))) AS BIGINT) AS n_subwords,
       ROUND(CAST(SUM(length(ap.s) - length(replace(ap.s, '|', ''))) AS DOUBLE)
             / COUNT(*), 6) AS fertility
FROM ap JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


def _bpe_apply_expr(rounds: int) -> str:
    s = "s"
    for r in range(1, rounds + 1):
        s = (
            f"replace({s}, '|' || (SELECT lft FROM b{r}) || ' |' || (SELECT rgt FROM b{r})"
            f" || ' ', '|' || (SELECT lft FROM b{r}) || (SELECT rgt FROM b{r}) || ' ')"
        )
    return s


@register("bpe_fertility_by_lang", _BPE_FERTILITY_SQL.replace("{APPLY}", _bpe_apply_expr(_BPE_ROUNDS)))
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subwords/word) under the learned
    merge table — the multilingual-vocabulary fairness metric. Same
    shipped-merge-list plan as bpe_tokenized_docs, reduced by language."""
    # r10: same map-only restructure as bpe_tokenized_docs — per-doc word
    # and token counts in one pass (no explode/groupBy, no doc_id re-join;
    # integer sums are order-independent so the reduction is unchanged).
    from .operators.bpe import bpe_tokens_expr, split_words

    d = _t(spark, sf_dir, "documents")
    merges = _bpe_merge_list(spark, sf_dir)
    per_doc = (
        d.select("lang", split_words("text").alias("__w"))
        .where(F.size("__w") > 0)
        .select(
            "lang",
            F.size("__w").cast("long").alias("nw"),
            F.size(bpe_tokens_expr(F.col("__w"), merges)).cast("long").alias("ns"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.sum("nw").alias("n_words"),
        F.sum("ns").alias("n_subwords"),
        F.round(F.sum("ns").cast("double") / F.sum("nw"), 6).alias("fertility"),
    )


# ===========================================================================
# Batch 25 (r2 cont.): the remaining set-op and null-semantics surface —
# multiset INTERSECT ALL / EXCEPT ALL, the NOT-IN-with-NULL trap (Spark's
# null-aware anti join), and a CSV source round-trip.
# ===========================================================================

_BAG_SETOPS_SQL = """
WITH y96 AS (
    SELECT l_partkey FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
),
y97 AS (
    SELECT l_partkey FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
),
boths AS (SELECT l_partkey FROM y96 INTERSECT ALL SELECT l_partkey FROM y97),
only96 AS (SELECT l_partkey FROM y96 EXCEPT ALL SELECT l_partkey FROM y97)
SELECT 'intersect_all' AS op, l_partkey, CAST(COUNT(*) AS BIGINT) AS n
FROM boths GROUP BY 2
UNION ALL
SELECT 'except_all' AS op, l_partkey, CAST(COUNT(*) AS BIGINT) AS n
FROM only96 GROUP BY 2
"""


@register("part_sales_bag_setops", _BAG_SETOPS_SQL)
def part_sales_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (SURVEY §2.7 completion): per-part 1996
    vs 1997 sale OCCURRENCES under INTERSECT ALL (min of multiplicities)
    and EXCEPT ALL (surplus of the left). Spark plans both as a single
    aggregate-join on the key — no row-by-row matching."""
    li = _t(spark, sf_dir, "lineitem")
    y96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey")
    y97 = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey")
    boths = y96.intersectAll(y97).groupBy("l_partkey").agg(F.count("*").alias("n"))
    only96 = y96.exceptAll(y97).groupBy("l_partkey").agg(F.count("*").alias("n"))
    return boths.select(F.lit("intersect_all").alias("op"), "l_partkey", "n").unionByName(
        only96.select(F.lit("except_all").alias("op"), "l_partkey", "n")
    )


_NOT_IN_NULL_SQL = """
SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 500)
    ) AS n_without_nulls,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
     WHERE o_custkey NOT IN (
         SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
         FROM customer WHERE c_acctbal < 500)
    ) AS n_with_nulls
"""


@register("not_in_null_semantics", _NOT_IN_NULL_SQL)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT-IN-with-NULL trap, engine-correct (SQL three-valued
    logic): once the subquery contains a single NULL, ``x NOT IN (...)``
    can never be TRUE and the result is empty — Spark plans this as a
    null-aware anti join, NOT a plain left-anti (which would silently
    keep rows). Both counts computed via spark.sql to exercise the SQL
    surface exactly as a user would write it."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__niv_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__niv_customer")
    return spark.sql(
        """
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM __niv_orders
             WHERE o_custkey NOT IN
                 (SELECT c_custkey FROM __niv_customer WHERE c_acctbal < 500)
            ) AS n_without_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM __niv_orders
             WHERE o_custkey NOT IN (
                 SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
                 FROM __niv_customer WHERE c_acctbal < 500)
            ) AS n_with_nulls
        """
    )


_CSV_ROUNDTRIP_SQL = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n_name
"""


@register("csv_source_roundtrip", _CSV_ROUNDTRIP_SQL, kind="executed")
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source EXECUTED: the supplier dim exported to headered CSV and
    read back with an EXPLICIT schema (never inference — an inference
    pre-pass is a second full scan at 100 TB and can mis-type empty
    partitions), then joined and aggregated. Proves the text-format
    round-trip preserves types and values exactly."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    with _scratch_dir(prefix="csv_rt_") as base:
        path = os.path.join(base, "supplier_csv")
        s.write.option("header", "true").csv(path)
        back = (
            spark.read.schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
            .option("header", "true")
            .csv(path)
        )
        return (
            back.join(F.broadcast(n), back.s_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count("*").alias("n_suppliers"),
                F.round(F.sum(F.col("s_acctbal").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_balance"),
            )
            .localCheckpoint()
        )


_ORC_ROUNDTRIP_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@register("orc_source_roundtrip", _ORC_ROUNDTRIP_SQL, kind="executed")
def orc_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source EXECUTED: the second columnar format Spark reads
    natively (the reference's BI extracts are format-agnostic dumps;
    SURVEY.md §2.1 S16 boundary). Orders round-trips through ORC and is
    read back with a status filter that ORC serves from stripe-level
    min/max plus bloom-filterable predicate pushdown — same data-skipping
    contract as the parquet path. The oracle recomputes from the parquet
    original, so the hash proves type and value fidelity across formats."""
    o = _t(spark, sf_dir, "orders")
    with _scratch_dir(prefix="orc_rt_") as base:
        path = os.path.join(base, "orders_orc")
        o.write.orc(path)
        back = spark.read.orc(path).filter(F.col("o_orderstatus") == "O")
        return (
            back.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_price"),
            )
            .localCheckpoint()
        )


# XML source (NEW r4): Spark 4 ships the spark-xml reader built in —
# the remaining file format this container can round-trip (CSV/JSON/ORC
# done; Avro's jar is absent, NOTES r3). Read back with an EXPLICIT
# schema: XML infers everything as string otherwise, and a silent
# string-typed acctbal would still sum — the DECIMAL oracle hash is what
# catches it.
_XML_ROUNDTRIP_SQL = """
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_balance
FROM supplier
GROUP BY s_nationkey
"""


@register("xml_source_roundtrip", _XML_ROUNDTRIP_SQL, kind="executed")
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source EXECUTED: supplier round-trips through the native XML
    format (rowTag elements) and is read back with a forced schema, then
    aggregated; the oracle recomputes from the parquet original, so the
    hash proves type and value fidelity across the text format. XML is a
    landing-zone format (supplier feeds arrive as documents) — at scale
    it is parsed ONCE at ingest into parquet, exactly this shape."""
    s = _t(spark, sf_dir, "supplier")
    with _scratch_dir(prefix="xml_rt_") as base:
        path = os.path.join(base, "supplier_xml")
        s.write.format("xml").option("rowTag", "supplier").save(path)
        back = (
            spark.read.format("xml")
            .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
            .option("rowTag", "supplier")
            .load(path)
        )
        return (
            back.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_suppliers"),
                F.round(F.sum(F.col("s_acctbal").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_balance"),
            )
            .localCheckpoint()
        )


# ===========================================================================
# Batch 26 (r2 cont.): Z-order (Morton) clustering key — the multi-dim
# data-skipping layout (Delta OPTIMIZE ZORDER reduction). The key itself
# is pure integer bit arithmetic, so it goes under the value hash; the
# file-layout half (layout.write_zordered) is proven by the footer-stats
# disjointness test in tests/test_sinks.py.
# ===========================================================================

_ZORDER_SQL = """
WITH e AS (
    SELECT event_id,
           user_id % 65536 AS x,
           (CAST(ts AS DATE) - DATE '1970-01-01') % 65536 AS y
    FROM events WHERE event_id <= 20000
)
SELECT event_id,
       CAST(list_aggregate(list_transform(generate_series(0, 15),
            i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))),
            'sum') AS BIGINT) AS zkey
FROM e
"""


@register("zorder_events_key", _ZORDER_SQL)
def zorder_events_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (user, day): locality in the key preserves
    locality in BOTH dimensions, so files clustered by it serve box
    predicates on either — what a 1-D sort layout cannot (see
    operators/layout.zorder_key / write_zordered). Map-only unrolled
    shift/mask codegen; engine-exact integers."""
    from .operators.layout import zorder_key

    e = _events(spark, sf_dir).filter(F.col("event_id") <= 20000)
    x = F.pmod(F.col("user_id"), F.lit(65536))
    y = F.pmod(
        F.datediff(F.col("event_date"), F.lit("1970-01-01").cast("date")), F.lit(65536)
    )
    return e.select("event_id", zorder_key([x, y], bits=16).alias("zkey"))


_MAD_SQL = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rk,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
),
med AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN l_extendedprice END) AS median
    FROM ranked GROUP BY l_returnflag
),
dev AS (
    SELECT l.l_returnflag, abs(l.l_extendedprice - m.median) AS d
    FROM lineitem l JOIN med m USING (l_returnflag)
),
dranked AS (
    SELECT l_returnflag, d,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY d) AS rk,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM dev
),
madt AS (
    SELECT l_returnflag,
           MAX(CASE WHEN rk = CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS mad
    FROM dranked GROUP BY l_returnflag
)
SELECT r.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, MAX(m.median) AS median, MAX(t.mad) AS mad
FROM lineitem r
JOIN med m USING (l_returnflag)
JOIN madt t USING (l_returnflag)
GROUP BY r.l_returnflag
"""


@register("price_mad_by_returnflag", _MAD_SQL)
def price_mad_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of extended price per return flag —
    robust dispersion via two nearest-rank median passes over one group
    partitioning (operators/stats.group_mad); completes the robust-stats
    family next to the winsorized aggregates."""
    from .operators.stats import group_mad

    return group_mad(_t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_extendedprice")


# T5 custom-state EXECUTED: applyInPandasWithState carries per-user
# (count, cents) across two REAL micro-batches; the keyed last-wins
# upsert keeps each user's final snapshot, which must equal the batch
# aggregate. Integer cents make the Python state arithmetic exactly
# SQL-replayable (a float state sum is deterministic but not
# replayable — see streaming/stateful.py).
_STATEFUL_TOTALS_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
WHERE event_id <= 20000 AND user_id < 50
GROUP BY user_id
"""


@register("streaming_stateful_totals", _STATEFUL_TOTALS_SQL, kind="streaming")
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator EXECUTED (SURVEY.md §2.10 T5, the
    applyInPandasWithState path): per-user running totals accumulate in
    the checkpointed state store across two file triggers; every
    emission is a running snapshot and the keyed upsert keeps the
    last-wins row, converging the mart to the batch aggregate."""
    from .streaming.runner import read_json_stream, run_upsert_stream, stream_shuffle_partitions
    from .streaming.stateful import running_user_totals_exact

    e = _events(spark, sf_dir).filter(
        (F.col("event_id") <= 20000) & (F.col("user_id") < 50)
    ).select(
        "event_id",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )

    with _scratch_dir(prefix="stateful_totals_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        schema = _stage_drops(drops, e, _by_parity, route_only=("event_id",))
        stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
        totals = running_user_totals_exact(stream)
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_upsert_stream(
                totals, target, ["user_id"], ckpt,
                output_mode="append", order_by=["n_events"],
            ))
        return spark.read.parquet(target).localCheckpoint()


# No transformWithStateInPandas twin of the query above: Spark 4's TWS
# Python worker speaks protobuf to its state server and cannot start
# without google.protobuf (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE),
# which the pinned environment lacks. The GroupState route above is
# the T5 catalog row; its per-key fold (stateful.fold_running_totals) is
# unit-tested in tests/test_streaming_rocksdb.py.
# Stream-STATIC join EXECUTED (NEW r4): the enrichment shape Structured
# Streaming runs stateless — the static dim is joined INSIDE the streaming
# DAG (broadcast, re-resolvable per micro-batch), unlike the foreachBatch
# pipelines where the join happens batch-side. No watermark, no state
# store: stream-static inner joins are stateless by construction, which is
# why this is the default way to decorate a 100 TB event stream with dims.
_STREAM_STATIC_SQL = """
SELECT e.user_id, c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_id <= 20000
GROUP BY e.user_id, c.c_mktsegment
"""


@register("streaming_static_enrichment", _STREAM_STATIC_SQL, kind="streaming")
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED stream-static enrichment: the event slice replays as two
    real file triggers, each micro-batch broadcast-joins the STATIC
    customer dim inside the streaming plan (stateless — no watermark or
    state store), appends to parquet, and the read-back aggregate must
    hash-match the batch join. The staging collect is the documented
    <=20k-row harness bound shared by the other executed streams."""
    from .streaming.runner import read_json_stream, run_parquet_append, stream_shuffle_partitions

    ev = _events(spark, sf_dir).filter(F.col("event_id") <= 20000).select(
        "event_id", "user_id"
    )

    with _scratch_dir(prefix="stream_static_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        schema = _stage_drops(drops, ev, _by_parity)
        stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
        dim = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        enriched = stream.join(F.broadcast(dim), "user_id")
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_parquet_append(enriched, target, ckpt))
        return (
            spark.read.parquet(target)
            .groupBy("user_id", "segment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
            .localCheckpoint()
        )


def _click_purchase_sides(spark: SparkSession, sf_dir: str, *, max_id: int) -> dict[str, DataFrame]:
    """The stream-stream join harnesses' inputs, keyed by drop directory: the
    click and purchase event slices (event_id <= max_id) as rows of
    ``streaming.pipelines.CLICK_SCHEMA`` / ``PURCHASE_SCHEMA``. Each side
    lands as two parity-split trigger files, so every join must span trigger
    boundaries through the two-sided state; the single place the landing
    shape lives, so the inner and outer harnesses cannot diverge."""
    ev = _events(spark, sf_dir).filter(F.col("event_id") <= max_id)
    return {
        f"{side}s": ev.filter(F.col("event_type") == side).select(
            F.col("event_id").alias(f"{side}_id"), "user_id", F.expr("ts DIV 1000").alias("ts")
        )
        for side in ("click", "purchase")
    }


# Stream-stream interval join EXECUTED: the last executed-streaming
# family member — clicks and purchases arrive as two REAL file streams
# (each split across two triggers, so matches span trigger boundaries
# through the two-sided join state), inner-joined on user within a
# 24-hour attribution window. Oracle = the identical batch interval
# join on epoch micros.
_STREAM_ATTRIB_SQL = """
WITH c AS (
    SELECT event_id AS click_id, user_id, epoch_us(ts) AS ctus
    FROM events WHERE event_type = 'click' AND event_id <= 20000
),
p AS (
    SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ptus
    FROM events WHERE event_type = 'purchase' AND event_id <= 20000
)
SELECT p.purchase_id, c.click_id, p.user_id,
       p.ptus AS purchase_us, c.ctus AS click_us
FROM p JOIN c ON c.user_id = p.user_id
               AND c.ctus >= p.ptus - 86400000000
               AND c.ctus <= p.ptus
"""


@register("streaming_attribution_executed", _STREAM_ATTRIB_SQL, kind="streaming")
def streaming_attribution_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join EXECUTED (the streaming form of the
    as-of/range join family): two watermarked file streams, two triggers
    each, purchases attributed to same-user clicks within the preceding
    24 hours through Spark's two-sided join state — a click buffered in
    trigger 1 still joins a purchase arriving in trigger 2. Append sink;
    must hash-match the batch interval join."""
    from .streaming.pipelines import click_attribution_join_stream
    from .streaming.runner import stream_shuffle_partitions

    with _scratch_dir(prefix="stream_attrib_") as base:
        target, ckpt = os.path.join(base, "target"), os.path.join(base, "ckpt")
        cdir, pdir = os.path.join(base, "clicks"), os.path.join(base, "purchases")
        for side, rows in _click_purchase_sides(spark, sf_dir, max_id=20000).items():
            _stage_drops(os.path.join(base, side), rows, _by_parity)
        with stream_shuffle_partitions(spark, 2):
            _await_stream(click_attribution_join_stream(
                spark, cdir, pdir, target, ckpt,
                attribution_window="24 hours", watermark="48 hours",
                max_files_per_trigger=1,
            ))
        return (
            spark.read.parquet(target)
            .select(
                "purchase_id", "click_id", "user_id",
                F.unix_micros("purchase_time").alias("purchase_us"),
                F.unix_micros("click_time").alias("click_us"),
            )
            .localCheckpoint()
        )


# Stream-stream LEFT OUTER interval join EXECUTED: the outer side makes
# the watermark load-bearing for RESULTS — an unmatched click may only be
# declared a non-conversion once both watermarks pass its join horizon,
# and the null rows surface in a batch AFTER the horizon closes. The
# harness proves the full protocol: two real triggers per side, then a
# second AvailableNow run on the same checkpoint whose two far-future
# sentinel batches advance the watermark and flush the withheld
# non-conversions. Oracle = the identical batch LEFT JOIN.
_STREAM_OUTER_SQL = """
WITH c AS (
    SELECT event_id AS click_id, user_id, epoch_us(ts) AS ctus
    FROM events WHERE event_type = 'click' AND event_id <= 12000
),
p AS (
    SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ptus
    FROM events WHERE event_type = 'purchase' AND event_id <= 12000
)
SELECT c.click_id, c.user_id, c.ctus AS click_us,
       p.purchase_id, p.ptus AS purchase_us
FROM c LEFT JOIN p ON p.user_id = c.user_id
                    AND p.ptus >= c.ctus
                    AND p.ptus <= c.ctus + 86400000000
"""


@register("streaming_outer_join_executed", _STREAM_OUTER_SQL, kind="streaming")
def streaming_outer_join_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join EXECUTED (see
    streaming.pipelines.click_conversion_outer_stream): clicks with no
    same-user purchase in the following 24 h must be emitted exactly once
    with NULL purchase columns — only after the watermark proves no match
    can still arrive. Hash-matches the batch LEFT JOIN, which is the
    convergence contract for the whole outer-join protocol."""
    from .streaming.pipelines import click_conversion_outer_stream
    from .streaming.runner import stream_shuffle_partitions

    with _scratch_dir(prefix="stream_outer_") as base:
        target, ckpt = os.path.join(base, "target"), os.path.join(base, "ckpt")
        cdir, pdir = os.path.join(base, "clicks"), os.path.join(base, "purchases")
        sides = _click_purchase_sides(spark, sf_dir, max_id=12000)
        for side, rows in sides.items():
            _stage_drops(os.path.join(base, side), rows, _by_parity)
        with stream_shuffle_partitions(spark, 2):
            _await_stream(click_conversion_outer_stream(
                spark, cdir, pdir, target, ckpt,
                conversion_window="24 hours", watermark="1 day",
                max_files_per_trigger=1,
            ))
            # Sentinel flush: two far-future rows per side, each its own
            # trigger file. Batch 1 advances the watermark past every real
            # click's horizon; batch 2 evicts the now-closed state and
            # emits the withheld NULL rows. The two sides' sentinels carry
            # DIFFERENT user_ids (-1 clicks, -2 purchases) so they can never
            # satisfy the join condition with each other — or with real rows,
            # whose ids are non-negative (ADVICE r3: with a shared id the
            # wave-1/wave-2 sentinels DID join and relied solely on the
            # click_id >= 0 read-back filter, which now stays only as
            # defense-in-depth for the click sentinel's own NULL-row
            # emission).
            clicks, purchases = sides.values()
            max_tus = clicks.union(purchases).agg(F.max("ts")).first()[0] or 0
            for wave in (1, 2):
                far = max_tus + 30 * 86_400_000_000 + wave * 86_400_000_000
                with open(os.path.join(cdir, f"sentinel{wave}.json"), "w") as fc:
                    fc.write(json.dumps({"click_id": -wave, "user_id": -1, "ts": far}) + "\n")
                with open(os.path.join(pdir, f"sentinel{wave}.json"), "w") as fp:
                    fp.write(json.dumps({"purchase_id": -wave, "user_id": -2, "ts": far}) + "\n")
            _await_stream(click_conversion_outer_stream(
                spark, cdir, pdir, target, ckpt,
                conversion_window="24 hours", watermark="1 day",
                max_files_per_trigger=1,
            ))
        return (
            spark.read.parquet(target)
            .filter(F.col("click_id") >= 0)
            .select(
                "click_id", "user_id",
                F.unix_micros("click_time").alias("click_us"),
                "purchase_id",
                F.unix_micros("purchase_time").alias("purchase_us"),
            )
            .localCheckpoint()
        )


# Embedding-proximity decontamination: the semantic sibling of the n-gram
# contamination_report — a paraphrased eval item leaves no 13-gram overlap
# but stays close in embedding space. Eval set = vec_id % 97 == 0 (the
# small broadcast side by construction); τ chosen inside the corpus's
# similarity range so the contaminated set is non-trivial at every SF
# (3 / 9 / 89 items at sf0.001/0.01/0.1) and exercises the argmax
# tie-break (two sf0.1 items match two eval vectors each).
_SEMANTIC_DECONTAM_SQL = """
WITH e AS (
    SELECT vec_id AS eval_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
    FROM embeddings WHERE vec_id % 97 = 0
),
c AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings WHERE vec_id % 97 <> 0
),
s AS (
    SELECT c.vec_id, e.eval_id,
           ROUND(list_aggregate(list_transform(list_zip(cv, qv), x -> x[1] * x[2]), 'sum')
                 / (sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum'))
                    * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))), 6) AS sim
    FROM c, e
)
SELECT vec_id, CAST(eval_id AS BIGINT) AS nearest_eval_id, sim AS max_eval_sim
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
    FROM s WHERE sim >= 0.35
) t WHERE rn = 1
"""


@register("semantic_decontamination", _SEMANTIC_DECONTAM_SQL)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (SemDeDup-style proximity vs a held-out
    eval set): corpus embeddings within 0.35 cosine of ANY eval vector
    are flagged with their nearest eval id. Broadcast eval side, one
    map-side pass over the corpus, 6dp-rounded cosine before threshold
    and argmax — cross-engine-reproducible like the knn family."""
    from .operators.decontam import semantic_contamination

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_contamination(
        emb.filter(F.col("vec_id") % 97 != 0),
        emb.filter(F.col("vec_id") % 97 == 0),
        threshold=0.35,
    )


# Frequent co-purchase pairs — the a-priori 2-itemset pass (market-basket
# analysis): parts bought together in the same order, with support and
# lift vs independence. Scale shape: the per-order self-join fans out as
# sum(k choose 2) over basket sizes — bounded by the ~7-line TPC-H order,
# never corpus-quadratic — then ONE shuffle on the pair key; the per-part
# frequency table rejoins for the lift denominator. All counts integer;
# lift is the single rounded double.
_COPURCHASE_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
freq AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_count
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT p.part_a, p.part_b, CAST(p.pair_count AS BIGINT) AS pair_count,
       ROUND(CAST(p.pair_count AS DOUBLE) * n.n_orders
             / (fa.c * fb.c), 6) AS lift
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.part_a
JOIN freq fb ON fb.l_partkey = p.part_b
CROSS JOIN n
WHERE p.pair_count >= 2
"""


@register("copurchase_part_pairs", _COPURCHASE_SQL)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemsets with lift (support >= 2). The order-local
    self-join is bounded fan-out (basket-size choose 2), the heavy shuffle
    is the pair-key groupBy, and the part frequency table rejoins for the
    lift denominator — the shape that survives a 100 TB fact as long as
    baskets stay bounded (they do: orders have <= 7 lines)."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # r10: the basket count used to be a construction-time .count() — an
    # extra distinct+count job chain EVERY invocation paid before the real
    # query even started. As a 1-row broadcast joined into the plan the
    # same value reaches the lift formula in one composite job.
    n_orders = items.agg(F.count_distinct("l_orderkey").alias("__n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.round(
                F.col("pair_count").cast("double") * F.col("__n_orders")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


# ntile quantile binning (NEW r4): the one window function the
# customer_order_window_surface row didn't cover. Bucket boundaries follow
# the SQL-standard "first (n_rows % n) buckets get the extra row" rule —
# identical in Spark and DuckDB — and the intra-group order is made TOTAL
# (price, then orderkey+linenumber) per the W7 invariant so equal prices
# can't straddle a bucket boundary differently per engine.
_NTILE_SQL = """
WITH t AS (
  SELECT l_returnflag,
         NTILE(4) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS quartile,
         l_extendedprice
  FROM lineitem
)
SELECT l_returnflag, quartile,
       COUNT(*) AS n_lines,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM t
GROUP BY l_returnflag, quartile
"""


@register("ntile_price_quartiles", _NTILE_SQL)
def ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("l_returnflag", "quartile")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("l_extendedprice").cast("double").alias("min_price"),
            F.max("l_extendedprice").cast("double").alias("max_price"),
        )
    )


# Triangle enumeration on the co-purchase graph (NEW r4): ordered wedge
# closure over the support>=2 edge list — each triangle (a<b<c) emitted
# once, two equi-join shuffles, no dedup pass. The oracle is the identical
# three-way self-join in SQL.
_COPURCHASE_TRI_SQL = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT e1.pa AS node_a, e1.pb AS node_b, e2.pb AS node_c
FROM pairs e1
JOIN pairs e2 ON e1.pb = e2.pa
JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the support>=2 co-purchase edge list as a shared side table: at scale
    # the graph IS a persisted artifact (rebuilt per corpus version, read by
    # every graph consumer) — triangles and BFS both read it, the basket
    # self-join runs once per (session, sf_dir)
    def build() -> DataFrame:
        items = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
        a = items.select("l_orderkey", F.col("l_partkey").alias("src"))
        b = items.select("l_orderkey", F.col("l_partkey").alias("dst"))
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("src") < F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2)
            .select("src", "dst")
        )

    return _side_table(spark, sf_dir, "copurchase_edges", build)


@register("copurchase_triangles", _COPURCHASE_TRI_SQL)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the support>=2 co-purchase graph via
    operators/graph.triangles (ordered wedge closure — see its docstring
    for the hub-degree bound). Reads the shared edge mart;
    copurchase_triangles_degree is the power-law-safe twin."""
    from .operators.graph import triangles

    return triangles(_copurchase_edges(spark, sf_dir))


# Degree-ordered twin (r9, r8 verdict item 7): the SAME oracle verbatim —
# triangles_degree_ordered re-orients edges by (degree, id) rank to bound
# hub wedge fan-out at O(sqrt(m)), then canonicalizes back to id order, so
# a hash mismatch here means the orientation or canonicalization broke.
@register("copurchase_triangles_degree", _COPURCHASE_TRI_SQL)
def copurchase_triangles_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the co-purchase graph via the degree-ordered wedge
    closure (operators/graph.triangles_degree_ordered) — identical rows to
    copurchase_triangles, hub-safe plan for power-law graphs."""
    from .operators.graph import triangles_degree_ordered

    return triangles_degree_ordered(_copurchase_edges(spark, sf_dir))


# TPC-H Q12 shape (NEW r4): the last of the 22 classic shapes — conditional
# two-way priority counts where the CASE discriminates on the ORDERS side
# after the fact→dim join, plus Q12's cross-table date-ordering residual
# (testdata has no shipmode/commit/receipt columns, so l_linestatus stands
# in for the mode key and shipped-after-ordered for the date ordering).
# The priority split rides ONE pass over the joined rows — no second scan.
_Q12_SQL = """
SELECT l.l_linestatus AS ship_class,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate > o.o_orderdate
GROUP BY l.l_linestatus
"""


@register("q12_priority_lines_by_status", _Q12_SQL)
def q12_priority_lines_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per-shipclass counts of high- vs low-priority
    lines in one shipping year. The year range-predicates push to the
    lineitem scan (row-group pruning — never year()), the orders side
    projects only (key, date, priority), and the shipped-after-ordered
    residual rides the join; both conditional sums share one aggregate
    pass. Completes the 22/22 TPC-H shape sweep."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_linestatus", "l_shipdate")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style LM-perplexity quality gate (NEW r4): an add-0.5-smoothed
# conditional character-trigram LM is TRAINED on the deterministic hash-split
# train slice and scores the held-out documents; a second query buckets the
# scores into per-language perplexity terciles (head/middle/tail — exactly
# CCNet's partition). Everything is relational, so the DuckDB oracle replays
# the model term-for-term; 6dp rounding absorbs summation-order ulps (the
# BM25 contract). The model mart is charset-bounded → broadcast at any SF.
# ---------------------------------------------------------------------------
from .operators.lm import perplexity_scores, train_char_trigram_lm  # noqa: E402

_PPL_SQL = r"""
WITH split AS MATERIALIZED (
    SELECT doc_id, lower(text) AS t,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' AS is_train
    FROM documents
),
tr AS (
    SELECT unnest(list_transform(
               generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS gram
    FROM split WHERE is_train AND length(t) >= 3
),
tri AS MATERIALIZED (
    SELECT substr(gram, 1, 2) AS ctx, substr(gram, 3, 1) AS nxt,
           CAST(count(*) AS DOUBLE) AS n_tri
    FROM tr GROUP BY 1, 2
),
ctxt AS (SELECT ctx, SUM(n_tri) AS n_ctx FROM tri GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT nxt) AS DOUBLE) AS v_chars FROM tri),
tg AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, length(t) - 2), i -> substr(t, i, 3))) AS gram
    FROM split WHERE NOT is_train AND length(t) >= 3
),
scored AS (
    SELECT g.doc_id,
           ln((COALESCE(t.n_tri, 0.0) + 0.5)
              / (COALESCE(c.n_ctx, 0.0) + 0.5 * v.v_chars)) AS logp
    FROM tg g
    LEFT JOIN tri t ON t.ctx = substr(g.gram, 1, 2) AND t.nxt = substr(g.gram, 3, 1)
    LEFT JOIN ctxt c ON c.ctx = substr(g.gram, 1, 2)
    CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       ROUND(SUM(logp) / count(*), 6) AS avg_logp,
       ROUND(exp(-(SUM(logp) / count(*))), 6) AS ppl
FROM scored GROUP BY doc_id
"""


def _trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trained LM as a side table, like the signature marts: at scale the
    # model is a persisted charset³-bounded table keyed by model version
    def build():
        d = _dsplit(_t(spark, sf_dir, "documents"), "doc_id")
        return train_char_trigram_lm(d.filter(F.col("split") == "train"), "text")

    return _side_table(spark, sf_dir, "trigram_lm", build)


@register("trigram_perplexity_scores", _PPL_SQL)
def trigram_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity of the held-out split under the in-engine
    char-trigram LM (operators/lm.py) — the CCNet quality signal. The
    model and its context totals broadcast; the only shuffle is the
    per-doc aggregate."""
    docs = _dsplit(_t(spark, sf_dir, "documents"), "doc_id")
    held_out = docs.filter(F.col("split") != "train").select("doc_id", "text")
    return perplexity_scores(held_out, _trigram_lm(spark, sf_dir), "text", "doc_id")


_CCNET_SQL = f"""
WITH scores AS MATERIALIZED (
{_PPL_SQL}
),
b AS (
    SELECT d.lang, s.ppl,
           ntile(3) OVER (PARTITION BY d.lang ORDER BY s.ppl, s.doc_id) AS bucket
    FROM scores s JOIN documents d USING (doc_id)
)
SELECT lang, CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl
FROM b GROUP BY lang, bucket
"""


@register("ccnet_perplexity_buckets", _CCNET_SQL)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partition: per-language perplexity
    terciles over the scored held-out docs (ntile on the ROUNDED ppl with
    doc_id tiebreak — total order, so bucket boundaries are
    engine-identical). Downstream pipelines sample training data by
    bucket; this emits each bucket's size and ppl range."""
    scores = trigram_perplexity_scores(spark, sf_dir)
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    return (
        scores.join(langs, "doc_id")
        .withColumn("bucket", F.ntile(3).over(w).cast("int"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
    )


# EXECUTED bucketed co-located join (NEW r4): promotes sources/bucketing.py
# from test-only to the catalog. Both tables land bucketed+sorted on the
# order key, then the join AND the same-key aggregation run with ZERO
# exchanges — the shuffle was paid once at write time. At 100 TB this is
# the difference between re-shuffling the fact on every run and never
# shuffling it again; the plan guard lives in tests/test_skew_bucketing.py.
_BUCKETED_CONFS = {
    # tiny test SFs auto-broadcast the orders side, and a broadcast join
    # makes the planner ignore bucketing ("disabled by query planner"); at
    # real scale neither side broadcasts, so pin the non-broadcast path —
    # the result is join-strategy-independent either way.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}

_BUCKETED_JOIN_SQL = """
SELECT l.l_orderkey AS order_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       MAX(o.o_orderpriority) AS priority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY l.l_orderkey
"""


@register("bucketed_colocated_join", _BUCKETED_JOIN_SQL, kind="executed")
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED bucketed layout end-to-end: lineitem and orders written as
    8-bucket tables sorted on the order key (sources/bucketing.py), then
    joined and aggregated ON the bucket key — zero Exchange operators in
    the executed plan (the status filter rides the bucketed scan without
    disturbing co-location). Unique per-call database under a temp
    location, dropped CASCADE afterwards."""
    import uuid as _uuid

    from .sources.bucketing import write_bucketed

    db = f"bucketed_{_uuid.uuid4().hex[:8]}"
    with _scratch_dir(prefix=db + "_") as base:
        try:
            spark.sql(f"CREATE DATABASE {db} LOCATION '{base}'")
            li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
            o = _t(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderstatus", "o_orderpriority"
            )
            write_bucketed(
                li, f"{db}.lineitem_b", ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"]
            )
            write_bucketed(
                o, f"{db}.orders_b", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"]
            )
            with _conf_pin(spark, _BUCKETED_CONFS):
                lb = spark.table(f"{db}.lineitem_b")
                ob = spark.table(f"{db}.orders_b").filter(F.col("o_orderstatus") == "F")
                out = (
                    lb.join(ob, lb.l_orderkey == ob.o_orderkey)
                    .groupBy(F.col("l_orderkey").alias("order_id"))
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("n_lines"),
                        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                        .cast("double")
                        .alias("revenue"),
                        F.max("o_orderpriority").alias("priority"),
                    )
                )
                return out.localCheckpoint()
        finally:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


# percent_rank + cume_dist (NEW r4): the two relative-position window
# functions the window surface didn't cover yet. Both are pure functions of
# rank/row-position within ties, so an ORDER BY with ties is still
# engine-deterministic; the selective p_size filter applies AFTER the
# window (the distribution is over the WHOLE brand, the output is small).
_PCT_RANK_SQL = """
SELECT p_partkey, p_brand, CAST(p_retailprice AS DOUBLE) AS price,
       pct_rank, cume
FROM (
    SELECT p_partkey, p_brand, p_retailprice, p_size,
           ROUND(percent_rank() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice), 6) AS pct_rank,
           ROUND(cume_dist() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice), 6) AS cume
    FROM part
) WHERE p_size = 50
"""


@register("brand_price_percent_rank", _PCT_RANK_SQL)
def brand_price_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative price position of size-50 parts within their brand:
    percent_rank (rank-based, 0 at the min) and cume_dist (<=-fraction)
    over the full brand partition, filtered afterwards — one window
    shuffle on p_brand, WindowExec streams each partition once."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    return (
        p.select(
            "p_partkey",
            "p_brand",
            F.col("p_retailprice").cast("double").alias("price"),
            "p_size",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("p_size") == 50)
        .drop("p_size")
    )


# BFS hop distances (NEW r4): level-synchronous frontier expansion from the
# smallest node of the support>=2 co-purchase graph, capped at 4 hops —
# the third Pregel-shape operator next to PageRank and label-propagation
# components. The oracle's bounded recursive CTE takes MIN(dist) over all
# walks (UNION dedups per (node, dist), so it can't blow up on hubs);
# first-touch BFS reaches the same fixpoint.
_BFS_SQL = """
WITH RECURSIVE li AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
),
e2 AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
edges AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM e2 UNION ALL SELECT pb, pa FROM e2
),
seed AS (SELECT MIN(u) AS s FROM edges),
walk(node, dist) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.v, w.dist + 1 FROM walk w JOIN edges e ON e.u = w.node WHERE w.dist < 4
)
SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM walk GROUP BY node
"""


@register("bfs_copurchase_distances", _BFS_SQL)
def bfs_copurchase_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-hop BFS distances from the smallest co-purchase node via
    operators/graph.bfs_distances — one frontier-join + settled anti-join
    per level, no driver node state (the per-level isEmpty probe is a
    scalar read, the Pregel convention throughout operators/graph).
    Reads the shared edge mart, like triangles."""
    from .operators.graph import bfs_distances

    edges = _copurchase_edges(spark, sf_dir)
    seed = edges.select(F.col("src").alias("u")).unionByName(
        edges.select(F.col("dst").alias("u"))
    ).agg(F.min("u").alias("node"))
    return bfs_distances(edges, seed, max_depth=4)


# listagg (NEW r4): ordered string aggregation — Spark 4's ANSI
# listagg(...) WITHIN GROUP (ORDER BY ...) against DuckDB's string_agg
# with ORDER BY. The WITHIN GROUP ordering (name, then key for total
# order) is what makes a concatenated string engine-deterministic at all;
# the p_size filter keeps per-group strings bounded (at 100 TB an
# unbounded listagg is a single-row blow-up — cap or top-k first).
_LISTAGG_SQL = """
SELECT p_brand,
       string_agg(p_name, ',' ORDER BY p_name, p_partkey) AS names,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM part WHERE p_size = 50
GROUP BY p_brand
"""


@register("listagg_brand_part_names", _LISTAGG_SQL)
def listagg_brand_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered listagg per brand through the SQL surface (WITHIN GROUP is
    SQL-only; the DataFrame twin would be array_sort(collect_list) +
    array_join, which array-builds the same bounded group)."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("__la_part")
    return spark.sql(
        """
        SELECT p_brand,
               listagg(p_name, ',') WITHIN GROUP (ORDER BY p_name, p_partkey) AS names,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM __la_part WHERE p_size = 50
        GROUP BY p_brand
        """
    )


# unpivot/melt (NEW r4): the wide→long reshape through the NATIVE
# DataFrame.unpivot (Expand, one pass — not a self-union that rescans the
# aggregate three times). Metrics are rounded in DECIMAL before melting;
# the oracle replays with UNION ALL (the standard relational expansion).
_UNPIVOT_SQL = """
WITH s AS MATERIALIZED (
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM s
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM s
UNION ALL
SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM s
"""


@register("unpivot_flag_metrics", _UNPIVOT_SQL)
def unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-flag sums melted to (flag, metric, value) rows via the
    native unpivot — the inverse of the pivot query and the shape every
    metrics store ingests. One aggregate pass, one Expand."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# Native recursive CTE (NEW r4): Spark 4.1 executes WITH RECURSIVE
# (UnionLoop) — probed: UNION ALL only (UNION-dedup raises
# UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, so cyclic-graph walks still belong
# to the Pregel operators in operators/graph.py; the oracle-side BFS CTE
# keeps its UNION dedup because DuckDB supports it). The demo domain is
# therefore ACYCLIC by construction: the binary hierarchy parent = key DIV 2
# over part, rolled up so every near-root ancestor aggregates its whole
# descendant chain — n·log n recursion rows, no explosion.
_RCTE_SQL = """
WITH RECURSIVE anc(node, anc, depth) AS (
    SELECT p_partkey, p_partkey, 0 FROM part
    UNION ALL
    SELECT a.node, a.anc // 2, a.depth + 1 FROM anc a WHERE a.anc > 1
)
SELECT a.anc AS ancestor,
       CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(MAX(a.depth) AS INTEGER) AS max_depth,
       CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM anc a JOIN part p ON p.p_partkey = a.node
WHERE a.anc < 32
GROUP BY a.anc
"""


@register("recursive_hierarchy_rollup", _RCTE_SQL)
def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup through Spark 4.1's NATIVE WITH RECURSIVE: each
    part climbs its ancestor chain (halving — ~log2(max key) iterations,
    executed as UnionLoop), then every ancestor below 32 aggregates the
    price mass and depth of its entire descendant subtree. The recursion
    emits n·log n rows total, each level one co-partitioned self-join —
    the shape a bill-of-materials / org-chart rollup has at scale."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("__rc_part")
    return spark.sql(
        """
        WITH RECURSIVE anc(node, anc, depth) AS (
            SELECT p_partkey, p_partkey, 0 FROM __rc_part
            UNION ALL
            SELECT a.node, a.anc DIV 2, a.depth + 1 FROM anc a WHERE a.anc > 1
        )
        SELECT a.anc AS ancestor,
               CAST(COUNT(*) AS BIGINT) AS n_desc,
               CAST(MAX(a.depth) AS INT) AS max_depth,
               CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM anc a JOIN __rc_part p ON p.p_partkey = a.node
        WHERE a.anc < 32
        GROUP BY a.anc
        """
    )


# Correlated LATERAL join surface: top-2 customers per nation expressed
# the way a SQL user writes it (LATERAL ... ORDER BY ... LIMIT 2) rather
# than the window-rank rewrite; Catalyst decorrelates it itself.
_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
    SELECT c_name, c_acctbal FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t
"""


@register("lateral_top2_customers", _LATERAL_SQL)
def lateral_top2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through spark.sql — the per-row
    dependent join surface (top-2 customers by balance per nation).
    Catalyst rewrites the correlation; no manual window needed. Exercises
    the SQL path end-to-end exactly as a user would write it."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("__lat_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM __lat_nation n, LATERAL (
            SELECT c_name, c_acctbal FROM __lat_customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


# Spark 4 VARIANT surface: semi-structured props through parse_json +
# variant_get — the open-format answer to shredding JSON at 100 TB
# (binary variant encoding decodes fields without re-parsing text).
# Same aggregate as json_props_extract, through the VARIANT path.
_VARIANT_PROPS_SQL = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(COUNT(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_present
FROM events
WHERE event_id <= 20000
GROUP BY event_type
"""


@register("events_props_variant", _VARIANT_PROPS_SQL)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` field reads — at scale the parse happens at ingest
    and every downstream query decodes fields without re-tokenizing
    JSON text. try-semantics: absent keys/null props yield NULL and drop
    out of SUM/COUNT, mirroring the ->> oracle."""
    e = _events(spark, sf_dir).filter(F.col("event_id") <= 20000)
    v = e.select(
        "event_type",
        F.expr("try_variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("k_sum"),
        F.count("k").alias("k_present"),
    )


# Token-budget mixture: the unit data mixtures are really specified in.
# Per language, docs are taken in identity-hash order until 3000 tokens;
# the boundary doc crossing the budget is included.
_TOKEN_BUDGET_SQL = """
WITH t AS (
    SELECT doc_id, lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
                END AS BIGINT) AS n_tokens,
           substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
    FROM documents
),
c AS (
    SELECT doc_id, lang, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS cum_tokens_before
    FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens_before
FROM c WHERE cum_tokens_before < 3000
"""

from .operators.sampling import token_budget_sample  # noqa: E402


@register("token_budget_mixture", _TOKEN_BUDGET_SQL)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget sampling (3000 tokens each): the
    mixture arm a training-run recipe actually asks for — contribution
    measured in token mass, deterministic identity-hash order, integer
    cumulative sums (operators/sampling.token_budget_sample)."""
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit(""))) + F.lit(1)
    )
    out = token_budget_sample(
        d.withColumn("n_tokens", tokens.cast("long")),
        "lang", "n_tokens", "doc_id", budget=3000,
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens_before")


# Incremental view maintenance EXECUTED: three delta batches of lineitem
# each aggregate THEMSELVES and additively merge into a mart — the fact
# is never re-scanned — and the converged mart must equal the one-shot
# aggregate. DECIMAL partial sums stay exact under re-aggregation.
_IVM_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY 1, 2
"""


@register("incremental_agg_mart", _IVM_SQL, kind="executed")
def incremental_agg_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive aggregate-mart maintenance (IVM) EXECUTED: lineitem
    arrives as three disjoint delta batches; each batch computes its own
    partial aggregate and merges key-wise into the mart
    (sources/sinks.merge_aggregate_mart_to_path) — O(delta) per ingest,
    the fact never re-scanned. The converged mart hash-matches the
    one-shot batch aggregate; DECIMAL partials keep every merge exact."""
    from .sources.sinks import merge_aggregate_mart_to_path

    li = _t(spark, sf_dir, "lineitem")
    with _scratch_dir(prefix="ivm_") as base:
        target = os.path.join(base, "mart")
        keys = ["l_returnflag", "l_linestatus"]
        for part in range(3):
            delta = li.filter(F.col("l_orderkey") % 3 == part)
            agg = delta.groupBy(*keys).agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
            )
            merge_aggregate_mart_to_path(agg, target, keys, ["n_rows", "sum_qty", "sum_price"])
        mart = spark.read.parquet(target)
        return mart.select(
            *keys,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_price").cast("double").alias("sum_price"),
        ).localCheckpoint()


# S7 under the oracle: point-lookup enrichment — the reference's per-row
# dim fetch (one SELECT per key) becomes a broadcast left join with
# COALESCE defaults for missing keys; same row count in as out.
_POINT_LOOKUP_SQL = """
SELECT o.o_orderkey, o.o_custkey,
       COALESCE(c.c_name, 'UNKNOWN') AS customer_name,
       COALESCE(c.c_mktsegment, 'NONE') AS segment,
       CAST(COALESCE(c.c_acctbal, 0.0) AS DOUBLE) AS acctbal
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey <= 5000
"""


@register("point_lookup_enrichment", _POINT_LOOKUP_SQL)
def point_lookup_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (SURVEY §2.1): the reference enriches row-by-row with one dim
    SELECT per key; Spark-first, the dim broadcasts and the lookup is a
    single left join with NULL-safe defaults — per-row latency becomes
    one map-side stage, row count preserved."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    c = _t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("c_name", F.lit("UNKNOWN")).alias("customer_name"),
        F.coalesce("c_mktsegment", F.lit("NONE")).alias("segment"),
        F.coalesce(F.col("c_acctbal"), F.lit(0.0)).cast("double").alias("acctbal"),
    )


# E3 under the oracle: a [start, end] range exploding to one row per
# day (the reference's visits→daily fan-out) via sequence() — bounded
# by the 60-day order→ship cap in the predicate, so the fan-out is
# bounded per row by construction, never data-dependent-unbounded.
_DAYS_EXPLODE_SQL = """
SELECT l.l_orderkey, l.l_linenumber,
       CAST(u.d AS DATE) AS active_day
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey,
     LATERAL unnest(generate_series(CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE),
                                    INTERVAL 1 DAY)) AS u(d)
WHERE l.l_orderkey <= 2000
  AND l.l_shipdate >= o.o_orderdate
  AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
"""


@register("order_ship_days_explode", _DAYS_EXPLODE_SQL)
def order_ship_days_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 (SURVEY §2.9): a date RANGE exploding to daily rows —
    ``sequence(start, end, 1 day)`` + explode, the reference's
    visits→daily fan-out. The 60-day cap rides the join predicate so the
    per-row fan-out is bounded by construction; at scale an unbounded
    range explode is a blow-up, cap it or spine-join instead."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.expr("o_orderdate + INTERVAL 60 DAYS"))
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.explode(
            F.sequence(
                F.col("o_orderdate").cast("date"),
                F.col("l_shipdate").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("active_day"),
    )


# Retrieval composition: ANN hits re-joined to the DOCUMENT corpus with
# quality/length metadata — the retrieve-then-read shape of a RAG or
# hard-negative-mining pipeline (vector index answers ids, the document
# store serves the payloads; ids align 1:1 here as vec_id == doc_id).
_SEMANTIC_SEARCH_SQL = f"""
WITH hits AS (
    SELECT query_id, cand_id, cos_sim, rnk FROM (
{_KNN_SQL}
    ) ksub
)
SELECT h.query_id, h.cand_id, h.cos_sim, h.rnk,
       d.lang, d.n_chars,
       CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
                 ELSE length(trim(d.text)) - length(replace(trim(d.text), ' ', '')) + 1
            END AS BIGINT) AS cand_tokens
FROM hits h JOIN documents d ON d.doc_id = h.cand_id
"""


@register("semantic_search_docs", _SEMANTIC_SEARCH_SQL)
def semantic_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-read: exact-cosine top-3 ids from the embedding
    index joined back to the document store for language/length metadata
    — the two-table shape every RAG / hard-negative pipeline runs (the
    index never stores payloads; the doc join is id-keyed and broadcast
    here because the hit set is tiny). Composes the verified knn family
    with the documents table."""
    hits = knn_cosine_top3(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit(""))) + F.lit(1)
    )
    meta = d.select("doc_id", "lang", "n_chars", tokens.cast("long").alias("cand_tokens"))
    return hits.join(meta, hits.cand_id == meta.doc_id).select(
        "query_id", "cand_id", "cos_sim", "rnk", "lang", "n_chars", "cand_tokens"
    )


# ===========================================================================
# Round-5 continuation: DISTINCT listagg, RocksDB-state executed stream,
# corr/regr aggregates, regexp_extract_all, max_by last-event twin,
# per-group head/tail sampling, cross-engine table checksums, global-ntile
# CLV deciles.
# ===========================================================================

# listagg DISTINCT (r4 verdict's suggested SQL-surface corner): the ordered
# DISTINCT concatenation, via the DataFrame twin this time —
# array_join(array_sort(collect_set)) — so both routes to the same result
# are covered (listagg_brand_part_names exercises the SQL WITHIN GROUP
# form). collect_set is a partial-aggregable set union (map-side combine),
# and sorting AFTER the set bounds the sort to the distinct values — at
# 100 TB the distinct p_type set per brand is tiny even when the row count
# is not. An unbounded-cardinality column would need a top-k cap first.
_LISTAGG_DISTINCT_SQL = """
SELECT p_brand,
       string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS types,
       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
FROM part WHERE p_size <= 10
GROUP BY p_brand
"""


@register("listagg_distinct_types", _LISTAGG_DISTINCT_SQL)
def listagg_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered DISTINCT listagg per brand through the DataFrame surface:
    the sort runs over the already-deduplicated set, so the ordering is
    total (distinct strings) and engine-deterministic."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size") <= 10)
        .groupBy("p_brand")
        .agg(
            F.array_join(F.array_sort(F.collect_set("p_type")), ",").alias("types"),
            F.count_distinct("p_type").alias("n_types"),
        )
    )


# Pearson correlation / least-squares regression aggregates per group —
# the feature-calibration query a curation pipeline runs to sanity-check
# that two quality signals actually co-vary. corr/regr_slope/regr_r2 are
# algebraic aggregates (one shuffle, map-side partials); results are in
# bounded ranges (corr ∈ [-1,1], slope ≈ chars/token) so the repo's 6dp
# rounding contract absorbs summation-order ulps.
_DOC_CORR_SQL = """
WITH t AS (
  SELECT lang,
         CAST(n_chars AS DOUBLE) AS x,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
              END AS DOUBLE) AS y
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(corr(x, y), 6) AS corr_chars_tokens,
       ROUND(regr_slope(x, y), 6) AS chars_per_token,
       ROUND(regr_r2(x, y), 6) AS r2
FROM t
GROUP BY lang
"""


@register("doc_feature_correlation", _DOC_CORR_SQL)
def doc_feature_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corr/regr_slope/regr_r2 between doc length in chars
    and in tokens (both deterministic closed-form features, so the oracle
    replays them exactly). regr_*(y, x) argument order: dependent first —
    identical in Spark and DuckDB."""
    d = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit(""))) + F.lit(1)
    )
    t = d.select(
        "lang",
        F.col("n_chars").cast("double").alias("x"),
        tokens.cast("double").alias("y"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.corr("x", "y"), 6).alias("corr_chars_tokens"),
        F.round(F.regr_slope("x", "y"), 6).alias("chars_per_token"),
        F.round(F.regr_r2("x", "y"), 6).alias("r2"),
    )


# regexp_extract_all + explode: the all-matches extraction shape (URL /
# email / identifier mining at corpus scale). The pattern is RE2-safe (no
# lookbehind — DuckDB contract) and matches real tokens in the synthetic
# corpus. Map-side extraction, one shuffle for the token rollup; the
# explode multiplies rows only by matches-per-doc (bounded by text
# length), never by corpus size.
_REGEX_TOKENS_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, 's[a-z]{3,}')) AS token
  FROM documents
)
SELECT token,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_hits
FROM tok
GROUP BY token
"""


@register("regex_token_extracts", _REGEX_TOKENS_SQL)
def regex_token_extracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All regex matches per document, exploded and rolled up per token.
    The pattern deliberately has no word-boundary anchors: Java and RE2
    agree on plain character classes, and leftmost non-overlapping
    all-match semantics are identical in both engines."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"s[a-z]{3,}"), F.lit(0))
        ).alias("token"),
    )
    return tok.groupBy("token").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_hits"),
    )


# max_by twin of last_event_per_user (W7): the aggregate route to
# first/last-per-group. The window route sorts EVERY key's full row set;
# max_by keeps one running (ordering, payload) pair per key and combines
# map-side, so at 100 TB it is one partial-aggregated shuffle with no
# per-key sort — the plan you want when only the argmax row matters. The
# ordering key is the (ts, event_id) struct: a TOTAL order (event_id
# unique), so the result is engine-deterministic; the oracle encodes the
# same order as a zero-padded string because DuckDB's arg_max takes only
# scalar ordering keys.
_LATEST_MAXBY_SQL = """
SELECT user_id,
       arg_max(event_type, printf('%020d|%020d', epoch_us(ts), event_id)) AS last_event_type,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_tus,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


@register("latest_event_max_by", _LATEST_MAXBY_SQL)
def latest_event_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last event per user via max_by over a (ts, event_id) struct —
    same answer as the row_number route (last_event_per_user), shuffle
    cost one partial aggregate instead of a per-key sort."""
    e = _events(spark, sf_dir).withColumn("tus", F.expr("ts DIV 1000"))
    return e.groupBy("user_id").agg(
        F.expr("max_by(event_type, struct(tus, event_id))").alias("last_event_type"),
        F.max("tus").alias("last_tus"),
        F.count(F.lit(1)).alias("n_events"),
    )


# Per-group head+tail sampling: the "show me each language's shortest and
# longest documents" inspection query every corpus review runs. One scan,
# two ROW_NUMBER windows over the same (total) ordering — partitioned by
# lang, so the sort shuffles by group key and never globally.
_HEAD_TAIL_SQL = """
WITH t AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id DESC) AS rd
  FROM documents
)
SELECT lang, doc_id, n_chars, 'head' AS sample_end, CAST(ra AS BIGINT) AS rn
FROM t WHERE ra <= 2
UNION ALL
SELECT lang, doc_id, n_chars, 'tail' AS sample_end, CAST(rd AS BIGINT) AS rn
FROM t WHERE rd <= 2
"""


@register("grouped_head_tail_docs", _HEAD_TAIL_SQL)
def grouped_head_tail_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-2 and last-2 docs per language by (n_chars, doc_id) — the
    total-order tiebreak (W7 invariant) keeps equal-length docs from
    straddling the cut differently per engine. In a tiny group a doc can
    be both head and tail; both rows are emitted, tagged.

    Single-pass plan: the oracle's UNION ALL would re-scan and re-window
    the table per branch in Spark (no CTE sharing across union arms), so
    the row is instead tagged by exploding a filtered struct array — ONE
    scan, ONE exchange, both row_numbers computed over the same lang
    partitioning (two sorts share the shuffle)."""
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    wa = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wd = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.desc("doc_id"))
    t = d.select(
        "lang", "doc_id", "n_chars",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wd).cast("long").alias("rd"),
    )
    tags = F.filter(
        F.array(
            F.struct(F.lit("head").alias("sample_end"), F.col("ra").alias("rn")),
            F.struct(F.lit("tail").alias("sample_end"), F.col("rd").alias("rn")),
        ),
        lambda s: s["rn"] <= 2,
    )
    return t.select(
        "lang", "doc_id", "n_chars", F.explode(tags).alias("s")
    ).select("lang", "doc_id", "n_chars", "s.sample_end", "s.rn")


# Cross-engine table fingerprint: the migration-validation op for "did the
# copy lose rows" at 100 TB — an order-independent per-partition checksum
# (SUM of a 32-bit slice of each row's md5 over its canonical string) that
# any engine can replay. Identity columns only: float payloads would need
# a fixed-point canonical format first (Java's %.2f HALF_UPs where C
# printf half-evens — documented trap, so `value` stays out). The md5 and
# the day-group are both map-side; one aggregate shuffle on event_date.
_CHECKSUM_SQL = """
WITH c AS (
  SELECT CAST(ts AS DATE) AS event_date,
         ('0x' || substr(md5(concat_ws('|',
             CAST(event_id AS VARCHAR), CAST(epoch_us(ts) AS VARCHAR),
             CAST(user_id AS VARCHAR), coalesce(event_type, '~'),
             coalesce(props, '~'))), 1, 8))::BIGINT AS v
  FROM events
)
SELECT event_date,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(v) AS BIGINT) AS day_checksum
FROM c
GROUP BY event_date
"""


@register("table_checksum_by_day", _CHECKSUM_SQL)
def table_checksum_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent daily checksum of the events table: md5 over a
    canonical '|'-joined row string, first 8 hex chars as int64, summed
    per day. SUM keeps (bounded) magnitude information that XOR would
    cancel on duplicated rows; the DuckDB side CASTs the HUGEINT sum back
    to BIGINT (the r4 type-gate class)."""
    e = _events(spark, sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.expr("ts DIV 1000").cast("string"),
        F.col("user_id").cast("string"),
        F.coalesce(F.col("event_type"), F.lit("~")),
        F.coalesce(F.col("props"), F.lit("~")),
    )
    v = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        e.select("event_date", v.alias("v"))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("day_checksum"),
        )
    )


# Customer-lifetime-value deciles: aggregate → DISTRIBUTED exact ntile →
# per-decile stats. The naive form (`Window.orderBy(clv, o_custkey)`) is a
# single-reducer global sort — the one plan shape that cannot survive 100×
# customer cardinality (the r8 verdict's sole perf-weak flag) — so the
# Spark side computes the identical total order with
# ``operators.ranking.distributed_ntile``: parallel range sort → contiguous
# per-partition ids → ≤32-row offset table → broadcast back → closed-form
# integer-DIV NTILE (see that docstring for the construction). The
# (clv, o_custkey) key is unique, so ties never straddle a range boundary
# and the plan reproduces NTILE bit-for-bit. CLV sums run in DECIMAL on
# both engines per the money contract.
_CLV_DECILES_SQL = """
WITH clv AS MATERIALIZED (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS clv
  FROM orders GROUP BY o_custkey
), d AS (
  SELECT o_custkey, clv,
         CAST(NTILE(10) OVER (ORDER BY clv, o_custkey) AS BIGINT) AS decile
  FROM clv
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(clv) AS DOUBLE) AS min_clv,
       CAST(MAX(clv) AS DOUBLE) AS max_clv,
       CAST(ROUND(SUM(clv), 2) AS DOUBLE) AS total_clv
FROM d GROUP BY decile
"""


@register("order_clv_deciles", _CLV_DECILES_SQL)
def order_clv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation of customer lifetime value: DECIMAL money sums,
    exact NTILE(10) over the (clv, o_custkey) total order computed with the
    distributed range-partition + offset plan (no single-reducer sort —
    see the block comment above), ntile cast long (the r4 int-width gate),
    per-decile stats re-aggregated."""
    o = _t(spark, sf_dir, "orders")
    clv = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("clv")
    )
    d = distributed_ntile(clv, 10, ["clv", "o_custkey"], tile_col="decile")
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("clv").cast("double").alias("min_clv"),
        F.max("clv").cast("double").alias("max_clv"),
        F.round(F.sum("clv"), 2).cast("double").alias("total_clv"),
    )


# T5 family under the 100 TB state-store choice, EXECUTED: a real
# update-mode streaming aggregation with per-user running totals whose
# state lives in RocksDB (`streaming/runner.ROCKSDB_STATE_CONFS`), two
# triggers (the second delivers a late slice), upsert-converged into a
# keyed mart. streaming_stateful_totals proves the applyInPandasWithState
# route on the default provider; this proves the NATIVE agg route on the
# provider a 1000-executor deployment would actually run (state larger
# than executor heap, incremental checkpoints).
_ROCKSDB_TOTALS_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events WHERE event_id <= 12000
GROUP BY user_id
"""


@register("rocksdb_user_totals_executed", _ROCKSDB_TOTALS_SQL, kind="streaming")
def rocksdb_user_totals_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals as a REAL two-trigger update-mode stream with
    RocksDB-backed aggregation state, merged into a keyed mart that must
    equal the batch aggregate value-for-value. Result is materialized
    (localCheckpoint) under the conf pin, so nothing the driver collects
    depends on the restored session confs."""
    from .streaming.runner import (
        ROCKSDB_STATE_CONFS,
        read_json_stream,
        run_upsert_stream,
        stream_shuffle_partitions,
    )

    e = _events(spark, sf_dir).filter(F.col("event_id") <= 12000).select(
        "event_id", "user_id", F.expr("ts DIV 1000").alias("tus"), "value"
    )

    with _scratch_dir(prefix="rocksdb_totals_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "target")
        ckpt = os.path.join(base, "ckpt")
        schema = _stage_drops(drops, e, _late_every_fifth)
        with _conf_pin(spark, ROCKSDB_STATE_CONFS):
            stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
            totals = stream.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_value"),
            )
            with stream_shuffle_partitions(spark, 2):
                _await_stream(run_upsert_stream(totals, target, ["user_id"], ckpt))
            return spark.read.parquet(target).select(
                "user_id", "n_events", "total_value"
            ).localCheckpoint()


# ===========================================================================
# Round-5 continuation: audio decode (the third real-media leg), sweep-line
# interval analytics, snapshot reconciliation, Markov transitions, and the
# forward direction of the as-of join.
# ===========================================================================

# REAL audio decode: synthesize valid RIFF/WAVE PCM-16 payloads (odd-sized
# JUNK chunk ahead of fmt — the parser must walk chunks and honor pad bytes)
# from the SQL-replayable sample formula in operators/multimodal.synth_pcm —
# channels 1+id%2, frames 12+id%7, rate 8000+(id%3)*4000, interleaved sample
# i = (id*37 + i*11) % 4096 - 2048 — then parse with the dependency-free
# decoder in operators/audiocodec.py and hash exact sample stats against
# this oracle. Interleave-sensitive: sum_ch0/sum_ch1 split by i % nch, so a
# decoder that ignores the channel count fails stereo rows.
_WAV_DECODE_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 1 + doc_id % 2 AS nch, 12 + doc_id % 7 AS nfr,
         8000 + (doc_id % 3) * 4000 AS sr
  FROM documents
),
s AS (
  SELECT doc_id, nch, nfr, sr, i.i AS i,
         (doc_id * 37 + i.i * 11) % 4096 - 2048 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, nch * nfr - 1)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(nch AS BIGINT) AS channels,
       CAST(16 AS BIGINT) AS bits,
       CAST(nfr AS BIGINT) AS n_frames,
       CAST(SUM(v) AS BIGINT) AS sum_all,
       CAST(SUM(CASE WHEN i % nch = 0 THEN v END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN i % nch = 1 THEN v END) AS BIGINT) AS sum_ch1,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
       CAST(MAX(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_sample,
       'ok' AS decode_status
FROM s
GROUP BY doc_id, nch, nfr, sr
"""


@register("wav_decode_stats", _WAV_DECODE_SQL)
def wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_audio_stats, synthesize_wavs

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return extract_audio_stats(synthesize_wavs(ids))


# Audio FEATURE extraction (NEW r8): the decode leg's second stage — energy
# (sum v²), zero crossings (sign flips; 0 counts non-negative), total
# variation (sum |Δ|), peak |v|, all over CHANNEL 0 of the decoded PCM.
# Exact integers end-to-end, so the oracle replays them via LAG over the
# same sample formula (ch0 frame f = interleaved index f*nch) — stereo rows
# fail if the kernel forgets to de-interleave before differencing.
_WAV_FEATURES_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 1 + doc_id % 2 AS nch, 12 + doc_id % 7 AS nfr FROM documents
),
c0 AS (
  SELECT doc_id, nfr, f.f AS f,
         (doc_id * 37 + (f.f * nch) * 11) % 4096 - 2048 AS v
  FROM dims, LATERAL (SELECT unnest(generate_series(0, nfr - 1)) AS f) f
),
lagged AS (
  SELECT doc_id, nfr, v,
         LAG(v) OVER (PARTITION BY doc_id ORDER BY f) AS pv
  FROM c0
)
SELECT doc_id AS media_id,
       CAST(MAX(nfr) AS BIGINT) AS n_frames,
       CAST(SUM(v * v) AS BIGINT) AS energy_ch0,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings_ch0,
       CAST(SUM(CASE WHEN pv IS NOT NULL THEN ABS(v - pv) ELSE 0 END)
            AS BIGINT) AS sum_abs_delta_ch0,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs_ch0,
       'ok' AS feature_status
FROM lagged
GROUP BY doc_id
"""


@register("wav_audio_features", _WAV_FEATURES_SQL)
def wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_audio_features, synthesize_wavs

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return extract_audio_features(synthesize_wavs(ids))


# Framed (short-time) audio features (NEW r8): the hop/window framing VAD /
# silence-trim / loudness gates run on — frame f covers ch0 samples
# [f*4, f*4 + 8); clips shorter than one window emit zero rows. Exact
# integers; the oracle replays the framing arithmetic over the interleaved
# synth formula (ch0 sample k = interleaved index k*nch).
_WAV_FRAMES_SQL = """
WITH dims AS MATERIALIZED (
  SELECT doc_id, 1 + doc_id % 2 AS nch, 12 + doc_id % 7 AS nfr FROM documents
),
fr AS (
  SELECT doc_id, nch, f.f AS frame_index
  FROM dims, LATERAL (SELECT unnest(generate_series(0, (nfr - 8) // 4)) AS f) f
  WHERE nfr >= 8
),
s AS (
  SELECT doc_id, frame_index, i.i AS i,
         (doc_id * 37 + ((frame_index * 4 + i.i) * nch) * 11) % 4096 - 2048 AS v
  FROM fr, LATERAL (SELECT unnest(generate_series(0, 7)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(frame_index AS BIGINT) AS frame_index,
       CAST(SUM(v * v) AS BIGINT) AS frame_energy,
       CAST(MAX(ABS(v)) AS BIGINT) AS frame_peak,
       'ok' AS frame_status
FROM s
GROUP BY doc_id, frame_index
"""


@register("wav_frame_features", _WAV_FRAMES_SQL)
def wav_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_audio_frames, synthesize_wavs

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return extract_audio_frames(synthesize_wavs(ids), window=8, hop=4)


# Content-defined chunking (NEW r8, operators/chunking.py cdc_chunks): the
# Rabin rolling-hash boundary scheme — a cut wherever the EXACT int64
# polynomial of the trailing 8 chars (base 31, no modulus: max < 2^45)
# divides by 64, so boundaries resynchronize across edits and near-dup
# documents share chunks a fixed-offset splitter would mis-align. Pure
# native array expressions (map-only, zero Python/shuffle); DuckDB replays
# the identical list pipeline.
_CDC_POWS = "[1,31,961,29791,923521,28629151,887503681,27512614111]"
_CDC_CHUNKS_SQL = f"""
WITH base AS (
  SELECT doc_id, text AS txt, length(text) AS n FROM documents WHERE length(text) > 0
),
cut AS (
  SELECT doc_id, txt, n,
         list_filter(generate_series(8, greatest(n, 8)),
           p -> p <= n AND
                list_sum(list_transform(generate_series(0, 7),
                  k -> ascii(substr(txt, CAST(p - 7 + k AS INT), 1))
                       * ({_CDC_POWS})[k + 1])) % 64 = 0) AS cuts
  FROM base
),
e AS (
  SELECT doc_id, txt, n,
         CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
              ELSE list_append(cuts, n) END AS ends
  FROM cut
)
SELECT doc_id,
       CAST(i.i - 1 AS BIGINT) AS chunk_index,
       CAST(CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END AS BIGINT) AS chunk_start,
       CAST(ends[i.i] - (CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END) + 1
            AS BIGINT) AS chunk_len,
       md5(substr(txt, CAST(CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END AS INT),
                  CAST(ends[i.i] - (CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END) + 1
                       AS INT))) AS chunk_hash
FROM e, LATERAL (SELECT unnest(generate_series(1, len(ends))) AS i) i
"""


@register("cdc_chunks_docs", _CDC_CHUNKS_SQL)
def cdc_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"), "text", "doc_id")


# Chunk-level dedup over the CDC chunks: one hash-groupBy (map-side
# combined) — exact dedup at sub-document grain, the storage/dataset-dedup
# payoff of content-defined boundaries. Canonical owner = lexicographic
# min (doc_id, chunk_index); savings = (copies-1) * chunk bytes.
_CDC_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, text AS txt, length(text) AS n FROM documents WHERE length(text) > 0
),
cut AS (
  SELECT doc_id, txt, n,
         list_filter(generate_series(8, greatest(n, 8)),
           p -> p <= n AND
                list_sum(list_transform(generate_series(0, 7),
                  k -> ascii(substr(txt, CAST(p - 7 + k AS INT), 1))
                       * ({_CDC_POWS})[k + 1])) % 64 = 0) AS cuts
  FROM base
),
e AS (
  SELECT doc_id, txt, n,
         CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
              ELSE list_append(cuts, n) END AS ends
  FROM cut
),
chunks AS (
  SELECT doc_id,
         CAST(i.i - 1 AS BIGINT) AS chunk_index,
         CAST(ends[i.i] - (CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END) + 1
              AS BIGINT) AS chunk_len,
         md5(substr(txt, CAST(CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END AS INT),
                    CAST(ends[i.i] - (CASE WHEN i.i = 1 THEN 1 ELSE ends[i.i - 1] + 1 END) + 1
                         AS INT))) AS chunk_hash
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(ends))) AS i) i
),
ranked AS (
  SELECT chunk_hash, doc_id, chunk_index, chunk_len,
         ROW_NUMBER() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_index) AS rn,
         COUNT(*) OVER (PARTITION BY chunk_hash) AS c,
         MAX(chunk_len) OVER (PARTITION BY chunk_hash) AS ml
  FROM chunks
)
SELECT chunk_hash,
       CAST(c AS BIGINT) AS n_copies,
       doc_id AS canonical_doc_id,
       CAST(chunk_index AS BIGINT) AS canonical_chunk_index,
       CAST((c - 1) * ml AS BIGINT) AS dedup_savings_bytes
FROM ranked WHERE rn = 1
"""


@register("cdc_chunk_dedup", _CDC_DEDUP_SQL)
def cdc_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.chunking import cdc_chunk_dedup, cdc_chunks

    return cdc_chunk_dedup(cdc_chunks(_t(spark, sf_dir, "documents"), "text", "doc_id"))


# WARC record source (NEW r8, sources/warc.py): the on-disk format of
# web-scale corpora (Common Crawl). Synth stage emits valid multi-record
# WARC/1.0 streams — EVEN ids as concatenated per-record GZIP MEMBERS (the
# Common Crawl layout, inflated member-by-member with strict eof checks),
# odd ids plain — and the parse stage walks headers by NAME, enforces
# Content-Length framing and the record separator, and hashes each
# payload. The oracle replays record counts, URIs, lengths, and payload
# md5s from the generating formula; the `compressed` column proves the
# gzip leg executed for every even id.
_WARC_SQL = """
WITH r AS (
  SELECT d.doc_id, j.j AS record_index,
         20 + (d.doc_id + j.j) % 15 AS L
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(0, 1 + d.doc_id % 3)) AS j) j
)
SELECT doc_id AS media_id,
       CAST(record_index AS BIGINT) AS record_index,
       CASE WHEN record_index % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
       'http://example.com/' || doc_id || '/' || record_index AS target_uri,
       CAST(L AS BIGINT) AS content_length,
       md5(array_to_string(list_transform(generate_series(0, L - 1),
            i -> chr(97 + CAST((doc_id * 43 + record_index * 17 + i * 7) % 26 AS INT))), ''))
           AS payload_hash,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS compressed,
       'ok' AS parse_status
FROM r
"""


@register("warc_record_parse", _WARC_SQL)
def warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import parse_warc_streams, synthesize_warc_streams

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return parse_warc_streams(synthesize_warc_streams(ids))







# Sweep-line peak concurrency (operators/intervals.py): per priority class,
# the maximum number of orders simultaneously inside their 7-day half-open
# fulfillment window [orderdate, orderdate+7d), and when the peak begins.
# Two boundary rows per interval, per-ts delta collapse (deterministic
# running sum; ends netting starts at the same instant = half-open), one
# hash partitioning shared by every pass — never the O(n²)-per-key
# self-join overlap test. Epochs are timezone-free microseconds on both
# engines (``_epoch_us`` == DuckDB epoch_us on naive ts).
_US_PER_WEEK = 7 * 86_400_000_000

_PEAK_CONCURRENCY_SQL = f"""
WITH iv AS (
  SELECT o_orderpriority, epoch_us(o_orderdate) AS s,
         epoch_us(o_orderdate) + {_US_PER_WEEK} AS e
  FROM orders
),
d AS (
  SELECT o_orderpriority, s AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT o_orderpriority, e, -1 FROM iv
),
pt AS (SELECT o_orderpriority, ts, SUM(delta) AS delta FROM d GROUP BY 1, 2),
r AS (
  SELECT o_orderpriority, ts,
         SUM(delta) OVER (PARTITION BY o_orderpriority ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_count
  FROM pt
),
p AS (
  SELECT o_orderpriority, ts, open_count,
         MAX(open_count) OVER (PARTITION BY o_orderpriority) AS peak
  FROM r
)
SELECT o_orderpriority, CAST(peak AS BIGINT) AS peak_open,
       CAST(MIN(ts) AS BIGINT) AS peak_start
FROM p WHERE open_count = peak
GROUP BY 1, 2
"""


def _epoch_us(col: str) -> Column:
    """Zone-free microseconds since 1970-01-01 of a naive (TIMESTAMP_NTZ)
    column: DuckDB's ``epoch_us``. Built from the wall-clock fields, which
    read no zone. ``timestampdiff`` from the NTZ epoch does not do: it
    works on session-zone instants, so a local midnight inside a DST gap
    (1995-10-15 under America/Sao_Paulo) comes out an hour late."""
    return F.expr(
        f"unix_date(CAST({col} AS DATE)) * 86400000000L + hour({col}) * 3600000000L"
        f" + minute({col}) * 60000000L + CAST(date_part('SECOND', {col}) * 1000000 AS BIGINT)"
    )


@register("peak_concurrent_orders", _PEAK_CONCURRENCY_SQL)
def peak_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.intervals import peak_concurrency

    od_us = _epoch_us("o_orderdate")
    iv = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        od_us.alias("s"),
        (od_us + F.lit(_US_PER_WEEK)).alias("e"),
    )
    # quarterly cells: 5 priority groups alone would cap the running-sum
    # parallelism at 5 tasks; the two-level scan runs ~5×28 local scans plus
    # one trivial offset window (identical result — prefix sums associate).
    out = peak_concurrency(
        iv, ["o_orderpriority"], "s", "e", cell_width=90 * 86_400_000_000
    )
    return out.select(
        "o_orderpriority",
        F.col("peak_open").cast("long").alias("peak_open"),
        F.col("peak_start").cast("long").alias("peak_start"),
    )


# Markov next-event transition matrix: lag() per user in event-time order
# (event_id tiebreak = total order), then (prev, next) counts and the
# row-normalized transition probability — the sequence-model feature a
# behavioral pipeline derives before training. One shuffle for the lag
# window, one for the pair aggregation; probability is the RAW IEEE quotient
# of two exact integers — identical bit-for-bit on both engines. (Deliberate:
# ROUND(x, 6) on a double is HALF_UP in Spark but half-even in DuckDB, so an
# exact-half at the 6th decimal would break the oracle — the try_divide
# lesson; see NOTES.md binary-tie entry.)
_TRANSITIONS_SQL = """
WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
f AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev_type,
         event_type AS next_type
  FROM e
)
SELECT prev_type, next_type, COUNT(*) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE)
           / SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS p_transition
FROM f WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


@register("event_type_transitions", _TRANSITIONS_SQL)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts DIV 1000").alias("tus"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    f = e.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    counts = f.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n_transitions"))
    return counts.withColumn(
        "p_transition",
        F.col("n_transitions").cast("double")
        / F.sum("n_transitions").over(Window.partitionBy("prev_type")),
    )


# Snapshot reconciliation (operators/diff.py): row-level diff of a simulated
# next-day part snapshot against today's — keys divisible by 53 deleted,
# retail price +100.0 where divisible by 7, keys divisible by 101 re-added
# shifted by 1e6 (new rows). ONE full-outer shuffle join, null-safe
# comparison; emits only the changed keys (small even when the inputs are
# not). The cheap "did anything change?" twin is table_checksum_by_day.
_SNAPSHOT_DIFF_SQL = """
WITH old AS (SELECT p_partkey, p_retailprice FROM part),
new AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN p_retailprice + 100.0
              ELSE p_retailprice END AS p_retailprice
  FROM part WHERE p_partkey % 53 <> 0
  UNION ALL
  SELECT p_partkey + 1000000, p_retailprice FROM part WHERE p_partkey % 101 = 0
)
SELECT COALESCE(o.p_partkey, n.p_partkey) AS p_partkey,
       CASE WHEN o.p_partkey IS NULL THEN 'added'
            WHEN n.p_partkey IS NULL THEN 'removed'
            WHEN o.p_retailprice IS DISTINCT FROM n.p_retailprice THEN 'changed'
       END AS change_type,
       o.p_retailprice AS old_p_retailprice,
       n.p_retailprice AS new_p_retailprice
FROM old o FULL JOIN new n ON o.p_partkey = n.p_partkey
WHERE o.p_partkey IS NULL OR n.p_partkey IS NULL
   OR o.p_retailprice IS DISTINCT FROM n.p_retailprice
"""


@register("snapshot_table_diff", _SNAPSHOT_DIFF_SQL)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.diff import snapshot_diff

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    new = (
        p.filter(F.col("p_partkey") % 53 != 0)
        .withColumn(
            "p_retailprice",
            F.when(F.col("p_partkey") % 7 == 0, F.col("p_retailprice") + F.lit(100.0))
            .otherwise(F.col("p_retailprice")),
        )
        .unionByName(
            p.filter(F.col("p_partkey") % 101 == 0).select(
                (F.col("p_partkey") + F.lit(1000000)).alias("p_partkey"),
                "p_retailprice",
            )
        )
    )
    return snapshot_diff(p, new, ["p_partkey"], ["p_retailprice"])


# Forward as-of join (direction='forward' of operators/asof.asof_join —
# same one-shuffle union+window plan, flipped frame): for every purchase,
# the FIRST click/view at or after it = time-to-next-touch, the conversion
# twin of last_touch_attribution. Oracle: DuckDB native ASOF with the
# reversed inequality; the oracle pre-dedupes right rows tied on (user, ts)
# to the smallest event_id because native ASOF has no tiebreak — the
# smallest tiebreak, i.e. the one our mirrored descending-__tie ordering
# selects (the forward branch scans time-reversed, so DESC __tie picks the
# minimum event_id among rows tied on ts).
_NEXT_TOUCH_SQL = """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tns FROM events),
p AS (SELECT event_id, user_id, tns FROM e WHERE event_type = 'purchase'),
t AS (
    SELECT user_id, tns, event_id, event_type
    FROM e WHERE event_type IN ('click', 'view')
    QUALIFY row_number() OVER (PARTITION BY user_id, tns ORDER BY event_id) = 1
)
SELECT p.event_id, p.user_id, p.tns AS purchase_ts,
       t.event_id AS touch_event_id, t.event_type AS touch_type,
       t.tns AS touch_ts, t.tns - p.tns AS us_to_touch
FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tns <= t.tns
"""


@register("next_touch_after_purchase", _NEXT_TOUCH_SQL)
def next_touch_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    ts_us = F.expr("ts DIV 1000")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("purchase_ts")
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        ts_us.alias("touch_ts_src"),
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        ts_us.alias("touch_ts"),
    )
    out = asof_join(
        purchases,
        touches,
        ["user_id"],
        "purchase_ts",
        "touch_ts_src",
        payload_cols=["touch_event_id", "touch_type", "touch_ts"],
        right_tiebreak="touch_event_id",
        prefix="",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "purchase_ts", "touch_event_id", "touch_type",
        "touch_ts", (F.col("touch_ts") - F.col("purchase_ts")).alias("us_to_touch"),
    )


# Tolerance-bounded as-of join: the feature-store max-staleness contract —
# the most recent touch BEFORE each purchase counts only if it is at most
# one hour old; staler matches are discarded (NULL payloads), because a
# point-in-time feature lookup must never serve arbitrarily old state.
# Same one-shuffle union+window plan; the staleness cut is a map-side
# filter after the window (asof_join(tolerance=...)). Oracle: native ASOF
# with a CASE over the gap (NULL-safe: an unmatched probe's gap is NULL).
_TOLERANT_TOUCH_SQL = f"""
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tns FROM events),
p AS (SELECT event_id, user_id, tns FROM e WHERE event_type = 'purchase'),
t AS (
    SELECT user_id, tns, event_id, event_type
    FROM e WHERE event_type IN ('click', 'view')
    QUALIFY row_number() OVER (PARTITION BY user_id, tns ORDER BY event_id DESC) = 1
),
sel AS (
  SELECT p.event_id, p.user_id, p.tns AS purchase_ts,
         t.event_id AS tid, t.event_type AS ttype, t.tns AS tts
  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tns >= t.tns
)
SELECT event_id, user_id, purchase_ts,
       CASE WHEN purchase_ts - tts <= {_HOUR_US} THEN tid END AS touch_event_id,
       CASE WHEN purchase_ts - tts <= {_HOUR_US} THEN ttype END AS touch_type,
       CASE WHEN purchase_ts - tts <= {_HOUR_US} THEN tts END AS touch_ts,
       CASE WHEN purchase_ts - tts <= {_HOUR_US} THEN purchase_ts - tts END AS us_since_touch
FROM sel
"""


@register("last_touch_within_hour", _TOLERANT_TOUCH_SQL)
def last_touch_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    ts_us = F.expr("ts DIV 1000")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("purchase_ts")
    )
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        ts_us.alias("touch_ts_src"),
        F.col("event_id").alias("touch_event_id"),
        F.col("event_type").alias("touch_type"),
        ts_us.alias("touch_ts"),
    )
    out = asof_join(
        purchases,
        touches,
        ["user_id"],
        "purchase_ts",
        "touch_ts_src",
        payload_cols=["touch_event_id", "touch_type", "touch_ts"],
        right_tiebreak="touch_event_id",
        prefix="",
        tolerance=_HOUR_US,
    )
    return out.select(
        "event_id", "user_id", "purchase_ts", "touch_event_id", "touch_type",
        "touch_ts", (F.col("purchase_ts") - F.col("touch_ts")).alias("us_since_touch"),
    )


# ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, where x/0 is a
# runtime ERROR mid-job — try_divide is the production idiom for ratios
# whose denominator can legitimately be zero (here: discount per returned
# unit for parts that may have NO returns). NULL-on-zero, not a crash and
# not a sentinel. DECIMAL sums per the money rule; oracle encodes the same
# semantics with an explicit zero guard.
_TRY_DIVIDE_SQL = """
WITH agg AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS discount_amt,
         SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS returned_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(returned_qty AS BIGINT) AS returned_qty,
       CASE WHEN returned_qty = 0 THEN NULL
            ELSE CAST(discount_amt AS DOUBLE) / returned_qty END AS discount_per_returned_unit
FROM agg
"""


@register("try_divide_return_rate", _TRY_DIVIDE_SQL)
def try_divide_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")).alias(
            "discount_amt"
        ),
        F.sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_quantity").cast("long")).otherwise(0)
        ).alias("returned_qty"),
    )
    return agg.select(
        "l_partkey",
        F.col("returned_qty").cast("long").alias("returned_qty"),
        # NO rounding: the numerator is DECIMAL-exact, so the raw IEEE
        # quotient is identical on both engines — a ROUND(x, 6) here is
        # what BREAKS parity (exact-half values at the 6th decimal round
        # HALF_UP in Spark and half-even in DuckDB's double rounding;
        # found by the sf0.1 sweep, max-abs-diff exactly 1e-6).
        F.try_divide(
            F.col("discount_amt").cast("double"), F.col("returned_qty")
        ).alias("discount_per_returned_unit"),
    )


# Re-aggregable distinct counting, the 100 TB mart pattern that plain
# approx_count_distinct cannot give you: per-day Apache DataSketches HLL
# sketches (hll_sketch_agg, a persistable BINARY column) merged across the
# partition key with hll_union_agg — distinct-users-per-type from daily
# mart rows without rescanning the facts. Contract: tolerance-banded
# boolean beside the exact count (the sketch estimate itself is
# implementation-defined, so it stays out of the hash; same contract as
# approx_distinct_events).
_HLL_UNION_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS in_band
FROM events GROUP BY event_type
"""


@register("hll_sketch_union_distinct", _HLL_UNION_SQL)
def hll_sketch_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("event_type", "event_date", "user_id")
    daily = e.groupBy("event_type", "event_date").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_exact"))
    return exact.join(merged, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact") <= F.lit(0.05)
        ).alias("in_band"),
    )


# KMV (k-minimum-values) sketches — the set-OPERATION tier the HLL mart
# cannot give (HLL union-merges only; bitmaps are exact-but-dense): per
# event_type, the 256 smallest md5-derived 32-bit hashes of its
# high-value users form a mergeable sketch; any PAIR of sketches then
# estimates union AND intersection without rescanning facts. Everything
# is deterministic — exact order statistics + a fixed IEEE tree over
# exact ints — so the ESTIMATES themselves hash-match across engines
# (255.0*2^32/h_k; shared/256.0*est — division by powers of two is
# exact), while tolerance bands against the exact counts (25%: measured
# worst 7.34% at sf0.1, 3.4x margin; rel err ~ 1/sqrt(k-2) ≈ 6.3%)
# record the accuracy claim. Exact side is shuffle-native: per-type
# distinct counts + a user-keyed self equi-join (no cross join).
_KMV_K = 256
_KMV_SQL = f"""
WITH ue AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE value >= 50 AND user_id IS NOT NULL
),
h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM ue
),
rk AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (
  SELECT event_type, list(hv ORDER BY hv) AS kmv
  FROM rk WHERE rn <= {_KMV_K} GROUP BY event_type
),
nt AS (SELECT event_type, COUNT(DISTINCT user_id) AS n FROM ue GROUP BY event_type),
iv AS (
  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_inter
  FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
joined AS (
  SELECT iv.ta, iv.tb, iv.n_inter, na.n + nb.n - iv.n_inter AS n_union,
         sa.kmv AS ka, sb.kmv AS kb
  FROM iv
  JOIN nt na ON na.event_type = iv.ta
  JOIN nt nb ON nb.event_type = iv.tb
  JOIN sk sa ON sa.event_type = iv.ta
  JOIN sk sb ON sb.event_type = iv.tb
),
m AS (
  SELECT ta, tb, n_union, n_inter, ka, kb,
         list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, {_KMV_K}) AS merged
  FROM joined
),
calc AS (
  SELECT ta, tb, n_union, n_inter,
         CASE WHEN len(merged) >= {_KMV_K}
              THEN {_KMV_K - 1}.0 * 4294967296.0 / CAST(merged[{_KMV_K}] AS DOUBLE)
              ELSE CAST(len(merged) AS DOUBLE) END AS est_union,
         len(list_filter(merged,
                         x -> list_contains(ka, x) AND list_contains(kb, x))) AS shared,
         len(merged) AS lm
  FROM m
),
calc2 AS (
  SELECT ta, tb, n_union, n_inter, est_union,
         CASE WHEN lm >= {_KMV_K}
              THEN CAST(shared AS DOUBLE) / {_KMV_K}.0 * est_union
              ELSE CAST(shared AS DOUBLE) END AS est_intersection
  FROM calc
)
SELECT ta, tb,
       CAST(n_union AS BIGINT) AS n_union_exact,
       CAST(n_inter AS BIGINT) AS n_inter_exact,
       est_union, est_intersection,
       (ABS(est_union - n_union) <= 0.25 * n_union) AS union_in_band,
       (ABS(est_intersection - n_inter) <= 0.25 * n_union) AS inter_in_band
FROM calc2
"""


@register("kmv_user_overlap_sets", _KMV_SQL)
def kmv_user_overlap_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.kmv import kmv_pair_estimates, kmv_sketch

    ue = (
        _events(spark, sf_dir)
        .filter((F.col("value") >= 50) & F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    sk = kmv_sketch(ue, ["event_type"], "user_id", k=_KMV_K)
    nt = ue.groupBy("event_type").agg(F.count_distinct("user_id").alias("n"))
    a = ue.select(F.col("event_type").alias("ta"), "user_id")
    b = ue.select(F.col("event_type").alias("tb"), "user_id")
    iv = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_inter"))
    )
    joined = (
        iv.join(nt.select(F.col("event_type").alias("ta"), F.col("n").alias("na")), "ta")
        .join(nt.select(F.col("event_type").alias("tb"), F.col("n").alias("nb")), "tb")
        .join(sk.select(F.col("event_type").alias("ta"), F.col("kmv").alias("ka")), "ta")
        .join(sk.select(F.col("event_type").alias("tb"), F.col("kmv").alias("kb")), "tb")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .withColumn("s", kmv_pair_estimates(F.col("ka"), F.col("kb"), k=_KMV_K))
    )
    return joined.select(
        "ta",
        "tb",
        F.col("n_union").cast("long").alias("n_union_exact"),
        F.col("n_inter").cast("long").alias("n_inter_exact"),
        F.col("s.est_union").alias("est_union"),
        F.col("s.est_intersection").alias("est_intersection"),
        (
            F.abs(F.col("s.est_union") - F.col("n_union")) <= 0.25 * F.col("n_union")
        ).alias("union_in_band"),
        (
            F.abs(F.col("s.est_intersection") - F.col("n_inter"))
            <= 0.25 * F.col("n_union")
        ).alias("inter_in_band"),
    )


# EXACT re-aggregable distinct via bitmaps (Spark 3.5 bitmap functions):
# two-level shape — bitmap_construct_agg per (group, 32k-bit bucket), then
# bitmap_count + SUM per group. Unlike the HLL tier this is exact, so the
# oracle is a strict COUNT(DISTINCT); unlike COUNT(DISTINCT) the per-bucket
# bitmaps are persistable/OR-mergeable mart rows (dense ids make the
# bucket space compact — user_id here). The partial aggregation combines
# map-side; no row explosion.
_BITMAP_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


@register("bitmap_exact_distinct_users", _BITMAP_DISTINCT_SQL)
def bitmap_exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("event_type", "user_id")
    per_bucket = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(
        F.expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id)))").alias(
            "cnt"
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_users")
    )


# Small-file compaction EXECUTED (table maintenance): a deliberately
# fragmented mart (64-way write — the debris a micro-batched streaming
# upsert leaves) compacted to 2 files via read → coalesce → write-temp →
# atomic swap (sources.sinks.compact_path). Content must be identical
# (the oracle is the same aggregate over the source) and the
# post-compaction parquet file count rides as a column, so the driver's
# value hash pins the LAYOUT claim, not just the data.
_SINK_COMPACT_SQL = """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
       CAST(2 AS BIGINT) AS n_files
FROM lineitem
GROUP BY l_returnflag
"""


@register("sink_compaction_roundtrip", _SINK_COMPACT_SQL, kind="executed")
def sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from .sources.sinks import compact_path

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    with _scratch_dir(prefix="sink_compact_") as base:
        target = os.path.join(base, "mart")
        li.repartition(64).write.parquet(target)
        compact_path(spark, target, target_partitions=2)
        n_files = len(_glob.glob(os.path.join(target, "*.parquet")))
        return (
            spark.read.parquet(target)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_price"),
            )
            .withColumn("n_files", F.lit(n_files).cast("long"))
            .localCheckpoint()
        )


# Z-order layout (operators/layout.py): the multi-column clustering pass a
# 100 TB table runs so parquet min/max stats prune files for predicates on
# ANY participating column (Delta OPTIMIZE ZORDER BY / Iceberg sort-rewrite
# shape). The key is a flat integer bit-interleave — zero floats — so the
# oracle replays it term for term; grouping by the top 6 interleaved bits
# (an 8×8 grid over both dimensions) emits each "file"'s min/max span on
# BOTH columns, pinning the locality claim in the value hash, not just the
# key arithmetic.
from .operators.layout import quantize as _zq, zorder_key as _zkey, zorder_key_sql as _zkey_sql  # noqa: E402

_ZORDER_SQL = f"""
WITH q AS (
  SELECT p_partkey, p_size,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         (LEAST(GREATEST(CAST(p_size AS BIGINT), 0), 63) >> 0) AS qx,
         (LEAST(GREATEST(CAST(ROUND(p_retailprice * 100) AS BIGINT), 0), 262143) >> 12) AS qy
  FROM part
),
z AS (
  SELECT p_size, cents, {_zkey_sql(['qx', 'qy'], bits=6)} AS zkey FROM q
)
SELECT zkey >> 6 AS z_bucket,
       COUNT(*) AS n_parts,
       CAST(MIN(p_size) AS BIGINT) AS min_size, CAST(MAX(p_size) AS BIGINT) AS max_size,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents
FROM z GROUP BY 1
"""


@register("zorder_parts_layout", _ZORDER_SQL)
def zorder_parts_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_size", F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents")
    )
    q = p.select(
        "p_size",
        "cents",
        _zq(F.col("p_size"), 0, range_bits=6, bits=6).alias("qx"),
        _zq(F.col("cents"), 0, range_bits=18, bits=6).alias("qy"),
    )
    z = q.select("p_size", "cents", _zkey([F.col("qx"), F.col("qy")], bits=6))
    return z.groupBy(F.shiftright("zkey", 6).alias("z_bucket")).agg(
        F.count("*").alias("n_parts"),
        F.min("p_size").cast("long").alias("min_size"),
        F.max("p_size").cast("long").alias("max_size"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# Z-order recluster EXECUTED (table maintenance, the OPTIMIZE ZORDER
# shape): a deliberately fragmented copy of part (64-way write) is
# re-clustered IN PLACE to 8 z-ordered files via the atomic
# temp-write-then-swap. Content identity is pinned by the same per-bucket
# min/max oracle as zorder_parts_layout (the z-key is a pure function of
# the DATA, so the aggregate is file-layout-independent), and the file
# count rides as a banded boolean (range partitioning may emit empty
# ranges, so <= target is the contract, not ==).
_ZORDER_RECLUSTER_SQL = f"""
WITH q AS (
  SELECT p_partkey, p_size,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
         (LEAST(GREATEST(CAST(p_size AS BIGINT), 0), 63) >> 0) AS qx,
         (LEAST(GREATEST(CAST(ROUND(p_retailprice * 100) AS BIGINT), 0), 262143) >> 12) AS qy
  FROM part
),
z AS (
  SELECT p_size, cents, {_zkey_sql(['qx', 'qy'], bits=6)} AS zkey FROM q
)
SELECT zkey >> 6 AS z_bucket,
       COUNT(*) AS n_parts,
       CAST(MIN(p_size) AS BIGINT) AS min_size, CAST(MAX(p_size) AS BIGINT) AS max_size,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents,
       TRUE AS files_ok
FROM z GROUP BY 1
"""


@register("zorder_recluster_roundtrip", _ZORDER_RECLUSTER_SQL, kind="executed")
def zorder_recluster_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from .operators.layout import recluster_zordered

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_retailprice")
    with _scratch_dir(prefix="zorder_recluster_") as base:
        target = os.path.join(base, "mart")
        p.repartition(64).write.parquet(target)  # the fragmented debris
        # explicit raise, not assert: the "recluster actually defragmented"
        # precondition must hold under `python -O` too
        if len(_glob.glob(os.path.join(target, "*.parquet"))) <= 8:
            raise RuntimeError(
                "zorder_recluster_roundtrip: fragmentation precondition failed"
            )
        n_files = recluster_zordered(
            spark,
            target,
            [
                _zq(F.col("p_size"), 0, range_bits=6, bits=6),
                _zq(
                    F.round(F.col("p_retailprice") * 100, 0).cast("long"),
                    0,
                    range_bits=18,
                    bits=6,
                ),
            ],
            bits=6,
            target_files=8,
        )
        back = spark.read.parquet(target).select(
            "p_size",
            F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("cents"),
        )
        q = back.select(
            "p_size",
            "cents",
            _zq(F.col("p_size"), 0, range_bits=6, bits=6).alias("qx"),
            _zq(F.col("cents"), 0, range_bits=18, bits=6).alias("qy"),
        )
        z = q.select("p_size", "cents", _zkey([F.col("qx"), F.col("qy")], bits=6))
        return (
            z.groupBy(F.shiftright("zkey", 6).alias("z_bucket"))
            .agg(
                F.count("*").alias("n_parts"),
                F.min("p_size").cast("long").alias("min_size"),
                F.max("p_size").cast("long").alias("max_size"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
            )
            .withColumn("files_ok", F.lit(n_files <= 8))
            .localCheckpoint()
        )


# Batch CDC apply (operators/cdc.py): fold an I/U/D op log into a
# snapshot — latest-wins with delete tombstones, the capstone of the
# S9-S13 keyed-sink family (a Debezium-style feed consumed in batch).
# Ops derive deterministically from lineitem: op by linenumber mod 5
# ('D'/'I'/'U'), value = the row's extendedprice verbatim (NO derived
# arithmetic — a rounded quotient here would reintroduce the binary-tie
# class the sf0.1 sweep caught), order = (shipdate, orderkey, linenumber)
# which is a total order; linenumber-7 ops target shifted NEW keys so the
# insert-unknown-key path is exercised, not just update/delete.
_CDC_APPLY_SQL = """
WITH ops AS (
  SELECT l_partkey + CASE WHEN l_linenumber = 7 THEN 1000000 ELSE 0 END AS p_partkey,
         CASE l_linenumber % 5 WHEN 0 THEN 'D' WHEN 1 THEN 'I' ELSE 'U' END AS op,
         l_extendedprice AS price,
         epoch_us(l_shipdate) AS ts, l_orderkey, l_linenumber
  FROM lineitem
),
latest AS (
  SELECT p_partkey, op, price FROM (
    SELECT *, row_number() OVER (PARTITION BY p_partkey
              ORDER BY ts DESC, l_orderkey DESC, l_linenumber DESC) AS rn
    FROM ops) t WHERE rn = 1
),
b AS (SELECT p_partkey, p_retailprice AS price FROM part)
SELECT COALESCE(b.p_partkey, l.p_partkey) AS p_partkey,
       CASE WHEN l.p_partkey IS NOT NULL THEN l.price ELSE b.price END AS price
FROM b FULL JOIN latest l ON b.p_partkey = l.p_partkey
WHERE l.op IS NULL OR l.op <> 'D'
"""


@register("cdc_apply_snapshot", _CDC_APPLY_SQL)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cdc import cdc_apply

    li = _t(spark, sf_dir, "lineitem")
    ops = li.select(
        (
            F.col("l_partkey")
            + F.when(F.col("l_linenumber") == 7, F.lit(1000000)).otherwise(F.lit(0))
        ).alias("p_partkey"),
        F.when(F.col("l_linenumber") % 5 == 0, F.lit("D"))
        .when(F.col("l_linenumber") % 5 == 1, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("l_extendedprice").alias("price"),
        _epoch_us("l_shipdate").alias("ts"),
        "l_orderkey",
        "l_linenumber",
    )
    base = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("price")
    )
    return cdc_apply(
        base,
        ops,
        ["p_partkey"],
        op_col="op",
        order_by=["ts", "l_orderkey", "l_linenumber"],
        value_cols=["price"],
    )


# Time-weighted average (TWAP): each event's value holds until the user's
# next event; the average weights each value by its holding duration — the
# feature-store aggregation for irregularly sampled series (a plain AVG
# over-weights bursts). One lead() window and one aggregation on the same
# user_id partitioning. Parity discipline (two hazards, both hit and fixed):
# ROUND(x,6) on a double is HALF_UP in Spark vs half-even in DuckDB (the
# binary-tie hazard), and DECIMAL→DOUBLE conversion is correctly rounded in
# the JVM (BigDecimal.doubleValue) but double-rounded in DuckDB
# (int128→double / 10^scale→double), measured 1 ulp apart here. So the sum
# is EXACT INT64 cents×µs — value is 2dp money, ROUND(value*100) lands ~1e-10
# from an integer (never a .5 tie) — and the quotient divides two exact
# integers: int64→double is correctly rounded on both engines and IEEE ops
# are deterministic, so the raw double is bit-identical. Overflow bound:
# 5e4 cents × ~6e13 µs dataset span ≈ 3e18 < 2^63 per user; at a true 100 TB
# multi-decade span, switch the sum to DECIMAL(38,0) and band-compare.
_TWAP_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events
),
d AS (
  SELECT user_id, value, tus,
         lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS next_tus
  FROM e
),
w AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * (next_tus - tus)) AS BIGINT) AS vw_cents,
         CAST(SUM(next_tus - tus) AS BIGINT) AS span
  FROM d WHERE next_tus IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, span AS span_us,
       CAST(vw_cents AS DOUBLE) / (CAST(span AS DOUBLE) * 100.0) AS twap_value
FROM w WHERE span > 0
"""


@register("time_weighted_avg_value", _TWAP_SQL)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts DIV 1000").alias("tus"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    d = e.withColumn("next_tus", F.lead("tus").over(w)).filter(
        F.col("next_tus").isNotNull()
    )
    dur = F.col("next_tus") - F.col("tus")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    agg = d.groupBy("user_id").agg(
        F.sum(cents * dur).alias("vw_cents"),
        F.sum(dur).alias("span"),
    )
    return agg.filter(F.col("span") > 0).select(
        "user_id",
        F.col("span").cast("long").alias("span_us"),
        (
            F.col("vw_cents").cast("double") / (F.col("span").cast("double") * F.lit(100.0))
        ).alias("twap_value"),
    )


# Gaps-and-islands: consecutive-active-day streaks per user via the
# row_number-difference trick (day - rn is constant within a run of
# consecutive days), then per-user longest streak, streak count, and the
# earliest start of a longest streak (explicit MIN over the peak rows —
# max_by would be tie-nondeterministic). All passes share the user_id
# partitioning; day grain is the repo's tz-free epoch-derived date.
_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
r AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
  FROM days
),
s AS (
  SELECT user_id, grp, COUNT(*) AS len, MIN(d) AS start_day FROM r GROUP BY 1, 2
),
p AS (
  SELECT user_id, len, start_day, MAX(len) OVER (PARTITION BY user_id) AS peak FROM s
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       COUNT(*) AS n_streaks,
       MIN(CASE WHEN len = peak THEN start_day END) AS longest_start
FROM p GROUP BY user_id
"""


@register("active_day_streaks", _STREAKS_SQL)
def active_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = _events(spark, sf_dir).select("user_id", F.col("event_date").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    r = days.withColumn("grp", F.date_sub(F.col("d"), rn.cast("int")))
    s = r.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.min("d").alias("start_day")
    )
    p = s.withColumn("peak", F.max("len").over(Window.partitionBy("user_id")))
    return p.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.min(F.when(F.col("len") == F.col("peak"), F.col("start_day"))).alias("longest_start"),
    )


# Streaming CDC apply with delete tombstones, EXECUTED: the T-family gap
# the batch cdc_apply_snapshot leaves open — every existing streaming sink
# only ever upserts. A real two-trigger file stream of I/U/D ops folds
# into a COMPACTED-LOG mart via foreachBatch (cdc_compact_log, which is
# associative because the ordering columns ride in the mart), so the
# result converges to the batch fold no matter how the log is split —
# the drop files are split by LINE NUMBER, not time, so trigger 2
# deliberately delivers ops OLDER than trigger 1's for the same keys.
# Presented view filters tombstones; oracle = the batch latest-wins fold.
_STREAM_CDC_SQL = """
WITH ops AS (
  SELECT l_partkey + CASE WHEN l_linenumber = 7 THEN 1000000 ELSE 0 END AS p_partkey,
         CASE l_linenumber % 5 WHEN 0 THEN 'D' WHEN 1 THEN 'I' ELSE 'U' END AS op,
         l_extendedprice AS price,
         epoch_us(l_shipdate) AS ts, l_orderkey AS okey, l_linenumber AS lnum
  FROM lineitem WHERE l_orderkey % 7 = 0
),
latest AS (
  SELECT p_partkey, op, price FROM (
    SELECT *, row_number() OVER (PARTITION BY p_partkey
              ORDER BY ts DESC, okey DESC, lnum DESC) AS rn
    FROM ops) t WHERE rn = 1
),
b AS (SELECT p_partkey, p_retailprice AS price FROM part)
SELECT COALESCE(b.p_partkey, l.p_partkey) AS p_partkey,
       CASE WHEN l.p_partkey IS NOT NULL THEN l.price ELSE b.price END AS price
FROM b FULL JOIN latest l ON b.p_partkey = l.p_partkey
WHERE l.op IS NULL OR l.op <> 'D'
"""


@register("streaming_cdc_apply_executed", _STREAM_CDC_SQL, kind="streaming")
def streaming_cdc_apply_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.cdc import cdc_compact_log
    from .sources.sinks import overwrite_path
    from .streaming.runner import read_json_stream, run_batches, stream_shuffle_partitions

    keys, order = ["p_partkey"], ["ts", "okey", "lnum"]

    def compact(df: DataFrame) -> DataFrame:
        return cdc_compact_log(
            df, keys, op_col="op", order_cols=order, value_cols=["price"]
        )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    ops = li.select(
        (
            F.col("l_partkey")
            + F.when(F.col("l_linenumber") == 7, F.lit(1000000)).otherwise(F.lit(0))
        ).alias("p_partkey"),
        _epoch_us("l_shipdate").alias("ts"),
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").cast("long").alias("lnum"),
        F.when(F.col("l_linenumber") % 5 == 0, F.lit("D"))
        .when(F.col("l_linenumber") % 5 == 1, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("l_extendedprice").alias("price"),
    )
    with _scratch_dir(prefix="stream_cdc_") as base:
        drops = os.path.join(base, "drops")
        target = os.path.join(base, "mart")
        ckpt = os.path.join(base, "ckpt")
        # seed: the base snapshot enters the log at a sentinel order below
        # every real op (ts=-1), already compacted (keys are unique)
        seed = _t(spark, sf_dir, "part").select(
            "p_partkey",
            F.lit(-1).cast("long").alias("ts"),
            F.lit(-1).cast("long").alias("okey"),
            F.lit(-1).cast("long").alias("lnum"),
            F.lit("U").alias("op"),
            F.col("p_retailprice").alias("price"),
        )
        seed.write.parquet(target)
        # two drop files split by LINE NUMBER (not time): the second
        # trigger carries ops that are older than the first's for the
        # same keys — only an associative fold converges.
        schema = _stage_drops(
            drops, ops, lambda r: "b1_high.json" if r.lnum >= 4 else "b2_low.json"
        )

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            cur = spark.read.parquet(target)
            overwrite_path(compact(cur.unionByName(batch_df)), target)

        stream = read_json_stream(spark, drops, schema, max_files_per_trigger=1)
        with stream_shuffle_partitions(spark, 2):
            _await_stream(run_batches(stream, ckpt, _sink))
        return (
            spark.read.parquet(target)
            .filter(F.col("op") != "D")
            .select("p_partkey", "price")
            .localCheckpoint()
        )


# --------------------------------------------------------------------------
# Web-corpus stage (NEW r8, operators/webtext.py): HTML → text extraction
# and URL canonicalization — the post-WARC steps of a Common-Crawl-style
# pipeline. Both are pure native regex/string expression chains (map-only,
# zero Python, zero shuffle except the dedup groupBy); the SAME ordered
# pattern table drives the Spark plan and the oracle (html_extract_sql /
# canonical_url_ctes), so the hash match proves the chain end to end.
# Patterns live in the Java-regex ∩ RE2 common subset (\A/\z anchors, no
# lookaround — see the module docstring for the contract).
# --------------------------------------------------------------------------

_HTML_SYNTH_PARTS: list[tuple[str, str]] = [
    # (literal, following-int-expr) pairs; the int expr is a SQL fragment
    # over doc_id replayed identically Spark-side in _html_synth_col.
    ("<html><head><title>Doc ", "doc_id"),
    ('</title><style>p {color: red}</style><script>if (1<2) { x="</b>"; }</script>'
     '</head><body><h1 class="t">Doc &amp; ', "doc_id"),
    ("</h1><!-- hidden ", "doc_id"),
    (" --><p>", ""),  # text goes here (empty int expr = splice text col)
    ("</p><ul><li>item one</li><li>item ", "doc_id % 7"),
    ('</li></ul>&quot;tail ', "doc_id % 5"),
    ('&quot; &lt;end&gt;</body></html>', ""),
]


def _html_synth_sql() -> str:
    out = []
    for lit, iexpr in _HTML_SYNTH_PARTS:
        out.append("'" + lit.replace("'", "''") + "'")
        if iexpr:
            out.append(f"CAST({iexpr} AS VARCHAR)")
        elif lit == " --><p>":
            out.append("text")
    return " || ".join(out)


def _webtext_mod():
    from .operators import webtext

    return webtext


def _html_extract_oracle() -> str:
    wt = _webtext_mod()
    return f"""
WITH h AS (
  SELECT doc_id, {_html_synth_sql()} AS html FROM documents
),
x AS (
  SELECT doc_id, {wt.html_extract_sql("html")} AS text FROM h
)
SELECT doc_id, text,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN length(text) = 0 THEN 0
                 ELSE length(text) - length(replace(text, chr(10), '')) + 1
            END AS BIGINT) AS n_lines
FROM x
"""


def _register_webtext_rows() -> None:
    wt = _webtext_mod()

    @register("html_text_extract", _html_extract_oracle())
    def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        parts: list = []
        for lit, iexpr in _HTML_SYNTH_PARTS:
            parts.append(F.lit(lit))
            if iexpr == "doc_id":
                parts.append(F.col("doc_id").cast("string"))
            elif iexpr:
                mod = 7 if iexpr.endswith("7") else 5
                parts.append((F.col("doc_id") % mod).cast("string"))
            elif lit == " --><p>":
                parts.append(F.col("text"))
        pages = d.select("doc_id", F.concat(*parts).alias("html"))
        return wt.extract_web_documents(pages, html_col="html", id_col="doc_id")

    _URL_SYNTH_SQL = """
raws AS (
  SELECT doc_id AS page_id, u.url AS url FROM documents,
  LATERAL (SELECT unnest(list_filter([
    'HTTP://EXAMPLE' || CAST(doc_id % 5 AS VARCHAR) || '.COM:80/p/' ||
      CAST(doc_id % 7 AS VARCHAR) || '?b=2&utm_source=x&a=1#f' ||
      CAST(doc_id AS VARCHAR),
    'http://Example' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/' ||
      CAST(doc_id % 7 AS VARCHAR) || '?a=1&gclid=g' || CAST(doc_id AS VARCHAR) ||
      '&b=2',
    CASE WHEN doc_id % 2 = 1 THEN
      'https://CDN' || CAST(doc_id % 3 AS VARCHAR) || '.Example.com:443/asset/' ||
      CAST(doc_id AS VARCHAR) || '?v=' || CAST(doc_id % 11 AS VARCHAR)
    END], x -> x IS NOT NULL)) AS url) u
)"""

    @register(
        "canonical_url_dedup",
        f"""
WITH {_URL_SYNTH_SQL.strip()},
{wt.canonical_url_ctes("raws")}
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT page_id) AS BIGINT) AS n_pages,
       CAST(MIN(page_id) AS BIGINT) AS canonical_page_id
FROM _cu4
WHERE canonical_url IS NOT NULL
GROUP BY canonical_url
""",
    )
    def canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        sid = F.col("doc_id").cast("string")
        v0 = F.concat(
            F.lit("HTTP://EXAMPLE"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".COM:80/p/"), (F.col("doc_id") % 7).cast("string"),
            F.lit("?b=2&utm_source=x&a=1#f"), sid,
        )
        v1 = F.concat(
            F.lit("http://Example"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/p/"), (F.col("doc_id") % 7).cast("string"),
            F.lit("?a=1&gclid=g"), sid, F.lit("&b=2"),
        )
        v2 = F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit("https://CDN"), (F.col("doc_id") % 3).cast("string"),
                F.lit(".Example.com:443/asset/"), sid,
                F.lit("?v="), (F.col("doc_id") % 11).cast("string"),
            ),
        )
        pages = d.select(
            F.col("doc_id").alias("page_id"),
            F.explode(F.filter(F.array(v0, v1, v2), lambda x: x.isNotNull())).alias("url"),
        )
        return wt.dedup_by_canonical_url(pages)


_register_webtext_rows()


# C4-style corpus-level line dedup (operators/dedupe.py dedup_lines,
# Raffel 2020 §2.2): discard any 8-word "line" occurring >= 3 times across
# the corpus, reassemble docs. Three shuffles (line build, corpus line
# count, doc reassembly) — the line-frequency pass is the exact-dedup
# hash-groupBy shape, linear at 100 TB.
_C4_LINE_DEDUP_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
lines AS (
  SELECT doc_id, CAST(ln.ln AS BIGINT) AS line_no,
         array_to_string(words[ln.ln * 8 + 1 : least(len(words), (ln.ln + 1) * 8)], ' ') AS line
  FROM w, LATERAL (SELECT unnest(generate_series(0,
         CAST(ceil(len(words) / 8.0) AS INT) - 1)) AS ln) ln
),
counted AS (
  SELECT doc_id, line_no, line, COUNT(*) OVER (PARTITION BY line) AS n_occ
  FROM lines
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY line_no)
                FILTER (WHERE n_occ < 3), '') AS clean_text,
       CAST(COUNT(*) FILTER (WHERE n_occ < 3) AS BIGINT) AS n_lines_kept,
       CAST(COUNT(*) FILTER (WHERE n_occ >= 3) AS BIGINT) AS n_lines_removed
FROM counted
GROUP BY doc_id
"""


@register("c4_line_dedup", _C4_LINE_DEDUP_SQL)
def c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedupe import dedup_lines

    return dedup_lines(
        _t(spark, sf_dir, "documents"), "text", "doc_id", words_per_line=8, min_count=3
    )


# REAL video (NEW r8, operators/videocodec.py): MJPEG-in-AVI — RIFF demux
# (avih/strh/strf headers, movi chunk walk, idx1 cross-check) + per-frame
# baseline-JPEG decode of ONLY the 2 sampled frames (floor map, the shared
# sampling convention). Container facts (dims, frame count, fps, sampled
# indices) hash exactly; per-frame pixel fidelity is the kernel-computed
# band boolean vs the regenerated synth_video_raster (JPEG-row convention;
# the f*53 frame term makes a wrong sampled index land far out of band..
# Even ids carry 4:4:4 frames, odd 4:2:0, so both MCU layouts cross the
# container path every round.
_AVI_FRAME_SQL = """
WITH f AS MATERIALIZED (
  SELECT doc_id, 2 + doc_id % 3 AS total FROM documents
),
kept AS (
  SELECT doc_id, total, (j.i * total) // 2 AS frame_index
  FROM f, LATERAL (SELECT unnest(generate_series(0, 1)) AS i) j
)
SELECT doc_id AS media_id,
       CAST(frame_index AS BIGINT) AS frame_index,
       CAST(total AS BIGINT) AS n_frames_total,
       CAST(8 + doc_id % 5 AS BIGINT) AS width,
       CAST(8 + doc_id % 3 AS BIGINT) AS height,
       CAST(12 + doc_id % 5 AS BIGINT) AS fps,
       TRUE AS pixels_in_band,
       'ok' AS sample_status
FROM kept
"""


@register("avi_frame_stats", _AVI_FRAME_SQL)
def avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import avi_frame_band_stats, synthesize_avis

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return avi_frame_band_stats(synthesize_avis(ids), n_frames=2)


# Animated GIF frame sampling (NEW r8): the same synthetic clip as the AVI
# row (synth_video_raster, 2+id%3 frames) in a LOSSLESS container, so the
# oracle is EXACT per-frame channel sums where AVI's is banded. Every
# frame's LZW stream is decoded to composite the canvas (GIF frames are
# deltas — the honest format tradeoff vs AVI's independently-seekable
# MJPEG chunks, called out in sample_gif_frames' docstring).
_GIF_ANIM_SQL = """
WITH f AS MATERIALIZED (
  SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
         2 + doc_id % 3 AS total
  FROM documents
),
kept AS (
  SELECT doc_id, w, h, total, (j.i * total) // 2 AS frame_index
  FROM f, LATERAL (SELECT unnest(generate_series(0, 1)) AS i) j
),
px AS (
  SELECT doc_id, w, h, total, frame_index,
         (doc_id * 7 + frame_index * 53) % 29
           + (p.p % w) * 3 + (p.p // w) * 2 AS v0
  FROM kept, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS p) p
)
SELECT doc_id AS media_id,
       CAST(frame_index AS BIGINT) AS frame_index,
       CAST(total AS BIGINT) AS n_frames_total,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(SUM(v0) AS BIGINT) AS sum_r,
       CAST(SUM(v0 + 17) AS BIGINT) AS sum_g,
       CAST(SUM(v0 + 34) AS BIGINT) AS sum_b,
       'ok' AS sample_status
FROM px
GROUP BY doc_id, w, h, total, frame_index
"""


@register("gif_anim_frame_stats", _GIF_ANIM_SQL)
def gif_anim_frame_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import gif_anim_frame_stats, synthesize_gif_animations

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    return gif_anim_frame_stats(synthesize_gif_animations(ids), n_frames=2)


# Bloom-prefiltered O(delta) exact-dedup ingest (NEW r8, operators/dedupe.py
# bloom_route_ingest): at 100 TB the ingested-hash mart is enormous — a
# mergeable int64-bitmap Bloom filter (md5 positions, bit_or words, zero
# UDFs) routes each delta hash so only the maybe-seen sliver pays the
# anti-join. The result is EXACT at any filter size (the bloom only
# routes), and because the bitmap arithmetic is bit-exact cross-engine the
# oracle replays even the false-positive routing: mart = even docs plus the
# re-delivered id%10==1 odd slice (so 'dup_in_mart' fires at every SF),
# delta = odd docs, n_bits=4096 sized to leave the filter honest-but-loaded
# (the 'fp_new' path fires as the corpus grows).
_BLOOM_DEDUP_SQL = """
WITH mart AS (
  SELECT md5(text) AS text_hash FROM documents
  WHERE doc_id % 2 = 0 OR doc_id % 10 = 1
),
delta AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents WHERE doc_id % 2 = 1
),
dh AS (
  SELECT text_hash, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_delta_copies
  FROM delta GROUP BY text_hash
),
mpos AS (
  SELECT (CAST(('0x' || substr(md5(m.text_hash || ':' || k.k), 1, 8)) AS BIGINT)
          % 4096) AS pos
  FROM mart m, LATERAL (SELECT unnest(generate_series(0, 2)) AS k) k
),
bitmap AS (
  SELECT pos // 32 AS word_idx,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM mpos GROUP BY 1
),
dpos AS (
  SELECT d.text_hash,
         (CAST(('0x' || substr(md5(d.text_hash || ':' || k.k), 1, 8)) AS BIGINT)
          % 4096) AS pos
  FROM dh d, LATERAL (SELECT unnest(generate_series(0, 2)) AS k) k
),
probed AS (
  SELECT p.text_hash,
         bool_and(b.bits IS NOT NULL AND
                  (b.bits & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0) AS maybe
  FROM dpos p LEFT JOIN bitmap b ON b.word_idx = p.pos // 32
  GROUP BY p.text_hash
)
SELECT dh.text_hash, dh.canonical_doc_id, dh.n_delta_copies,
       CASE WHEN NOT probed.maybe THEN 'new'
            WHEN EXISTS (SELECT 1 FROM mart m WHERE m.text_hash = dh.text_hash)
              THEN 'dup_in_mart'
            ELSE 'fp_new' END AS bloom_route
FROM dh JOIN probed USING (text_hash)
"""


# Web-ingest e2e composition (NEW r8): the full Common-Crawl path in one
# row — WARC framing (even ids gzip members) → response-record walk → HTML
# body decode → regex-chain text extraction → URI canonicalization. A
# framing bug, a wrong body boundary, a chain drift or a canonicalizer
# change each lands in a different column; the oracle replays the synth
# formula plus BOTH shared chains (html_extract_sql + canonical_url_ctes).
def _warc_html_pipeline_oracle() -> str:
    wt = _webtext_mod()
    return f"""
WITH recs AS (
  SELECT doc_id AS media_id, j.j AS record_index,
         'http://Example.com:80/p/' || CAST(doc_id AS VARCHAR) ||
           '?id=' || CAST(j.j AS VARCHAR) || '&utm_x=1' AS url,
         '<html><body><h1>Page ' || CAST(doc_id AS VARCHAR) || '/' ||
           CAST(j.j AS VARCHAR) || '</h1><p>' ||
           array_to_string(list_transform(
             generate_series(0, CAST(20 + (doc_id + j.j) % 15 AS INT) - 1),
             i -> chr(CAST(97 + (doc_id * 43 + j.j * 17 + i * 7) % 26 AS INT))), '') ||
           '</p><script>var hidden = 1;</script></body></html>' AS html
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0, CAST(1 + doc_id % 3 AS INT))) AS j) j
),
x AS (
  SELECT media_id, record_index, url,
         {wt.html_extract_sql("html")} AS text
  FROM recs
),
{wt.canonical_url_ctes("x", "url")}
SELECT media_id, CAST(record_index AS BIGINT) AS record_index, canonical_url,
       text, CAST(length(text) AS BIGINT) AS n_chars
FROM _cu4
"""


@register("warc_html_pipeline", _warc_html_pipeline_oracle())
def warc_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webtext import extract_html_text, with_canonical_url
    from .sources.warc import parse_warc_pages, synthesize_warc_html_streams

    ids = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    pages = parse_warc_pages(synthesize_warc_html_streams(ids))
    return with_canonical_url(pages, "target_uri").select(
        "media_id",
        F.col("record_index").cast("long").alias("record_index"),
        "canonical_url",
        extract_html_text(F.col("html")).alias("text"),
        F.length(extract_html_text(F.col("html"))).cast("long").alias("n_chars"),
    )


@register("bloom_dedup_ingest", _BLOOM_DEDUP_SQL)
def bloom_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedupe import bloom_route_ingest, content_hash

    d = _t(spark, sf_dir, "documents")
    mart = d.filter((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 10 == 1)).select(
        content_hash("text").alias("text_hash")
    )
    delta = d.filter(F.col("doc_id") % 2 == 1)
    return bloom_route_ingest(mart, delta, "text", "doc_id", n_bits=4096, n_hashes=3)


# ---------------------------------------------------------------------------
# Bench attribution: the shared side-table marts (signatures, centroids,
# trained models, PQ codes) are built lazily by their FIRST consumer, which
# made that consumer's bench number absorb the whole family's build cost
# (r2: near_dup_components billed ~9 s of LSH mart build while
# near_dup_verified_pairs ran in 0.09 s). At scale these are persisted
# tables keyed by corpus version — their build is an ingest-time cost, not
# a query cost — so the bench warms them in an explicit setup step billed
# separately under "side_table_build".
# ---------------------------------------------------------------------------
def warm_side_tables(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Materialize every shared per-(session, sf_dir) side-table mart.
    Returns {mart_name: build_seconds, "__wall": total}; all subsequent
    catalog queries read the persisted tables.

    Independent marts build CONCURRENTLY in dependency waves (Spark's FIFO
    scheduler interleaves the jobs across idle cores — exactly how a real
    ingest submits them), so wall time is well under the per-mart sum;
    per-mart seconds remain each build's own span for attribution. Wave 2+
    entries wait on wave-1 marts they read (verified pairs need band keys,
    components need verified pairs, assignments need centroids, codes need
    codebooks)."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    waves: list[list[tuple[str, Callable[[], object]]]] = [
        [
            # the shared parsed-vector frame: the three centroid trainings
            # and PQ all consume it; _side_table's per-key lock makes the
            # first consumer build it and the rest wait (no duplicate work,
            # no extra wave serializing the session warmup)
            ("embeddings_dvec", lambda: _emb_dvec(spark, sf_dir)),
            ("winnow_fingerprints", lambda: _winnow_fps(spark, sf_dir)),
            ("minhash_band_keys", lambda: _band_keys(spark, sf_dir)),
            ("simhash32", lambda: _simhash_sigs(spark, sf_dir)),
            ("embedding_lsh_pairs", lambda: _emb_pairs(spark, sf_dir)),
            ("lang_trigram_profiles", lambda: _lang_profiles(spark, sf_dir)),
            ("kmeans_centroids", lambda: _kmeans_centroids(spark, sf_dir)),
            ("ivf_search_centroids", lambda: _ivf_search_centroids(spark, sf_dir)),
            ("ivf_delta_centroids", lambda: _ivf_delta_centroids(spark, sf_dir)),
            ("bitext_centroids_p0", lambda: _bitext_centroids(spark, sf_dir, 0)),
            ("bitext_centroids_p1", lambda: _bitext_centroids(spark, sf_dir, 1)),
            ("bitext_centroids_m3a", lambda: _bitext_centroids_for(
                spark, sf_dir, "m3a", F.col("_vid") % 3 == 0)),
            ("bitext_centroids_m3b", lambda: _bitext_centroids_for(
                spark, sf_dir, "m3b", F.col("_vid") % 3 != 0)),
            ("pq_codebooks", lambda: _pq_codebooks(spark, sf_dir)),
            ("bpe_merges", lambda: _bpe_merge_list(spark, sf_dir)),
            ("trigram_lm", lambda: _trigram_lm(spark, sf_dir)),
            ("copurchase_edges", lambda: _copurchase_edges(spark, sf_dir)),
            ("image_dhash_mixed", lambda: _dhash_mart(spark, sf_dir)),
            ("span_gram_matches", lambda: _span_matches(spark, sf_dir)),
        ],
        [
            ("near_dup_verified_pairs", lambda: _verified_pairs(spark, sf_dir)),
            ("kmeans_assignment", lambda: _kmeans_assignment(spark, sf_dir)),
            ("ivf_search_lists", lambda: _ivf_search_lists(spark, sf_dir)),
            ("bitext_lists_p0", lambda: _bitext_lists(spark, sf_dir, 0)),
            ("bitext_lists_p1", lambda: _bitext_lists(spark, sf_dir, 1)),
            ("bitext_lists_m3a", lambda: _bitext_lists_for(
                spark, sf_dir, "m3a", F.col("_vid") % 3 == 0)),
            ("bitext_lists_m3b", lambda: _bitext_lists_for(
                spark, sf_dir, "m3b", F.col("_vid") % 3 != 0)),
            ("pq_codes", lambda: _pq_codes(spark, sf_dir)),
        ],
        [
            ("near_dup_components", lambda: _components(spark, sf_dir)),
            ("image_components", lambda: _image_components(spark, sf_dir)),
        ],
    ]
    timings: dict[str, float] = {}
    t_wall = _time.perf_counter()

    def timed(item: tuple[str, Callable[[], object]]) -> tuple[str, float]:
        name, fn = item
        t0 = _time.perf_counter()
        fn()
        return name, round(_time.perf_counter() - t0, 3)

    for wave in waves:
        with ThreadPoolExecutor(max_workers=len(wave)) as pool:
            for name, sec in pool.map(timed, wave):
                timings[name] = sec
    timings["__wall"] = round(_time.perf_counter() - t_wall, 3)
    return timings
