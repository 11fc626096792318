"""The benchmark's workloads: the daily mart job and the BI read queries.

Each workload sets up (inputs from the seed, the session, a warm-up), runs
its operations one after another until ``seconds`` have passed (a closed
loop with one caller), then checks the outputs with DuckDB, outside the timed
region. With tracing on, spans are recorded around the calls into each of
the engine's layers and the run reports per-layer numbers instead.
"""

from __future__ import annotations

import os
import pickle
import statistics
import subprocess
import sys
import threading
import time
import types
from dataclasses import dataclass, field

from perfbench import payloads, tables
from perfbench.trace import Tracer, descendants, fold_event_log, self_times, spark_totals

PKG = "pipeline_etl_ecommerce_spark."
MB = 1 << 20
# a fixed heap (-Xms = -Xmx): a heap grown on demand made peak RSS swing by a third
HEAP = "2g"
RSS_PERIOD_S = 2.0


class RssSampler:
    """Peak resident memory of this process and its descendants (the JVM and
    anything it forks), read from /proc every ``RSS_PERIOD_S`` by a
    background thread. Each process counts its proportional share (Pss) of
    pages it shares, so a forked child that has not yet exec'd does not count
    its parent's memory twice. Processes in ``skip`` (the checker) and their
    descendants do not count."""

    def __init__(self):
        self.skip: set[int] = set()
        self.samples = 0
        self.busy_s = 0.0  # time spent sampling: the sampler's own cost
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb()
            self._stop.wait(RSS_PERIOD_S)

    def restart(self) -> None:
        """Forget the peak so far and take a sample now."""
        with self._lock:
            self._peak_kb = 0
        self.peak_kb()

    def peak_kb(self) -> int:
        """Take a sample now; return the peak so far."""
        t = time.perf_counter()
        kb = self.sample()
        with self._lock:
            self.samples += 1
            self.busy_s += time.perf_counter() - t
            self._peak_kb = max(self._peak_kb, kb)
            return self._peak_kb

    def sample(self) -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, todo = {os.getpid()}, [os.getpid()]
        while todo:
            p = todo.pop()
            for child, ppid in parent.items():
                if ppid == p and child not in tree and child not in self.skip:
                    tree.add(child)
                    todo.append(child)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next((int(line.split()[1]) for line in fh if line.startswith("Pss:")), 0)
            except OSError:
                continue
        return total


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str  # work directory of this run, inside the checkout
    cores: int
    started: float  # perf_counter at process start
    rss: RssSampler

    def peak_rss(self) -> tuple[float, str]:
        """Peak resident memory of Python and the JVM since ``rss.restart()``,
        called as the timed region begins. Read as it ends, so the set-up and
        the output checks do not count; the checker's own process never does."""
        return self.rss.peak_kb() / 1024, "MB"


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    metrics: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    problems: list[str]
    report: dict = field(default_factory=dict)  # human-facing summary
    spans: list = field(default_factory=list)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Checker:
    """DuckDB for the output checks, run by ``perfbench/checker.py`` in a
    process the RSS sampler skips."""

    def __init__(self, rss: RssSampler):
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "checker.py")
        self.proc = subprocess.Popen([sys.executable, script], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        rss.skip.add(self.proc.pid)

    def _ask(self, sql: str, how: str):
        pickle.dump((sql, how), self.proc.stdin)
        self.proc.stdin.flush()
        ok, result = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"checker: {result}")
        return result

    def run(self, sql: str) -> None:
        self._ask(sql, "run")

    def all(self, sql: str) -> list[tuple]:
        return self._ask(sql, "all")

    def one(self, sql: str) -> tuple:
        return self._ask(sql, "one")

    def df(self, sql: str):
        return self._ask(sql, "df")

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def start_spark(ctx: Context, tracer: Tracer):
    from pipeline_etl_ecommerce_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData",
    }
    if ctx.trace:
        events = os.path.join(ctx.work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = tracer.call("session.get_spark", get_spark, "perfbench", cpus=ctx.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if ctx.trace:
        tracer.sc = spark.sparkContext
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def shuffle_written(spark) -> dict[int, int]:
    """Shuffle bytes written by every stage the session has run, by stage
    id, from Spark's status store once its listener bus has caught up."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = jsc.statusStore().stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    return {stage.stageId(): stage.shuffleWriteBytes() for stage in (stages.apply(i) for i in range(stages.size()))}


def read_event_log(ctx: Context) -> dict:
    folder = os.path.join(ctx.work, "events")
    folded: dict = {}
    for name in os.listdir(folder):
        with open(os.path.join(folder, name), encoding="utf-8") as fh:
            folded.update(fold_event_log(fh))
    return folded


def unit_of(metric: str) -> str:
    if metric.endswith((".calls", ".jobs", ".stages", ".tasks")):
        return "count"
    if metric.endswith(".bytes_written"):
        return "B"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_amp", "_frac")):
        return "ratio"
    return "s"


# ---------------------------------------------------------------------------
# daily_year: scripts/run_daily.run_day, day after day, over a year of facts
# ---------------------------------------------------------------------------

DAILY_SHAPE = payloads.Shape(parents=1000, orders_per_day=1500)
HISTORY_DAYS = 365
UPSERT_MARTS = ("produtos_catalogo", "anuncios_canais", "mapa_produtos_anuncios",
                "vendas_financeiro", "trafego_diario", "relatorio_diario")
MART_KEYS = {
    "produtos_catalogo": ["sku"],
    "anuncios_canais": ["id_anuncio_canal"],
    "mapa_produtos_anuncios": ["id_anuncio_canal"],
    "vendas_financeiro": ["id_ordem", "id_anuncio", "id_variacao"],
    "trafego_diario": ["id_anuncio", "data_metrica"],
    "relatorio_diario": ["data_relatorio", "id_anuncio_variacao"],
}
# functions run_day imports, traced as attributes of the run_daily module
RUN_DAY_CALLS = ("read_json_payloads", "sync_catalog", "sync_listings", "consolidate_mapa",
                 "transform_orders", "process_traffic_tasks", "consolidate_daily",
                 "upsert_to_path", "append_to_path")


def layer_name(fn) -> str:
    """``plans.sales`` for a plan function; ``sources.sinks.upsert_to_path`` for a source call."""
    mod = fn.__module__.removeprefix(PKG)
    return mod if mod.startswith("plans.") else f"{mod}.{fn.__name__}"


def _files(path: str) -> set[tuple[str, int]]:
    return {(os.path.join(r, f), os.path.getsize(os.path.join(r, f))) for r, _, fs in os.walk(path) for f in fs}


def traced_sink(tracer: Tracer, fn):
    """Trace a path writer and tag its span with the bytes of the files the
    call created (an upsert swaps in a whole new copy of the mart)."""
    name = layer_name(fn)

    def traced(df, path, *args, **kwargs):
        span = tracer.open(name)
        before = _files(path)
        try:
            return fn(df, path, *args, **kwargs)
        finally:
            span.tags["bytes_written"] = sum(size for _, size in _files(path) - before)
            tracer.close(span)

    return traced


def _mart(marts: str, name: str) -> str:
    return f"read_parquet('{marts}/{name}/*.parquet')"


def mart_digest(con, marts: str) -> dict[str, tuple]:
    """Row count and an order-free content hash per mart. Load timestamps
    (``data_atualizacao``) are left out: they record when a row was written.
    The alert log is appended on every run, so its distinct rows are hashed."""
    out = {}
    for name in (*UPSERT_MARTS, "alertas_mapa"):
        cols = [r[0] for r in con.all(f"DESCRIBE SELECT * FROM {_mart(marts, name)}")
                if r[0] != "data_atualizacao"]
        rel = _mart(marts, name)
        if name == "alertas_mapa":
            rel = f"(SELECT DISTINCT * FROM {rel})"
        out[name] = con.one(f"SELECT count(*), sum(hash({', '.join(cols)})) FROM {rel}")
    return out


def check_daily(con, marts: str, gen: payloads.DailyGenerator, days: list[int]) -> dict[int, list[str]]:
    """Problems per day index (key problems are charged to the last day)."""
    problems: dict[int, list[str]] = {i: [] for i in days}
    sale_day = "CAST(CAST(data_venda AS TIMESTAMP) - INTERVAL 3 HOUR AS DATE)"
    got = {r[0]: (r[1], r[2]) for r in con.all(
        f"SELECT {sale_day} d, sum(qtd_vendida), sum(faturamento_bruto_item) "
        f"FROM {_mart(marts, 'vendas_financeiro')} GROUP BY d")}
    want = {**gen.history_totals, **gen.sales_totals()}
    for d in sorted(set(got) | set(want)):
        g, w = got.get(d, (0, 0.0)), want.get(d, (0, 0.0))
        if g[0] != w[0] or abs(g[1] - w[1]) > 1e-6 * max(1.0, abs(w[1])):
            index = (d - payloads.START).days
            problems.setdefault(index if index in problems else days[-1], []).append(
                f"vendas_financeiro {d}: qty/gross {g} != generated {w}")
    flag = {r[0]: (r[1], r[2]) for r in con.all(
        "SELECT data_relatorio, sum(vendas_totais_qtd), sum(faturamento_total) "
        f"FROM {_mart(marts, 'relatorio_diario')} GROUP BY 1")}
    alloc: dict = {}
    for d, parent, visits, clicks in con.all(
            "SELECT data_relatorio, id_anuncio, sum(visitas_totais), sum(cliques_ads) "
            f"FROM {_mart(marts, 'relatorio_diario')} GROUP BY 1, 2"):
        alloc.setdefault(d, {})[parent] = (visits, clicks)
    for i in days:
        d = gen.day(i)
        w = gen.flagship_totals(i)
        g = flag.get(d, (0, 0.0))
        if g[0] != w["vendas_totais_qtd"] or abs(g[1] - w["faturamento_total"]) > 1e-6 * max(1.0, w["faturamento_total"]):
            problems[i].append(f"relatorio_diario {d}: qty/revenue {g} != generated {w}")
        expected = gen.parent_traffic(i)
        for parent, (visits, clicks) in alloc.get(d, {}).items():
            want_v, want_c, kids = expected.get(parent, (0, 0, 1))
            tol = 0.5 * kids + 1e-9
            if abs(visits - want_v) > tol or abs(clicks - want_c) > tol:
                problems[i].append(f"relatorio_diario {d} {parent}: allocated visits/clicks "
                                   f"{visits}/{clicks} != parent traffic {want_v}/{want_c}")
        missing = set(expected) - set(alloc.get(d, {}))
        if missing:
            problems[i].append(f"relatorio_diario {d}: {len(missing)} traffic parents missing")
    for name, keys in MART_KEYS.items():
        key = ", ".join(f"coalesce(CAST({k} AS VARCHAR), '<null>')" for k in keys)
        n, distinct = con.one(f"SELECT count(*), count(DISTINCT ({key})) FROM {_mart(marts, name)}")
        if n != distinct:
            problems[days[-1]].append(f"{name}: {n - distinct} duplicate keys")
    return problems


def daily_year(ctx: Context) -> Outcome:
    """Run new days through ``run_day`` over marts that hold a year of facts."""
    import run_daily

    tracer = Tracer()
    gen = payloads.DailyGenerator(ctx.seed, DAILY_SHAPE)
    drops, marts = os.path.join(ctx.work, "drops"), os.path.join(ctx.work, "marts")

    def drop(i: int) -> str:
        path = os.path.join(drops, str(i))
        gen.write_drop(i, path)
        return path

    originals = {name: getattr(run_daily, name) for name in RUN_DAY_CALLS}
    if ctx.trace:
        for name, fn in originals.items():
            traced = traced_sink(tracer, fn) if name.endswith("_to_path") else tracer.wrap(layer_name(fn), fn)
            setattr(run_daily, name, traced)
    con = Checker(ctx.rss)
    spark = None
    problems: list[str] = []
    day_walls: list[float] = []
    roots = []
    attempted = failed = 0
    try:
        spark = start_spark(ctx, tracer)
        # warm-up: day 0 over the history; its upserts rewrite the history
        # into Spark's own layout
        history_rows = payloads.write_history(gen, HISTORY_DAYS, marts)
        run_daily.run_day(spark, drop(0), marts, gen.day(0))
        setup_s = time.perf_counter() - ctx.started

        timed_days: list[int] = []
        ctx.rss.restart()
        begin = time.perf_counter()
        i = 1
        while True:
            path = drop(i)  # the drop lands before the job starts
            span = tracer.open("run_daily.run_day", day=str(gen.day(i)), timed=True) if ctx.trace else None
            t = time.perf_counter()
            try:
                stats = run_daily.run_day(spark, path, marts, gen.day(i))
            except Exception as ex:  # noqa: BLE001 - a failing day is counted; its marts are not checked
                failed += 1
                problems.append(f"{gen.day(i)}: run_day raised {str(ex)[:200]}")
                break
            finally:
                day_walls.append(time.perf_counter() - t)
                if span is not None:
                    tracer.close(span)
                    roots.append(span)
            timed_days.append(i)
            if span is not None:
                span.tags["stats"] = stats
                span.tags["mart_rows"] = {m: _rows(os.path.join(marts, m)) for m in UPSERT_MARTS}
            if time.perf_counter() - begin >= ctx.seconds:
                break
            i += 1
        peak_rss = ctx.peak_rss()
        attempted += len(day_walls)
        by_day = check_daily(con, marts, gen, timed_days) if timed_days else {}
        for index in timed_days:
            if by_day.get(index):
                failed += 1
                problems.extend(by_day[index])
        marts_mb = dir_bytes(marts) / MB
        if ctx.trace and timed_days:
            # idempotence, checked in the traced run only: the re-run is one
            # more run_day, which untraced runs have no time for
            last = timed_days[-1]
            before = mart_digest(con, marts)
            run_daily.run_day(spark, os.path.join(drops, str(last)), marts, gen.day(last))
            attempted += 1
            changed = [m for m, digest in mart_digest(con, marts).items() if digest != before[m]]
            if changed:
                failed += 1
                problems.append(f"re-running {gen.day(last)} changed marts {changed}")
    finally:
        for name, fn in originals.items():
            setattr(run_daily, name, fn)
        if spark is not None:
            stop_spark(spark)
        con.close()

    report = {
        "day_p50_s": median(day_walls), "day_samples": len(day_walls), "day_walls_s": day_walls, "mart_mb": marts_mb,
        "history_rows": history_rows, "orders_per_day": DAILY_SHAPE.orders_per_day,
        "parents": DAILY_SHAPE.parents, "sellables": len(gen.universe.sellables),
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(day_walls), "s"),
        "cycle_s": (median(day_walls), "s"),
        "data_mb": (marts_mb, "MB"),
        "peak_rss_mb": peak_rss,
    }
    out = Outcome(metrics, attempted, failed, problems, report)
    if ctx.trace:
        out.metrics = daily_layers(ctx, tracer, roots, marts)
        out.spans = tracer.to_json()
    return out


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in os.listdir(path) if f.endswith(".parquet"))


def daily_layers(ctx: Context, tracer: Tracer, roots: list, marts: str) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of the timed days, each the median over days."""
    folded = read_event_log(ctx)
    selfs = self_times(tracer.spans)
    per_day: list[dict[str, float]] = []
    for root in roots:
        kids = descendants(tracer.spans, root.id)
        m: dict[str, float] = {}
        for s in kids:
            if s.name.startswith("plans."):
                m[f"{s.name}.build_s"] = m.get(f"{s.name}.build_s", 0.0) + s.duration
            else:
                m[f"{s.name}.s"] = m.get(f"{s.name}.s", 0.0) + s.duration
                m[f"{s.name}.calls"] = m.get(f"{s.name}.calls", 0.0) + 1
        m["sources.sinks.upsert_to_path.bytes_written"] = sum(
            s.tags["bytes_written"] for s in kids if s.name == "sources.sinks.upsert_to_path")
        written = sum(s.tags.get("bytes_written", 0) for s in kids)
        # bytes of the day's new rows: each mart's rows of the day at the
        # mart's average stored row size
        delta = 0.0
        stats, rows = root.tags.get("stats", {}), root.tags.get("mart_rows", {})
        for name in UPSERT_MARTS:
            if rows.get(name):
                delta += stats.get(name, 0) * dir_bytes(os.path.join(marts, name)) / rows[name]
        m["sources.sinks.write_amp"] = written / delta if delta else 0.0
        m["run_daily.self_s"] = selfs[root.id]
        m["trace.op_p50_s"] = root.duration
        counters = spark_totals(folded, [root, *kids])
        counters["busy_frac"] = counters["executor_run_s"] / (root.duration * ctx.cores)
        m.update({f"spark.{k}": v for k, v in counters.items()})
        per_day.append(m)
    names = set().union(*per_day)
    out = {k: (median([d.get(k, 0.0) for d in per_day]), unit_of(k)) for k in names}
    get_spark = next(s for s in tracer.spans if s.name == "session.get_spark")
    out["session.get_spark.s"] = (get_spark.duration, "s")
    return out


# ---------------------------------------------------------------------------
# mart_queries: the dashboard reads, catalog rows with DuckDB oracles
# ---------------------------------------------------------------------------

QUERY_SF = 0.01
QUERY_ROWS = (
    # one row per family, all four rank statistics and both sketches; more
    # rows would not let the benchmark's 48 runs fit their time budget on a
    # slow hour. peak_concurrent_orders is left out: see perfbench/README.md
    "flagship_consolidation",  # flagship and allocation
    "cohort_retention_weekly",  # events
    "top3_parts_per_brand",  # ranking
    "rollup_returnflag_status",  # OLAP
    "price_percentiles", "price_percentiles_cont", "price_mad_by_returnflag", "winsorized_price_stats",
    "sketch_profile_lineitem", "approx_percentile_prices",  # sketches
)


def operator_modules(fn, seen: set | None = None) -> set[str]:
    """The ``operators.*`` modules a catalog callable uses, read from its code
    and from the code of the catalog helpers it calls."""
    seen = set() if seen is None else seen
    if fn in seen:
        return set()
    seen.add(fn)
    prefix = PKG + "operators."
    out: set[str] = set()
    todo = [fn.__code__]
    while todo:
        code = todo.pop()
        todo.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
        for name in code.co_names:
            if name.startswith("operators."):  # a function-local relative import
                out.add(name.split(".")[1])
            obj = fn.__globals__.get(name)
            mod = getattr(obj, "__module__", None) or ""
            if mod.startswith(prefix):
                out.add(mod.removeprefix(prefix).split(".")[0])
            elif isinstance(obj, types.FunctionType) and mod == fn.__module__:
                out |= operator_modules(obj, seen)
    return out


def mart_queries(ctx: Context) -> Outcome:
    import selfcheck

    from pipeline_etl_ecommerce_spark import testdata_queries

    tracer = Tracer()
    data = os.path.join(ctx.work, "tables")
    con = Checker(ctx.rss)
    spark = None
    check_s = 0.0
    wrong: dict[str, list[str]] = {}
    samples: dict[str, list[tuple[float, float, object]]] = {r: [] for r in QUERY_ROWS}
    raised = 0
    try:
        tables.write(ctx.seed, QUERY_SF, data)
        catalog, oracles = testdata_queries.queries(), testdata_queries.oracle_sql()
        t = time.perf_counter()
        for name in tables.TABLES:
            con.run(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
        check_s += time.perf_counter() - t
        spark = start_spark(ctx, tracer)
        # warm-up pass, whose results are checked against the oracles
        for row in QUERY_ROWS:
            try:
                df = catalog[row](spark, data)
                got = df.toPandas()
            except Exception as ex:  # noqa: BLE001 - a failing row is counted, the run goes on
                wrong[row] = [f"spark error: {str(ex)[:200]}"]
                continue
            t = time.perf_counter()
            describe = con.all(f"DESCRIBE ({oracles[row]})")
            want = con.df(oracles[row])
            found = selfcheck.type_parity_problems(df, describe) + selfcheck.compare(row, got, want)
            if found:
                wrong[row] = found
            check_s += time.perf_counter() - t
        t = time.perf_counter()
        warm_stages = shuffle_written(spark)
        check_s += time.perf_counter() - t
        setup_s = time.perf_counter() - ctx.started - check_s

        ctx.rss.restart()
        begin = time.perf_counter()
        passes = 0
        while True:
            for row in QUERY_ROWS:
                span = tracer.open(f"testdata_queries.{row}", row=row, run=passes, timed=True) if ctx.trace else None
                t0 = time.perf_counter()
                try:
                    if ctx.trace:
                        df = tracer.call("testdata_queries.build", catalog[row], spark, data)
                    else:
                        df = catalog[row](spark, data)
                    t1 = time.perf_counter()
                    if ctx.trace:
                        tracer.call("testdata_queries.exec", df.write.format("noop").mode("overwrite").save)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    samples[row].append((t1 - t0, time.perf_counter() - t1, span))
                except Exception as ex:  # noqa: BLE001
                    raised += 1
                    wrong.setdefault(row, []).append(f"spark error: {str(ex)[:200]}")
                finally:
                    if span is not None:
                        tracer.close(span)
            passes += 1
            if time.perf_counter() - begin >= ctx.seconds:
                break
        peak_rss = ctx.peak_rss()
        shuffle_mb = sum(b for stage, b in shuffle_written(spark).items() if stage not in warm_stages) / MB / passes
        tables_mb = dir_bytes(data) / MB
    finally:
        if spark is not None:
            stop_spark(spark)
        con.close()

    walls = [b + e for r in QUERY_ROWS for b, e, _ in samples[r]]
    row_median = {r: median([b + e for b, e, _ in samples[r]]) for r in QUERY_ROWS}
    attempted = len(QUERY_ROWS) * passes
    failed = raised + sum(len(samples[r]) for r in wrong)
    problems = [f"{r}: {p}" for r, ps in wrong.items() for p in ps]
    ordered = sorted(walls)
    p90_beyond = len(ordered) - int(0.9 * len(ordered))
    report = {
        "query_p50_s": median(walls), "query_samples": len(walls), "passes": passes,
        "query_p90_s": statistics.quantiles(walls, n=10)[-1] if p90_beyond >= 10 else None,
        "queries_total_s": sum(row_median.values()), "shuffle_mb_per_pass": shuffle_mb,
        "sf": QUERY_SF, "tables_mb": tables_mb,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(walls), "s"),
        "cycle_s": (sum(row_median.values()), "s"),
        "data_mb": (shuffle_mb, "MB"),
        "peak_rss_mb": peak_rss,
    }
    out = Outcome(metrics, attempted, failed, problems, report)
    if ctx.trace:
        out.metrics = query_layers(ctx, tracer, samples, catalog)
        out.spans = tracer.to_json()
    return out


def query_layers(ctx: Context, tracer: Tracer, samples: dict, catalog: dict) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of one pass: each row's median over passes, summed."""
    folded = read_event_log(ctx)
    total: dict[str, float] = {}
    for row, runs in samples.items():
        if not runs:
            continue
        per_run = []
        for build, execute, span in runs:
            kids = descendants(tracer.spans, span.id)
            m = {f"spark.{k}": v for k, v in spark_totals(folded, [span, *kids]).items()}
            m["testdata_queries.build_s"] = build
            m["testdata_queries.exec_s"] = execute
            for mod in operator_modules(catalog[row]):
                m[f"operators.{mod}.exec_s"] = execute
            m["wall"] = span.duration
            per_run.append(m)
        for k in per_run[0]:
            total[k] = total.get(k, 0.0) + median([m[k] for m in per_run])
    wall = total.pop("wall", 0.0)
    out = {k: (v, unit_of(k)) for k, v in total.items()}
    out["spark.busy_frac"] = (total.get("spark.executor_run_s", 0.0) / (wall * ctx.cores) if wall else 0.0, "ratio")
    out["trace.op_p50_s"] = (median([s.duration for s in tracer.spans if s.tags.get("timed")]), "s")
    out["session.get_spark.s"] = (next(s for s in tracer.spans if s.name == "session.get_spark").duration, "s")
    return out


WORKLOADS = {"daily_year": daily_year, "mart_queries": mart_queries}
