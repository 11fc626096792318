"""Daily pipeline driver — the engine's cron entry point.

Replaces the reference's per-script cron fan (SURVEY.md §3): one invocation
processes a target day end-to-end over a marts directory, from API-shaped
JSON-lines payload drops (the connector's output). Stages run in dependency
order and each stage is skipped gracefully when its payload file is absent
(exactly like a reference cron script no-oping on an empty API response).

Usage:
  python scripts/run_daily.py --payloads DIR --marts DIR [--date YYYY-MM-DD]
  python scripts/run_daily.py ... --backfill 2025-08-01:2025-08-05

Every sink is a keyed upsert or a keyed group replace (the alert log holds
one alert set per day, deleted when the day's set comes out empty), so
re-running any day converges (the reference's idempotent ON DUPLICATE KEY
UPDATE contract).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pipeline_etl_ecommerce_spark import schemas  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.bridge import consolidate_mapa  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.catalog import sync_catalog  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.consolidation import consolidate_daily  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.listings import sync_listings  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.sales import transform_orders  # noqa: E402
from pipeline_etl_ecommerce_spark.plans.traffic import process_traffic_tasks  # noqa: E402
from pipeline_etl_ecommerce_spark.session import get_spark  # noqa: E402
from pipeline_etl_ecommerce_spark.sources.readers import read_json_payloads  # noqa: E402
from pipeline_etl_ecommerce_spark.sources.sinks import (  # noqa: E402
    append_to_path,  # noqa: F401 - a name of this module that tracing harnesses patch
    delete_keys_from_path,
    read_mart,
    replace_groups_to_path,
    upsert_to_path,
)

LATENESS_DAYS = 3  # the reference's D-3 rule (tarefa_consolidar_dados.php:29)
# schemas of the drops that stand in as empty frames when missing
SHIPMENTS = "shipping_id long, logistic_type string, list_cost double"
ADS_METRICS = "id_anuncio string, data_metrica date, clicks int, prints int, cost double, units_quantity int, total_amount double, organic_items_quantity int"


def _payload(spark, payload_dir: str, name: str, schema):
    path = os.path.join(payload_dir, f"{name}.jsonl")
    if not os.path.exists(path):
        return None
    return read_json_payloads(spark, path, schema)


def _or_empty(spark, payload, schema):
    return payload if payload is not None else spark.createDataFrame([], schema)


def run_day(spark, payload_dir: str, marts: str, day: dt.date) -> dict[str, int]:
    """Process one day; returns per-mart row counts for logging: the rows
    each upsert wrote (its deduped batch) and the day's alert count."""
    stats: dict[str, int] = {}

    # --- dims ---
    tiny = _payload(
        spark,
        payload_dir,
        "tiny_products",
        "id long, codigo string, nome string, classe_produto string, idProdutoPai long, preco_custo string, ean string",
    )
    if tiny is not None:
        cat = sync_catalog(tiny)
        stats["produtos_catalogo"] = upsert_to_path(cat, f"{marts}/produtos_catalogo", ["sku"])

    listings = _payload(spark, payload_dir, "listings", schemas.MELI_LISTING)
    if listings is not None:
        stats["anuncios_canais"] = upsert_to_path(
            sync_listings(listings), f"{marts}/anuncios_canais", ["id_anuncio_canal"]
        )

    cat_path = f"{marts}/produtos_catalogo"
    an_path = f"{marts}/anuncios_canais"
    # read once: the bridge and the traffic tasks share it (mart reads run no job)
    anuncios = read_mart(spark, an_path) if os.path.exists(an_path) else None
    if anuncios is not None and os.path.exists(cat_path):
        mapa, alertas = consolidate_mapa(read_mart(spark, cat_path), anuncios)
        stats["mapa_produtos_anuncios"] = upsert_to_path(mapa, f"{marts}/mapa_produtos_anuncios", ["id_anuncio_canal"])
        # the day's alert set replaces that day's earlier one, so a re-run keeps one copy
        alert_day, alerts_path = F.lit(str(day)).cast("date"), f"{marts}/alertas_mapa"
        stats["alertas"] = replace_groups_to_path(
            alertas.withColumn("data_alerta", alert_day), alerts_path, ["data_alerta"]
        )
        if not stats["alertas"]:  # an empty alert set names no day: drop the day's earlier alerts
            delete_keys_from_path(spark.range(1).select(alert_day.alias("data_alerta")), alerts_path, ["data_alerta"])

    # --- facts ---
    orders = _payload(spark, payload_dir, "orders", schemas.MELI_ORDER)
    shipments = _payload(spark, payload_dir, "shipments", SHIPMENTS)
    if orders is not None:
        vendas = transform_orders(orders, _or_empty(spark, shipments, SHIPMENTS))
        stats["vendas_financeiro"] = upsert_to_path(
            vendas, f"{marts}/vendas_financeiro", ["id_ordem", "id_anuncio", "id_variacao"]
        )

    visits = _payload(spark, payload_dir, "visits", schemas.MELI_VISITS)
    ads = _payload(spark, payload_dir, "ads_metrics", ADS_METRICS)
    if anuncios is not None and (visits is not None or ads is not None):
        active = (
            anuncios.filter(F.col("status") == "active")
            .select(F.col("id_anuncio_pai").alias("id_anuncio"))
            .distinct()
            .withColumn("data_metrica", F.lit(str(day)).cast("date"))
        )
        trafego = process_traffic_tasks(
            active, _or_empty(spark, visits, schemas.MELI_VISITS), _or_empty(spark, ads, ADS_METRICS)
        )
        stats["trafego_diario"] = upsert_to_path(trafego, f"{marts}/trafego_diario", ["id_anuncio", "data_metrica"])

    # --- flagship consolidation ---
    needed = ["vendas_financeiro", "trafego_diario", "mapa_produtos_anuncios", "produtos_catalogo"]
    if all(os.path.exists(f"{marts}/{t}") for t in needed):
        rel = consolidate_daily(*(read_mart(spark, f"{marts}/{t}") for t in needed), day)
        stats["relatorio_diario"] = upsert_to_path(
            rel, f"{marts}/relatorio_diario", ["data_relatorio", "id_anuncio_variacao"]
        )

    return stats


JOURNAL_NAME = "_backfill_journal"


def run_backfill(
    spark,
    payload_dir: str,
    marts: str,
    start: dt.date,
    end: dt.date,
    *,
    day_fn=run_day,
) -> list[dt.date]:
    """Resumable multi-day consolidation (the reference's commented backfill
    loop, ``tarefa_consolidar_dados.php:33-49``, made first-class): process
    every day in [start, end] IN ORDER, journaling each completed day to
    ``marts/_backfill_journal`` (single ``day`` column). A crashed run resumes where it stopped: already-journaled
    days are skipped, and the in-flight day re-runs safely because every
    sink is a keyed upsert (the journal row is appended only AFTER the day
    completes — at-least-once day execution, exactly-once day effects).

    Returns the days actually processed this invocation."""
    journal_path = os.path.join(marts, JOURNAL_NAME)
    done: set[dt.date] = set()
    if os.path.exists(journal_path):
        done = {r[0] for r in read_mart(spark, journal_path).select("day").collect()}
    processed = []
    for i in range((end - start).days + 1):
        day = start + dt.timedelta(days=i)
        if day in done:
            continue
        stats = day_fn(spark, payload_dir, marts, day)
        print(f"[{day}] " + ", ".join(f"{k}={v}" for k, v in stats.items()))
        # journal append is the commit point for the day
        spark.createDataFrame([(day,)], "day date").write.mode("append").parquet(journal_path)
        processed.append(day)
    return processed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--payloads", required=True, help="dir with <name>.jsonl payload drops")
    ap.add_argument("--marts", required=True, help="output marts directory")
    ap.add_argument("--date", default=None, help="target day (default: today - 3)")
    ap.add_argument(
        "--backfill",
        default=None,
        help="START:END inclusive date range; journaled per completed day "
        "under <marts>/_backfill_journal, so a crashed run resumes where it "
        "stopped (re-invoke with the same range)",
    )
    args = ap.parse_args(argv)

    spark = get_spark("run-daily")
    spark.sparkContext.setLogLevel("ERROR")

    if args.backfill:
        start_s, end_s = args.backfill.split(":")
        start, end = dt.date.fromisoformat(start_s), dt.date.fromisoformat(end_s)
        run_backfill(spark, args.payloads, args.marts, start, end)
        return 0
    if args.date:
        days = [dt.date.fromisoformat(args.date)]
    else:
        days = [dt.date.today() - dt.timedelta(days=LATENESS_DAYS)]

    for day in days:
        stats = run_day(spark, args.payloads, args.marts, day)
        print(f"[{day}] " + ", ".join(f"{k}={v}" for k, v in stats.items()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
