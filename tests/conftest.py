"""Shared fixtures: Spark session + reference-domain fixture tables.

Fixture scenarios follow FIXTURES.md §1 and cover every branch of the
reference's consolidation (reference ``tarefa_consolidar_dados.php:154-257``):
proportional allocation with rounding, the least-cap, the zero-revenue
main-variation fallback, unmapped variations, missing costs, null variation
ids, and parents with sales but no traffic.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from pipeline_etl_ecommerce_spark import schemas
from pipeline_etl_ecommerce_spark.session import get_spark

D = dt.date(2025, 8, 10)  # target day for all daily fixtures
TS = dt.datetime(2025, 8, 10, 12, 0, 0)
OFF_TS = dt.datetime(2025, 8, 9, 23, 59, 0)  # off-day row, must be filtered


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pipeline-etl-ecommerce-tests", cpus=4)
    yield s


def count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted as the jobs of
    a job group of its own."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def search_index(corpus):
    """``(lists, centroids)`` of the sublinear IVF search index over a
    ``(vec_id, embedding)`` corpus, made by the catalog's two calls: a
    k ≈ √n pinned quantizer and 2-way spilled inverted lists."""
    from pipeline_etl_ecommerce_spark.operators.clustering import centroids_table
    from pipeline_etl_ecommerce_spark.operators.ivf import spilled_assignment, sublinear_k

    cents = centroids_table(corpus, "embedding", "vec_id", k=sublinear_k(corpus.count()))
    return spilled_assignment(corpus, cents), cents


@pytest.fixture(scope="session")
def mapa(spark):
    rows = [
        # sku, id_tiny, ean, titulo, id_canal, id_pai, categoria, logistic, plataforma, ts
        ("SKU-1", "1", "789", "Prod 1", "V101", "MLB100", "catA", "fulfillment", "meli_lare", TS),
        ("SKU-2", "2", "789", "Prod 2", "V102", "MLB100", "catA", "fulfillment", "meli_lare", TS),
        ("SKU-3", "3", None, "Prod 3", "V201", "MLB200", "catB", "default", "meli_lare", TS),
        ("SKU-4", "4", None, "Prod 4", "MLB200", "MLB200", "catB", "default", "meli_lare", TS),
        ("SKU-5", "5", None, "Prod 5", "V301", "MLB300", "catC", "self_service", "meli_lare", TS),
        ("SKU-6", "6", None, "Prod 6", "MLB400", "MLB400", "catC", "fulfillment", "meli_lare", TS),
        ("SKU-7", "7", None, "Prod 7", "V501", "MLB500", "catD", "fulfillment", "meli_lare", TS),
        ("SKU-8", "8", None, "Prod 8", "V502", "MLB500", "catD", "fulfillment", "meli_lare", TS),
    ]
    return spark.createDataFrame(rows, schemas.MAPA_PRODUTOS_ANUNCIOS)


@pytest.fixture(scope="session")
def catalogo(spark):
    rows = [
        ("SKU-1", 1, "Prod 1", "S", None, "789", 10.50, TS),
        ("SKU-2", 2, "Prod 2", "S", None, "789", 2.00, TS),
        ("SKU-3", 3, "Prod 3", "V", "SKU-4", None, 5.00, TS),
        ("SKU-4", 4, "Prod 4", "S", None, None, 1.25, TS),
        ("SKU-5", 5, "Prod 5", "K", None, None, 7.00, TS),
        # SKU-6 intentionally missing -> cost defaults to 0.00 (J2)
        ("SKU-7", 7, "Prod 7", "S", None, None, 0.50, TS),
        ("SKU-8", 8, "Prod 8", "S", None, None, 0.75, TS),
        ("EMB-1", 90, "Caixa", "S", None, None, 0.10, TS),  # packaging, filtered by P5
    ]
    return spark.createDataFrame(rows, schemas.PRODUTOS_CATALOGO)


@pytest.fixture(scope="session")
def vendas(spark):
    def sale(ordem, anuncio, variacao, sku, qtd, preco, tarifa, frete, ts=TS, lt="fulfillment"):
        bruto = round(preco * qtd, 2)
        liquido = round(bruto - tarifa - frete, 2)
        return (ordem, None, anuncio, variacao, sku, ts, qtd, preco, bruto, tarifa, frete, liquido, lt)

    rows = [
        # MLB100: two variations, revenue 300 vs 100 -> pesos 0.75 / 0.25
        sale(1, "MLB100", "V101", "SKU-1", 2, 100.0, 30.0, 10.0),
        sale(2, "MLB100", "V101", "SKU-1", 1, 100.0, 15.0, 5.0),
        sale(3, "MLB100", "V102", "SKU-2", 10, 10.0, 11.0, 4.0),
        # MLB300: sales, but no traffic row for the day
        sale(4, "MLB300", "V301", "SKU-5", 1, 50.0, 7.5, 0.0, lt="self_service"),
        # MLB400: null variation id -> grouping key falls back to id_anuncio
        sale(5, "MLB400", None, "SKU-6", 4, 25.0, 12.0, 8.0),
        # V999: not present in the map -> dropped by the inner join (P7)
        sale(6, "MLB900", "V999", "SKU-9", 1, 10.0, 1.0, 0.0),
        # MLB500: thirds, to pin down half-away-from-zero rounding
        sale(7, "MLB500", "V501", "SKU-7", 1, 1.0, 0.1, 0.0),
        sale(8, "MLB500", "V502", "SKU-8", 1, 2.0, 0.2, 0.0),
        # off-day sale: filtered out by the day predicate
        sale(9, "MLB100", "V101", "SKU-1", 99, 100.0, 1.0, 1.0, ts=OFF_TS),
    ]
    return spark.createDataFrame(rows, schemas.VENDAS_FINANCEIRO)


@pytest.fixture(scope="session")
def trafego(spark):
    rows = [
        # id_anuncio, day, cliques, impressoes, custo, vendas_ads, visitas, organicas, fat_ads
        ("MLB100", D, 100, 1000, 50.0, 20, 400, 5, 120.0),
        ("MLB200", D, 10, 200, 8.0, 2, 40, 0, 15.0),  # zero-revenue parent -> W3
        ("MLB500", D, 9, 10, 3.0, 3, 7, 0, 9.0),  # thirds rounding
        ("MLB888", D, 1, 1, 1.0, 1, 1, 0, 1.0),  # parent absent from map -> dropped
        ("MLB100", dt.date(2025, 8, 9), 9, 9, 9.0, 9, 9, 9, 9.0),  # off-day
    ]
    return spark.createDataFrame(rows, schemas.TRAFEGO_DIARIO)
