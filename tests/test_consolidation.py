"""Golden test for the flagship daily consolidation (SURVEY.md §3.1).

Expected rows hand-computed from the reference semantics
(``tarefa_consolidar_dados.php:154-257``), one per branch:
proportional allocation + rounding, least-cap, zero-revenue main-variation
fallback, sales-without-traffic, null variation id, missing cost, unmapped
variation dropped.
"""

from __future__ import annotations

import itertools

import pytest

from pipeline_etl_ecommerce_spark.plans.consolidation import consolidate_daily
from tests.conftest import D, TS

# id_anuncio_variacao -> (id_anuncio, sku, impr, cliques, custo_ads, vendas_ads,
#                         fat_ads, qtd, fat, tarifa, frete, liquido, custo_prod, visitas)
EXPECTED = {
    "V101": ("MLB100", "SKU-1", 750, 75, 37.5, 3, 90.0, 3, 300.0, 45.0, 15.0, 240.0, 31.5, 300),
    "V102": ("MLB100", "SKU-2", 250, 25, 12.5, 5, 30.0, 10, 100.0, 11.0, 4.0, 85.0, 20.0, 100),
    "V201": ("MLB200", "SKU-3", 0, 0, 0.0, 0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0),
    "MLB200": ("MLB200", "SKU-4", 200, 10, 8.0, 2, 15.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 40),
    "V301": ("MLB300", "SKU-5", 0, 0, 0.0, 0, 0.0, 1, 50.0, 7.5, 0.0, 42.5, 7.0, 0),
    "MLB400": ("MLB400", "SKU-6", 0, 0, 0.0, 0, 0.0, 4, 100.0, 12.0, 8.0, 80.0, 0.0, 0),
    # MLB500 pesos 1/3 and 2/3: half-away-from-zero rounding and the W2 cap
    "V501": ("MLB500", "SKU-7", 3, 3, 1.0, 1, 3.0, 1, 1.0, 0.1, 0.0, 0.9, 0.5, 2),
    "V502": ("MLB500", "SKU-8", 7, 6, 2.0, 1, 6.0, 1, 2.0, 0.2, 0.0, 1.8, 0.75, 5),
}

METRIC_COLS = [
    "impressoes_ads",
    "cliques_ads",
    "custo_ads",
    "vendas_ads_qtd",
    "faturamento_ads",
    "vendas_totais_qtd",
    "faturamento_total",
    "tarifa_venda_total",
    "custo_frete_total",
    "liquido_recebido_total",
    "custo_produto_total",
    "visitas_totais",
]


@pytest.fixture(scope="module")
def result(vendas, trafego, mapa, catalogo):
    df = consolidate_daily(vendas, trafego, mapa, catalogo, D)
    return {r["id_anuncio_variacao"]: r.asDict() for r in df.collect()}


def test_row_set(result):
    # V999 (unmapped variation) and MLB888 (unmapped traffic parent) are dropped
    assert set(result) == set(EXPECTED)


def test_golden_values(result):
    for key, exp in EXPECTED.items():
        row = result[key]
        assert row["id_anuncio"] == exp[0], key
        assert row["sku"] == exp[1], key
        got = [row[c] for c in METRIC_COLS]
        want = [exp[2], exp[3], exp[4], exp[5], exp[6], exp[7], exp[8], exp[9], exp[10], exp[11], exp[12], exp[13]]
        for c, g, w in zip(METRIC_COLS, got, want):
            assert g == pytest.approx(w, abs=1e-9), f"{key}.{c}: got {g}, want {w}"


def test_date_and_schema(result):
    row = next(iter(result.values()))
    assert str(row["data_relatorio"]) == str(D)
    assert len(row) == 18


def test_map_row_without_variation_id_is_dropped(spark, vendas, trafego, mapa, catalogo):
    """A map row with a NULL ``id_anuncio_canal`` names no variation: it is
    dropped even though its parent MLB100 has traffic on D, and the
    parent's variations keep their golden allocation."""
    from pyspark.sql.types import StructField, StructType

    nullable = StructType([StructField(f.name, f.dataType, True) for f in mapa.schema.fields])
    orphan = spark.createDataFrame(
        [("SKU-X", "9", None, "Prod X", None, "MLB100", "catA", "fulfillment", "meli_lare", TS)], nullable
    )
    mapa = spark.createDataFrame(mapa.rdd, nullable).union(orphan)
    got = {r["id_anuncio_variacao"]: r for r in consolidate_daily(vendas, trafego, mapa, catalogo, D).collect()}
    assert set(got) == set(EXPECTED)
    assert [got["V101"]["cliques_ads"], got["V102"]["cliques_ads"]] == [EXPECTED["V101"][3], EXPECTED["V102"][3]]


def test_each_variation_appears_once(vendas, trafego, mapa, catalogo):
    """V101 sold on D and its parent MLB100 has traffic on D: one row, not
    one per reason to be active."""
    keys = [r["id_anuncio_variacao"] for r in consolidate_daily(vendas, trafego, mapa, catalogo, D).collect()]
    assert sorted(keys) == sorted(EXPECTED)


def test_plan_scans_each_fact_once_and_streams_the_map(spark, tmp_path, vendas, trafego, mapa, catalogo):
    """The executed plan reads sales and traffic once each, has no Union,
    and broadcasts no scan of the map: the map is the streamed side."""
    marts = {}
    for name, df in (("vendas", vendas), ("trafego", trafego), ("mapa", mapa), ("catalogo", catalogo)):
        df.write.parquet(str(tmp_path / name))
        marts[name] = spark.read.parquet(str(tmp_path / name))
    rel = consolidate_daily(marts["vendas"], marts["trafego"], marts["mapa"], marts["catalogo"], D)
    assert sorted(r["id_anuncio_variacao"] for r in rel.collect()) == sorted(EXPECTED)
    plan = rel._jdf.queryExecution().executedPlan().toString()
    lines = plan[plan.index("== Final Plan =="):plan.index("== Initial Plan ==")].splitlines()
    scans = [line for line in lines if "FileScan" in line]
    # a scan's column list names its mart
    assert sum("data_venda#" in line for line in scans) == 1
    assert sum("data_metrica#" in line for line in scans) == 1
    assert not any("Union" in line for line in lines)

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            below = itertools.takewhile(lambda m: depth(m) > depth(line), lines[i + 1:])
            assert not any("FileScan" in m and "id_anuncio_canal#" in m for m in below), "the map is broadcast"
