"""Flagship pipeline: daily consolidation → ``relatorio_diario`` (18 cols).

Spark-first restatement of reference ``tarefa_consolidar_dados.php`` (SURVEY.md
§3.1). The reference runs five imperative stages over PHP hash maps; here the
whole thing is ONE declarative DataFrame expression:

  map, rows with a variation id                            [streamed]
  ⟕ sales@D by variation (coalesce-key groupBy A1/A2, 6 sums) [1 shuffle: id_gr, then broadcast]
  ⟕ traffic@D by parent (J4, zero defaults)                 [broadcast]
  → keep what sold on D or has parent traffic on D (U1, J1)
  ⟕ catalog cost (left J2, default 0)                       [broadcast]
  → window-allocate traffic by revenue weight               [1 shuffle: id_anuncio_pai]
  (W1 ratio, W2 least-cap, W3 main-variation fallback)

Scale shape: the map is the streamed side, and nothing broadcasts it, so
it may grow past what a broadcast holds. Each fact mart is scanned once and
filtered to day D; the day's sales shuffle on the variation key into one
row per variation sold. Those rows, the day's traffic and the catalog's cost column
are broadcast into the map. The allocation window shuffles the kept rows by
``id_anuncio_pai``; a parent's partition holds its variations, a number the
map bounds.

The reference's separate parent-revenue pre-pass ("ETAPA 2.5", lines 118-138)
disappears: ``sum(weight) over (partition by parent)`` computes the same
denominator inline — identical semantics because unmapped variations never
enter the plan (J1 = the reference's ``continue`` at line 157).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.allocation import AllocSpec, allocate_ratio_to_parent

# traffic metric → (mart column, rounded?, cap column) per reference
# tarefa_consolidar_dados.php:202-219
_TRAFFIC_SPECS = [
    AllocSpec("t_impressoes_ads", "impressoes_ads", round_to=0),
    AllocSpec("t_cliques_ads", "cliques_ads", round_to=0),
    AllocSpec("t_custo_ads", "custo_ads"),
    AllocSpec("t_visitas_totais", "visitas_totais", round_to=0),
    AllocSpec("t_vendas_ads_qtd", "vendas_ads_qtd", round_to=0, cap="vendas_totais_qtd"),
    AllocSpec("t_faturamento_total_ads", "faturamento_ads"),
]

_MART_COLUMNS = [
    "data_relatorio",
    "id_anuncio",
    "id_anuncio_variacao",
    "sku",
    "categoria_anuncio",
    "titulo_anuncio",
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


def consolidate_daily(
    vendas: DataFrame,
    trafego: DataFrame,
    mapa: DataFrame,
    catalogo: DataFrame,
    target_date: dt.date | str,
) -> DataFrame:
    """Build the 18-column ``relatorio_diario`` slice for one day.

    Inputs use the schemas of ``schemas.py``; output matches
    ``schemas.RELATORIO_DIARIO`` (grain: target_date × id_anuncio_variacao).
    """
    day = F.lit(str(target_date)).cast("date")

    # --- sales of day D, grouped on the coalesce key (A2: reference line 93) ---
    vendas_dia = vendas.filter(F.to_date("data_venda") == day).withColumn(
        "id_gr", F.coalesce(F.nullif(F.col("id_variacao"), F.lit("")), F.col("id_anuncio"))
    )
    sales_agg = vendas_dia.groupBy("id_gr").agg(
        F.sum("qtd_vendida").cast("int").alias("vendas_totais_qtd"),
        F.sum("faturamento_bruto_item").alias("faturamento_total"),
        F.sum("tarifa_ml").alias("tarifa_venda_total"),
        F.sum("custo_frete_rateado").alias("custo_frete_total"),
        F.sum("liquido_recebido").alias("liquido_recebido_total"),
    )

    # --- traffic of day D, renamed to parent-level source columns ---
    trafego_dia = trafego.filter(F.col("data_metrica") == day).select(
        F.col("id_anuncio").alias("t_id_anuncio"),
        F.col("impressoes_ads").alias("t_impressoes_ads"),
        F.col("cliques_ads").alias("t_cliques_ads"),
        F.col("custo_ads").alias("t_custo_ads"),
        F.col("vendas_ads_qtd").alias("t_vendas_ads_qtd"),
        F.col("visitas_totais").alias("t_visitas_totais"),
        F.col("faturamento_total_ads").alias("t_faturamento_total_ads"),
    )

    # --- the map drives the plan: a mapped variation is active on D when it
    # sold on D or its parent has traffic on D (U1); sales and traffic join
    # by variation and by parent (J4), so unmapped variations and parents
    # drop out (J1: the reference's ``continue`` at line 157) ---
    base = (
        mapa.filter(F.col("id_anuncio_canal").isNotNull())
        .select("id_anuncio_canal", "id_anuncio_pai", "sku", "categoria", "titulo_produto")
        .join(F.broadcast(sales_agg), F.col("id_anuncio_canal") == F.col("id_gr"), "left")
        .join(F.broadcast(trafego_dia), F.col("id_anuncio_pai") == F.col("t_id_anuncio"), "left")
        .filter(F.col("id_gr").isNotNull() | F.col("t_id_anuncio").isNotNull())
        .na.fill(
            {
                "vendas_totais_qtd": 0,
                "faturamento_total": 0.0,
                "tarifa_venda_total": 0.0,
                "custo_frete_total": 0.0,
                "liquido_recebido_total": 0.0,
            }
        )
    )

    # --- cost lookup (J2: left join, default 0.00 — line 176) ---
    base = base.join(
        F.broadcast(catalogo.select("sku", "custo_produto")), "sku", "left"
    ).withColumn(
        "custo_produto_total",
        F.coalesce(F.col("custo_produto"), F.lit(0.0)) * F.col("vendas_totais_qtd"),
    )

    # --- W1/W2/W3 allocation, weight = the variation's revenue (line 200) ---
    allocated = allocate_ratio_to_parent(
        base,
        parent_key="id_anuncio_pai",
        weight="faturamento_total",
        specs=_TRAFFIC_SPECS,
        child_id="id_anuncio_canal",
        parent_id="id_anuncio_pai",
    )

    int_cols = {"impressoes_ads", "cliques_ads", "vendas_ads_qtd", "vendas_totais_qtd", "visitas_totais"}
    return allocated.select(
        day.alias("data_relatorio"),
        F.col("id_anuncio_pai").alias("id_anuncio"),
        F.col("id_anuncio_canal").alias("id_anuncio_variacao"),
        "sku",
        F.col("categoria").alias("categoria_anuncio"),
        F.col("titulo_produto").alias("titulo_anuncio"),
        *[
            (F.col(c).cast("int") if c in int_cols else F.col(c).cast("double")).alias(c)
            for c in _MART_COLUMNS[6:]
        ],
    )
