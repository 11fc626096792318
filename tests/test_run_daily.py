"""End-to-end test of the daily CLI driver (`scripts/run_daily.py`):
JSON-lines payload drops -> dims -> bridge -> facts -> flagship mart, twice
(the second run must converge to identical marts — the reference's
idempotent ON DUPLICATE KEY UPDATE contract)."""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from run_daily import run_day  # noqa: E402
from tests.conftest import count_jobs  # noqa: E402

DAY = dt.date(2025, 8, 10)


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("payloads")

    def drop(name, rows):
        with open(d / f"{name}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    drop(
        "tiny_products",
        [
            {"id": 1, "codigo": "SKU-A", "nome": "Produto A", "classe_produto": "S",
             "idProdutoPai": None, "preco_custo": "10,50", "ean": "789"},
            {"id": 2, "codigo": "SKU-B", "nome": "Produto B", "classe_produto": "S",
             "idProdutoPai": None, "preco_custo": "5,00", "ean": "790"},
        ],
    )
    drop(
        "listings",
        [
            {"id": "MLB1", "title": "Anuncio A", "status": "active", "category_id": "MLB-CAT",
             "shipping": {"logistic_type": "fulfillment"}, "seller_custom_field": "SKU-A",
             "inventory_id": None, "attributes": [], "variations": []},
            {"id": "MLB2", "title": "Anuncio B", "status": "active", "category_id": "MLB-CAT",
             "shipping": {"logistic_type": "drop_off"}, "seller_custom_field": "SKU-B",
             "inventory_id": None, "attributes": [], "variations": []},
        ],
    )
    drop(
        "orders",
        [
            {"id": 100, "pack_id": None, "date_created": "2025-08-10T12:00:00.000-03:00",
             "shipping": {"id": 900, "logistic_type": "fulfillment", "list_cost": 12.0},
             "order_items": [
                 {"item": {"id": "MLB1", "variation_id": None, "seller_sku": "SKU-A"},
                  "quantity": 2, "unit_price": 50.0, "sale_fee": 5.0},
                 {"item": {"id": "MLB2", "variation_id": None, "seller_sku": "SKU-B"},
                  "quantity": 1, "unit_price": 30.0, "sale_fee": 3.0},
             ]},
        ],
    )
    drop(
        "shipments",
        [{"shipping_id": 900, "logistic_type": "fulfillment", "list_cost": 12.0}],
    )
    drop(
        "visits",
        [
            {"id_anuncio": "MLB1", "results": [{"date": "2025-08-10T00:00:00Z", "total": 40}]},
            {"id_anuncio": "MLB2", "results": [{"date": "2025-08-10T00:00:00Z", "total": 10}]},
        ],
    )
    drop(
        "ads_metrics",
        [
            {"id_anuncio": "MLB1", "data_metrica": "2025-08-10", "clicks": 5, "prints": 100,
             "cost": 7.5, "units_quantity": 1, "total_amount": 50.0, "organic_items_quantity": 1},
        ],
    )
    return str(d)


def _mart_counts(spark, marts):
    out = {}
    for t in ("produtos_catalogo", "anuncios_canais", "mapa_produtos_anuncios",
              "vendas_financeiro", "trafego_diario", "relatorio_diario"):
        path = os.path.join(marts, t)
        out[t] = spark.read.parquet(path).count() if os.path.exists(path) else None
    return out


def test_run_day_end_to_end_and_idempotent(spark, tmp_path, payload_dir):
    marts = str(tmp_path / "marts")

    stats1 = run_day(spark, payload_dir, marts, DAY)
    counts1 = _mart_counts(spark, marts)
    assert counts1["produtos_catalogo"] == 2
    assert counts1["anuncios_canais"] == 2
    assert counts1["mapa_produtos_anuncios"] == 2
    assert counts1["vendas_financeiro"] == 2  # one row per order item
    assert counts1["trafego_diario"] == 2  # both active listings get a daily row
    assert counts1["relatorio_diario"] == 2
    assert stats1["relatorio_diario"] == 2

    # the flagship mart carries the allocated metrics for the day
    rel = {r["id_anuncio_variacao"]: r.asDict()
           for r in spark.read.parquet(os.path.join(marts, "relatorio_diario")).collect()}
    assert rel["MLB1"]["vendas_totais_qtd"] == 2
    assert rel["MLB1"]["cliques_ads"] == 5  # sole variation takes all parent traffic
    assert rel["MLB1"]["visitas_totais"] == 40
    assert rel["MLB2"]["faturamento_total"] == pytest.approx(30.0)

    # idempotence: a re-run of the same day converges to the same marts
    run_day(spark, payload_dir, marts, DAY)
    assert _mart_counts(spark, marts) == counts1


def test_backfill_crash_resume_idempotent(spark, tmp_path, payload_dir):
    """Crash mid-range, then resume: days before the crash are journaled and
    skipped on re-run; the crashed day re-executes (upserts make that safe);
    the resumed range converges to the same marts as one clean run."""
    from run_daily import JOURNAL_NAME, run_backfill

    start, end = dt.date(2025, 8, 10), dt.date(2025, 8, 12)

    # clean reference run over the full range
    clean = str(tmp_path / "clean")
    done = run_backfill(spark, payload_dir, clean, start, end)
    assert done == [start, start + dt.timedelta(days=1), end]
    clean_counts = _mart_counts(spark, clean)
    # re-invoking the completed range is a full no-op (all days journaled)
    assert run_backfill(spark, payload_dir, clean, start, end) == []

    # crashing run: day 2 raises the first time through
    crashy = str(tmp_path / "crashy")
    calls = {"n": 0}

    def flaky_day(spark_, payloads_, marts_, day_):
        if day_ == dt.date(2025, 8, 11) and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("simulated crash mid-backfill")
        return run_day(spark_, payloads_, marts_, day_)

    with pytest.raises(RuntimeError):
        run_backfill(spark, payload_dir, crashy, start, end, day_fn=flaky_day)
    journaled = {
        r[0] for r in spark.read.parquet(os.path.join(crashy, JOURNAL_NAME)).collect()
    }
    assert journaled == {start}  # only the completed day committed

    # resume with the SAME range: skips day 1, redoes day 2, finishes day 3
    resumed = run_backfill(spark, payload_dir, crashy, start, end, day_fn=flaky_day)
    assert resumed == [dt.date(2025, 8, 11), end]
    assert _mart_counts(spark, crashy) == clean_counts



def test_backfill_resumes_a_crash_inside_a_commit(spark, tmp_path, payload_dir, monkeypatch):
    """Day 2 re-delivers order 100 with one of its two items, so its
    vendas_financeiro upsert picks the file that also holds the other item.
    That upsert crashes between its moves and its deletes; the resumed
    backfill converges to the clean run's marts. Without a journaled commit
    the other item was left twice, and the re-run's keyed replace removed
    only the batch's item."""
    import shutil

    from run_daily import run_backfill

    start, end = dt.date(2025, 8, 10), dt.date(2025, 8, 11)
    day2 = str(tmp_path / "payloads_day2")
    shutil.copytree(payload_dir, day2)
    with open(os.path.join(payload_dir, "orders.jsonl")) as fh:
        order = json.loads(fh.readline())
    order["order_items"] = order["order_items"][:1]
    with open(os.path.join(day2, "orders.jsonl"), "w") as fh:
        fh.write(json.dumps(order) + "\n")

    def day_fn(spark_, payloads_, marts_, day_):
        return run_day(spark_, day2 if day_ == end else payloads_, marts_, day_)

    clean = str(tmp_path / "clean")
    run_backfill(spark, payload_dir, clean, start, end, day_fn=day_fn)
    clean_counts = _mart_counts(spark, clean)

    crashy = str(tmp_path / "crashy")
    vendas, real_remove, crashed = os.path.join(crashy, "vendas_financeiro") + os.sep, os.remove, []

    def remove(f, *args, **kwargs):
        # the first delete of a vendas file: day 1 writes into an empty mart
        if not crashed and str(f).startswith(vendas) and str(f).endswith(".parquet"):
            crashed.append(f)
            raise RuntimeError("simulated crash between the moves and the deletes")
        return real_remove(f, *args, **kwargs)

    monkeypatch.setattr(os, "remove", remove)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_backfill(spark, payload_dir, crashy, start, end, day_fn=day_fn)
    assert run_backfill(spark, payload_dir, crashy, start, end, day_fn=day_fn) == [end]
    assert _mart_counts(spark, crashy) == clean_counts


def _alert_payloads(d, skus):
    """A catalog of ``skus`` and two listings, of SKU-A and SKU-Z: SKU-Z
    raises an alert while it is missing from the catalog."""
    d.mkdir(exist_ok=True)
    with open(d / "tiny_products.jsonl", "w") as f:
        for i, sku in enumerate(skus, 1):
            f.write(json.dumps({"id": i, "codigo": sku, "nome": f"Produto {sku}", "classe_produto": "S",
                                "idProdutoPai": None, "preco_custo": "10,50", "ean": f"78{i}"}) + "\n")
    with open(d / "listings.jsonl", "w") as f:
        for lid, sku in (("MLB1", "SKU-A"), ("MLB9", "SKU-Z")):
            f.write(json.dumps({"id": lid, "title": "Anuncio", "status": "active", "category_id": "MLB-CAT",
                                "shipping": {"logistic_type": "fulfillment"}, "seller_custom_field": sku,
                                "inventory_id": None, "attributes": [], "variations": []}) + "\n")
    return str(d)


def test_rerun_keeps_one_copy_of_the_days_alerts(spark, tmp_path):
    """A listing whose SKU is missing from the catalog raises one alert; the
    day's alert set replaces the day's earlier one, so a re-run of the day
    leaves one alert row, not two."""
    payloads = _alert_payloads(tmp_path / "payloads", ["SKU-A"])
    marts = str(tmp_path / "marts")
    for _ in range(2):
        assert run_day(spark, payloads, marts, DAY)["alertas"] == 1
    alerts = spark.read.parquet(os.path.join(marts, "alertas_mapa")).collect()
    assert [(r["sku"], r["data_alerta"]) for r in alerts] == [("SKU-Z", DAY)]


def test_rerun_with_an_empty_alert_set_drops_the_days_alerts(spark, tmp_path):
    """Re-running a day after its missing SKU was catalogued leaves the day
    with no alerts: an empty alert set names no group to replace, so the
    day's earlier alerts are deleted. Other days' alerts stay."""
    marts = str(tmp_path / "marts")
    missing = _alert_payloads(tmp_path / "missing", ["SKU-A"])
    before = DAY - dt.timedelta(days=1)
    assert run_day(spark, missing, marts, before)["alertas"] == 1
    assert run_day(spark, missing, marts, DAY)["alertas"] == 1
    catalogued = _alert_payloads(tmp_path / "catalogued", ["SKU-A", "SKU-Z"])
    assert run_day(spark, catalogued, marts, DAY)["alertas"] == 0
    alerts = spark.read.parquet(os.path.join(marts, "alertas_mapa")).collect()
    assert [(r["sku"], r["data_alerta"]) for r in alerts] == [("SKU-Z", before)]


def test_warm_rerun_runs_a_pinned_number_of_spark_jobs(spark, tmp_path, payload_dir):
    """The daily job is bound by per-job cost, so its job count is pinned:
    a change that adds a job to the daily path (a schema-inference read, a
    second scan of a fact mart) fails here. Before mart reads took their
    schema from one footer and the map drove the consolidation, this re-run
    ran 60 jobs."""
    marts = str(tmp_path / "marts")
    run_day(spark, payload_dir, marts, DAY)
    _, jobs = count_jobs(spark, lambda: run_day(spark, payload_dir, marts, DAY))
    assert jobs == 40, jobs
