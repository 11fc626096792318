"""The generators: the same seed gives byte-identical inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

from perfbench import payloads, tables
from perfbench.workloads import operator_modules

SMALL = payloads.Shape(parents=60, orders_per_day=120)
DROP_FILES = ("tiny_products", "listings", "orders", "shipments", "visits", "ads_metrics")


def _drops(seed: int, root: str, days: int = 4) -> payloads.DailyGenerator:
    gen = payloads.DailyGenerator(seed, SMALL)
    for i in range(days):
        gen.write_drop(i, os.path.join(root, str(i)))
    return gen


def _same_tree(a: str, b: str) -> bool:
    for sub in sorted(os.listdir(a)):
        names = [f"{n}.jsonl" for n in DROP_FILES]
        match, mismatch, errors = filecmp.cmpfiles(os.path.join(a, sub), os.path.join(b, sub), names, shallow=False)
        if mismatch or errors:
            return False
    return True


def test_same_seed_gives_byte_identical_drops(tmp_path):
    _drops(7, str(tmp_path / "a"))
    _drops(7, str(tmp_path / "b"))
    _drops(8, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_drops_cover_every_path_of_the_daily_job(tmp_path):
    gen = _drops(3, str(tmp_path))
    u = gen.universe
    assert not all(u.active.values()), "some listings are paused"
    assert not all(s.mapped for s in u.sellables), "some SKUs miss the catalog"
    assert any(s.variation for s in u.sellables) and any(s.variation is None for s in u.sellables)
    with open(tmp_path / "3" / "orders.jsonl") as fh:
        days = {json.loads(line)["date_created"][:10] for line in fh}
    assert days == {str(gen.day(i)) for i in range(4)}, "day 3 re-delivers orders of days 0..2"
    # some active parent has traffic but no sale that day (the W3 fallback)
    sold = gen._weights[3]
    assert any(lid not in sold for lid in gen.parent_traffic(3))


def test_ledger_follows_late_corrections(tmp_path):
    gen = payloads.DailyGenerator(5, SMALL)
    gen.write_drop(0, str(tmp_path / "0"))
    before = gen.sales_totals()[gen.day(0)]
    gen.write_drop(1, str(tmp_path / "1"))
    after = gen.sales_totals()[gen.day(0)]
    assert after != before, "day 1 revised some orders of day 0"
    assert gen.flagship_totals(0)["vendas_totais_qtd"] <= before[0]


def test_history_and_tables_are_deterministic(tmp_path):
    for name in ("a", "b"):
        gen = payloads.DailyGenerator(4, SMALL)
        payloads.write_history(gen, 10, str(tmp_path / name))
        tables.write(4, 0.0005, str(tmp_path / name / "tables"))
    for sub in ("vendas_financeiro", "trafego_diario"):
        assert filecmp.cmp(tmp_path / "a" / sub / "part-history.parquet",
                           tmp_path / "b" / sub / "part-history.parquet", shallow=False)
    for t in tables.TABLES:
        assert filecmp.cmp(tmp_path / "a" / "tables" / f"{t}.parquet",
                           tmp_path / "b" / "tables" / f"{t}.parquet", shallow=False)


def test_operator_modules_reads_a_callables_code():
    def uses_nothing():
        return 1

    assert operator_modules(uses_nothing) == set()
    from pipeline_etl_ecommerce_spark import testdata_queries

    assert "stats" in operator_modules(testdata_queries.queries()["price_mad_by_returnflag"])
    assert "allocation" in operator_modules(testdata_queries.queries()["flagship_consolidation"])
