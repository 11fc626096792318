"""Seeded, API-shaped payload drops for the daily mart pipeline.

One ``Universe`` (listings, variations, catalog) is drawn from the seed; each
day's drop is drawn from ``(seed, day)``, so the same seed gives byte-identical
drops. A drop holds the six JSON-lines files ``scripts/run_daily.run_day``
reads: ``tiny_products``, ``listings``, ``orders``, ``shipments``, ``visits``
and ``ads_metrics``.

The drops exercise every path of the daily job:

- paused listings (no traffic row, no sales);
- SKUs missing from the catalog (the ``consolidate_mapa`` alert path, and
  sales that the flagship mart drops);
- active listings with traffic but no sales that day (the W3 main-variation
  fallback of the allocation);
- re-delivered orders of D-1..D-3 with changed amounts (the late-data update
  path of ``merge_upsert``).

The generator keeps its own ledger of what it emitted, so the benchmark can
check the marts against it: ``sales_totals`` (per sale day, after all late
corrections) and ``flagship_totals`` / ``parent_traffic`` (what the flagship
mart must hold for a day).

``write_history`` writes a year of ``vendas_financeiro`` and
``trafego_diario`` rows straight to parquet, in the marts' own schema, for
the workload that runs against a full year of facts.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SP_OFFSET_H = 3  # America/Sao_Paulo is UTC-3 (no DST since 2019)
LOGISTIC_TYPES = ("fulfillment", "drop_off", "self_service", "cross_docking")
START = dt.date(2025, 8, 1)  # day index 0
VARIATION_SHARE = 0.36  # parents sold as a set of variations
PAUSED_SHARE = 0.10
UNMAPPED_SHARE = 0.03  # SKUs missing from the catalog
ADS_SHARE = 0.40
REDELIVERY_SHARE = 0.10  # of the orders of D-1..D-3


@dataclass(frozen=True)
class Shape:
    parents: int
    orders_per_day: int


@dataclass(frozen=True)
class Sellable:
    listing: str
    variation: str | None
    sku: str
    price: float
    logistic: str
    mapped: bool


def _brl(x: float) -> str:
    """pt-BR money string: 1234.5 -> '1.234,50'."""
    return f"{x:,.2f}".replace(",", "_").replace(".", ",").replace("_", ".")


class Universe:
    """Listings, variations and the ERP catalog, drawn once from the seed."""

    def __init__(self, seed: int, shape: Shape):
        rng = random.Random(f"{seed}:universe")
        self.shape = shape
        self.listings: list[dict] = []
        self.catalog: list[dict] = []
        self.sellables: list[Sellable] = []
        self.active: dict[str, bool] = {}
        self.ads: set[str] = set()
        next_product = 900_000
        for i in range(shape.parents):
            lid = f"MLB{4_100_000 + i}"
            active = rng.random() >= PAUSED_SHARE
            logistic = rng.choice(LOGISTIC_TYPES)
            self.active[lid] = active
            if rng.random() < ADS_SHARE:
                self.ads.add(lid)
            listing = {
                "id": lid,
                "title": f"Anuncio {i}",
                "status": "active" if active else "paused",
                "category_id": f"MLB{1000 + i % 40}",
                "shipping": {"logistic_type": logistic},
                "seller_custom_field": None,
                "inventory_id": None,
                "attributes": [{"id": "BRAND", "value_name": f"Marca {i % 25}"}],
                "variations": [],
            }
            if rng.random() < VARIATION_SHARE:
                parent_product = next_product
                next_product += 1
                self.catalog.append(self._product(rng, parent_product, f"SKU{i:05d}", "P", None, 50.0))
                for j in range(rng.choice((2, 2, 3, 3, 4))):
                    sku = f"SKU{i:05d}-{j}"
                    var = {"id": str(17_000_000_000 + i * 10 + j), "seller_custom_field": None,
                           "inventory_id": None, "attributes": []}
                    self._place_sku(rng, var, sku)
                    listing["variations"].append(var)
                    sell = self._sellable(rng, lid, var["id"], sku, logistic)
                    if sell.mapped:
                        self.catalog.append(
                            self._product(rng, next_product, sku, "V", parent_product, sell.price))
                        next_product += 1
            else:
                sku = f"SKU{i:05d}"
                self._place_sku(rng, listing, sku)
                sell = self._sellable(rng, lid, None, sku, logistic)
                if sell.mapped:
                    self.catalog.append(self._product(rng, next_product, sku, "S", None, sell.price))
                    next_product += 1
            self.listings.append(listing)
        # popularity: a skewed draw, so many children sell nothing on a day
        order = list(range(len(self.sellables)))
        rng.shuffle(order)
        self.weights = [0.0] * len(order)
        for rank, k in enumerate(order):
            self.weights[k] = 1.0 / (1 + rank) ** 0.9 if self.active[self.sellables[k].listing] else 0.0
        self.cum_weights = list(itertools.accumulate(self.weights))
        self.children: dict[str, list[Sellable]] = {}
        for s in self.sellables:
            if s.mapped:
                self.children.setdefault(s.listing, []).append(s)

    def _sellable(self, rng, lid, vid, sku, logistic) -> Sellable:
        s = Sellable(lid, vid, sku, round(rng.uniform(19.9, 499.9), 2), logistic,
                     rng.random() >= UNMAPPED_SHARE)
        self.sellables.append(s)
        return s

    @staticmethod
    def _place_sku(rng, holder: dict, sku: str) -> None:
        """Put the SKU in the attributes drawer or in seller_custom_field."""
        if rng.random() < 0.5:
            holder["attributes"] = holder.get("attributes", []) + [{"id": "SELLER_SKU", "value_name": sku}]
        else:
            holder["seller_custom_field"] = sku

    @staticmethod
    def _product(rng, pid, sku, kind, parent, price) -> dict:
        return {"id": pid, "codigo": sku, "nome": f"Produto {sku}", "classe_produto": kind,
                "idProdutoPai": parent, "preco_custo": _brl(price * rng.uniform(0.3, 0.6)),
                "ean": str(7_890_000_000_000 + pid)}


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":"), ensure_ascii=False))
            fh.write("\n")


class DailyGenerator:
    """Writes day drops in order and keeps the ledger the checks read.

    Day indices count from ``START`` (index 0). Drops must be written in
    increasing day order: a day's re-deliveries revise the orders of the
    three days before it."""

    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.universe = Universe(seed, shape)
        self.shape = shape
        self._orders: dict[int, list[dict]] = {}  # day index -> current order versions
        self._flagship: dict[int, dict[str, float]] = {}
        self._traffic: dict[int, dict[str, tuple[int, int]]] = {}
        self._weights: dict[int, dict[str, float]] = {}
        self.history_totals: dict[dt.date, tuple[int, float]] = {}

    def day(self, index: int) -> dt.date:
        return START + dt.timedelta(days=index)

    def write_drop(self, index: int, out_dir: str) -> None:
        """Write the drop of day ``index`` into ``out_dir`` (created)."""
        u = self.universe
        rng = random.Random(f"{self.seed}:day:{index}")
        day = self.day(index)
        os.makedirs(out_dir, exist_ok=True)

        orders = [self._order(rng, index, k) for k in range(self.shape.orders_per_day)]
        self._orders[index] = orders
        redelivered = []
        for back in (1, 2, 3):
            past = self._orders.get(index - back, [])
            for pos in range(len(past)):
                if rng.random() < REDELIVERY_SHARE:
                    past[pos] = self._revise(rng, past[pos])
                    redelivered.append(past[pos])
        drop = orders + redelivered

        visits, ads, traffic = [], [], {}
        for listing in u.listings:
            lid = listing["id"]
            totals = [rng.randint(0, 400) for _ in range(3)]
            visits.append({"id_anuncio": lid, "results": [
                {"date": f"{day - dt.timedelta(days=2 - k)}T00:00:00Z", "total": totals[k]} for k in range(3)]})
            clicks = 0
            if lid in u.ads:
                clicks = rng.randint(0, 60)
                units = rng.randint(0, 5)
                ads.append({"id_anuncio": lid, "data_metrica": str(day), "clicks": clicks,
                            "prints": clicks * rng.randint(10, 40), "cost": round(clicks * rng.uniform(0.2, 1.5), 2),
                            "units_quantity": units, "total_amount": round(units * rng.uniform(20, 300), 2),
                            "organic_items_quantity": rng.randint(0, 5)})
            if u.active[lid]:
                traffic[lid] = (totals[2], clicks)
        self._traffic[index] = traffic

        # the flagship slice of day D is built from day D's orders as they
        # stand when day D runs; revisions arrive later and do not reach it
        flag = {"vendas_totais_qtd": 0.0, "faturamento_total": 0.0}
        weights: dict[str, float] = {}
        for o in orders:
            for it in o["order_items"]:
                if it["_mapped"]:
                    gross = it["unit_price"] * it["quantity"]
                    flag["vendas_totais_qtd"] += it["quantity"]
                    flag["faturamento_total"] += gross
                    weights[it["item"]["id"]] = weights.get(it["item"]["id"], 0.0) + gross
        self._flagship[index] = flag
        self._weights[index] = weights

        _write_jsonl(os.path.join(out_dir, "tiny_products.jsonl"), u.catalog)
        _write_jsonl(os.path.join(out_dir, "listings.jsonl"), u.listings)
        _write_jsonl(os.path.join(out_dir, "orders.jsonl"), [self._public(o) for o in drop])
        # one shipment in twenty is missing: the 'N/A' logistic default path
        _write_jsonl(os.path.join(out_dir, "shipments.jsonl"), [
            {"shipping_id": o["shipping"]["id"], "logistic_type": o["shipping"]["logistic_type"],
             "list_cost": o["shipping"]["list_cost"]} for o in drop if o["shipping"]["id"] % 20])
        _write_jsonl(os.path.join(out_dir, "visits.jsonl"), visits)
        _write_jsonl(os.path.join(out_dir, "ads_metrics.jsonl"), ads)

    def _order(self, rng, index: int, k: int) -> dict:
        u = self.universe
        oid = 2_000_000_000 + index * 100_000 + k
        n_items = rng.choices((1, 2, 3), (0.55, 0.30, 0.15))[0]
        picked = {id(s): s for s in rng.choices(u.sellables, cum_weights=u.cum_weights, k=n_items)}.values()
        secs = rng.randrange(86_400)
        items = [{"item": {"id": s.listing, "variation_id": s.variation, "seller_sku": s.sku},
                  "quantity": q, "unit_price": s.price, "sale_fee": round(s.price * q * 0.14, 2),
                  "_mapped": s.mapped}
                 for s in picked for q in [rng.choices((1, 2, 3, 4), (0.6, 0.25, 0.1, 0.05))[0]]]
        first = next(iter(picked))
        return {"id": oid, "pack_id": oid - k % 7 if k % 5 == 0 else None,
                "date_created": f"{self.day(index)}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}.000-03:00",
                "shipping": {"id": 5_000_000_000 + oid, "logistic_type": first.logistic,
                             "list_cost": round(rng.uniform(8, 40), 2)},
                "order_items": items}

    @staticmethod
    def _revise(rng, order: dict) -> dict:
        """A late correction: every item changes price or quantity."""
        items = []
        for it in order["order_items"]:
            it = dict(it)
            if rng.random() < 0.5:
                it["unit_price"] = round(it["unit_price"] * rng.uniform(0.8, 0.95), 2)
            else:
                it["quantity"] += 1
            it["sale_fee"] = round(it["unit_price"] * it["quantity"] * 0.14, 2)
            items.append(it)
        return {**order, "order_items": items}

    @staticmethod
    def _public(order: dict) -> dict:
        return {**order, "order_items": [{k: v for k, v in it.items() if k != "_mapped"}
                                         for it in order["order_items"]]}

    # ---- ledger -------------------------------------------------------

    def sales_totals(self) -> dict[dt.date, tuple[int, float]]:
        """(quantity, gross revenue) per sale day over every drop written so
        far, with each order at its latest delivered version."""
        out = {}
        for index, orders in self._orders.items():
            qty = sum(it["quantity"] for o in orders for it in o["order_items"])
            gross = sum(it["quantity"] * it["unit_price"] for o in orders for it in o["order_items"])
            out[self.day(index)] = (qty, gross)
        return out

    def flagship_totals(self, index: int) -> dict[str, float]:
        """Quantity and revenue of mapped sales that day's flagship slice holds."""
        return self._flagship[index]

    def parent_traffic(self, index: int) -> dict[str, tuple[int, int, int]]:
        """parent -> (visits, clicks, mapped children) the flagship slice of
        that day must allocate. Visits and clicks are the parent's traffic
        when some mapped child sold that day (split by revenue) or when the
        parent is its own mapped child (W3 fallback); otherwise 0, since the
        fallback gives nothing to variations."""
        out = {}
        weights = self._weights[index]
        for lid, (visits, clicks) in self._traffic[index].items():
            kids = self.universe.children.get(lid)
            if not kids:
                continue
            full = weights.get(lid, 0.0) > 0 or any(s.variation is None for s in kids)
            out[lid] = (visits if full else 0, clicks if full else 0, len(kids))
        return out


# ---------------------------------------------------------------------------
# A year of fact history, written straight to parquet in the marts' schema
# ---------------------------------------------------------------------------

VENDAS_SCHEMA = pa.schema([
    ("id_ordem", pa.int64()), ("pack_id", pa.int64()), ("id_anuncio", pa.string()),
    ("id_variacao", pa.string()), ("sku", pa.string()), ("data_venda", pa.timestamp("us", tz="UTC")),
    ("qtd_vendida", pa.int32()), ("preco_unitario", pa.float64()), ("faturamento_bruto_item", pa.float64()),
    ("tarifa_ml", pa.float64()), ("custo_frete_rateado", pa.float64()), ("liquido_recebido", pa.float64()),
    ("logistic_type", pa.string()),
])
TRAFEGO_SCHEMA = pa.schema([
    ("id_anuncio", pa.string()), ("data_metrica", pa.date32()), ("cliques_ads", pa.int32()),
    ("impressoes_ads", pa.int32()), ("custo_ads", pa.float64()), ("vendas_ads_qtd", pa.int32()),
    ("visitas_totais", pa.int32()), ("vendas_organicas_qtd", pa.int32()), ("faturamento_total_ads", pa.float64()),
])
HISTORY_ROW_GROUP = 262_144


def write_history(gen: DailyGenerator, days: int, marts: str) -> dict[str, int]:
    """Write ``days`` days of facts before ``START`` into
    ``marts/vendas_financeiro`` and ``marts/trafego_diario``. Each history
    sale is its own order, so keys stay unique. Returns rows per mart."""
    u = gen.universe
    rng = np.random.default_rng([gen.seed, 365])
    sells = u.sellables
    p = np.asarray(u.weights) / sum(u.weights)
    per_day = int(gen.shape.orders_per_day * 1.6)
    n = per_day * days
    pick = rng.choice(len(sells), size=n, p=p)
    day_of = np.repeat(np.arange(-days, 0), per_day)

    def column(values):
        return pa.array(values).take(pa.array(pick))

    qty = rng.choice(np.array([1, 2, 3, 4], dtype=np.int32), size=n, p=[0.6, 0.25, 0.1, 0.05])
    price = np.asarray([s.price for s in sells])[pick]
    gross = price * qty
    fee = np.round(gross * 0.14, 2)
    freight = np.round(rng.uniform(8, 40, size=n), 2)
    start_utc = dt.datetime.combine(START, dt.time(SP_OFFSET_H), tzinfo=dt.timezone.utc)
    epoch_us = int(start_utc.timestamp()) * 1_000_000
    ts = epoch_us + day_of.astype(np.int64) * 86_400_000_000 + rng.integers(0, 86_400, size=n) * 1_000_000
    vendas = pa.table([
        pa.array(1_000_000_000 + np.arange(n, dtype=np.int64)),
        pa.nulls(n, pa.int64()),
        column([s.listing for s in sells]),
        column([s.variation for s in sells]),
        column([s.sku for s in sells]),
        pa.array(ts, pa.timestamp("us", tz="UTC")),
        pa.array(qty),
        pa.array(price),
        pa.array(gross),
        pa.array(fee),
        pa.array(freight),
        pa.array(gross - fee - freight),
        column([s.logistic for s in sells]),
    ], schema=VENDAS_SCHEMA)

    parents = [lid for lid, on in u.active.items() if on]
    m = len(parents) * days
    start_days = (START - dt.date(1970, 1, 1)).days
    ints = lambda hi: pa.array(rng.integers(0, hi, size=m, dtype=np.int32))  # noqa: E731
    trafego = pa.table([
        pa.array(parents * days),
        pa.array(np.repeat(np.arange(start_days - days, start_days, dtype=np.int32), len(parents)), pa.date32()),
        ints(60), ints(2000), pa.array(np.round(rng.uniform(0, 80, size=m), 2)), ints(5), ints(400), ints(5),
        pa.array(np.round(rng.uniform(0, 900, size=m), 2)),
    ], schema=TRAFEGO_SCHEMA)

    for name, table in (("vendas_financeiro", vendas), ("trafego_diario", trafego)):
        os.makedirs(os.path.join(marts, name), exist_ok=True)
        pq.write_table(table, os.path.join(marts, name, "part-history.parquet"), row_group_size=HISTORY_ROW_GROUP)
    gen.history_totals = {
        START + dt.timedelta(days=int(d)): (int(q), float(g))
        for d, q, g in _group_sums(day_of, qty, gross)
    }
    return {"vendas_financeiro": n, "trafego_diario": m}


def _group_sums(day_of, qty, gross):
    days, inv = np.unique(day_of, return_inverse=True)
    return zip(days, np.bincount(inv, weights=qty), np.bincount(inv, weights=gross))
