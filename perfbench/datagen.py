"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:

- the star-schema and documents parquet tables the dashboard workload
  queries (same column names and types as the engine's ``tables.TABLES``);
- JSON-lines drop files of raw API listings for the ingest workload, in
  the nested API shape of ``schemas.API_LISTING``;
- the ingest workload's predicted final table (:class:`ListingModel`),
  which the output check compares against.

Value domains avoid the boundaries where two correct engines may
legitimately disagree: event timestamps are whole seconds (Spark's
``cast(ts as long)`` and DuckDB's interval arithmetic then agree on every
30-minute session gap), money has two decimals, and ids are unique.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row agg key query scan batch"
).split()

_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, table, ...) so that resizing one
    table never shifts another's values."""
    return np.random.default_rng([seed, *stream])


def _ts(start: str, offsets_us: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + offsets_us.astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables plus ``events``, sized by ``sf`` like TPC-H
    (sf 0.01 → 1,500 customers, 15,000 orders, ~60,000 lineitems)."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(50, n_cust // 10)

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype="int32")
    nation = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )

    r = _rng(seed, 1)
    ck = np.arange(n_cust, dtype="int64")
    customer = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": r.choice(SEGMENTS, n_cust),
        }
    )

    r = _rng(seed, 2)
    sk = np.arange(n_supp, dtype="int64")
    supplier = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, 3)
    pk = np.arange(n_part, dtype="int64")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": r.choice(names, n_part),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": r.choice(PART_TYPES, n_part),
            "p_size": r.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + r.integers(0, 1000, n_part) / 10.0, 1),
        }
    )

    r = _rng(seed, 4)
    ok = np.arange(n_ord, dtype="int64")
    span_days = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    odate_days = r.integers(0, span_days + 1, n_ord)
    orders = pd.DataFrame(
        {
            "o_orderkey": ok,
            "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", odate_days * _DAY_US),
            "o_orderpriority": r.choice(PRIORITIES, n_ord),
        }
    )

    r = _rng(seed, 5)
    lines = r.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    # 1..k within each order: position minus the order's first position.
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(n_li) - starts + 1).astype("int32")
    ship = np.repeat(odate_days, lines) + r.integers(1, 122, n_li)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_ok,
            "l_partkey": r.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": r.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": l_ln,
            "l_quantity": r.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": _ts("1995-01-01", ship * _DAY_US),
        }
    )

    r = _rng(seed, 6)
    secs = np.sort(r.integers(0, 30 * 86_400, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts("2024-01-01", secs * 1_000_000),
            "user_id": r.integers(0, n_users, n_ev).astype("int64"),
            "event_type": r.choice(EVENT_TYPES, n_ev),
            "value": _money(r, 0.0, 560.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Synthetic corpus over a 31-word vocabulary; 5% of documents are
    near-duplicates (an earlier document's text plus one marker word)."""
    r = _rng(seed, 7)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 101)))))
    ids = np.arange(n_docs, dtype="int64")
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": r.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# ---------------------------------------------------------------------------
# Ingest: raw API listings and the predicted table state
# ---------------------------------------------------------------------------

MAKES = ["Perodua", "Proton", "Honda", "Toyota", "Nissan", "Mazda", "BMW",
         "Mercedes-Benz", "Hyundai", "Kia", "Ford", "Volkswagen"]
MAKE_P = np.array([30, 28, 9, 9, 5, 4, 3, 3, 3, 2, 2, 2], dtype=float)
MAKE_P /= MAKE_P.sum()
MODELS = ["Axia", "Myvi", "Saga", "X50", "City", "Vios", "Almera", "CX-5"]
LOCATIONS = ["Selangor", "Kuala Lumpur", "KL", "Johor", "Penang", "Pulau Pinang",
             "Perak", "Sabah", "Sarawak", "Kedah"]
FUELS = ["Petrol", "petrol", "Diesel", "Electric", "Hybrid"]
BODIES = ["Sedan", "Hatchback", "SUV", "MPV", "Pickup Truck"]
JUNK_YEARS = ["", "20l5", "N/A", "15"]
# Dates of file ``i`` fall on day ``i`` after this epoch, so a listing
# re-scraped in a later file is always later by listing_date too.
LISTING_EPOCH = dt.datetime(2024, 1, 1)
LISTING_COLUMNS = [
    "listing_id", "title", "price", "make", "model", "year", "mileage_min",
    "mileage_max", "transmission", "fuel_type", "car_type", "location",
    "seller_name", "listing_date", "image_count", "ad_url", "region_id",
]


RESCRAPE = 0.3   # share of a drop file that re-lists already ingested ids


def listing_file(seed: int, index: int, n_rows: int, known_ids: np.ndarray,
                 next_id: int) -> list[dict]:
    """Raw API items for drop file ``index``: about ``RESCRAPE`` of the
    rows re-list ids from ``known_ids`` (ids already ingested), the rest
    are new ids starting at ``next_id``. Ids are unique within a file.
    Each row draws every attribute from its own column of draws."""
    r = _rng(seed, 100, index)
    n_old = min(len(known_ids), int(round(n_rows * RESCRAPE)))
    old = r.choice(known_ids, n_old, replace=False) if n_old else np.empty(0, "int64")
    ids = np.concatenate([old, np.arange(next_id, next_id + n_rows - n_old)]).tolist()
    n = len(ids)
    day = LISTING_EPOCH + dt.timedelta(days=index)
    dates = [(day + dt.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S")
             for s in r.permutation(86_400)[:n].tolist()]
    cols = {
        "subject_make": r.choice(MAKES, n).tolist(),
        "price": np.round(r.uniform(3_000, 250_000, n), 2).tolist(),
        "make_name": r.choice(MAKES, n, p=MAKE_P).tolist(),
        "model_name": r.choice(MODELS, n).tolist(),
        "year": r.integers(1995, 2025, n).astype(str).tolist(),
        "mileage_lo": (r.integers(0, 30, n) * 10_000).tolist(),
        "transmission_name": r.choice(["Auto", "Manual"], n).tolist(),
        "fueltype": r.choice(FUELS, n).tolist(),
        "car_type": r.choice(BODIES, n).tolist(),
        "seller": r.integers(0, 500, n).tolist(),
        "region_name": r.choice(LOCATIONS, n).tolist(),
        "image_count": r.integers(0, 20, n).tolist(),
        "region_id": r.integers(1, 16, n).astype(str).tolist(),
        "junk_year": r.choice(JUNK_YEARS, n).tolist(),
    }
    roll = r.random((n, 3)).tolist()
    items = []
    for i, lid in enumerate(ids):
        lo = cols["mileage_lo"][i]
        attrs = {
            "subject": f"{cols['subject_make'][i]} car {lid}",
            "price": cols["price"][i],
            "make_name": cols["make_name"][i],
            "model_name": cols["model_name"][i],
            "manufactured_year": cols["year"][i],
            "mileage": {"gte": str(lo), "lte": str(lo + 9_999)},
            "transmission_name": cols["transmission_name"][i],
            "fueltype": cols["fueltype"][i],
            "car_type": cols["car_type"][i],
            "name": f"Seller {cols['seller'][i]}",
            "region_name": cols["region_name"][i],
            "date": dates[i],
            "image_count": cols["image_count"][i],
            "adview_url": f"https://example.invalid/ad/{lid}",
            "region_id": cols["region_id"][i],
        }
        if roll[i][0] < 0.05:
            del attrs["price"]
        if roll[i][1] < 0.10:
            del attrs["mileage"]
        if roll[i][2] < 0.05:
            attrs["manufactured_year"] = cols["junk_year"][i]
        items.append({"id": lid, "attributes": attrs})
    return items


def write_jsonl(items: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for item in items:
            f.write(json.dumps(item) + "\n")


def flat_row(item: dict) -> dict:
    """What ``operators.flatten.flatten_listings`` makes of one API item
    (missing price → 0, missing mileage → "0", missing image count → 0)."""
    a = item["attributes"]
    mil = a.get("mileage") or {}
    price = a.get("price")
    return {
        "listing_id": item["id"],
        "title": a.get("subject") or "",
        "price": Decimal(repr(price or 0.0)).quantize(Decimal("0.01")),
        "make": a.get("make_name"),
        "model": a.get("model_name"),
        "year": a.get("manufactured_year"),
        "mileage_min": mil.get("gte") or "0",
        "mileage_max": mil.get("lte") or "0",
        "transmission": a.get("transmission_name"),
        "fuel_type": a.get("fueltype"),
        "car_type": a.get("car_type"),
        "location": a.get("region_name"),
        "seller_name": a.get("name"),
        "listing_date": dt.datetime.strptime(a["date"], "%Y-%m-%d %H:%M:%S"),
        "image_count": a.get("image_count") or 0,
        "ad_url": a.get("adview_url"),
        "region_id": a.get("region_id"),
    }


class ListingModel:
    """Predicted state of the upserted listings table.

    One row per ``listing_id``; as in ``merge.merge_upsert``, a row of a
    later batch replaces the table's row whatever its ``listing_date``.
    ``created_at`` is the batch stamp (the batch's max listing_date) of
    the first batch holding the id, ``updated_at`` that of the latest
    batch holding it. :func:`listing_file` dates file ``i`` on day ``i``,
    so on generated input the survivor is also the latest row by
    (``listing_date``, ``listing_id``).
    """

    def __init__(self) -> None:
        self.rows: dict[int, dict] = {}

    def apply(self, items: list[dict]) -> None:
        flat = [flat_row(it) for it in items]
        if not flat:
            return
        stamp = max(r["listing_date"] for r in flat)
        for row in flat:
            prev = self.rows.get(row["listing_id"])
            created = prev["created_at"] if prev is not None else stamp
            self.rows[row["listing_id"]] = {**row, "created_at": created, "updated_at": stamp}

    def frame(self) -> pd.DataFrame:
        cols = LISTING_COLUMNS + ["created_at", "updated_at"]
        return pd.DataFrame([self.rows[k] for k in sorted(self.rows)], columns=cols)

    def ids(self) -> np.ndarray:
        return np.fromiter(self.rows, dtype="int64", count=len(self.rows))
