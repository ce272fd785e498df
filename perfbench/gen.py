"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, a different seed gives different values at the
same sizes. Nothing here touches Spark; the workloads write these
inputs to their run directory before the session starts.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star schema (dashboard) -------------------------------------------------
# Column names, types and value domains follow the engine's TPC-H-ish
# testdata (FIXTURES.md), so every registered query and its DuckDB
# oracle run unchanged on the generated directory.

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, like the testdata: exact 2-dp decimals on both engines
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven star-schema tables at scale factor ``sf`` (sf=0.01
    gives 15k orders and 60k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    region = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": _money(rng, n_part, 900.0, 999.9),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lo = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, lo[1:] != lo[:-1]]
    starts = np.flatnonzero(first)
    run_id = np.cumsum(first) - 1
    linenumber = np.arange(n_li) - starts[run_id] + 1
    lineitem = pa.table(
        {
            "l_orderkey": lo,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": i32(linenumber),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
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
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- listing batches (ingest) ------------------------------------------------

MAKES = ["Perodua", "Proton", "Toyota", "Honda", "Nissan", "Mazda", "BMW", "Mercedes-Benz"]
MAKE_WEIGHTS = np.array([30, 25, 15, 12, 6, 5, 4, 3], dtype=float) / 100
FUELS = ["Petrol", "petrol", "Diesel", "Electric", "Hybrid"]
LOCATIONS = ["Penang", "KL", "Kuala Lumpur", "Johor", "Selangor", "Sabah", "Perak"]
JUNK_YEARS = ["unknown", "n/a", "20l8", ""]
RELIST_FRAC = 0.3  # share of each batch (from the second on) that re-lists earlier ids


def listing_batches(seed: int, rows: int):
    """Endless seeded stream of raw API listing batches (``{"id",
    "attributes"}``, FIXTURES.md section 1) of ``rows`` rows each. Ids
    are distinct within a batch; from the second batch on, about
    ``RELIST_FRAC`` of each batch re-lists ids landed earlier, with
    fresh prices and dates. Roughly 8% of rows carry a junk year, 10% no
    price and 10% no mileage."""
    rng = np.random.default_rng([seed, 2])
    day0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    seen: list[int] = []
    next_id = 10_000_000 + int(rng.integers(0, 1_000_000)) * 100
    b = 0
    while True:
        n_re = int(rows * RELIST_FRAC) if seen else 0
        relisted = rng.choice(len(seen), n_re, replace=False) if n_re else []
        ids = [seen[i] for i in relisted] + list(range(next_id, next_id + rows - n_re))
        next_id += rows - n_re
        seen.extend(ids[n_re:])
        makes = rng.choice(len(MAKES), rows, p=MAKE_WEIGHTS)
        batch = []
        for j, gid in enumerate(ids):
            r = rng.random(4)
            year = int(rng.integers(1995, 2025))
            attrs = {
                "subject": f"{MAKES[makes[j]]} listing {gid} v{b}",
                "make_name": MAKES[makes[j]],
                "model_name": f"Model{int(rng.integers(0, 12))}",
                "manufactured_year": JUNK_YEARS[int(rng.integers(0, 4))] if r[0] < 0.08 else str(year),
                "transmission_name": "Auto" if r[3] < 0.8 else "Manual",
                "fueltype": FUELS[int(rng.integers(0, len(FUELS)))],
                "car_type": ["Sedan", "Hatchback", "SUV", "MPV"][int(rng.integers(0, 4))],
                "name": f"Seller {int(rng.integers(0, 400))}",
                "region_name": LOCATIONS[int(rng.integers(0, len(LOCATIONS)))],
                "date": (day0 + dt.timedelta(hours=12 * b, seconds=int(rng.integers(0, 43_200)))).strftime(
                    "%Y-%m-%d %H:%M:%S"
                ),
                "image_count": int(rng.integers(0, 20)),
                "adview_url": f"https://example.invalid/ad/{gid}",
                "region_id": str(int(rng.integers(1, 16))),
            }
            if r[1] >= 0.10:
                attrs["price"] = float(rng.integers(500_000, 40_000_000)) / 100.0
            if r[2] >= 0.10:
                lo = int(rng.integers(0, 30)) * 10_000
                attrs["mileage"] = {"gte": str(lo), "lte": str(lo + 9_999)}
            batch.append({"id": gid, "attributes": attrs})
        yield batch
        b += 1


def batch_jsonl(batch: list[dict]) -> str:
    return "".join(json.dumps(row, separators=(",", ":")) + "\n" for row in batch)


def advance(state: dict[int, dict], batch: list[dict]) -> dict[int, dict]:
    """Last-write-wins table state after landing ``batch`` on ``state``
    (a new dict): per id, the attributes of its latest batch,
    ``created_at`` from its first batch and ``updated_at`` from its
    latest. Each batch's stamp is its own max listing date, as the
    ingest pipeline derives it."""
    nxt = dict(state)
    stamp = max(row["attributes"]["date"] for row in batch)
    for row in batch:
        prev = nxt.get(row["id"])
        nxt[row["id"]] = {
            "attributes": row["attributes"],
            "created_at": prev["created_at"] if prev else stamp,
            "updated_at": stamp,
        }
    return nxt
