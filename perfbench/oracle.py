"""Correctness gates, run after the timed region.

Every collected result is checked: a registered query against its
DuckDB oracle on the generated tables, an ingest read-back against the
generator's last-write-wins state. A mismatch counts as a failed
operation.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re

import duckdb
import pandas as pd

from tests.oracle_utils import _canon

YEAR_RE = re.compile(r"^[0-9]{4}$")


def check_queries(run, data_dir: str, tables, results: dict[str, list[pd.DataFrame]]) -> None:
    """Each query's every result must equal its DuckDB oracle's."""
    from etl_mudah_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        for name, pdfs in results.items():
            want = _canon(con.execute(REGISTRY[name].oracle).df())
            for i, pdf in enumerate(pdfs):
                if _canon(pdf) != want:
                    run.fail(f"{name}#{i}: result differs from its DuckDB oracle")
    finally:
        con.close()


def _f(v) -> float | None:
    return None if v is None else float(v)


def expected_readback(state: dict[int, dict], as_of_year: int) -> dict[str, tuple]:
    """Per make: (listings, avg price, avg age, avg mileage midpoint) over
    the rows ``clean_listings`` keeps (price in (0, 1e6), 4-digit year)."""
    acc: dict[str, list] = {}
    for row in state.values():
        a = row["attributes"]
        price = a.get("price", 0.0)
        year = a["manufactured_year"]
        if not (0.0 < price < 1_000_000.0 and YEAR_RE.match(year)):
            continue
        mil = a.get("mileage", {"gte": "0", "lte": "0"})
        s = acc.setdefault(a["make_name"], [0, 0.0, 0.0, 0.0])
        s[0] += 1
        s[1] += price
        s[2] += as_of_year - int(year)
        s[3] += (float(mil["gte"]) + float(mil["lte"])) / 2
    return {m: (n, p / n, age / n, mil / n) for m, (n, p, age, mil) in acc.items()}


def readback_matches(pdf: pd.DataFrame, want: dict[str, tuple]) -> bool:
    got = {
        r.make: (int(r.listings), _f(r.avg_price), _f(r.avg_age), _f(r.avg_mileage))
        for r in pdf.itertuples(index=False)
    }
    if got.keys() != want.keys():
        return False
    for make, (n, *avgs) in want.items():
        g = got[make]
        if g[0] != n or not all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(g[1:], avgs)):
            return False
    return True


def table_matches(pdf: pd.DataFrame, state: dict[int, dict]) -> bool:
    """The ingested table equals the generator's last-write-wins state:
    one row per listing id, with its latest price, year and stamps."""
    if len(pdf) != len(state) or pdf["listing_id"].nunique() != len(state):
        return False
    ts = lambda s: dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")  # noqa: E731
    for r in pdf.itertuples(index=False):
        want = state.get(int(r.listing_id))
        if want is None:
            return False
        a = want["attributes"]
        if (
            float(r.price) != a.get("price", 0.0)
            or r.year != a["manufactured_year"]
            or r.title != a["subject"]
            or r.created_at.to_pydatetime() != ts(want["created_at"])
            or r.updated_at.to_pydatetime() != ts(want["updated_at"])
        ):
            return False
    return True
