"""`dashboard`: a seeded session of reference page views.

Each Streamlit page of the reference app maps to the registered
queries whose source comments cite it (plans/parity.py, geoq.py,
mlq.py); parity queries that cite no page belong to no view. A view
runs its page's queries one after another, each built
with its registered ``spark_fn`` and collected with ``toPandas()``,
the reference's ``data_loader`` path. Page popularity is skewed, so
pages repeat within a session. The warm-up views every page once; the
timed region runs whole decks until ``--seconds`` have passed. A traced
run then runs a second, traced region of the next decks.
"""

from __future__ import annotations

import re

import numpy as np

import gen

PAGES = {
    "app": ["pricing_summary", "filter_stack_metrics", "regex_and_search", "distinct_priorities"],
    "market_overview": ["top_brands", "brand_share", "qty_price_corr", "priority_shares"],
    "price_analysis": [
        "pricing_summary",
        "price_segments",
        "order_year_stats",
        "brand_quartiles",
        "price_bins",
        "share_above_avg",
    ],
    "regional_analysis": ["nation_customer_stats", "state_market_stats"],
    "price_prediction": ["similar_parts", "customer_order_links", "price_model_r2"],
}
# Views per deck: every deck holds exactly these views in a
# seed-shuffled order, and the timed region ends on a deck boundary, so
# each run measures the same skewed page mix whatever the seed.
POPULARITY = {
    "app": 3,
    "market_overview": 2,
    "price_analysis": 1,
    "regional_analysis": 1,
    "price_prediction": 1,
}
SF = 0.01


def decks(seed: int):
    """Endless seeded sequence of decks (lists of page names)."""
    rng = np.random.default_rng([seed, 4])
    deck = [p for p, k in POPULARITY.items() for _ in range(k)]
    while True:
        yield [deck[i] for i in rng.permutation(len(deck))]


def _input_rows(tables: dict, oracle: str) -> int:
    """Rows of the star tables a query's oracle SQL reads."""
    names = set(re.findall(r"\b(?:FROM|JOIN)\s+([a-z]+)\b", oracle, flags=re.I))
    return sum(tables[n].num_rows for n in names if n in tables)


def run(ctx) -> dict:
    from etl_mudah_spark.plans.registry import REGISTRY

    import oracle

    data_dir = ctx.path("star")
    tables = gen.star_tables(ctx.seed, SF)
    gen.write_tables(tables, data_dir)
    rows_of = {q: _input_rows(tables, REGISTRY[q].oracle) for p in PAGES.values() for q in p}

    results: dict[str, list] = {}

    def view(page: str) -> list[tuple[str, float, float]]:
        done = []
        for q in PAGES[page]:
            fn = REGISTRY[q].spark_fn
            pdf, secs, cpu = ctx.run.op(q, lambda fn=fn: fn(ctx.spark, data_dir), lambda df: df.toPandas())
            if pdf is not None:
                results.setdefault(q, []).append(pdf)
                done.append((q, secs, cpu))
        return done

    def loop(finished) -> dict:
        samples: list[tuple[str, float, float]] = []  # (query, wall s, CPU s)
        views = n_decks = 0
        for deck in decks_of_seed:
            for page in deck:
                samples += view(page)
                views += 1
            n_decks += 1
            if finished():
                break
        lat = [secs for _, secs, _ in samples]
        cpu = [c for _, _, c in samples]
        return {
            "ops": lat,
            "ops_cpu": cpu,
            "reads": lat,
            "reads_cpu": cpu,
            "rows": sum(rows_of[q] for q, _, _ in samples),
            "samples": samples,
            "stamp": {"views": views, "decks": n_decks, "sf": SF},
        }

    ctx.start_session()
    for page in PAGES:
        view(page)
    ctx.setup_done()
    decks_of_seed = decks(ctx.seed)
    res = ctx.region(loop)
    if ctx.traced:
        res["traced"] = ctx.region(loop, traced=True)

    oracle.check_queries(ctx.run, data_dir, gen.STAR_TABLES, results)
    return res
