"""The dashboard mix of the daily_batch workload: eleven queries from
``plans`` and five document/embedding operators from ``operators`` (dedup,
corpus, similarity, text_analysis, graph), all taken from
``__spark_entry__.queries()`` and run over the seed-42 sf0.01 tables in
``data/``. The tables never change, so caches and memos keyed on them hit
from the second pass on: this is the cache-friendly half of the workload.
"""

from __future__ import annotations

import os
import time
import traceback

from harness import BENCH_DIR, Ctx

SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
PLANS_MIX = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_volume",
    "tpch_q9_product_profit",
    "tpch_q18_large_orders",
    "tpch_q21_sole_returner",
    "t6p1_top_customer_per_nation",
    "t11_median_order_total_by_band_year",
    "ev_sessions_per_user",
    "ev_rolling_7d_users",
    "ev_funnel_steps",
)
OPERATORS_MIX = (
    "dedup_minhash_lsh",
    "corpus_filter_cascade",
    "sim_ivf_topk",
    "text_tfidf_top_terms",
    "graph_pagerank_trade",
)
MIX = PLANS_MIX + OPERATORS_MIX
# Span names of the operator families in the mix (see layer_of).
OPERATOR_LAYERS = ("operators.dedup", "operators.corpus", "operators.similarity",
                   "operators.text_analysis", "operators.graph")


def layer_of(fn) -> str:
    """Span name for a registry query: its package layer and module family,
    e.g. ``plans.tpch`` for every ``plans/tpch*.py`` query."""
    parts = fn.__module__.split(".")
    layer, module = parts[-2], parts[-1]
    if module.startswith("tpch"):
        module = "tpch"
    return f"{layer}.{module}"


def run_pass(spark, tracer, queries, order, sf_dir, lat_s, results, ctx) -> None:
    for name in order:
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            with tracer.span(layer_of(fn)) as sp:
                df = fn(spark, sf_dir)
                rows = df.collect()
                tracer.note_plan(sp, df)
        except Exception:  # noqa: BLE001 - one failing query must not end the run
            ctx.failed += 1
            ctx.info(f"query {name} failed:\n{traceback.format_exc()}")
            results.pop(name, None)
        else:
            results[name] = (df.columns, rows)
        finally:
            ctx.attempted += 1
        lat_s.append(time.perf_counter() - t0)


def check(ctx: Ctx, results: dict, names) -> None:
    """Each query's last result against its DuckDB ``oracle_sql()``, with
    the canonicalization of tools/selfcheck.py."""
    import duckdb
    from pinterest_data_pipeline218_spark.data import TABLES
    from tools.selfcheck import rows_to_set

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        for name in names:
            if name not in results:
                continue  # already counted as failed
            cols, rows = results[name]
            rel = con.sql(oracles[name])
            want = rows_to_set([c.lower() for c in rel.columns], rel.fetchall())
            got = rows_to_set([c.lower() for c in cols], [tuple(r) for r in rows])
            ctx.check(got == want, f"{name}: spark={got[:3]} duckdb={want[:3]}")
    finally:
        con.close()
