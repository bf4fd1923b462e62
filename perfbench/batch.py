"""daily_batch: the reference's production job and the dashboards it feeds.

A closed loop with one client. Each day reads a fresh day of pin/geo/user
landing JSON (generated in set-up from the seed), cleans it, writes the
three cleaned parquet tables and runs T4-T11 plus t6p2 on the written
tables: every day is new data, so no file-keyed memo or footer cache can
hit. After each day the client refreshes half of the dashboard mix (sql.py)
over fixed tables, where every memo keyed on the tables hits. A timed pair
is two days and the two halves of one shuffled mix, so each pair runs the
whole mix once; the number of pairs follows from ``--seconds``, so every
run of a given length times the same operations.
"""

from __future__ import annotations

import json
import os
import random
import time

import sql
from harness import Ctx, report_latency, report_overhead, setup_done, start_spark, stop_spark
from spans import Tracer

RECORDS_PER_DAY = 2000  # per table, before the generator's edge rows
FILES_PER_TABLE = 4
WARMUP_DAYS = 1
TABLES = ("pin", "geo", "user")
# Nominal length of one timed pair (two days, one whole mix) on a warm
# 4-core host: about 2 x 4 s of days and 11.5 s of mix.
PAIR_S = 20.0
DAY_LAYERS = ("sources.read_json", "functions.cleaning", "sources.write_parquet",
              "operators.analytics")

# Oracle SQL for T4-T11 over the day's cleaned parquet: the statements the
# analytics tests (tests/test_analytics_pin.py) run on DuckDB, plus t6p2.
AGE_CASE = """CASE WHEN age BETWEEN 18 AND 24 THEN '18-24'
                   WHEN age BETWEEN 25 AND 35 THEN '25-35'
                   WHEN age BETWEEN 36 AND 50 THEN '36-50'
                   WHEN age > 50 THEN '+50' END"""
_T6_RANKED = """
    SELECT country, poster_name, follower_count,
           RANK() OVER (PARTITION BY country ORDER BY follower_count DESC) rk
    FROM geo_table JOIN user_table USING (ind) JOIN pin_table USING (ind)"""
ORACLE = {
    "t4": """
        WITH c AS (
          SELECT country, category, COUNT(*) AS category_count
          FROM pin_table JOIN geo_table USING (ind) GROUP BY 1, 2
        ), r AS (SELECT *, RANK() OVER (PARTITION BY country ORDER BY category_count DESC) rk FROM c)
        SELECT DISTINCT country, category, category_count FROM r WHERE rk = 1""",
    "t5": """
        SELECT CAST(EXTRACT(YEAR FROM timestamp) AS INT) AS post_year, category,
               COUNT(category) AS category_count
        FROM pin_table JOIN geo_table USING (ind)
        WHERE EXTRACT(YEAR FROM timestamp) BETWEEN 2018 AND 2022
        GROUP BY 1, 2""",
    "t6p1": f"WITH r AS ({_T6_RANKED}) "
            "SELECT DISTINCT country, poster_name, follower_count FROM r WHERE rk = 1",
    "t6p2": f"WITH r AS ({_T6_RANKED}) "
            "SELECT DISTINCT country, follower_count FROM r WHERE rk = 1 "
            "ORDER BY follower_count DESC, country ASC LIMIT 1",
    "t7": f"""
        WITH c AS (
          SELECT {AGE_CASE} AS age_group, category, COUNT(category) AS category_count
          FROM pin_table JOIN user_table USING (ind) GROUP BY 1, 2
        ), r AS (SELECT *, RANK() OVER (PARTITION BY age_group ORDER BY category_count DESC) rk FROM c)
        SELECT DISTINCT age_group, category, category_count FROM r WHERE rk = 1""",
    "t8": f"""
        SELECT {AGE_CASE} AS age_group,
               CAST(QUANTILE_CONT(follower_count, 0.5) AS DOUBLE) AS median_follower_count
        FROM pin_table JOIN user_table USING (ind) GROUP BY 1""",
    "t9": """
        SELECT CAST(EXTRACT(YEAR FROM date_joined) AS INT) AS post_year,
               COUNT(user_name) AS number_users_joined
        FROM user_table
        WHERE EXTRACT(YEAR FROM date_joined) BETWEEN 2015 AND 2020
        GROUP BY 1""",
    "t10": """
        SELECT CAST(EXTRACT(YEAR FROM date_joined) AS INT) AS post_year,
               CAST(QUANTILE_CONT(follower_count, 0.5) AS DOUBLE) AS median_follower_count
        FROM pin_table JOIN user_table USING (ind)
        WHERE EXTRACT(YEAR FROM date_joined) BETWEEN 2015 AND 2020
        GROUP BY 1""",
    "t11": f"""
        SELECT {AGE_CASE} AS age_group,
               CAST(EXTRACT(YEAR FROM date_joined) AS INT) AS post_year,
               CAST(QUANTILE_CONT(follower_count, 0.5) AS DOUBLE) AS median_follower_count
        FROM pin_table JOIN user_table USING (ind)
        WHERE EXTRACT(YEAR FROM date_joined) BETWEEN 2015 AND 2020
        GROUP BY 1, 2""",
}


def day_seed(seed: int, day: int) -> int:
    return random.Random(f"daily_batch/{seed}/{day}").getrandbits(31)


def render_day(seed: int, day: int) -> dict[str, list[bytes]]:
    """One day of landing JSON for the three tables, as file contents
    (JSON lines, ``FILES_PER_TABLE`` files per table)."""
    from pinterest_data_pipeline218_spark.sources.generator import generate_records

    out = {}
    for table, records in zip(TABLES, generate_records(RECORDS_PER_DAY, day_seed(seed, day))):
        lines = [json.dumps(r) for r in records]
        step = -(-len(lines) // FILES_PER_TABLE)
        out[table] = [
            ("\n".join(lines[i : i + step]) + "\n").encode() for i in range(0, len(lines), step)
        ]
    return out


def write_landing(files: dict[str, list[bytes]], landing: str) -> None:
    for table, contents in files.items():
        os.makedirs(os.path.join(landing, table), exist_ok=True)
        for i, body in enumerate(contents):
            with open(os.path.join(landing, table, f"part-{i:05d}.json"), "wb") as fh:
                fh.write(body)


def run_day(spark, tracer, landing: str, out: str, op_s: list[float]) -> dict:
    """The day's job, driven through the package's public functions: read the
    landing JSON, clean, write three parquet tables, run T4-T11 and t6p2 on
    the written tables. Returns each query's (columns, rows) and appends the
    latency of each of its operations (a table load, a query) to ``op_s``."""
    from pinterest_data_pipeline218_spark.functions.cleaning import clean_geo, clean_pin, clean_user
    from pinterest_data_pipeline218_spark.operators import analytics as A
    from pinterest_data_pipeline218_spark.schemas import GEO_RAW, PIN_RAW, USER_RAW
    from pinterest_data_pipeline218_spark.sources.batch import read_json_dir

    schemas = {"pin": PIN_RAW, "geo": GEO_RAW, "user": USER_RAW}
    cleaners = {"pin": clean_pin, "geo": clean_geo, "user": clean_user}
    for t in TABLES:
        t0 = time.perf_counter()
        with tracer.span("sources.read_json"):
            raw = tracer.force(read_json_dir(spark, os.path.join(landing, t), schema=schemas[t]),
                               keep=True)
        with tracer.span("functions.cleaning"):
            cleaned = tracer.force(cleaners[t](raw), keep=True)
        with tracer.span("sources.write_parquet"):
            cleaned.write.mode("overwrite").parquet(os.path.join(out, t))
        tracer.release()
        op_s.append(time.perf_counter() - t0)
    pin, geo, user = (spark.read.parquet(os.path.join(out, t)) for t in TABLES)
    t6p1 = A.t6p1_top_follower_per_country(pin, geo, user)
    frames = {
        "t4": A.t4_top_category_per_country(pin, geo),
        "t5": A.t5_category_counts_by_year(pin, geo),
        "t6p1": t6p1,
        "t6p2": A.t6p2_top_country(t6p1),
        "t7": A.t7_top_category_per_age_group(pin, user),
        "t8": A.t8_median_follower_by_age_group(pin, user),
        "t9": A.t9_users_joined_by_year(user),
        "t10": A.t10_median_follower_by_join_year(pin, user),
        "t11": A.t11_median_follower_by_join_year_age(pin, user),
    }
    results = {}
    for name, df in frames.items():
        t0 = time.perf_counter()
        with tracer.span("operators.analytics"):
            results[name] = (df.columns, df.collect())
        op_s.append(time.perf_counter() - t0)
    return results


def check_day(ctx: Ctx, out: str, results: dict, day: int) -> None:
    """T4-T11 against DuckDB over the day's cleaned parquet."""
    import duckdb
    from tools.selfcheck import rows_to_set

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t}_table AS SELECT * FROM '{os.path.join(out, t)}/*.parquet'")
        for name, sql in ORACLE.items():
            cols, rows = results[name]
            rel = con.sql(sql)
            want = rows_to_set([c.lower() for c in rel.columns], rel.fetchall())
            got = rows_to_set([c.lower() for c in cols], [tuple(r) for r in rows])
            ctx.check(got == want, f"day {day} {name}: spark={got[:3]} duckdb={want[:3]}")
    finally:
        con.close()


def run(ctx: Ctx) -> None:
    spark = start_spark(ctx)
    try:
        _run(ctx, spark)
    finally:
        stop_spark(spark)


def _run(ctx: Ctx, spark) -> None:
    import __spark_entry__ as entry
    from pinterest_data_pipeline218_spark.data import TABLES as SF_TABLES
    from pinterest_data_pipeline218_spark.data import load_table

    tracer = ctx.tracer
    off = Tracer(tracer.run_id, False)
    queries = entry.queries()
    rng = random.Random(f"daily_batch/{ctx.seed}")
    # A traced run needs two pairs: each half of the mix (with its day) runs
    # once traced and once untraced, in the order U T / T U.
    n_pairs = max(2 if ctx.traced else 1, round(ctx.seconds / PAIR_S))
    n_days = WARMUP_DAYS + 2 * n_pairs
    landings = []
    # Days are rendered in set-up so the timed window only runs the job.
    with tracer.span("sources.generate"):
        for d in range(n_days):
            files = render_day(ctx.seed, d)
            landing = ctx.path("landing", f"day{d:03d}", "")
            write_landing(files, landing)
            landings.append(landing)
    with tracer.span("data.load"):
        for t in SF_TABLES:
            tracer.force(load_table(spark, sql.SF_DIR, t))
    # Warm-up, not timed: the first day and the first pass of the mix pay
    # codegen and JIT.
    mix_results: dict = {}
    for d in range(WARMUP_DAYS):
        run_day(spark, off, landings[d], ctx.path("out", f"warm{d}", ""), [])
    sql.run_pass(spark, off, queries, sql.MIX, sql.SF_DIR, [], mix_results, ctx)
    setup_done(ctx)

    op_s, traced_s, untraced_s, done = [], [], [], []
    order = list(sql.MIX)
    for p in range(n_pairs):
        if not ctx.traced or p == 0:
            rng.shuffle(order)
        half = len(order) // 2
        for h, part in enumerate((order[:half], order[half:])):
            d = WARMUP_DAYS + 2 * p + h
            unit_tracer = tracer if ctx.traced and (p + h) % 2 == 1 else off
            out = ctx.path("out", f"day{d:03d}", "")
            t = time.perf_counter()
            results = run_day(spark, unit_tracer, landings[d], out, op_s)
            sql.run_pass(spark, unit_tracer, queries, part, sql.SF_DIR, op_s, mix_results, ctx)
            (traced_s if unit_tracer.enabled else untraced_s).append(time.perf_counter() - t)
            done.append((d, out, results))
            ctx.attempted += len(results) + len(TABLES)
    for d, out, results in done:
        check_day(ctx, out, results, d)
    sql.check(ctx, mix_results, sql.MIX)
    ctx.info(f"{n_pairs} pairs: {len(done)} days of {RECORDS_PER_DAY} records per table, "
             f"{n_pairs} passes of {len(sql.MIX)} mix queries; unit times "
             f"{[round(x, 2) for x in traced_s + untraced_s]}")
    if not ctx.traced:
        report_latency(ctx, op_s, "operation (table load or query)")
        ctx.e2e["throughput_rps"] = len(op_s) / sum(op_s)
        return
    tracer.collect_counts()
    selft = tracer.self_times()
    ctx.layer.update({
        "session.start_s": selft.get("session.start", 0.0),
        "sources.generate_s": selft.get("sources.generate", 0.0),
        "data.load_s": selft.get("data.load", 0.0),
        "sources.read_json_s": selft.get("sources.read_json", 0.0),
        "functions.cleaning_s": selft.get("functions.cleaning", 0.0),
        "sources.write_parquet_s": selft.get("sources.write_parquet", 0.0),
        "operators.analytics_s": selft.get("operators.analytics", 0.0),
        "batch.jobs": tracer.total("jobs", DAY_LAYERS),
        "batch.tasks": tracer.total("tasks", DAY_LAYERS),
        "batch.task_failures": tracer.total("failed_tasks", DAY_LAYERS),
        "plans.tpch_s": selft.get("plans.tpch", 0.0),
        "plans.analytics_tpch_s": selft.get("plans.analytics_tpch", 0.0),
        "plans.events_s": selft.get("plans.events", 0.0),
        "plans.exchanges": tracer.total("exchanges", "plans."),
        "plans.tasks": tracer.total("tasks", "plans."),
        "operators.dedup_s": selft.get("operators.dedup", 0.0),
        "operators.corpus_s": selft.get("operators.corpus", 0.0),
        "operators.similarity_s": selft.get("operators.similarity", 0.0),
        "operators.text_analysis_s": selft.get("operators.text_analysis", 0.0),
        "operators.graph_s": selft.get("operators.graph", 0.0),
        "operators.exchanges": tracer.total("exchanges", sql.OPERATOR_LAYERS),
        "operators.tasks": tracer.total("tasks", sql.OPERATOR_LAYERS),
        "operators.task_failures": tracer.total("failed_tasks", sql.OPERATOR_LAYERS),
    })
    report_overhead(ctx, traced_s, untraced_s)
