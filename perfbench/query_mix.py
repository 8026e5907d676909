"""Workload ``query_mix``: registry queries over generated analytics
tables, in an order shuffled by the seed.  Read-only: scans, Catalyst
plans and the operator modules, no BSON decode and no snapshot writes.
The first pass runs in a new session (cold); later passes are steady
state.  Every execution's row count must equal the DuckDB oracle's."""

from __future__ import annotations

import random
import time

import duckdb

import tables_data as TD
from common import Clock, Context, median

#: query -> the layer whose operator does the query's main work
QUERIES = {
    "q1_pricing_summary": "queries.tpch",
    "q3_shipping_priority": "queries.tpch",
    "t0_broadcast_lookup": "operators.joins",
    "t0_newest_wins_dedup": "operators.dedup",
    "t1_text_quality": "functions.text",
    "t1_session_window": "operators.temporal",
}
SMOKE_QUERIES = ("q1_pricing_summary", "t0_broadcast_lookup", "t1_text_quality")
FAMILIES = sorted(set(QUERIES.values()))
SCALE, SMOKE_SCALE = 0.01, 0.001
WARM_PASSES = 3


def oracle_rows(data_dir, names) -> dict[str, int]:
    from ght2dm_spark.queries import ORACLE

    con = duckdb.connect()
    try:
        for t in TD.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {n: len(con.sql(ORACLE[n]).fetchall()) for n in names}
    finally:
        con.close()


def run(ctx: Context) -> tuple[dict, dict]:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ght2dm_spark.queries import QUERIES as REGISTRY

    tr = ctx.tracer
    names = list(SMOKE_QUERIES if ctx.smoke else QUERIES)
    rounds = 1 if ctx.smoke else 3
    times = []
    for r in range(rounds):
        t = time.perf_counter()
        data = ctx.tmp / f"tables{r}"
        TD.write_tables(TD.make_tables(ctx.seed, SMOKE_SCALE if ctx.smoke else SCALE), data)
        times.append(time.perf_counter() - t)
    t = time.perf_counter()
    want = oracle_rows(data, names)
    seeding_s = time.perf_counter() - t
    random.Random(ctx.seed).shuffle(names)
    sf_dir = str(data)

    passes: list[dict[str, float]] = []
    agg = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0}
    fam = {f: 0.0 for f in FAMILIES}
    clock = Clock(ctx.seconds)
    # the cold pass, then WARM_PASSES steady passes, then passes until the
    # window closes
    while len(passes) < 1 + WARM_PASSES or clock.left():
        lat = {}
        for name in names:
            ctx.attempted += 1
            with tr.span("queries.op", op=True):
                t0 = time.perf_counter()
                with tr.span("queries.build"):
                    df = REGISTRY[name](ctx.spark, sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    with tr.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                obs = Observation()
                with tr.span("queries.exec"):
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                t3 = time.perf_counter()
            n = obs.get["n"]
            ctx.rss.sample()
            ctx.check(n == want[name], f"{name}: {n} rows, oracle has {want[name]}")
            lat[name] = t3 - t0
            agg["build_s"] += t1 - t0
            agg["plan_s"] += t2 - t1
            agg["exec_s"] += t3 - t2
            fam[QUERIES[name]] += t3 - t2
        passes.append(lat)
        if ctx.smoke and len(passes) >= 1 + WARM_PASSES:
            break
    window = clock.elapsed()
    ctx.note("cold pass " + " ".join(f"{k}={v:.2f}" for k, v in passes[0].items()))

    # per query, the fastest of its steady executions: robust to a GC
    # pause or a burst of contention landing on one of them
    steady = [min(p[n] for p in passes[1:]) for n in names]
    e2e = {
        "setup_rounds_s": median(times),
        "setup_extra_s": seeding_s,
        "cold_s": sum(passes[0].values()),
        "op_samples": steady,
        "rate_per_s": len(steady) / sum(steady),
    }
    layer: dict[str, float] = {}
    if tr.enabled:
        n_ops = len(names) * len(passes)
        layer.update({f"queries.{k}": v / n_ops for k, v in agg.items()})
        layer.update({f"{f}_s": v / len(passes) for f, v in fam.items()})
    layer["window_s"] = window
    layer["ops"] = len(names) * len(passes)
    return e2e, layer
