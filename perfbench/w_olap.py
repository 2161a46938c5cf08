"""trace_olap: the read side.

Fourteen registry queries run over a generated four-month `events` table
in the test-data schema. Set-up runs one check pass, which collects each
query's rows and compares them with DuckDB's result of the registry's
oracle SQL over the same parquet. After another part (trace_ingest_olap)
the check pass runs during that part's set-up. Each timed op executes one query in
full into the `noop` sink; a round is one pass over the fourteen.
"""

from __future__ import annotations

import statistics
import time

import gen
import tracing

QUERIES = [
    "trace_normalize", "trace_partition_stats", "severity_rollup",
    "events_per_minute", "top_event_types", "error_rate_by_user",
    "events_dedup_latest", "event_sessionization", "json_extract_props",
    "user_activity_gap", "events_rollup_cube", "events_asof_join",
    "value_percentiles_by_type", "events_running_windows",
]
ROUND_KINDS = tuple(QUERIES)

LAYER_UNITS = {"operators.trace_ops.build_s": "s", "sources.tables.input_bytes": "B"}
for _q in QUERIES:
    LAYER_UNITS[f"operators.trace_ops.{_q}_s"] = "s"
    LAYER_UNITS[f"operators.trace_ops.{_q}.jobs"] = "count"
    LAYER_UNITS[f"operators.trace_ops.{_q}.shuffle_bytes"] = "B"


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="stable")
    return df.reset_index(drop=True)


def _equal(a, b) -> bool:
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(_canon(a), _canon(b), check_exact=True,
                                      check_dtype=True)
    except AssertionError:
        return False
    return True


def prepare(ctx) -> dict:
    """Generate (or reuse) the events table and compute the DuckDB
    results of the oracle SQL, both before the clock starts."""
    import duckdb

    from fdblog2clickhouse_spark.operators import all_oracle_sql

    sf_dir, months = gen.cached(ctx.cache, "events", ctx.seed, gen.EVENTS_ROWS,
                                lambda d: gen.events_table(ctx.seed, d))
    oracle_sql = all_oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    expected = {q: con.sql(oracle_sql[q]).df() for q in QUERIES}
    con.close()
    return {"sf_dir": sf_dir, "months": {int(k): v for k, v in months.items()},
            "expected": expected}


def check_pass(spark, ctx, inp) -> None:
    """The untimed check pass (set-up): collect every query and compare
    it with DuckDB. It also warms the JVM up for the timed passes."""
    from fdblog2clickhouse_spark.operators import all_queries

    registry = all_queries()
    inp["matched"] = matched = {}
    for q in QUERIES:
        got = registry[q](spark, inp["sf_dir"]).toPandas()
        matched[q] = _equal(got, inp["expected"][q])
        if q == "trace_partition_stats":
            per_month = dict(zip(got["yyyymm"].astype(int), got["n_rows"].astype(int)))
            ctx.global_ok &= per_month == inp["months"]


# a workload that runs this part after another lets the earlier part run
# the check pass alongside its own set-up
concurrent_setup = check_pass


def run(spark, ctx, inp) -> None:
    from fdblog2clickhouse_spark.operators import all_queries

    registry = all_queries()
    sf_dir = inp["sf_dir"]
    sc = spark.sparkContext
    if "matched" not in inp:
        check_pass(spark, ctx, inp)
    matched = inp["matched"]
    ctx.olap = {"build": []}
    ctx.start_measuring()
    rnd = 0
    while ctx.more_rounds(rnd):
        build = 0.0
        for q in QUERIES:
            if ctx.trace:
                sc.setJobGroup(f"{q}#{rnd}", q)
            cpu0 = ctx.cpu_s()
            wall = time.time()
            t0 = time.monotonic()
            df = registry[q](spark, sf_dir)
            build += time.monotonic() - t0
            df.write.format("noop").mode("overwrite").save()
            dur = time.monotonic() - t0
            ctx.op(q, rnd, dur, matched[q], wall=wall, cpu=ctx.cpu_s() - cpu0)
        ctx.olap["build"].append(build)
        rnd += 1
    ctx.stop_measuring()
    ctx.end_rounds(rnd)
    ctx.olap["rounds"] = rnd
    per_round: dict[int, float] = {}
    for o in ctx.ops:
        if o["kind"] in ROUND_KINDS:
            per_round[o["round"]] = per_round.get(o["round"], 0.0) + o["dur"]
    ctx.figures.update({
        "olap_suite_s": {"value": statistics.median(per_round.values()), "unit": "s"},
        "olap_geomean_s": {"value": tracing.geomean(
            statistics.median(o["dur"] for o in ctx.ops if o["kind"] == q) for q in QUERIES),
            "unit": "s"},
    })


def layers(ctx, ev, inp) -> dict:
    out = {}
    rounds = ctx.olap["rounds"]
    input_bytes = 0
    for q in QUERIES:
        durs = [o["dur"] for o in ctx.ops if o["kind"] == q]
        t = ev.totals([j for r in range(rounds) for j in ev.select(group=f"{q}#{r}")])
        out[f"operators.trace_ops.{q}_s"] = statistics.median(durs)
        out[f"operators.trace_ops.{q}.jobs"] = t["jobs"] / rounds
        out[f"operators.trace_ops.{q}.shuffle_bytes"] = t["shuffle_bytes"] / rounds
        input_bytes += t["input_bytes"]
    out["operators.trace_ops.build_s"] = statistics.mean(ctx.olap["build"])
    out["sources.tables.input_bytes"] = input_bytes / rounds
    return out
