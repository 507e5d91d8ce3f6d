"""``serve``: the dashboard read path.

Set-up builds the five-table store from the seeded events (sf0.01:
10k ticks, 150 coins on 5 exchanges) through ``sinks.write_table`` /
``sinks.upsert_by_key`` (the functions the streaming ingest writes
through), then warms the read path with the same request stream the
timed window sends. Request latency does not depend on the store's size
here (sf0.1 reads the same ~300 ms); sf0.01 keeps the store build inside
the run's time budget.

The client is one closed loop. Its unit of work is one dashboard view:
one request to each of the five ``plans.serving`` routes, in route
order, for one coin and one time range. The reference's page templates
are not in its repository, so nothing records which charts a page shows
or how often each route is hit; one request per route per view is the
assumption that needs no invented weights. The view's coin is drawn from
a Zipf law with exponent 1 (popularity falls as 1/rank, the textbook
shape for item popularity; also an assumption) and its range uniformly
from the reference's ``{1h,1d,1w,1m,1y}``. Each request reads its tables
with ``sinks.read_table``, builds its route and ``collect()``s it.

Output check (after the timed window): every distinct timed request is
compared with the registry's DuckDB oracle SELECT for its route, run
over the stored parquet tables with the request's parameters; the
registry's fixed-parameter requests, served from the store, are
compared with the registry's full oracles over the raw events.
"""

from __future__ import annotations

import os
import random
import time

import datagen
import harness
from etl_visualization_of_cryptocurrency_trading_data_spark import sinks
from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive, latest
from etl_visualization_of_cryptocurrency_trading_data_spark.operators.indicators import (
    technical_indicators,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles import (
    serving as oracle_sql,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import ORACLES

SF = 0.01
ROUTES = ("price_chart", "ohlc_chart", "indicator_chart", "market_cap_chart", "coin_table")
TABLES = {
    "price_chart": ("price_data",),
    "ohlc_chart": ("ohlc_data",),
    "indicator_chart": ("technical_indicators",),
    "market_cap_chart": ("coin_market_cap",),
    "coin_table": ("coins", "price_data", "ohlc_data", "technical_indicators"),
}
WARMUP_VIEWS = len(serving.TIME_RANGE_HOURS)  # one view per time range
MIN_VIEWS = 8
ZIPF_S = 1.0


def build_store(spark, data_dir: str, store: str) -> None:
    events = load_table(spark, data_dir, "events")
    price = derive.price_data(events)
    facts = {
        "price_data": price,
        "ohlc_data": derive.ohlc_data(price),
        "technical_indicators": technical_indicators(price),
        "coin_market_cap": derive.coin_market_cap(price),
    }
    for table, df in facts.items():
        sinks.write_table(df, store, table)
    sinks.upsert_by_key(derive.coins(events), store, "coins")


def sink_files(name: str, args, kwargs, result) -> dict[str, int]:
    """Span counter for the ``sinks`` writers: parquet files and bytes
    in the table the call wrote (``result`` is the table's name)."""
    if name == "read_table":
        return {}
    files = nbytes = 0
    for root, _, names in os.walk(sinks.table_dir(args[1], result)):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, f))
    return {"sinks.files_written": files, "sinks.bytes_written": nbytes}


class Client:
    """Seeded request stream: one dashboard view at a time."""

    def __init__(self, seed: int, users: int) -> None:
        self.rng = random.Random(seed)
        symbols = [f"C{u}" for u in range(users)]
        self.rng.shuffle(symbols)
        self.symbols = symbols
        self.weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(users)]

    def view(self, time_range: str | None = None) -> list[tuple[str, str, str]]:
        sym = self.rng.choices(self.symbols, self.weights)[0]
        time_range = time_range or self.rng.choice(list(serving.TIME_RANGE_HOURS))
        return [(route, sym, time_range) for route in ROUTES]

    def warm_up_ranges(self) -> list[str]:
        """Every time range once, in seeded order: the range is a literal
        in the generated code of the price and OHLC plans, so the first
        request for each range compiles new code (~200 ms) and set-up
        should pay for all five."""
        ranges = list(serving.TIME_RANGE_HOURS)
        self.rng.shuffle(ranges)
        return ranges


def request(spark, store: str, req, tracer):
    route, sym, time_range = req
    with tracer.span("serve.request"):
        frames = [sinks.read_table(spark, store, table) for table in TABLES[route]]
        with tracer.span("serve.plan"):
            if route in ("price_chart", "ohlc_chart"):
                df = getattr(serving, route)(frames[0], sym, time_range)
            elif route == "indicator_chart":
                df = serving.indicator_chart(frames[0], sym)
            elif route == "market_cap_chart":
                df = serving.market_cap_chart(frames[0])
            else:
                df = serving.coin_table(*frames)
        with tracer.span("serve.exec"):
            rows = df.collect()
    return df.columns, rows


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    data_dir = os.path.join(ctx.work, "data")
    store = os.path.join(ctx.work, "store")
    t0 = time.perf_counter()
    with tracer.span("setup.data"):
        ticks = datagen.write_events(data_dir, ctx.seed, SF)
        build_store(spark, data_dir, store)
    ctx.setup["setup.data_s"] = time.perf_counter() - t0
    ctx.set_traced(False)
    users = int(15_000 * SF)
    client = Client(ctx.seed, users)

    warm_ranges = client.warm_up_ranges()

    def one_view(traced: bool):
        ctx.set_traced(traced)
        out = []
        time_range = warm_ranges.pop() if warm_ranges else None
        for i, req in enumerate(client.view(time_range)):
            group = f"serve-{len(ctx.ops)}-{i}"
            if traced:
                spark.sparkContext.setJobGroup(group, req[0])
            err = None
            start = time.perf_counter()
            try:
                with ctx.watchdog:
                    cols, rows = request(spark, store, req, tracer)
            except Exception as e:  # noqa: BLE001 - one failure never aborts the run
                err, cols, rows = f"{type(e).__name__}: {e}"[:300], [], []
            lat = time.perf_counter() - start
            op = {"route": req[0], "symbol": req[1], "range": req[2],
                  "latency_s": lat, "error": err, "traced": traced,
                  "cols": cols, "rows": rows, "nrows": len(rows)}
            if traced:
                op.update(harness.job_counts(spark, group))
            op.update(harness.leak_counts(spark))
            out.append(op)
        ctx.set_traced(False)
        return out

    ctx.warm_up(one_view, WARMUP_VIEWS)
    ctx.timed_passes(one_view, MIN_VIEWS)
    ctx.input_size = f"sf{SF}: {ticks} ticks, {users} coins x 5 exchanges"
    t0 = time.perf_counter()
    check(ctx, data_dir, store)
    ctx.check_s = time.perf_counter() - t0
    return layer_metrics(ctx)


def _oracle_select(route: str) -> str:
    """The SELECT of the registry's oracle for ``route``, with the CTEs
    that derive the tables from raw events cut off, so it can run over
    the stored tables instead."""
    sql = ORACLES[route]
    if route == "coin_table":
        return "WITH " + oracle_sql.LATEST_CTES + sql.split(oracle_sql.LATEST_CTES, 1)[1]
    cte = {"ohlc_chart": oracle_sql.OHLC_CTE,
           "indicator_chart": oracle_sql.INDICATORS_CTE}.get(route, oracle_sql.PRICE_DATA_CTE)
    return sql.split(cte, 1)[1]


def check(ctx, data_dir: str, store: str) -> None:
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for table in ("price_data", "ohlc_data", "technical_indicators"):
        con.sql(f"CREATE TABLE {table} AS SELECT * FROM read_parquet("
                f"'{store}/{table}/*/*.parquet', hive_partitioning = true)")
    for table in ("coins", "coin_market_cap"):
        con.sql(f"CREATE TABLE {table} AS SELECT * FROM '{store}/{table}/*.parquet'")
    expected = {}
    for op in ctx.ops:
        if op["error"]:
            continue
        key = (op["route"], op["symbol"], op["range"])
        if key not in expected:
            sql = (_oracle_select(op["route"])
                   .replace("'_C7'", f"'_{op['symbol']}'")
                   .replace("INTERVAL 168 HOURS",
                            f"INTERVAL {serving.TIME_RANGE_HOURS[op['range']]} HOURS"))
            expected[key] = con.sql(sql).df()
        diff = harness.frames_match(harness.rows_frame(op["rows"], op["cols"]), expected[key])
        if diff:
            op["error"] = f"output check: {diff}"
        op.pop("rows")
    con.close()

    # The registry's fixed-parameter requests (C7, 1w), served from the
    # store, against the registry's full oracles over the raw events:
    # this also checks what the store build wrote.
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    for route in ROUTES:
        err = None
        try:
            cols, rows = request(ctx.spark, store, (route, "C7", "1w"), ctx.tracer)
            err = harness.frames_match(harness.rows_frame(rows, cols), con.sql(ORACLES[route]).df())
        except Exception as e:  # noqa: BLE001
            err = f"{type(e).__name__}: {e}"[:300]
        ctx.checks.append({"check": f"registry {route}(C7, 1w) vs oracle", "error": err})
    con.close()


def layer_metrics(ctx) -> dict[str, float]:
    tr = ctx.tracer
    traced = [op for op in ctx.ops if op["traced"] and not op["error"]]
    out = {
        f"serve.route.{r}.p50_ms": harness.median(
            [op["latency_s"] * 1000 for op in traced if op["route"] == r])
        for r in ROUTES
    }
    ms = lambda name: harness.median([d * 1000 for d in tr.durations(name)])  # noqa: E731
    out.update({
        "serve.plan_ms": ms("serve.plan"),
        "serve.exec_ms": ms("serve.exec"),
        "serve.tasks_per_request": harness.median([op["tasks"] for op in traced]),
        "serve.rows_returned": harness.median([op["nrows"] for op in traced]),
        "sinks.read_table_ms": ms("sinks.read_table"),
        "sinks.write_table_ms": ms("sinks.write_table"),
        "sinks.upsert_by_key_ms": ms("sinks.upsert_by_key"),
        "latest.latest_per_group_ms": ms("latest.latest_per_group"),
    })
    return out


WRAP = [
    (sinks, ["read_table", "write_table", "upsert_by_key"], "sinks", sink_files),
    (latest, ["latest_per_group"], "latest", None),
]
