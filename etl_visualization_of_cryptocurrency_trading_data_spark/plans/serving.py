"""Serving-route query builders (SURVEY §3.3 / §7 M1+M7).

Each Flask route of the reference (flask/app.py) becomes a parameterized
builder returning a tidy result frame; chart rendering stays out of the
engine. The reference's CQL-scan -> client-side-filter -> pandas reshape
pipeline collapses into one Catalyst plan per route, so predicate
pushdown / column pruning / broadcast joins all apply (SURVEY §4.1).

Each route is ONE Spark SQL statement, ``df.sparkSession.sql(TEXT, args,
t=df)``. The request's symbol, range and limit are bound as named
parameter markers (``:suffix``, ``:hours``, ``:limit``), never spliced
into the text, and the input frames enter as temp views that
``SparkSession.sql`` drops before it returns. The reason is driver time:
a serving plan executes in tens of milliseconds, while each DataFrame
API call is a Py4J round trip and each ``filter``/``withColumn``
re-analyzes the plan so far. Over an sf0.01 store on a 4-core host,
``F.col("price") > 1`` took ~3.5 ms and one ``filter`` ~9 ms; building
``coin_table`` took ~200 ms as DataFrame calls and ~48 ms as one
statement, which pays one parse and one analysis.

Time ranges are anchored at the data's max timestamp, not wall-clock
now() (flask/app.py:39,93), so results are deterministic; the anchor is
a window max in the same plan — no driver round-trip, no two-query race
(SURVEY §2.11.5), no second job to aggregate and broadcast it back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Reference time-range lookup {"1h": 1, "1d": 24, ...} (flask/app.py:30-38).
TIME_RANGE_HOURS = {"1h": 1, "1d": 24, "1w": 24 * 7, "1m": 24 * 30, "1y": 24 * 365}

# One symbol's rows with timestamp > max(timestamp) - range (P5 + P6).
# endswith is pushed into a parquet scan as StringEndsWith (the reference
# post-filters client-side, flask/app.py:51,110). The anchor is a window
# max partitioned by coin_id's symbol suffix: one non-empty partition
# after the filter (an empty PARTITION BY logs a warning per request). A
# symbol with no rows gives an empty frame; a null timestamp never passes.
_RANGE_SQL = """
SELECT exchange, `timestamp`, {cols} FROM (
  SELECT *, max(`timestamp`) OVER (PARTITION BY substring_index(coin_id, '_', -1)) AS _anchor
  FROM {{t}}
  WHERE endswith(coin_id, :suffix))
WHERE `timestamp` > _anchor - make_dt_interval(0, :hours)"""

PRICE_CHART_SQL = _RANGE_SQL.format(cols="price, volume")
OHLC_CHART_SQL = _RANGE_SQL.format(cols="open, high, low, close")

INDICATOR_CHART_SQL = """
SELECT * FROM {t}
WHERE endswith(coin_id, :suffix)
ORDER BY `timestamp`, exchange
LIMIT :limit"""

# Newest row per (coin_id, exchange) of all three fact tables in ONE
# shuffle: max() of struct(timestamp, <tiebreak measures>) per key picks
# the oracle's row_number() ORDER BY timestamp DESC, measures DESC row —
# structs compare field by field, a null field below any value (DESC
# NULLS LAST) and NaN above every number. A table without a row for the
# key leaves its max null; IS NOT NULL keeps the oracle's inner joins.
COIN_TABLE_SQL = """
SELECT /*+ BROADCAST(c) */
       c.id, c.name, c.symbol, c.exchange,
       l.p.`timestamp` AS price_ts, l.p.price, l.p.volume,
       l.o.open, l.o.high, l.o.low, l.o.close,
       l.i.sma_20, l.i.ema_20, l.i.rsi_14, l.i.macd
FROM (
  SELECT coin_id, exchange, max(p) AS p, max(o) AS o, max(i) AS i
  FROM (
    SELECT coin_id, exchange, struct(`timestamp`, price, volume) AS p,
           NULL AS o, NULL AS i
    FROM {price}
    UNION ALL
    SELECT coin_id, exchange, NULL, struct(`timestamp`, open, high, low, close), NULL
    FROM {ohlc}
    UNION ALL
    SELECT coin_id, exchange, NULL, NULL,
           struct(`timestamp`, sma_20, ema_20, rsi_14, macd)
    FROM {indicators})
  GROUP BY coin_id, exchange) l
JOIN {coins} c ON c.id = l.coin_id AND c.exchange = l.exchange
WHERE l.p IS NOT NULL AND l.o IS NOT NULL AND l.i IS NOT NULL"""


def _range_args(symbol: str, time_range: str) -> dict:
    return {"suffix": f"_{symbol}", "hours": TIME_RANGE_HOURS[time_range]}


def price_chart(price: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Price series per exchange for one coin (flask/app.py:24-75).

    Tidy rows (exchange, timestamp, price, volume); the per-exchange
    trace pivot (A3) is presentation, left to the client.
    """
    args = _range_args(symbol, time_range)
    return price.sparkSession.sql(PRICE_CHART_SQL, args, t=price)


def ohlc_chart(ohlc: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Candlestick frame for one coin (flask/app.py:78-140)."""
    args = _range_args(symbol, time_range)
    return ohlc.sparkSession.sql(OHLC_CHART_SQL, args, t=ohlc)


def indicator_chart(indicators: DataFrame, symbol: str, limit: int = 200) -> DataFrame:
    """Indicator series for one coin (flask/app.py:143-201).

    The reference truncates with LIMIT 1000 *before* its client-side coin
    filter (defect SURVEY §2.11.4); we pin the sane semantics —
    filter, then deterministic order, then limit.
    """
    args = {"suffix": f"_{symbol}", "limit": limit}
    return indicators.sparkSession.sql(INDICATOR_CHART_SQL, args, t=indicators)


def market_cap_chart(market_cap: DataFrame) -> DataFrame:
    """Latest market-cap share per coin (flask/app.py:204-230) — the
    derived coin_market_cap table is already the latest snapshot."""
    return market_cap.select("coin_symbol", "timestamp", "market_cap_percentage")


def coin_table(
    coins: DataFrame, price: DataFrame, ohlc: DataFrame, indicators: DataFrame
) -> DataFrame:
    """Flagship: the full coin snapshot table (flask/app.py:270-302).

    The reference joins three full fact tables many-to-many in pandas and
    then collapses to the newest row (J1/J2/A2, defect §2.11.7). We
    collapse the fact side to its latest row per (coin_id, exchange)
    *before* the join — same user-observable result, but the join input
    shrinks to dimension size, so the one join is a broadcast hash join
    and the many-to-many blow-up never materializes. The three fact
    tables share one grouping shuffle (COIN_TABLE_SQL), which at 100 TB
    is the route's only shuffle. Ties on the max timestamp break on the
    projected measures, pinned identically in the oracle SQL.
    """
    return coins.sparkSession.sql(
        COIN_TABLE_SQL, coins=coins, price=price, ohlc=ohlc, indicators=indicators
    )
