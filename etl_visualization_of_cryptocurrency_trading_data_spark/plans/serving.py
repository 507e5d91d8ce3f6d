"""Serving-route query builders (SURVEY §3.3 / §7 M1+M7).

Each Flask route of the reference (flask/app.py) becomes a parameterized
DataFrame builder returning a tidy result frame; chart rendering stays
out of the engine. The reference's CQL-scan -> client-side-filter ->
pandas reshape pipeline collapses into one Catalyst plan per route, so
predicate pushdown / column pruning / broadcast joins all apply
(SURVEY §4.1: the reference gets none of these).

Time-range filters are anchored at the data's max timestamp rather than
wall-clock now() so results are deterministic (the reference anchors at
datetime.now(), flask/app.py:39,93); the anchor is a window max over the
symbol-filtered rows — one declarative plan, no driver round-trip, no
two-query race (reference defect SURVEY §2.11.5), and no second job to
aggregate and broadcast it back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.latest import latest_per_group

# Reference time-range lookup {"1h": 1, "1d": 24, ...} (flask/app.py:30-38).
TIME_RANGE_HOURS = {"1h": 1, "1d": 24, "1w": 24 * 7, "1m": 24 * 30, "1y": 24 * 365}


def _within_range(
    df: DataFrame, symbol: str, time_range: str, ts_col: str = "timestamp"
) -> DataFrame:
    """One symbol's rows with timestamp > max(timestamp) - range  (P6,
    anchored deterministically).

    The anchor is the newest timestamp of the symbol across all
    exchanges: a max over a window partitioned by coin_id's symbol
    suffix, which is one value on every row left by ``_for_symbol``. So
    the window has a single partition, and after the pushed
    StringEndsWith filter it holds one symbol's rows. A symbol with no
    rows gives an empty frame, and a null timestamp never passes the
    filter. (An empty ``partitionBy()`` would do the same but logs a
    no-partition warning on every request.)
    """
    hours = TIME_RANGE_HOURS[time_range]
    suffix = F.substring_index("coin_id", "_", -1)
    anchor = F.max(ts_col).over(Window.partitionBy(suffix))
    return (
        _for_symbol(df, symbol)
        .withColumn("_anchor", anchor)
        .filter(F.col(ts_col) > F.col("_anchor") - F.expr(f"INTERVAL {hours} HOURS"))
        .drop("_anchor")
    )


def _for_symbol(df: DataFrame, symbol: str) -> DataFrame:
    """Entity-suffix predicate (P5, flask/app.py:51,110,163) — pushed into
    the scan by Catalyst (StringEndsWith), unlike the reference's
    client-side post-filter."""
    return df.filter(F.col("coin_id").endswith(f"_{symbol}"))


def price_chart(price: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Price series per exchange for one coin (flask/app.py:24-75).

    Tidy rows (exchange, timestamp, price, volume); the per-exchange
    trace pivot (A3) is presentation, left to the client.
    """
    return _within_range(price, symbol, time_range).select(
        "exchange", "timestamp", "price", "volume"
    )


def ohlc_chart(ohlc: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Candlestick frame for one coin (flask/app.py:78-140)."""
    return _within_range(ohlc, symbol, time_range).select(
        "exchange", "timestamp", "open", "high", "low", "close"
    )


def indicator_chart(indicators: DataFrame, symbol: str, limit: int = 200) -> DataFrame:
    """Indicator series for one coin (flask/app.py:143-201).

    The reference truncates with LIMIT 1000 *before* its client-side coin
    filter (defect SURVEY §2.11.4); we pin the sane semantics —
    filter, then deterministic order, then limit.
    """
    return (
        _for_symbol(indicators, symbol)
        .orderBy("timestamp", "exchange")
        .limit(limit)
    )


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
    pre-collapse each fact side to its latest row per (coin_id, exchange)
    — same user-observable result, but the join inputs shrink to
    dimension size *before* the join, so every join is a broadcast hash
    join and the many-to-many blow-up never materializes. At 100 TB the
    latest-per-group collapse is the only shuffle (one per fact table).
    """
    # Tiebreaks over the projected measures: if two rows share the max
    # timestamp, the pick is pinned (and identical in the oracle SQL) —
    # fixtures have no such ties today, but real feeds will.
    lp = latest_per_group(
        price, ["coin_id", "exchange"], tiebreak=["price", "volume"]
    ).select(
        F.col("coin_id").alias("id"), "exchange",
        F.col("timestamp").alias("price_ts"), "price", "volume",
    )
    lo = latest_per_group(
        ohlc, ["coin_id", "exchange"], tiebreak=["open", "high", "low", "close"]
    ).select(
        F.col("coin_id").alias("id"), "exchange", "open", "high", "low", "close"
    )
    li = latest_per_group(
        indicators,
        ["coin_id", "exchange"],
        tiebreak=["sma_20", "ema_20", "rsi_14", "macd"],
    ).select(
        F.col("coin_id").alias("id"), "exchange", "sma_20", "ema_20", "rsi_14", "macd"
    )
    keys = ["id", "exchange"]
    joined = (
        coins.join(lp, keys, "inner").join(lo, keys, "inner").join(li, keys, "inner")
    )
    return joined.select(
        "id", "name", "symbol", "exchange", "price_ts", "price", "volume",
        "open", "high", "low", "close", "sma_20", "ema_20", "rsi_14", "macd",
    )
