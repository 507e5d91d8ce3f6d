"""Serving-layer queries (SURVEY S9/S10, M1/M3): chart scans,
the coin snapshot table, envelope decode/build round-trips, and the
shared price/coin base CTE fragments other domains compose.

Split verbatim from plans/registry.py (r11 verdict item #2); the
facade registry module re-exports every name and asserts the
assembled surface is byte-identical to the pre-split snapshot.
"""

from __future__ import annotations

from .. import serving
from ...catalog import load_table
from ...operators import derive
from ...operators.indicators import technical_indicators
from ...sources import envelope
from pyspark.sql import DataFrame, SparkSession

PRICE_DATA_CTE = """
price_data AS (
  SELECT coin_id, exchange, timestamp, price, volume,
         CASE WHEN lag(price, 1)  OVER w <> 0 THEN price / lag(price, 1)  OVER w - 1 END AS change_1h,
         CASE WHEN lag(price, 4)  OVER w <> 0 THEN price / lag(price, 4)  OVER w - 1 END AS change_1d,
         CASE WHEN lag(price, 12) OVER w <> 0 THEN price / lag(price, 12) OVER w - 1 END AS change_1w,
         CASE WHEN lag(price, 24) OVER w <> 0 THEN price / lag(price, 24) OVER w - 1 END AS change_1m
  FROM (
    SELECT event_type || '_C' || user_id AS coin_id,
           event_type AS exchange,
           ts AS timestamp,
           value AS price,
           abs(value) * 100 AS volume,
           event_id
    FROM events) b
  WINDOW w AS (PARTITION BY coin_id ORDER BY timestamp, event_id)
)"""

COINS_CTE = """
coins AS (
  SELECT DISTINCT event_type || '_C' || user_id AS id,
         'Coin ' || user_id AS name,
         'C' || user_id AS symbol,
         event_type AS exchange
  FROM events
)"""

# open/close via struct-ordering min/max — ties on timestamp break by
# price, matching the engine's min/max(struct(timestamp, price)) in
# batch AND streaming (arg_min(price, timestamp) is arbitrary on ties).
OHLC_CTE = """
ohlc_data AS (
  SELECT coin_id, exchange, date_trunc('hour', timestamp) AS timestamp,
         (min({'t': timestamp, 'p': price})).p AS open,
         max(price) AS high,
         min(price) AS low,
         (max({'t': timestamp, 'p': price})).p AS close
  FROM price_data
  GROUP BY coin_id, exchange, date_trunc('hour', timestamp)
)"""

INDICATORS_CTE = """
ind0 AS (
  SELECT coin_id, exchange, timestamp, price,
         row_number() OVER wo AS rn,
         first_value(price) OVER wo AS p0,
         CASE WHEN count(*) OVER w20 = 20 THEN avg(price) OVER w20 END AS sma_20,
         price - lag(price) OVER wo AS delta
  FROM price_data
  WINDOW wo AS (PARTITION BY coin_id, exchange ORDER BY timestamp),
         w20 AS (PARTITION BY coin_id, exchange ORDER BY timestamp
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
ind1 AS (
  SELECT *,
         sum(price * power(19.0/21.0, -(rn-1))) OVER ws AS s20,
         sum(price * power(11.0/13.0, -(rn-1))) OVER ws AS s12,
         sum(price * power(25.0/27.0, -(rn-1))) OVER ws AS s26,
         CASE WHEN rn >= 14
              THEN avg(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER w14 END AS avg_gain,
         CASE WHEN rn >= 14
              THEN avg(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER w14 END AS avg_loss
  FROM ind0
  WINDOW ws AS (PARTITION BY coin_id, exchange ORDER BY rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w14 AS (PARTITION BY coin_id, exchange ORDER BY rn
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
),
technical_indicators AS (
  SELECT coin_id, exchange, timestamp, sma_20,
         power(19.0/21.0, rn-1) * (p0 + (2.0/21.0) * (s20 - p0)) AS ema_20,
         CASE WHEN rn < 14 THEN NULL
              WHEN avg_loss = 0 AND avg_gain = 0 THEN NULL
              WHEN avg_loss = 0 THEN 100.0
              ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END AS rsi_14,
         power(11.0/13.0, rn-1) * (p0 + (2.0/13.0) * (s12 - p0))
           - power(25.0/27.0, rn-1) * (p0 + (2.0/27.0) * (s26 - p0)) AS macd
  FROM ind1
)"""

LATEST_CTES = """
latest_price AS (
  SELECT coin_id, exchange, timestamp AS price_ts, price, volume FROM (
    SELECT *, row_number() OVER (PARTITION BY coin_id, exchange
                                 ORDER BY timestamp DESC, price DESC, volume DESC) AS lrn
    FROM price_data) WHERE lrn = 1
),
latest_ohlc AS (
  SELECT coin_id, exchange, open, high, low, close FROM (
    SELECT *, row_number() OVER (PARTITION BY coin_id, exchange
                                 ORDER BY timestamp DESC, open DESC, high DESC,
                                          low DESC, close DESC) AS lrn
    FROM ohlc_data) WHERE lrn = 1
),
latest_ind AS (
  SELECT coin_id, exchange, sma_20, ema_20, rsi_14, macd FROM (
    SELECT *, row_number() OVER (PARTITION BY coin_id, exchange
                                 ORDER BY timestamp DESC, sma_20 DESC, ema_20 DESC,
                                          rsi_14 DESC, macd DESC) AS lrn
    FROM technical_indicators) WHERE lrn = 1
)"""

def _with(*ctes: str, select: str) -> str:
    return "WITH " + ",".join(ctes) + "\n" + select

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")

def q_coins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.coins(_events(spark, sf_dir))

def q_price_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.price_data(_events(spark, sf_dir))

def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.ohlc_data(derive.price_data(_events(spark, sf_dir)))

def q_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    return technical_indicators(derive.price_data(_events(spark, sf_dir)))

def q_market_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.coin_market_cap(derive.price_data(_events(spark, sf_dir)))

def q_price_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.price_chart(q_price_data(spark, sf_dir), "C7", "1w")

def q_price_chart_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """price_chart over the MATERIALIZED price_data table (r12 verdict
    item #7): the other serving rows derive their tables in-plan from
    events.parquet, so the chart predicates land on COMPUTED columns
    and Catalyst has no scan to push them into — ReadSchema pruning is
    visible in EXPLAIN.md but PushedFilters never shows more than
    IsNotNull. Here price_data is written to parquet by the storage
    sink first (sinks.write_table's exchange-partitioned layout into a
    per-process scratch dir, wiped then rewritten so repeated builds
    are idempotent) and the chart reads the STORED table — the
    endswith('_C7') predicate now reaches the parquet reader as a
    StringEndsWith pushed filter (EXPLAIN.md §stored-serving makes the
    pushdown claim auditable). The anchored time-range half stays a
    post-scan window filter by design: its bound is computed from the
    data (max timestamp), not a literal. Values = price_chart exactly;
    the storage write is an eager build step, stamped in bench
    build_sec. At scale this IS the architecture: serving queries hit
    stored tables, not re-derivations of the raw feed."""
    import shutil

    from ... import sinks

    base = sinks.scratch_dir(f"spark_serving_store_{_sf_tag(sf_dir)}")
    tdir = sinks.table_dir(base, "price_data")
    shutil.rmtree(tdir, ignore_errors=True)
    derived = q_price_data(spark, sf_dir)
    sinks.write_table(derived, base, "price_data")
    # explicit schema: an EMPTY feed writes a partitioned dir with no
    # data files, where schema inference fails (code-review r13 suite);
    # the declared schema also pins the exchange partition column's
    # type. Identical scan + pushed filters on non-empty input.
    stored = (
        spark.read.schema(derived.schema)
        .option("basePath", tdir)
        .parquet(tdir)
    )
    return serving.price_chart(stored, "C7", "1w")

def _sf_tag(sf_dir: str) -> str:
    import re as _re

    return _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])

def q_ohlc_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.ohlc_chart(q_ohlc(spark, sf_dir), "C7", "1w")

def q_indicator_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.indicator_chart(q_indicators(spark, sf_dir), "C7", limit=200)

def q_market_cap_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.market_cap_chart(q_market_cap(spark, sf_dir))

def q_coin_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    price = derive.price_data(ev)
    return serving.coin_table(
        derive.coins(ev), price, derive.ohlc_data(price), technical_indicators(price)
    )

def q_coin_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presentation-layer string shaping (SURVEY F4): the reference
    capitalizes coin/exchange names for display (flask/app.py:139,194).
    initcap is Spark's word-capitalize; the oracle replays it per word
    (upper first char, lower rest)."""
    from pyspark.sql import functions as F

    return derive.coins(_events(spark, sf_dir)).select(
        "id",
        F.initcap("exchange").alias("exchange_display"),
        F.initcap(
            F.concat_ws(" ", F.col("exchange"), F.lit("coin"), F.col("symbol"))
        ).alias("title"),
    )

def _decoded(spark: SparkSession, sf_dir: str):
    return envelope.decode_envelopes(
        envelope.build_envelopes(_events(spark, sf_dir))
    )

def q_envelope_price(spark, sf_dir):
    return envelope.decode_price(_decoded(spark, sf_dir))

def q_envelope_coins(spark, sf_dir):
    return envelope.decode_coins(_decoded(spark, sf_dir))

def q_envelope_ohlc(spark, sf_dir):
    return envelope.decode_ohlc(_decoded(spark, sf_dir))

def q_envelope_mcap(spark, sf_dir):
    return envelope.decode_market_cap(_decoded(spark, sf_dir))

def _price_base(spark, sf_dir):
    """price_data's five base columns, projected straight from
    derive.tick_base: building price_data's lag windows only for the
    optimizer to prune them cost ~40-50 ms of driver time per call
    (sf0.01, 4 cores)."""
    return derive.tick_base(_events(spark, sf_dir)).drop("event_id")

def _price_base_tb(spark, sf_dir):
    """_price_base plus the event_id tiebreak column, for tick-level
    window operators (obv / bollinger / max_drawdown): lag, row frames
    and running peaks over tied (coin_id, timestamp) ticks are
    engine-order-dependent without it (ADVICE r4). derive.price_data
    orders its own windows by (timestamp, event_id) for the same
    reason. Callers must drop/aggregate event_id out of their output."""
    return derive.tick_base(_events(spark, sf_dir))

PRICE_BASE_SQL = """
SELECT event_type || '_C' || user_id AS coin_id,
       event_type AS exchange,
       ts AS timestamp,
       value AS price,
       abs(value) * 100 AS volume
FROM events"""

# tick projection + the event_id tiebreak column, for oracles of
# tick-level window queries (obv / bollinger / max_drawdown) — mirrors
# derive.tick_base so both engines order tied ticks identically
PRICE_BASE_TB_SQL = """
SELECT event_type || '_C' || user_id AS coin_id,
       event_type AS exchange,
       ts AS timestamp,
       value AS price,
       abs(value) * 100 AS volume,
       event_id
FROM events"""

ENVELOPE_TICK_OHLC_SQL = """
SELECT coin_id, exchange,
       time_bucket(INTERVAL '5 minutes', timestamp) AS timestamp,
       (min({'t': timestamp, 'p': price})).p AS open,
       max(price) AS high,
       min(price) AS low,
       (max({'t': timestamp, 'p': price})).p AS close
FROM (%s) p
GROUP BY 1, 2, 3""" % PRICE_BASE_SQL

ENVELOPE_MCAP_SQL = """
WITH base AS (%s),
per_symbol AS (
  SELECT time_bucket(INTERVAL '5 minutes', timestamp) AS tick_ts,
         regexp_extract(coin_id, '_(C[0-9]+)$', 1) AS coin_symbol,
         sum(volume) AS symbol_volume
  FROM base GROUP BY 1, 2
)
SELECT coin_symbol, tick_ts AS timestamp,
       100.0 * symbol_volume / sum(symbol_volume) OVER (PARTITION BY tick_ts)
         AS market_cap_percentage
FROM per_symbol""" % PRICE_BASE_SQL

# DuckDB oracle SQL for this domain's registered queries —
# assembled (registration order restored) into plans.registry.ORACLES.
ORACLE_SQL: dict[str, str] = {
    "coins_dim": _with(COINS_CTE, select="SELECT id, name, symbol, exchange FROM coins"),
    "price_data": _with(
        PRICE_DATA_CTE,
        select="SELECT coin_id, exchange, timestamp, price, volume,"
        " change_1h, change_1d, change_1w, change_1m FROM price_data",
    ),
    "ohlc_candles": _with(
        PRICE_DATA_CTE, OHLC_CTE,
        select="SELECT coin_id, exchange, timestamp, open, high, low, close FROM ohlc_data",
    ),
    "technical_indicators": _with(
        PRICE_DATA_CTE, INDICATORS_CTE,
        select="SELECT coin_id, exchange, timestamp, sma_20, ema_20, rsi_14, macd"
        " FROM technical_indicators",
    ),
    "coin_market_cap": _with(
        PRICE_DATA_CTE,
        select="""
  SELECT 'C' || CAST(u AS VARCHAR) AS coin_symbol,
         (SELECT max(timestamp) FROM price_data) AS timestamp,
         100.0 * symbol_volume / sum(symbol_volume) OVER () AS market_cap_percentage
  FROM (SELECT regexp_extract(coin_id, '_C([0-9]+)$', 1) AS u,
               sum(volume) AS symbol_volume
        FROM price_data GROUP BY 1)""",
    ),
    "market_cap_chart": _with(
        PRICE_DATA_CTE,
        select="""
  SELECT 'C' || CAST(u AS VARCHAR) AS coin_symbol,
         (SELECT max(timestamp) FROM price_data) AS timestamp,
         100.0 * symbol_volume / sum(symbol_volume) OVER () AS market_cap_percentage
  FROM (SELECT regexp_extract(coin_id, '_C([0-9]+)$', 1) AS u,
               sum(volume) AS symbol_volume
        FROM price_data GROUP BY 1)""",
    ),
    "price_chart": _with(
        PRICE_DATA_CTE,
        select="""
  SELECT exchange, timestamp, price, volume
  FROM price_data
  WHERE ends_with(coin_id, '_C7')
    AND timestamp > (SELECT max(timestamp) FROM price_data
                     WHERE ends_with(coin_id, '_C7')) - INTERVAL 168 HOURS""",
    ),
    # the stored-table variant reads back exactly what price_data
    # derives, so the oracle is the same SQL — only the ENGINE's scan
    # (and its pushed filters) differs
    "price_chart_stored": _with(
        PRICE_DATA_CTE,
        select="""
  SELECT exchange, timestamp, price, volume
  FROM price_data
  WHERE ends_with(coin_id, '_C7')
    AND timestamp > (SELECT max(timestamp) FROM price_data
                     WHERE ends_with(coin_id, '_C7')) - INTERVAL 168 HOURS""",
    ),
    "ohlc_chart": _with(
        PRICE_DATA_CTE, OHLC_CTE,
        select="""
  SELECT exchange, timestamp, open, high, low, close
  FROM ohlc_data
  WHERE ends_with(coin_id, '_C7')
    AND timestamp > (SELECT max(timestamp) FROM ohlc_data
                     WHERE ends_with(coin_id, '_C7')) - INTERVAL 168 HOURS""",
    ),
    "indicator_chart": _with(
        PRICE_DATA_CTE, INDICATORS_CTE,
        select="""
  SELECT coin_id, exchange, timestamp, sma_20, ema_20, rsi_14, macd
  FROM technical_indicators
  WHERE ends_with(coin_id, '_C7')
  ORDER BY timestamp, exchange
  LIMIT 200""",
    ),
    "coin_table": _with(
        PRICE_DATA_CTE, COINS_CTE, OHLC_CTE, INDICATORS_CTE, LATEST_CTES,
        select="""
  SELECT c.id, c.name, c.symbol, c.exchange, p.price_ts, p.price, p.volume,
         o.open, o.high, o.low, o.close, i.sma_20, i.ema_20, i.rsi_14, i.macd
  FROM coins c
  JOIN latest_price p ON p.coin_id = c.id AND p.exchange = c.exchange
  JOIN latest_ohlc  o ON o.coin_id = c.id AND o.exchange = c.exchange
  JOIN latest_ind   i ON i.coin_id = c.id AND i.exchange = c.exchange""",
    ),
    "coin_display": _with(
        COINS_CTE,
        select="""
SELECT id,
       upper(exchange[1]) || lower(exchange[2:]) AS exchange_display,
       array_to_string(list_transform(
         string_split(exchange || ' coin ' || symbol, ' '),
         w -> upper(w[1]) || lower(w[2:])), ' ') AS title
FROM coins""",
    ),
    "envelope_price": PRICE_BASE_SQL,
    "envelope_coins": _with(COINS_CTE, select="SELECT * FROM coins"),
    "envelope_ohlc": ENVELOPE_TICK_OHLC_SQL,
    "envelope_mcap": ENVELOPE_MCAP_SQL,
}
