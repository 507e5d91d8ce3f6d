"""Structured Streaming pipeline (SURVEY §2.9 T1-T8, re-expressed).

Reference -> engine mapping:
- Kafka source (T-/S1) -> parquet file stream over a spool directory:
  same incremental-append semantics, no broker dependency. On a real
  deployment the one-line swap back to ``format("kafka")`` keeps every
  downstream operator unchanged.
- 5 independent writeStream queries, each re-reading the topic (T4) ->
  ONE source; ``foreachBatch`` fans out all per-batch tables from a
  single pass (the batch DataFrame is persisted during the fan-out).
- output modes (T2): coins upserts by key, facts append.
- NO watermark / event-time windows in the reference (T6) -> we add
  ``withWatermark`` + tumbling-window OHLC candles, the idiomatic
  replacement for its per-candle REST fetches (S4): late rows within
  the delay still land in their window; older rows are dropped with
  bounded state.
- no checkpointing (T7) -> every query here takes a ``checkpoint_dir``
  and is restart-safe; sink writes are per-batch parquet appends keyed
  by batch routing (idempotent per epoch for the upsert table).
- default trigger (T1) -> explicit ``availableNow`` for deterministic
  drain-the-spool runs (tests) and ``processingTime`` for continuous.

Scale notes: the only stateful operators are the watermarked window
aggregation and applyInPandasWithState — both shard state by key
across executors via the shuffle; watermarks bound state size. The
foreachBatch fan-out adds zero extra source reads. The
``*_stream_replay`` functions are evidence machinery, not an ingest
path: one harness (``_replay``) spools each feed once as local
parquet, sizes state partitions from the spooled bytes (one per
~64 MB), and keeps small results on the driver (memory sink) and
large ones executor-side (parquet or ``foreachBatch`` sinks); every
tempdir, sink view and conf pin is released before a replay returns.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from .. import sinks

# Schema of the spooled price ticks (file streams require an explicit
# schema — there is no inference on a stream).
PRICE_SCHEMA = (
    "coin_id string, exchange string, timestamp timestamp, "
    "price double, volume double"
)
PRICE_COLS = ["coin_id", "exchange", "timestamp", "price", "volume"]


def read_price_stream(spark: SparkSession, spool_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Incremental parquet file-stream of price ticks (S1-equivalent)."""
    reader = spark.readStream.schema(PRICE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(spool_dir)


def read_envelope_stream(
    spark: SparkSession, spool_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSON-envelope text file-stream: one envelope per line — the exact
    consumer shape of the reference's Kafka topic (S1+S2; reference
    spark-streaming.py:269-278), minus the broker. Swapping this reader
    for ``format("kafka")`` + the same decode is a one-line change."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(spool_dir)


def enrich_stream(stream: DataFrame, dim: DataFrame, keys: list[str]) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream
    left-joins the (broadcast) static dimension — the standard lookup
    pattern for attaching coin/exchange metadata to the tick feed.
    Spark re-resolves the static side per micro-batch, so a dimension
    refreshed by the upsert sink is picked up between batches without
    restarting the query. Left join: a tick with no dimension row
    flows through null-extended rather than silently dropping."""
    return stream.join(F.broadcast(dim), keys, "left")


def cross_exchange_stream_join(
    ticks: DataFrame,
    exchange_a: str,
    exchange_b: str,
    tolerance_minutes: int = 5,
    watermark_minutes: int = 10,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream inner join: for every tick of a symbol
    on ``exchange_a``, the ticks of the same symbol on ``exchange_b``
    within ±``tolerance_minutes`` — the cross-exchange alignment feed a
    spread/arbitrage monitor consumes. Emits the price spread per
    matched pair.

    State stays bounded because BOTH sides carry a watermark and the
    join condition bounds event time on each side relative to the
    other: Spark evicts buffered rows once they can no longer match
    (requires ``watermark_minutes`` >= the tolerance — enforced here;
    both are numeric so there is no interval-string parsing to get
    wrong). Ticks whose coin_id lacks the ``_C<n>`` symbol suffix are
    dropped before the join — with the suffix regex they would all
    share symbol '' and pair with each other across coins.
    With availableNow over a time-ordered spool the result equals the
    batch theta join exactly (pinned in tests).

    ``how="leftOuter"`` exercises the watermark's OTHER semantic face:
    an unmatched left tick is emitted null-extended only once the
    watermark proves no future right tick can still match it. The
    replay builder advances the final watermark past the whole feed
    (an in-band sentinel pair on both exchanges) so the emitted frame
    equals the batch LEFT join exactly — matched pairs per match,
    unmatched ticks exactly once with NULL right columns.
    """
    if watermark_minutes < tolerance_minutes:
        raise ValueError("watermark must cover the join tolerance")
    sym = F.regexp_extract(F.col("coin_id"), "_(C[0-9]+)$", 1)

    def side(exchange: str, suffix: str) -> DataFrame:
        return (
            ticks.filter(F.col("exchange") == exchange)
            .select(
                sym.alias(f"symbol_{suffix}"),
                F.col("timestamp").alias(f"ts_{suffix}"),
                F.col("price").alias(f"price_{suffix}"),
            )
            .filter(F.col(f"symbol_{suffix}") != "")
            .withWatermark(f"ts_{suffix}", f"{watermark_minutes} minutes")
        )

    a, b = side(exchange_a, "a"), side(exchange_b, "b")
    joined = a.join(
        b,
        F.expr(
            f"symbol_a = symbol_b AND "
            f"ts_b BETWEEN ts_a - INTERVAL {tolerance_minutes} MINUTES "
            f"AND ts_a + INTERVAL {tolerance_minutes} MINUTES"
        ),
        how,
    )
    return joined.select(
        F.col("symbol_a").alias("symbol"),
        "ts_a",
        "price_a",
        "ts_b",
        "price_b",
        (F.col("price_b") - F.col("price_a")).alias("spread"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "cryptoAllData",
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """The reference's actual transport (S1): a Kafka streaming source
    with the consumer options the reference uses (topic
    ``cryptoAllData``, ``startingOffsets=earliest``,
    ``failOnDataLoss=false`` — reference spark-streaming.py:269-278).

    The returned frame carries Kafka's (key, value binary, topic,
    partition, offset, timestamp, ...) columns; ``decode_envelopes``
    consumes it unchanged (it casts ``value`` to string itself), so
    swapping ``read_envelope_stream`` for this builder is the
    documented one-line change.

    Requires the ``spark-sql-kafka-0-10`` package on the cluster; in
    environments without it (this sandbox has no broker or connector
    jar) ``.load()`` raises AnalysisException — the builder and its
    option construction are unit-tested for exactly that boundary.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def envelope_price_stream(envelopes: DataFrame) -> DataFrame:
    """Decoded streaming price ticks from an envelope stream — pure map
    (from_json + explode + to_timestamp), streaming-safe."""
    from ..sources import envelope as env

    return env.decode_price(env.decode_envelopes(envelopes))


def session_stream(
    price: DataFrame, gap_minutes: int = 60, delay: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows per entity (T6 extension): a session
    closes ``gap_minutes`` after its last tick; watermark bounds open-
    session state. Output schema matches ``relational.sessionize`` so
    batch === stream is testable."""
    return (
        price.withWatermark("timestamp", delay)
        .groupBy(
            "coin_id",
            "exchange",
            F.session_window("timestamp", f"{gap_minutes} minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_ticks"),
            F.min("price").alias("low"),
            F.max("price").alias("high"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_ticks",
            "low",
            "high",
        )
    )


def dedup_stream(
    price: DataFrame,
    keys: list[str] | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming ingestion dedup (absent in the reference, SURVEY T6):
    drop re-delivered ticks on the natural key within the watermark —
    the at-least-once -> effectively-once guard for replayed sources.
    State is bounded: a key's fingerprint is dropped once the watermark
    passes it."""
    keys = keys or ["coin_id", "exchange", "timestamp"]
    return price.withWatermark("timestamp", delay).dropDuplicatesWithinWatermark(keys)


def ohlc_stream(price: DataFrame, delay: str = "10 minutes", window: str = "1 hour") -> DataFrame:
    """Event-time tumbling OHLC candles with late-data handling (T6).

    open/close are argmin/argmax-by-time via struct-ordering MIN/MAX —
    pure declarative aggregates, so partial aggregation and watermarked
    state cleanup work unchanged. Output matches the batch
    ``operators.derive.ohlc_data`` schema.
    """
    return (
        price.withWatermark("timestamp", delay)
        .groupBy("coin_id", "exchange", F.window("timestamp", window).alias("w"))
        .agg(
            F.min(F.struct("timestamp", "price")).alias("_first"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("timestamp", "price")).alias("_last"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("timestamp"),
            F.col("_first.price").alias("open"),
            "high",
            "low",
            F.col("_last.price").alias("close"),
        )
    )


def vwap_stream(price: DataFrame, delay: str = "10 minutes", window: str = "1 hour") -> DataFrame:
    """Event-time tumbling VWAP with late-data handling — the streaming
    twin of ``operators.derive.vwap`` (same bucket, same rounding, same
    zero-volume NULL), so batch === stream on any feed
    (``test_vwap_stream_matches_batch`` pins it).

    Weighted sum and volume sum are plain commutative aggregates:
    partial (map-side) combine, mergeable watermarked state, exactly
    one append emission per window once the watermark passes its end.
    """
    wsum = F.sum(F.col("price") * F.col("volume"))
    vsum = F.sum("volume")
    return (
        price.withWatermark("timestamp", delay)
        .groupBy("coin_id", "exchange", F.window("timestamp", window).alias("w"))
        .agg(
            F.when(vsum > 0, F.round(wsum / vsum, 6)).alias("vwap"),
            F.round(vsum, 6).alias("total_volume"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("timestamp"),
            "vwap",
            "total_volume",
            "n_ticks",
        )
    )


def stream_ohlc_to_dir(
    price: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    delay: str = "10 minutes",
    available_now: bool = True,
):
    """Run the candle aggregation to parquet in append mode: a window
    emits exactly once, when the watermark passes its end."""
    candles = ohlc_stream(price, delay=delay)
    writer = (
        candles.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sinks.table_dir(out_dir, "ohlc_data"))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_full_pipeline(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    checkpoint_root: str,
    available_now: bool = True,
    ohlc_delay: str = "0 seconds",
):
    """The reference's five-concurrent-queries topology (T4): THREE
    checkpointed queries — foreachBatch ingest (price appends + coins
    upserts from ONE pass over its batch), watermarked OHLC candles,
    and stateful indicators. Returns the started queries; with
    ``available_now`` they drain the spool and stop (call
    ``q.awaitTermination()`` on each).

    Source reads: like the reference, each STREAMING QUERY maintains
    its own offsets and scans the source independently (Structured
    Streaming cannot share one stream across queries) — so this is 3x
    source I/O, down from the reference's 5x. The genuine single-pass
    saving is INSIDE run_ingest, whose foreachBatch derives two tables
    from one persisted batch; collapsing further (candles + indicators
    in the same foreachBatch) trades per-query checkpoints/watermarks
    for one source read — both are offered, pick per deployment.
    """
    def src():
        return read_price_stream(spark, spool_dir)

    qs = [
        run_ingest(
            src(), out_dir, os.path.join(checkpoint_root, "ingest"),
            available_now=available_now,
        ),
        stream_ohlc_to_dir(
            src(), out_dir, os.path.join(checkpoint_root, "ohlc"),
            delay=ohlc_delay, available_now=available_now,
        ),
    ]
    from .stateful import stateful_indicators

    ind_writer = (
        stateful_indicators(src())
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sinks.table_dir(out_dir, "technical_indicators"))
        .option("checkpointLocation", os.path.join(checkpoint_root, "indicators"))
    )
    if available_now:
        ind_writer = ind_writer.trigger(availableNow=True)
    qs.append(ind_writer.start())
    return qs


def run_ingest(
    price: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """One-pass fan-out (T4 fixed): each micro-batch appends price rows
    and upserts the coins dimension from the SAME batch DataFrame —
    the reference runs five queries that each re-read the topic.
    """

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            sinks.write_table(batch, out_dir, "price_data", epoch_id=epoch_id)
            coins = batch.select(
                F.col("coin_id").alias("id"),
                F.concat(
                    F.lit("Coin "), F.regexp_extract("coin_id", "_C([0-9]+)$", 1)
                ).alias("name"),
                F.regexp_extract("coin_id", "_(C[0-9]+)$", 1).alias("symbol"),
                "exchange",
                "timestamp",
            )
            sinks.upsert_by_key(coins, out_dir, "coins")
        finally:
            batch.unpersist()

    writer = price.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- Stream replays ---------------------------------------------------------
# Each *_stream_replay function gives the streaming path a driver-side
# oracle-hash row; ``_replay`` owns the shared lifecycle and its contract.

_CANDLES = (
    "coin_id string, exchange string, timestamp timestamp,"
    " open double, high double, low double, close double"
)
_SPREADS = (
    "symbol string, ts_a timestamp, price_a double,"
    " ts_b timestamp, price_b double, spread double"
)
_NOT_SENTINEL = "coin_id != '__sentinel__'"
#: most parquet files one spooled feed frame is written as
_SPOOL_FILES = 4


def _with_sentinel(
    frame: DataFrame, hi, keys=(("__sentinel__", "__sentinel__"),)
) -> DataFrame:
    """``frame`` plus one far-future tick (+72 h past ``hi``) per
    (coin_id, exchange) key, as one spool frame. The ticks are built as
    a one-partition local frame through pandas+Arrow (OPTIMIZATION_r15,
    guide §4): ``createDataFrame(list-of-tuples)`` parallelizes rows
    over ``defaultParallelism`` Python-RDD slices, and the spool
    write's single task then walked all 32 slices one Python round trip
    at a time — 5.2 s for ONE row at local[32], against 0.5 s (values
    identical: both convert naive timestamps via the UTC session
    zone)."""
    import pandas as pd

    far = hi + timedelta(hours=72)
    sentinel = frame.sparkSession.createDataFrame(
        pd.DataFrame(
            [(coin, exchange, far, 0.0, 0.0) for coin, exchange in keys],
            columns=PRICE_COLS,
        ),
        schema=PRICE_SCHEMA,
    )
    return frame.unionByName(sentinel).coalesce(_SPOOL_FILES)


def _feed_wave(real: DataFrame, lo, hi) -> list[list[DataFrame]]:
    return [[real.coalesce(_SPOOL_FILES)]]


def _sentinel_wave(real: DataFrame, lo, hi) -> list[list[DataFrame]]:
    return [[_with_sentinel(real, hi)]]


def _partitions_for(spark: SparkSession, nbytes: int) -> int:
    """State/shuffle partition count for ``nbytes`` of stream input
    (OPTIMIZATION_r14, guide §2.2: partitioning follows measured data
    size, never the local core count): one partition per ~64 MB of
    parquet, capped at the session's configured count. Structured
    Streaming fixes the stateful-operator partition count at query start
    and AQE never applies to streaming plans, so the batch-sized session
    default made every micro-batch run 32 state-store tasks over a few
    MB — pure task/commit overhead, quadrupled per store by a
    stream-stream join."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(nbytes // (64 << 20) + 1, cap))


def _set_conf(spark: SparkSession, conf: dict) -> dict:
    """Set every key (``None`` unsets it) and return the previous
    values in the same form, so a second call restores them."""
    old = {key: spark.conf.get(key, None) for key in conf}
    for key, val in conf.items():
        if val is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, val)
    return old


def _replay(
    spark: SparkSession,
    what: str,
    feed: DataFrame | None,
    waves,
    stream_fn,
    out_schema: str,
    sink="memory",
    *,
    keep: str | None = None,
    bounds_col: str = "timestamp",
    state_bytes: int | str | None = "spool",
    available_now: bool = True,
    timeout_s: float = 600,
) -> DataFrame:
    """Run one stream replay to completion and return its rows as a
    batch frame. The contract every ``*_stream_replay`` function shares:

    - The stream runs at BUILD time (a stream cannot be packaged as a
      lazy batch plan); timing the returned frame measures only the
      scan of the sink's rows.
    - ``feed`` is materialized once by an eager ``localCheckpoint``
      (OPTIMIZATION_r15, guide §2.4: the bounds read and every spool
      write otherwise re-derive it; vwap at sf0.1 went 4.4 -> 4.1 s),
      and its min/max ``bounds_col`` come back in one driver read. An
      empty feed returns an empty ``out_schema`` frame at once. A
      ``None`` feed (a source that is its own data) skips both.
    - ``waves(feed, lo, hi)`` lists the spool waves, each a list of
      frames written as parquet, their files flattened to
      ``NNNN.parquet`` with strictly increasing mtimes (the file source
      schedules oldest-first, so a ``maxFilesPerTrigger=1`` reader
      drains them in order). Wave k moves into the spool just before
      the k-th start of the same query from the same checkpoint, so
      later waves meet the state and watermark earlier ones left.
    - A replay's sentinel rows (+72 h) push the final watermark past
      every REAL window, so append mode emits them all; the sentinel's
      own still-open output is withheld or dropped by ``keep``, a SQL
      predicate on the emitted rows.
    - ``stream_fn(spool)`` builds the streaming frame. ``sink`` is
      ``"memory"``, ``"parquet"`` (the fault-tolerant sink, rows land
      executor-side) or a ``foreachBatch`` handler
      ``(batch, epoch_id, out_dir) -> frame`` whose frame lands in
      ``sinks.write_table``'s epoch-partitioned layout (a retried
      epoch replaces its output: effectively-once on top of the
      checkpointed offsets).
    - Conf is pinned for the drains: ``minBatchesToRetain=2`` (state
      versions serve mid-stream recovery, and the checkpoint is deleted
      on return; ~4% on the 36-trigger restfeed replay) and the state
      partition count [[_partitions_for]] ``state_bytes``: "spool"
      measures the spooled files, an int is the caller's estimate,
      ``None`` keeps the session's count. A checkpoint restart reuses
      the count in its offset log. The pin is session-global, so it
      refuses to run while another stream is active.
    - All drains share one ``timeout_s`` and raise ``TimeoutError``
      past it. ``available_now=False`` serves Python data sources,
      which have no ``availableNow`` (Spark falls back to one batch,
      which in append mode emits nothing): a fast processingTime
      trigger drained by ``processAllAvailable``, which also waits for
      the trailing no-data batch that commits the final watermark.
    - Teardown runs on success, timeout and failure alike: the query
      stops, the memory sink's view is dropped and the tempdir (spool,
      checkpoint, sink) is deleted. A memory-sink result stays
      readable without its view (its plan holds the sink's rows); the
      other sinks' results are localCheckpoint-materialized first.
    """
    lo = hi = None
    if feed is not None:
        feed = feed.localCheckpoint(eager=True)
        lo, hi = feed.agg(F.min(bounds_col), F.max(bounds_col)).collect()[0]
        if hi is None:
            return spark.createDataFrame([], out_schema)
    active = spark.streams.active
    if active:
        raise RuntimeError(
            f"{what} replay started while other streaming queries are active "
            f"({[q.name for q in active]}); its session-global conf pin would "
            "leak into them — run replays sequentially"
        )
    name = f"{what}_replay_{uuid.uuid4().hex[:8]}"
    root = tempfile.mkdtemp(prefix=f"{name}_")
    spool, out = os.path.join(root, "spool"), os.path.join(root, "out")
    table = sinks.table_dir(out, "rows")
    query = saved = None
    try:
        os.makedirs(spool)
        held: list[list[str]] = []
        n, base = 0, time.time() - 3600
        for wave in waves(feed, lo, hi):
            held.append([])
            for frame in wave:
                part = os.path.join(root, "part")
                frame.write.parquet(part)
                for f in sorted(os.listdir(part)):
                    if f.endswith(".parquet"):
                        dst = os.path.join(root, f"{n:04d}.parquet")
                        os.rename(os.path.join(part, f), dst)
                        os.utime(dst, (base + n, base + n))
                        held[-1].append(dst)
                        n += 1
                shutil.rmtree(part)
        if state_bytes == "spool":
            state_bytes = sum(os.path.getsize(f) for w in held for f in w)
        pins = {"spark.sql.streaming.minBatchesToRetain": "2"}
        if state_bytes is not None:
            parts = _partitions_for(spark, state_bytes)
            pins["spark.sql.shuffle.partitions"] = str(parts)
        saved = _set_conf(spark, pins)
        deadline = time.monotonic() + timeout_s
        for files in held:
            for f in files:
                os.rename(f, os.path.join(spool, os.path.basename(f)))
            writer = (
                stream_fn(spool)
                .writeStream.outputMode("append")
                .queryName(name)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
            )
            if sink == "memory":
                writer = writer.format("memory")
            elif sink == "parquet":
                writer = writer.format("parquet").option("path", table)
            else:
                writer = writer.foreachBatch(
                    lambda batch, epoch_id: sinks.write_table(
                        sink(batch, epoch_id, out), out, "rows", epoch_id=epoch_id
                    )
                )
            if available_now:
                query = writer.trigger(availableNow=True).start()
                done = query.awaitTermination(max(deadline - time.monotonic(), 0.001))
            else:
                query = writer.trigger(processingTime="50 milliseconds").start()
                timer = threading.Timer(max(deadline - time.monotonic(), 0), query.stop)
                timer.start()
                try:
                    query.processAllAvailable()
                finally:
                    timer.cancel()
                done = query.isActive  # the timer stops it when time runs out
            if not done:
                raise TimeoutError(f"{what} replay did not finish in {timeout_s}s")
        if sink == "memory":
            result = spark.table(name)
        else:
            result = spark.read.schema(out_schema).parquet(table).select(
                *DataType.fromDDL(out_schema).names
            )
        if keep is not None:
            result = result.filter(keep)
        return result if sink == "memory" else result.localCheckpoint(eager=True)
    finally:
        if query is not None:
            query.stop()
        spark.catalog.dropTempView(name)
        if saved is not None:
            _set_conf(spark, saved)
        shutil.rmtree(root, ignore_errors=True)


def vwap_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[vwap_stream]] (delay 0) over the feed plus a sentinel: emits
    exactly the batch VWAP of the feed. Oracle = ``vwap_hourly``'s SQL."""
    return _replay(
        spark, "vwap", price.select(*PRICE_COLS), _sentinel_wave,
        lambda spool: vwap_stream(read_price_stream(spark, spool), delay="0 seconds"),
        "coin_id string, exchange string, timestamp timestamp,"
        " vwap double, total_volume double, n_ticks bigint",
        keep=_NOT_SENTINEL, timeout_s=timeout_s,
    )


def session_stream_replay(
    spark: SparkSession, price: DataFrame, gap_minutes: int = 360,
    timeout_s: int = 600,
) -> DataFrame:
    """[[session_stream]] over the feed plus a sentinel: the emitted
    sessions must hash-match the BATCH gaps-and-islands sessionization
    (`trading_sessions`' SQL) — session_window semantics (end = last
    tick + gap, exclusive) equal the batch formulation, and this proves
    it engine-to-engine."""
    return _replay(
        spark, "session", price.select(*PRICE_COLS), _sentinel_wave,
        lambda spool: session_stream(
            read_price_stream(spark, spool), gap_minutes=gap_minutes, delay="0 seconds"
        ),
        "coin_id string, exchange string, session_start timestamp,"
        " session_end timestamp, n_ticks bigint, low double, high double",
        keep=_NOT_SENTINEL, timeout_s=timeout_s,
    )


def ohlc_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[ohlc_stream]] over the feed plus a sentinel: the emitted candles
    must hash-match the batch ``ohlc_data`` SQL (whose twin
    ``ohlc_candles`` feeds half the candle analytics) — the
    struct-ordering open/close convention is what keeps batch===stream
    on tied timestamps."""
    return _replay(
        spark, "ohlc", price.select(*PRICE_COLS), _sentinel_wave,
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _CANDLES, keep=_NOT_SENTINEL, timeout_s=timeout_s,
    )


def spread_stream_replay(
    spark: SparkSession,
    price: DataFrame,
    exchange_a: str = "view",
    exchange_b: str = "click",
    tolerance_minutes: int = 30,
    watermark_minutes: int = 60,
    timeout_s: int = 600,
) -> DataFrame:
    """STREAM-STREAM inner join ([[cross_exchange_stream_join]]) over the
    feed: emitted matched pairs must hash-match the batch theta join.
    No sentinel: an append-mode INNER join emits a match as soon as both
    rows arrive; the watermark only bounds buffered state."""
    return _replay(
        spark, "spread", price.select(*PRICE_COLS), _feed_wave,
        lambda spool: cross_exchange_stream_join(
            read_price_stream(spark, spool),
            exchange_a,
            exchange_b,
            tolerance_minutes=tolerance_minutes,
            watermark_minutes=watermark_minutes,
        ),
        _SPREADS, timeout_s=timeout_s,
    )


def restfeed_stream_replay(
    spark: SparkSession,
    pages: int = 4,
    coins_per_page: int = 5,
    minutes: int = 180,
    timeout_s: int = 600,
) -> DataFrame:
    """The custom Python DataSource (sources.restfeed) as a stream
    SOURCE: the reference's REST poll loop (dags/crypto_data_streaming.py
    :223-246 fetches a page feed every 5 minutes) drained in 5-minute
    micro-batches through [[ohlc_stream]].

    No sentinel, deliberately: the final watermark stops at the feed's
    last tick (minute ``minutes - 1``), so append mode withholds the
    LAST hour's window — the result is exactly the closed-form candles
    of the first ``minutes // 60 - 1`` full hours, the watermark rule
    the oracle replays in SQL (hash-exact: the feed is integer
    arithmetic). The feed's size is closed-form too (~50 B per
    (page-coin, minute) tick), so the state partition count comes
    without a scan."""
    from ..sources import restfeed

    restfeed.register(spark)
    return _replay(
        spark, "restfeed", None, lambda *_: [[]],
        lambda _spool: ohlc_stream(
            spark.readStream.format("cryptofeed")
            .option("pages", pages)
            .option("coins_per_page", coins_per_page)
            .option("minutes", minutes)
            .option("batch_minutes", 5)
            .load(),
            delay="0 seconds",
        ),
        _CANDLES,
        state_bytes=pages * coins_per_page * minutes * 50,
        available_now=False,
        timeout_s=timeout_s,
    )


def dedup_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[dedup_stream]], the at-least-once -> effectively-once guard: the
    spool holds the feed PLUS planted re-deliveries (exact copies of
    ~1/7 of the rows in later spool files, like a source retry), and
    the stream dedups on the FULL row with a delay outlasting the whole
    horizon, so every re-delivery is dropped whichever micro-batch it
    lands in. Emitted rows are exactly DISTINCT(feed); a single
    surviving duplicate flips the driver hash. Copies are bit-identical,
    so which one survives is unobservable. No sentinel: dedup emits at
    once (filter-shaped state), nothing waits for a final watermark."""

    def waves(real, lo, hi):
        key = F.concat_ws("|", "coin_id", "exchange", F.col("timestamp").cast("string"))
        redelivered = real.filter(F.crc32(key) % 7 == 0)
        return [[real.coalesce(_SPOOL_FILES), redelivered.coalesce(_SPOOL_FILES)]]

    return _replay(
        spark, "dedup", price.select(*PRICE_COLS), waves,
        lambda spool: dedup_stream(
            read_price_stream(spark, spool),
            keys=PRICE_COLS,
            delay="8760 hours",
        ),
        PRICE_SCHEMA, timeout_s=timeout_s,
    )


def recovery_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """Exactly-once checkpoint recovery (T7): the candle drain is KILLED
    mid-feed and restarted from its checkpoint, and the final parquet
    sink must hash-match the uninterrupted batch candles (same SQL as
    [[ohlc_stream_replay]]).

    The feed splits AT the min/max-timestamp midpoint into two waves:
    ticks up to it, then the rest plus the sentinel. Run 1 ends with
    the hour straddling the split still OPEN in state, so the
    interruption lands mid-window. Run 2 must complete that hour from
    carried state, must not re-read wave 1 (no duplicate candles) and
    must not drop wave-2 ticks (every phase-2 window ends above the
    recovered watermark). Lost state, double emission or a late drop
    each change the frame."""

    def waves(real, lo, hi):
        mid = lo + (hi - lo) / 2
        ts = F.col("timestamp")
        return [
            [real.filter(ts <= mid).coalesce(_SPOOL_FILES)],
            [_with_sentinel(real.filter(ts > mid), hi)],
        ]

    return _replay(
        spark, "recovery", price.select(*PRICE_COLS), waves,
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _CANDLES, "parquet", keep=_NOT_SENTINEL, timeout_s=timeout_s,
    )


def enrich_stream_replay(
    spark: SparkSession, price: DataFrame, dim: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[enrich_stream]], the STREAM-STATIC broadcast lookup join (the
    reference attaches coin metadata to every tick the same way,
    client-side): the feed left-joins the coins dimension per
    micro-batch, and the emitted rows must hash-match the one-shot
    batch left join. Stateless — every input row emits once,
    null-extended when the dimension misses — so batch === stream by
    construction. ``dim`` arrives keyed (coin_id, exchange, name,
    symbol); the broadcast hint keeps every micro-batch join map-side."""
    return _replay(
        spark, "enrich", price.select(*PRICE_COLS), _feed_wave,
        lambda spool: enrich_stream(
            read_price_stream(spark, spool), dim, ["coin_id", "exchange"]
        ).select(*PRICE_COLS, "name", "symbol"),
        "coin_id string, exchange string, timestamp timestamp,"
        " price double, volume double, name string, symbol string",
        timeout_s=timeout_s,
    )


def late_drop_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """Late-data DROP (T6's other half): rows arriving BEHIND the
    watermark are discarded. Wave 1 drains the whole feed into a
    parquet sink; wave 2 re-delivers SABOTAGE copies of the earliest
    hour's ticks (price −1e6) plus the sentinel, restarting from the
    checkpoint. The recovered watermark already sits at the feed's max
    event time, so every sabotage window is finalized and must drop
    them; the sentinel then closes the tail windows. The final frame is
    exactly the batch candles — a leaked late row would sink the first
    hour's `low` to −1e6. Requires a feed spanning more than an hour.
    Complements [[recovery_stream_replay]]: state CARRIED for open
    windows there, FINALIZED against late arrivals here."""

    def waves(real, lo, hi):
        sabotage = real.filter(F.col("timestamp") < lo + timedelta(hours=1)).withColumn(
            "price", F.lit(-1_000_000.0)
        )
        return [
            [real.coalesce(_SPOOL_FILES)],
            [_with_sentinel(sabotage, hi)],
        ]

    return _replay(
        spark, "late_drop", price.select(*PRICE_COLS), waves,
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _CANDLES, "parquet", keep=_NOT_SENTINEL, timeout_s=timeout_s,
    )


def drawdown_stream_replay(
    spark: SparkSession,
    ticks: DataFrame,
    n_waves: int = 3,
    timeout_s: int = 600,
) -> DataFrame:
    """Custom-stateful (``applyInPandasWithState``) replay of
    [[stateful_drawdown]] (T5): the ticks split into ``n_waves``
    TIME-ORDERED files drained one per micro-batch, so per-key state
    (running peak, tick counter) genuinely crosses batch boundaries — a
    wave-1 peak must still depress wave-3 drawdowns, and a lost or
    duplicated carry shifts ``running_peak``/``tick_n`` for every later
    row. The arithmetic is bit-exact by construction (comparisons, one
    divide, integers), so the oracle is a plain window replay (max OVER
    + one divide + row_number). No sentinel and no watermark:
    NoTimeout append state emits every row in the batch that carried
    it. Ties in ``timestamp`` stay within one wave (strict-inequality
    split) and are ordered by ``event_id`` inside the operator,
    mirroring the oracle's window ORDER BY.

    PARQUET sink, not memory (r9 verdict #4): sf10's 10M emitted rows
    exceed ``spark.driver.maxResultSize`` in one batch, and the driver
    collection cost ~+70 s. The state partition count stays the
    session's (OPTIMIZATION_r14): the operator pays a Python round trip
    per KEY GROUP each micro-batch, so it wants task slots, not the
    feed's byte size — the 1-partition size-derived pin measured
    13 s -> 129 s."""
    from .stateful import stateful_drawdown

    def waves(real, lo, hi):
        span = (hi - lo) / n_waves
        ts = F.col("timestamp")
        return [[
            real.filter(
                (ts >= lo if i == 0 else ts > lo + span * i)
                & (ts <= (hi if i == n_waves - 1 else lo + span * (i + 1)))
            ).coalesce(1)
            for i in range(n_waves)
        ]]

    return _replay(
        spark, "drawdown",
        ticks.select(*PRICE_COLS, "event_id"),
        waves,
        lambda spool: stateful_drawdown(
            spark.readStream.schema(PRICE_SCHEMA + ", event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(spool)
        ),
        "coin_id string, exchange string, timestamp timestamp, event_id long,"
        " price double, running_peak double, drawdown double, tick_n long",
        "parquet", state_bytes=None, timeout_s=timeout_s,
    )


def spread_outer_stream_replay(
    spark: SparkSession,
    price: DataFrame,
    exchange_a: str = "view",
    exchange_b: str = "click",
    tolerance_minutes: int = 30,
    watermark_minutes: int = 60,
    timeout_s: int = 600,
) -> DataFrame:
    """Stream-stream LEFT OUTER join: an unmatched left tick must be
    emitted null-extended exactly once, and only after the watermark
    proves no future right tick can match it — without a final
    watermark push the null-extensions near the feed's end would stay
    buffered. So the spool carries an IN-BAND sentinel pair: one tick
    per exchange under the reserved symbol ``C999999``, which passes
    the side filters, advances BOTH watermarks past every real tick,
    matches only itself and is dropped from the result. Emitted ==
    the batch LEFT theta join (the oracle); the inner face is
    [[spread_stream_replay]]."""

    def waves(real, lo, hi):
        pair = (("sentinel_C999999", exchange_a), ("sentinel_C999999", exchange_b))
        return [[_with_sentinel(real, hi, pair)]]

    return _replay(
        spark, "spread_outer", price.select(*PRICE_COLS), waves,
        lambda spool: cross_exchange_stream_join(
            read_price_stream(spark, spool),
            exchange_a,
            exchange_b,
            tolerance_minutes=tolerance_minutes,
            watermark_minutes=watermark_minutes,
            how="leftOuter",
        ),
        _SPREADS, keep="symbol != 'C999999'", timeout_s=timeout_s,
    )


def quality_stream_replay(
    spark: SparkSession,
    documents: DataFrame,
    weights: DataFrame,
    timeout_s: int = 600,
    n_files: int = 4,
) -> DataFrame:
    """The TRAINED quality filter where production runs it (r12 verdict
    #5): frozen classifier weights applied per micro-batch inside
    ``foreachBatch`` (the [[run_ingest]] shape, T3/T4) — each document
    shard scored by ``classifier.score_quality``, one broadcast join of
    the 66-row model with NO retraining (the weights are
    localCheckpoint-frozen first, so every batch broadcasts the same
    leaf). Scoring is a pure per-document function of a fixed model, so
    the union of per-batch outputs equals one batch scoring pass
    whatever the micro-batch boundaries — proven by the driver-hash row
    (oracle = the qclf scores CTE chain) and by the pytest (1 vs 5
    files). The spool is ``n_files`` files drained one per trigger;
    repartition, not coalesce: the fixture reads as ONE partition, and
    a coalesce could only ever write one file = one batch."""
    from ..operators import classifier

    wts = weights.localCheckpoint(eager=True)
    return _replay(
        spark, "quality", documents.select("doc_id", "text", "lang", "source"),
        lambda docs, lo, hi: [[docs.repartition(n_files)]],
        lambda spool: spark.readStream.schema(
            "doc_id long, text string, lang string, source string"
        ).option("maxFilesPerTrigger", 1).parquet(spool),
        "doc_id long, score double, predicted boolean",
        lambda batch, epoch_id, out: classifier.score_quality(batch, wts),
        bounds_col="doc_id", timeout_s=timeout_s,
    )


def media_dedup_stream_replay(
    spark: SparkSession,
    media: DataFrame,
    timeout_s: int = 600,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING perceptual media dedup, the fingerprint-registry
    ingestion a production media pipeline runs: each arriving image
    shard is dHash-fingerprinted per micro-batch inside ``foreachBatch``
    ([[multimodal.dhash_ppm]], the batch family's Arrow-batched map),
    anti-joined against the ACCUMULATED registry (a parquet state dir
    the handler extends), and only first-seen fingerprints emit a
    survivor (band0..band3, rep_id).

    Determinism: the spool is RANGE-ORDERED (file k holds the k-th
    doc_id quantile chunk, exact ``approxQuantile(..., 0.0)`` cuts,
    drained one file per trigger in order), so a fingerprint's
    first-seen batch holds its smallest doc_id, and the within-batch
    survivor min(doc_id) is the GLOBAL min — exactly the batch
    family's ``reps`` (min doc_id per distinct hash), the oracle's one
    GROUP BY. A registry that re-emits a known fingerprint or drops a
    first arrival flips the driver hash.

    Exactly-once: the registry is epoch-partitioned too and consulted
    with ``epoch < epoch_id``, so a retried epoch re-reads exactly the
    registry its first attempt saw, re-derives the same survivors and
    replaces both its state and its sink output. (A flat append-only
    registry would make a retry anti-join against its own half-written
    append and emit an empty epoch.)"""
    from ..operators.multimodal import dhash_ppm

    bands = ["band0", "band1", "band2", "band3"]

    def waves(real, lo, hi):
        # n_files=1 => no interior cuts (approxQuantile NPEs on an
        # empty probability list)
        cuts = (
            real.approxQuantile("doc_id", [k / n_files for k in range(1, n_files)], 0.0)
            if n_files > 1
            else []
        )
        edges = [float("-inf"), *cuts, float("inf")]
        doc = F.col("doc_id")
        return [[
            real.filter((doc > edges[k]) & (doc <= edges[k + 1])).coalesce(1)
            for k in range(n_files)
        ]]

    def handle_batch(batch: DataFrame, epoch_id: int, out: str) -> DataFrame:
        state_dir = os.path.join(out, "_fpstate")
        cand = dhash_ppm(batch).groupBy(*bands).agg(F.min("doc_id").alias("rep_id"))
        if os.path.isdir(state_dir):
            seen = (
                batch.sparkSession.read.option("basePath", state_dir)
                .parquet(state_dir)
                .filter(F.col("epoch") < epoch_id)
                .select(*bands)
            )
            cand = cand.join(seen, bands, "left_anti")
        # materialize BEFORE the state write: the anti-join must not
        # re-read a registry this very batch is extending
        new = cand.localCheckpoint(eager=True)
        new.select(*bands).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"epoch={epoch_id}")
        )
        return new

    return _replay(
        spark, "media_dedup", media.select("doc_id", "width", "height", "payload"),
        waves,
        lambda spool: spark.readStream.schema(
            "doc_id long, width int, height int, payload binary"
        ).option("maxFilesPerTrigger", 1).parquet(spool),
        "band0 long, band1 long, band2 long, band3 long, rep_id long",
        handle_batch, bounds_col="doc_id", timeout_s=timeout_s,
    )
