"""Streaming-module tests (SURVEY §5.2): batch≡stream equivalence for
the stateful indicator path and the watermarked OHLC aggregation, plus
the foreachBatch ingest fan-out — all under deterministic availableNow
triggers with real checkpoints."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark import sinks, streaming
from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
from etl_visualization_of_cryptocurrency_trading_data_spark.operators.indicators import (
    technical_indicators,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.session import scoped_conf

from conftest import SF_SMOKE

KEYCOLS = ["coin_id", "exchange", "timestamp"]
INDCOLS = ["sma_20", "ema_20", "rsi_14", "macd"]


@pytest.fixture(scope="module")
def price_df(spark):
    events = load_table(spark, SF_SMOKE, "events")
    return (
        derive.price_data(events)
        .select("coin_id", "exchange", "timestamp", "price", "volume")
        .cache()
    )


@pytest.fixture(scope="module")
def expected_indicators(price_df):
    pdf = technical_indicators(price_df).toPandas()
    return pdf.sort_values(KEYCOLS).reset_index(drop=True)


def make_spool(tmp_path, price_df, n_chunks):
    """Write the price feed as n time-ordered parquet spool files, with
    strictly increasing mtimes so the file stream replays them in order."""
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    bounds = [
        r[0]
        for r in price_df.selectExpr(
            f"percentile(cast(cast(timestamp as timestamp) as double), array({','.join(str((i + 1) / n_chunks) for i in range(n_chunks - 1))}))"
        ).collect()
    ][0] if n_chunks > 1 else []
    edges = [float("-inf"), *bounds, float("inf")]
    base_mtime = 1_700_000_000
    for i in range(n_chunks):
        chunk = price_df.filter(
            (F.col("timestamp").cast("timestamp").cast("double") > edges[i])
            & (F.col("timestamp").cast("timestamp").cast("double") <= edges[i + 1])
        )
        path = os.path.join(spool, f"chunk_{i}")
        chunk.coalesce(1).write.parquet(path)
        for root, _dirs, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (base_mtime + i, base_mtime + i))
    # flatten: move part files up so the stream sees plain files in order
    flat = []
    for i in range(n_chunks):
        d = os.path.join(spool, f"chunk_{i}")
        for f_ in sorted(os.listdir(d)):
            if f_.endswith(".parquet"):
                dst = os.path.join(spool, f"{i:03d}.parquet")
                os.rename(os.path.join(d, f_), dst)
                os.utime(dst, (base_mtime + i, base_mtime + i))
                flat.append(dst)
        import shutil

        shutil.rmtree(d)
    assert len(flat) == n_chunks
    return spool


def assert_indicators_equal(got: pd.DataFrame, expected: pd.DataFrame):
    got = got.sort_values(KEYCOLS).reset_index(drop=True)
    assert len(got) == len(expected)
    pd.testing.assert_frame_equal(
        got[KEYCOLS].reset_index(drop=True), expected[KEYCOLS].reset_index(drop=True)
    )
    for c in INDCOLS:
        np.testing.assert_allclose(
            got[c].to_numpy(), expected[c].to_numpy(), rtol=1e-9, equal_nan=True
        )


@pytest.mark.parametrize("n_chunks", [1, 3])
def test_stateful_indicators_match_batch(spark, tmp_path, price_df, expected_indicators, n_chunks):
    """State carried across micro-batches ⇒ output is independent of
    batch boundaries and identical to the batch recompute (T5 fixed)."""
    spool = make_spool(tmp_path, price_df, n_chunks)
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    name = f"ind_out_{n_chunks}"
    q = (
        streaming.stateful_indicators(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table(name).toPandas()
    assert_indicators_equal(got, expected_indicators)


def test_ohlc_stream_matches_batch(spark, tmp_path, price_df):
    """Watermarked tumbling candles: every window the stream emitted
    must equal the batch candle; all windows closed by the final
    watermark must have been emitted."""
    spool = make_spool(tmp_path, price_df, 4)
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    out_dir = str(tmp_path / "out")
    q = streaming.stream_ohlc_to_dir(
        stream, out_dir, str(tmp_path / "ckpt"), delay="0 seconds"
    )
    assert q.awaitTermination(300)
    got = (
        spark.read.parquet(sinks.table_dir(out_dir, "ohlc_data"))
        .toPandas()
        .sort_values(KEYCOLS)
        .reset_index(drop=True)
    )
    batch = derive.ohlc_data(price_df).toPandas()
    assert len(got) > 0
    merged = got.merge(
        batch, on=KEYCOLS, how="left", suffixes=("", "_b"), indicator=True
    )
    assert (merged["_merge"] == "both").all(), "stream emitted a candle batch lacks"
    for c in ["open", "high", "low", "close"]:
        np.testing.assert_allclose(merged[c], merged[f"{c}_b"], rtol=1e-12)
    # completeness: candles from all but the last spool chunk must be out
    chunk_max = pd.Timestamp(
        spark.read.parquet(os.path.join(spool, "002.parquet"))
        .agg(F.max("timestamp"))
        .collect()[0][0]
    )
    closed = batch[batch["timestamp"] + pd.Timedelta(hours=1) <= chunk_max]
    assert len(got) >= len(closed)


def test_run_ingest_fanout(spark, tmp_path, price_df):
    """foreachBatch fan-out: price rows all appended; coins upserted to
    exactly one (latest) row per key."""
    spool = make_spool(tmp_path, price_df, 3)
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    out_dir = str(tmp_path / "out")
    q = streaming.run_ingest(stream, out_dir, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)
    written = sinks.read_table(spark, out_dir, "price_data")
    assert written.count() == price_df.count()
    coins = sinks.read_table(spark, out_dir, "coins").toPandas()
    assert coins["id"].is_unique
    n_keys = price_df.select("coin_id", "exchange").distinct().count()
    assert len(coins) == n_keys
    latest = (
        price_df.groupBy("coin_id").agg(F.max("timestamp").alias("ts")).toPandas()
    )
    merged = coins.merge(latest, left_on="id", right_on="coin_id")
    assert (merged["timestamp"] == merged["ts"]).all()


def test_envelope_stream_end_to_end(spark, tmp_path):
    """Full Kafka-consumer parity without the broker: JSON envelope
    lines -> from_json decode -> explode price -> stateful indicators,
    equal to the batch recompute over the decoded ticks."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import envelope as env

    events = load_table(spark, SF_SMOKE, "events")
    envelopes = env.build_envelopes(events).orderBy("tick_ts").cache()
    n = envelopes.count()
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    lines = [r.value for r in envelopes.select("value").collect()]
    half = len(lines) // 2
    for i, chunk in enumerate([lines[:half], lines[half:]]):
        p = os.path.join(spool, f"{i:03d}.txt")
        with open(p, "w") as f:
            f.write("\n".join(chunk) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = streaming.envelope_price_stream(
        streaming.read_envelope_stream(spark, spool, max_files_per_trigger=1)
    )
    q = (
        streaming.stateful_indicators(stream)
        .writeStream.format("memory")
        .queryName("env_ind")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table("env_ind").toPandas()
    batch_price = env.decode_price(env.decode_envelopes(envelopes))
    expected = (
        technical_indicators(batch_price)
        .toPandas()
        .sort_values(KEYCOLS)
        .reset_index(drop=True)
    )
    assert n > 1 and len(got) == len(expected)
    assert_indicators_equal(got, expected)


def test_checkpoint_recovery_continues_state(spark, tmp_path, price_df, expected_indicators):
    """T7: stop after draining part of the spool, then restart from the
    SAME checkpoint with new files — carried state must make the union
    of both runs identical to the batch recompute (no reprocessing, no
    gap, no batch-boundary artifacts)."""
    spool = make_spool(tmp_path, price_df, 2)
    held_back = str(tmp_path / "held.parquet")
    os.rename(os.path.join(spool, "001.parquet"), held_back)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
        q = (
            streaming.stateful_indicators(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return spark.read.parquet(out).toPandas()

    first = drain()
    assert 0 < len(first) < len(expected_indicators)
    os.rename(held_back, os.path.join(spool, "001.parquet"))
    combined = drain()  # cumulative: run-1 rows + restarted run-2 rows
    assert len(combined) == len(expected_indicators), (
        "restart reprocessed or dropped rows"
    )
    assert_indicators_equal(combined, expected_indicators)


def test_stateful_indicators_multichunk_group(spark, tmp_path, price_df, expected_indicators):
    """Groups larger than one Arrow batch arrive as multiple chunks in
    arbitrary order — the handler must sort ACROSS chunks before the
    sequential recursion (regression for the per-chunk-sort bug)."""
    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}):
        spool = make_spool(tmp_path, price_df, 1)
        stream = streaming.read_price_stream(spark, spool)
        q = (
            streaming.stateful_indicators(stream)
            .writeStream.format("memory")
            .queryName("chunked_ind")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = spark.table("chunked_ind").toPandas()
        assert_indicators_equal(got, expected_indicators)


def test_session_stream_matches_batch_sessionize(spark, tmp_path, price_df):
    """Event-time session windows: every closed session the stream
    emits equals the batch gaps-and-islands result."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import relational

    spool = make_spool(tmp_path, price_df, 3)
    stream = streaming.session_stream(
        streaming.read_price_stream(spark, spool, max_files_per_trigger=1),
        gap_minutes=360,
        delay="0 seconds",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table("sess_out").toPandas()
    batch = relational.sessionize(
        price_df, ["coin_id", "exchange"], gap_minutes=360
    ).toPandas()
    assert len(got) > 0
    key = ["coin_id", "exchange", "session_start"]
    merged = got.merge(batch, on=key, suffixes=("", "_b"), how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), "stream emitted a session batch lacks"
    for c in ["session_end", "n_ticks", "low", "high"]:
        assert (merged[c] == merged[f"{c}_b"]).all(), c


def test_epoch_write_is_idempotent(spark, tmp_path, price_df):
    """Re-running a foreachBatch epoch (failure retry) replaces its
    output instead of double-appending."""
    base = str(tmp_path / "tables")
    batch = price_df.limit(100)
    sinks.write_table(batch, base, "price_data", epoch_id=7)
    sinks.write_table(batch, base, "price_data", epoch_id=7)  # retry
    got = sinks.read_table(spark, base, "price_data")
    assert got.count() == 100
    assert "batch_epoch" not in got.columns
    sinks.write_table(batch, base, "price_data", epoch_id=8)
    assert sinks.read_table(spark, base, "price_data").count() == 200


def test_run_full_pipeline_three_queries(spark, tmp_path, price_df, expected_indicators):
    """The multi-query topology drains one spool into price, coins,
    candles, and indicators — indicators identical to the batch
    recompute, candles a verified subset (watermark tail)."""
    spool = make_spool(tmp_path, price_df, 3)
    out_dir = str(tmp_path / "tables")
    qs = streaming.run_full_pipeline(
        spark, spool, out_dir, str(tmp_path / "ckpt")
    )
    assert len(qs) == 3
    for q_ in qs:
        assert q_.awaitTermination(300)
    assert sinks.read_table(spark, out_dir, "price_data").count() == price_df.count()
    assert sinks.read_table(spark, out_dir, "coins").count() == (
        price_df.select("coin_id", "exchange").distinct().count()
    )
    got_ind = sinks.read_table(spark, out_dir, "technical_indicators").toPandas()
    assert_indicators_equal(got_ind, expected_indicators)
    candles = sinks.read_table(spark, out_dir, "ohlc_data")
    batch = derive.ohlc_data(price_df)
    joined = candles.join(batch, KEYCOLS, "left_anti")
    assert candles.count() > 0 and joined.count() == 0


def test_dedup_stream_drops_redelivered_rows(spark, tmp_path, price_df):
    """At-least-once replay (every spool file delivered twice) collapses
    to exactly the distinct tick set."""
    spool = make_spool(tmp_path, price_df, 2)
    for f in list(sorted(os.listdir(spool))):
        src = os.path.join(spool, f)
        dup = os.path.join(spool, f.replace(".parquet", "_redelivered.parquet"))
        import shutil

        shutil.copy(src, dup)
        os.utime(dup, (1_700_000_100, 1_700_000_100))
    stream = streaming.dedup_stream(
        streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = spark.table("dedup_out")
    assert got.count() == price_df.count()
    assert got.select("coin_id", "exchange", "timestamp").distinct().count() == got.count()


def test_router_and_upsert_semantics(spark, tmp_path):
    """Unit check of the sink router (S7) + keyed upsert (T2)."""
    base = str(tmp_path / "tables")
    df1 = spark.createDataFrame(
        [("binance_C1", "Coin 1", "C1", "binance", 1)],
        "id string, name string, symbol string, exchange string, timestamp long",
    )
    assert sinks.route_table(df1) == "coins"
    sinks.upsert_by_key(df1, base)
    df2 = spark.createDataFrame(
        [("binance_C1", "Coin 1 v2", "C1", "binance", 2),
         ("kraken_C2", "Coin 2", "C2", "kraken", 1)],
        "id string, name string, symbol string, exchange string, timestamp long",
    )
    sinks.upsert_by_key(df2, base)
    got = sinks.read_table(spark, base, "coins").toPandas().sort_values("id")
    assert list(got["id"]) == ["binance_C1", "kraken_C2"]
    assert got.loc[got["id"] == "binance_C1", "name"].item() == "Coin 1 v2"
    # a replayed STALE batch must not overwrite newer stored data
    df3 = spark.createDataFrame(
        [("binance_C1", "Coin 1 stale", "C1", "binance", 0)],
        "id string, name string, symbol string, exchange string, timestamp long",
    )
    sinks.upsert_by_key(df3, base)
    got = sinks.read_table(spark, base, "coins").toPandas()
    assert got.loc[got["id"] == "binance_C1", "name"].item() == "Coin 1 v2"
    with pytest.raises(ValueError):
        sinks.route_table(spark.createDataFrame([(1,)], "x long"))


def test_kafka_reader_constructed_with_reference_options(spark):
    """The Kafka builder must construct the real format("kafka") reader
    with the reference's consumer options; without the connector jar
    (this sandbox) .load() must fail on exactly the missing-data-source
    boundary — proving the options pass construction, not that Kafka is
    silently substituted by something else."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="kafka"):
        streaming.pipeline.read_kafka_stream(
            spark, "broker-1:9092", topic="cryptoAllData"
        )


def test_corpus_operators_compose_with_streaming(spark, tmp_path):
    """The map-only corpus operators (quality gate, PII redaction,
    fingerprinting) run unchanged on a readStream of documents — the
    streaming-ingest shape of a training-data pipeline. availableNow
    result must equal the batch result exactly."""
    import os

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import corpus, text

    docs = load_table(spark, SF_SMOKE, "documents").limit(60).cache()
    spool = str(tmp_path / "docspool")
    os.makedirs(spool)
    docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(spool, "part1"))

    def curate(df):
        scrubbed = corpus.redact_pii(text.with_quality(df).filter(F.col("is_quality")))
        return scrubbed.select("doc_id", "n_urls", "n_emails", "redacted_md5")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(spool, "part1"))
    )
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("curated_stream").toPandas().sort_values("doc_id").reset_index(drop=True)
    expected = curate(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert got.equals(expected)
    docs.unpersist()


def test_stream_static_enrichment_matches_batch(spark, tmp_path, price_df):
    """Stream-static broadcast join: ticks enriched with the coins
    dimension per micro-batch equal the batch join exactly."""
    spool = make_spool(tmp_path, price_df, 3)
    coins_dim = derive.coins(load_table(spark, SF_SMOKE, "events")).select(
        F.col("id").alias("coin_id"), "name", "symbol"
    ).cache()
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    q = (
        streaming.enrich_stream(stream, coins_dim, ["coin_id"])
        .writeStream.format("memory")
        .queryName("enriched_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("enriched_stream")
        .toPandas()
        .sort_values(["coin_id", "exchange", "timestamp"])
        .reset_index(drop=True)
    )
    expected = (
        price_df.join(F.broadcast(coins_dim), ["coin_id"], "left")
        .toPandas()
        .sort_values(["coin_id", "exchange", "timestamp"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(expected.columns)
    assert got.equals(expected)
    # every tick got its dimension row (left join, none dropped)
    assert got["name"].notna().all()
    coins_dim.unpersist()


def test_stream_stream_join_matches_batch(spark, tmp_path, price_df):
    """Watermarked stream-stream join (cross-exchange alignment within
    ±5 min) under availableNow equals the batch theta join."""
    spool = make_spool(tmp_path, price_df, 3)
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    q = (
        streaming.cross_exchange_stream_join(stream, "click", "view")
        .writeStream.format("memory")
        .queryName("xchg_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = ["symbol", "ts_a", "ts_b"]
    got = spark.table("xchg_stream").toPandas().sort_values(key).reset_index(drop=True)
    expected = (
        streaming.cross_exchange_stream_join(price_df, "click", "view")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(expected) > 0  # fixture actually produces matches
    assert got.equals(expected)


def test_stream_stream_join_rejects_short_watermark(spark, price_df):
    with pytest.raises(ValueError):
        streaming.cross_exchange_stream_join(
            price_df, "click", "view", tolerance_minutes=30, watermark_minutes=10
        )


def test_compact_table_preserves_rows_and_shrinks_files(spark, tmp_path, price_df):
    """Many small appended batches compact to few time-clustered files
    with identical content; epoch bookkeeping is flattened away."""
    base = str(tmp_path / "warehouse")
    chunks = price_df.randomSplit([1.0] * 8, seed=7)
    for i, c in enumerate(chunks):
        sinks.write_table(c.repartition(4), base, "price_data", epoch_id=i)
    before = sum(
        1
        for root, _, files in os.walk(sinks.table_dir(base, "price_data"))
        for f_ in files
        if f_.endswith(".parquet")
    )
    expected = sinks.read_table(spark, base, "price_data").toPandas()
    n_after = sinks.compact_table(spark, base, "price_data", target_rows_per_file=10_000)
    # one file per exchange partition dir (~200 rows each fit one file)
    n_exchanges = price_df.select("exchange").distinct().count()
    assert n_after < before and n_after == n_exchanges
    got = sinks.read_table(spark, base, "price_data").toPandas()
    key = ["coin_id", "exchange", "timestamp"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        expected.sort_values(key).reset_index(drop=True)
    )


def test_read_table_schema_cache_follows_every_rewrite(spark, tmp_path, price_df):
    """read_table keeps a table's read relation, so a repeat read
    launches no Spark job; every change anywhere in the table tree (a new
    partition, a file dropped by hand into an existing partition, an
    upsert, a compaction, a delete-and-rewrite with an extra column)
    makes the next read infer afresh. After each step the schema and rows
    equal a fresh spark.read.parquet inference. A read from another
    session returns a frame of that session."""
    base = str(tmp_path / "warehouse")
    path = sinks.table_dir(base, "price_data")
    sc = spark.sparkContext
    exchanges = sorted(r[0] for r in price_df.select("exchange").distinct().collect())

    def jobs_of_read(group: str):
        sc.setJobGroup(group, group)
        try:
            df = sinks.read_table(spark, base, "price_data")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    def check(step: str) -> None:
        got, jobs = jobs_of_read(f"read_table_cache-{step}-miss")
        assert jobs >= 1, step  # the directory changed: schema inferred again
        fresh = spark.read.option("basePath", path).parquet(path)
        assert got.schema == fresh.schema, step
        key = sorted(fresh.columns)
        assert got.toPandas()[key].sort_values(key).reset_index(drop=True).equals(
            fresh.toPandas()[key].sort_values(key).reset_index(drop=True)
        ), step
        again, jobs = jobs_of_read(f"read_table_cache-{step}-hit")
        assert jobs == 0, step
        assert again.schema == fresh.schema, step

    sinks.write_table(price_df.filter(F.col("exchange") != exchanges[0]), base, "price_data")
    check("first-read")
    sinks.write_table(price_df.filter(F.col("exchange") == exchanges[0]), base, "price_data")
    check("new-exchange-partition")
    part = os.path.join(path, f"exchange={exchanges[0]}")
    first = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(part, first), os.path.join(part, "dropped-by-hand.parquet"))
    check("file-dropped-into-partition")
    newest = price_df.groupBy("coin_id", "exchange").agg(F.max("timestamp").alias("timestamp"))
    sinks.upsert_by_key(
        price_df.join(newest, ["coin_id", "exchange", "timestamp"])
        .withColumn("price", F.col("price") + 1.0),
        base, "price_data",
    )
    check("upsert")
    sinks.compact_table(spark, base, "price_data", target_rows_per_file=10_000)
    check("compact")
    shutil.rmtree(path)
    sinks.write_table(price_df.withColumn("extra", F.lit(1)), base, "price_data")
    check("rewrite-with-extra-column")
    assert "extra" in sinks.read_table(spark, base, "price_data").columns
    other = spark.newSession()
    assert sinks.read_table(other, base, "price_data").sparkSession is other


def test_corrupt_envelope_dead_letter(spark, tmp_path):
    """Malformed payloads land in the dead-letter view; good ones keep
    decoding — including under a stream."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import envelope as env

    events = load_table(spark, SF_SMOKE, "events")
    good = [r.value for r in env.build_envelopes(events).limit(3).select("value").collect()]
    bad = ["{not json", '{"totally": "unrelated"}', "12345"]
    feed = spark.createDataFrame([(v,) for v in good + bad + [None]], ["value"])
    corrupt = env.corrupt_envelopes(feed).toPandas()
    # the three garbage payloads AND the null tombstone are quarantined
    assert sorted(corrupt["raw"].dropna()) == sorted(bad)
    assert corrupt["raw"].isna().sum() == 1
    decoded = env.decode_envelopes(feed)
    assert env.decode_price(decoded).count() > 0
    # streaming: same dead-letter transform on a text file stream
    spool = str(tmp_path / "dlspool")
    os.makedirs(spool)
    with open(os.path.join(spool, "000.txt"), "w") as f:
        f.write("\n".join(good + bad) + "\n")
    q = (
        env.corrupt_envelopes(spark.readStream.text(spool))
        .writeStream.format("memory")
        .queryName("dead_letters")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dead_letters").toPandas()
    assert sorted(got["raw"]) == sorted(bad)


def test_vwap_stream_matches_batch(spark, tmp_path, price_df):
    """Watermarked tumbling VWAP: every window the stream emitted must
    equal batch derive.vwap bit-for-bit (same bucket, rounding, and
    zero-volume NULL convention)."""
    spool = make_spool(tmp_path, price_df, 4)
    stream = streaming.read_price_stream(spark, spool, max_files_per_trigger=1)
    q = (
        streaming.vwap_stream(stream, delay="0 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("vwap_mem")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = (
        spark.table("vwap_mem")
        .toPandas()
        .sort_values(KEYCOLS)
        .reset_index(drop=True)
    )
    batch = derive.vwap(price_df).toPandas()
    assert len(got) > 0
    merged = got.merge(
        batch, on=KEYCOLS, how="left", suffixes=("", "_b"), indicator=True
    )
    assert (merged["_merge"] == "both").all(), "stream emitted a bucket batch lacks"
    for c in ["vwap", "total_volume"]:
        np.testing.assert_allclose(merged[c], merged[f"{c}_b"], rtol=0, atol=0)
    assert (merged["n_ticks"] == merged["n_ticks_b"]).all()
    # Coverage floor (ADVICE r4): append mode legitimately withholds
    # trailing windows, but every batch window that CLOSED strictly
    # below the final watermark — max event time of all but the last
    # spool chunk (delay=0, chunks are time-ordered quartiles) — must
    # have been emitted. A regression dropping most windows can no
    # longer hide behind the len>0 guard above.
    p75 = price_df.selectExpr(
        "percentile(cast(timestamp as double), 0.75) AS p"
    ).collect()[0][0]
    watermark = (
        price_df.filter(F.col("timestamp").cast("double") <= p75)
        .agg(F.max("timestamp"))
        .collect()[0][0]
    )
    closed = batch[
        batch["timestamp"] + pd.Timedelta(hours=1) < watermark
    ]
    assert len(closed) > 0, "floor is vacuous — spool layout changed?"
    missing = closed.set_index(KEYCOLS).index.difference(
        got.set_index(KEYCOLS).index
    )
    assert len(missing) == 0, f"stream withheld closed windows: {list(missing[:5])}"


def test_ohlc_stream_replay_matches_batch(spark):
    """The OHLC replay must emit exactly the batch candles — including
    a TIED-timestamp bucket, where only the struct-ordering open/close
    convention keeps batch === stream."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        ohlc_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", "x", T + dt.timedelta(minutes=5), 10.0, 1.0),
        ("c1", "x", T + dt.timedelta(minutes=5), 12.0, 1.0),  # tie
        ("c1", "x", T + dt.timedelta(minutes=40), 11.0, 1.0),
        ("c1", "x", T + dt.timedelta(hours=2), 9.0, 1.0),
        ("c2", "y", T, 5.0, 1.0),
    ]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    got = sorted(map(str, ohlc_stream_replay(spark, price).collect()))
    want = sorted(map(str, derive.ohlc_data(price).collect()))
    assert got == want and len(got) == 3


def test_recovery_stream_replay_carries_state_across_kill(spark):
    """The kill-and-resume drain must emit exactly the batch candles —
    on a feed BUILT so the interruption is load-bearing: the split
    hour (the min/max midpoint lands at minute 95, inside hour 1) has
    ticks in BOTH waves, so its candle is correct only if run 2
    recovers run 1's open-window state from the checkpoint. A fresh
    restart (lost state) would emit (open=14, low=14) for that hour
    instead of (open=11, low=11); a wave-1 re-read would duplicate
    hour 0."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        recovery_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", "x", T + dt.timedelta(minutes=10), 10.0, 1.0),  # hour 0, wave 1
        ("c1", "x", T + dt.timedelta(minutes=70), 11.0, 1.0),  # hour 1, wave 1
        ("c1", "x", T + dt.timedelta(minutes=110), 14.0, 1.0),  # hour 1, wave 2
        ("c1", "x", T + dt.timedelta(minutes=180), 9.0, 1.0),  # hour 3, wave 2
        ("c2", "y", T + dt.timedelta(minutes=20), 5.0, 1.0),  # hour 0, wave 1
    ]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    emitted = recovery_stream_replay(spark, price).collect()
    want = sorted(map(str, derive.ohlc_data(price).collect()))
    assert sorted(map(str, emitted)) == want and len(emitted) == 4
    straddle = [
        r
        for r in emitted
        if r.coin_id == "c1" and r.timestamp == T + dt.timedelta(hours=1)
    ]
    assert len(straddle) == 1
    assert (straddle[0].open, straddle[0].close) == (11.0, 14.0)
    assert (straddle[0].low, straddle[0].high) == (11.0, 14.0)


def test_vwap_stream_under_rocksdb_state_store(spark):
    """The watermarked VWAP stream must run (and match batch) under the
    RocksDB state-store provider — the production state backend for
    large keyed state (HDFS-backed in-memory maps stop fitting the
    heap long before 100 TB of entity state). Provider is a
    query-start conf; set/restored around the replay."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        vwap_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", "x", T + dt.timedelta(minutes=m), 10.0 + m, 2.0)
        for m in (0, 10, 70, 130)
    ] + [("c2", "y", T, 5.0, 1.0)]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        got = vwap_stream_replay(spark, price).collect()
    # 3 hourly windows for c1 + 1 for c2, volume-weighted means
    by_key = {(r.coin_id, r.timestamp): r for r in got}
    assert len(by_key) == 4
    w0 = by_key[("c1", T)]
    assert w0.n_ticks == 2 and w0.vwap == round((10.0 * 2 + 20.0 * 2) / 4, 6)
    assert by_key[("c2", T)].vwap == 5.0


def test_spread_stream_replay_matches_batch_theta_join(spark):
    """Stream-stream replay on a handcrafted feed: in-tolerance pairs
    emit with the right spread, out-of-tolerance and cross-symbol
    candidates don't, and the inclusive ±tolerance boundary matches
    the batch BETWEEN semantics."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        spread_stream_replay,
    )

    T = dt.datetime(2024, 1, 1, 12, 0)

    def tick(exch, sym, minutes, price):
        return (f"{exch}_{sym}", exch, T + dt.timedelta(minutes=minutes), price, 1.0)

    rows = [
        tick("view", "C1", 0, 100.0),
        tick("click", "C1", 30, 104.0),    # exactly +tolerance: inclusive
        tick("click", "C1", 31, 999.0),    # out of tolerance
        tick("click", "C2", 0, 50.0),      # other symbol
        tick("view", "C2", -5, 48.0),
    ]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    got = {
        (r.symbol, r.ts_a, r.ts_b): r.spread
        for r in spread_stream_replay(spark, price).collect()
    }
    assert got == {
        ("C1", T, T + dt.timedelta(minutes=30)): 4.0,
        ("C2", T + dt.timedelta(minutes=-5), T): 2.0,
    }


def test_dedup_stream_replay_equals_batch_distinct(spark, price_df):
    """The driver-facing replay (planted ~1/7 re-deliveries in later
    spool files, full-row keys, horizon-sized watermark delay) emits
    exactly DISTINCT(feed) — no surviving duplicate, no falsely
    dropped original."""
    got = streaming.dedup_stream_replay(spark, price_df)
    cols = ["coin_id", "exchange", "timestamp", "price", "volume"]
    expected = price_df.select(*cols).distinct()
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_enrich_stream_replay_matches_batch_left_join(spark):
    """The stream-static broadcast lookup replay emits exactly the
    batch LEFT join — including the null-extended row for a tick
    whose coin is missing from the dimension (left semantics: ticks
    never drop)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        enrich_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    price = spark.createDataFrame(
        [
            ("c1", "x", T, 10.0, 1.0),
            ("c2", "x", T, 20.0, 1.0),
            ("ghost", "x", T, 5.0, 1.0),  # not in the dimension
        ],
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    dim = spark.createDataFrame(
        [("c1", "x", "Coin 1", "C1"), ("c2", "x", "Coin 2", "C2")],
        "coin_id string, exchange string, name string, symbol string",
    )
    got = {r.coin_id: r for r in enrich_stream_replay(spark, price, dim).collect()}
    assert len(got) == 3
    assert got["c1"].name == "Coin 1" and got["c2"].symbol == "C2"
    assert got["ghost"].name is None and got["ghost"].symbol is None


def test_late_drop_stream_replay_discards_behind_watermark(spark):
    """Run 2's sabotage re-deliveries (price -1e6 copies of hour-0
    ticks) arrive with the recovered watermark already at the feed's
    max event time — their windows are finalized, so the aggregate
    must DROP them: the final frame equals the batch candles of the
    real feed, and no candle's low shows the sabotage price. Requires
    a feed spanning more than one hour (otherwise the re-deliveries
    would not be late; the builder's docstring pins this)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        late_drop_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", "x", T + dt.timedelta(minutes=10), 10.0, 1.0),  # hour 0
        ("c1", "x", T + dt.timedelta(minutes=50), 12.0, 1.0),  # hour 0
        ("c1", "x", T + dt.timedelta(minutes=90), 11.0, 1.0),  # hour 1
        ("c1", "x", T + dt.timedelta(minutes=150), 9.0, 1.0),  # hour 2
        ("c2", "y", T + dt.timedelta(minutes=20), 5.0, 1.0),  # hour 0
    ]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    emitted = late_drop_stream_replay(spark, price).collect()
    want = sorted(map(str, derive.ohlc_data(price).collect()))
    assert sorted(map(str, emitted)) == want and len(emitted) == 4
    assert all(r.low > -1_000_000.0 for r in emitted), "late sabotage row leaked"


def test_drawdown_stateful_cross_batch_peak_carry(spark):
    """The wave-1 peak must keep depressing drawdowns in wave 3, and
    the tick counter must keep incrementing across micro-batches — the
    hand-built feed makes any state loss visible (a dropped carry would
    reset running_peak to the later wave's local max)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        drawdown_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", "x", T + dt.timedelta(minutes=m), eid, p, 1.0)
        for eid, (m, p) in enumerate(
            [(0, 100.0), (10, 80.0), (60, 90.0), (70, 95.0), (120, 50.0), (130, 101.0)]
        )
    ]
    ticks = spark.createDataFrame(
        [(c, x, ts, p, v, e) for (c, x, ts, e, p, v) in rows],
        "coin_id string, exchange string, timestamp timestamp,"
        " price double, volume double, event_id long",
    )
    got = {
        r.event_id: (r.running_peak, round(r.drawdown, 10), r.tick_n)
        for r in drawdown_stream_replay(spark, ticks, n_waves=3).collect()
    }
    assert got == {
        0: (100.0, 0.0, 1),
        1: (100.0, -0.2, 2),
        2: (100.0, -0.1, 3),          # wave 2: peak carried from wave 1
        3: (100.0, -0.05, 4),
        4: (100.0, -0.5, 5),          # wave 3: still the wave-1 peak
        5: (101.0, 0.0, 6),           # new all-time high resets drawdown
    }


def test_drawdown_state_func_nan_matches_oracle_semantics(spark):
    """NaN semantics pin (ADVICE r8 adjudicated): the vectorized state
    update PROPAGATES a NaN price into every later running peak —
    matching the registered window-max oracle (max(price) OVER w: NaN
    orders greatest in Spark and DuckDB) and the batch max_drawdown
    twin, so engine and oracle agree on ANY input. (np.fmax — ADVICE's
    other option — would skip NaN and silently diverge from the oracle
    hash the first time a NaN entered the feed.) Direct call with a
    fake GroupState; cross-checked against the actual Spark window max
    on the same frame."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.stateful import (
        _drawdown_func,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    T = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "coin_id": "c1",
            "exchange": "x",
            "timestamp": [T + dt.timedelta(minutes=m) for m in range(4)],
            "event_id": [0, 1, 2, 3],
            "price": [100.0, float("nan"), 90.0, 120.0],
        }
    )
    state = FakeState()
    (out,) = list(_drawdown_func(("c1", "x"), iter([pdf]), state))
    assert out["running_peak"][0] == 100.0
    assert np.isnan(np.asarray(out["running_peak"][1:], dtype=float)).all()
    # the oracle's window max computes the SAME peaks on this input —
    # planted as a TRUE double NaN via SQL literal (pandas->Spark
    # createDataFrame silently converts NaN to NULL, which max()
    # ignores; the real replay spool carries NaN through Arrow intact)
    oracle_peaks = [
        r.pk
        for r in spark.sql(
            """SELECT max(price) OVER (ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
               FROM VALUES (0, cast(100.0 AS double)),
                           (1, cast('NaN' AS double)),
                           (2, cast(90.0 AS double)),
                           (3, cast(120.0 AS double)) AS t(event_id, price)
               ORDER BY event_id"""
        ).collect()
    ]
    for got, want in zip(out["running_peak"], oracle_peaks):
        assert (np.isnan(got) and np.isnan(want)) or got == want
    # and DuckDB (the driver-side oracle engine) agrees: NaN orders
    # greatest, so the window max propagates it identically
    import duckdb

    duck_peaks = [
        r[0]
        for r in duckdb.sql(
            """SELECT max(price) OVER (ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
               FROM (VALUES (0, 100.0::DOUBLE), (1, 'NaN'::DOUBLE),
                            (2, 90.0::DOUBLE), (3, 120.0::DOUBLE))
                    t(event_id, price)
               ORDER BY event_id"""
        ).fetchall()
    ]
    for got, want in zip(out["running_peak"], duck_peaks):
        assert (np.isnan(got) and np.isnan(want)) or got == want


def test_drawdown_replay_batch_boundary_independence(spark, price_df):
    """Replaying the real feed in 1 wave vs 4 waves must be EXACTLY
    identical (not rtol): the operator's arithmetic is comparison /
    single-divide / integer only, which is the property that makes its
    driver row hash-safe."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        drawdown_stream_replay,
    )

    events = load_table(spark, SF_SMOKE, "events")
    ticks = derive.tick_base(events)
    cols = ["coin_id", "exchange", "timestamp", "event_id"]
    one = (
        drawdown_stream_replay(spark, ticks, n_waves=1)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )
    four = (
        drawdown_stream_replay(spark, ticks, n_waves=4)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )
    assert len(one) > 0
    pd.testing.assert_frame_equal(one, four)


def test_spread_outer_replay_null_extends_unmatched_once(spark):
    """LEFT OUTER stream-stream join: matched ticks emit one row per
    match; a left tick with no right tick inside ±30 min must appear
    exactly once, null-extended — and only because the sentinel pushed
    the final watermark past it (without that push it would still be
    buffered when the drain ends)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        spread_outer_stream_replay,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        ("view_C1", "view", T + dt.timedelta(minutes=0), 10.0, 1.0),    # matched
        ("click_C1", "click", T + dt.timedelta(minutes=5), 11.0, 1.0),
        ("view_C1", "view", T + dt.timedelta(minutes=120), 12.0, 1.0),  # unmatched
        ("view_C2", "view", T + dt.timedelta(minutes=10), 20.0, 1.0),   # no right side
    ]
    price = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    got = sorted(
        (r.symbol, r.ts_a.minute + 60 * r.ts_a.hour, r.price_b, r.spread)
        for r in spread_outer_stream_replay(spark, price).collect()
    )
    assert got == [
        ("C1", 0, 11.0, 1.0),
        ("C1", 120, None, None),
        ("C2", 10, None, None),
    ]


def test_drawdown_replay_property_vs_pandas_cummax(spark):
    """Property-style replay: on a deterministic pseudo-random feed
    split into 3 waves, running_peak must equal pandas' groupwise
    cummax in (timestamp, event_id) order and drawdown the exact
    single-divide expression — the stateful operator is just a
    batch-equivalent cummax."""
    import datetime as dt

    rows = []
    eid = 0
    for coin in ("a", "b"):
        for m in range(40):
            price = float(((eid * 2654435761) % 1000) + 1) / 7.0
            rows.append(
                (coin, "x", dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m),
                 price, 1.0, eid)
            )
            eid += 1
    ticks = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp,"
        " price double, volume double, event_id long",
    )
    got = (
        streaming.drawdown_stream_replay(spark, ticks, n_waves=3)
        .toPandas()
        .sort_values(["coin_id", "timestamp", "event_id"])
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        rows,
        columns=["coin_id", "exchange", "timestamp", "price", "volume", "event_id"],
    ).sort_values(["coin_id", "timestamp", "event_id"])
    peaks = pdf.groupby("coin_id")["price"].cummax().to_numpy()
    assert (got["running_peak"].to_numpy() == peaks).all()
    assert (
        got["drawdown"].to_numpy()
        == pdf["price"].to_numpy() / peaks - 1.0
    ).all()


def test_quality_replay_batch_boundary_independence(spark):
    """The trained filter scored inside foreachBatch must be
    batching-invariant: a 1-file spool (one micro-batch) and a 5-file
    spool (five) produce EXACTLY the same scored frame, which equals
    the one-shot batch scoring pass — frozen weights, no retraining,
    per-document arithmetic only."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import classifier, sampling
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        quality_stream_replay,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    train = (
        sampling.train_val_test_split(docs, "doc_id")
        .filter(F.col("split") == "train")
        .drop("split")
    )
    wts = classifier.train_quality_classifier(train)
    one = (
        quality_stream_replay(spark, docs, wts, n_files=1)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    five = (
        quality_stream_replay(spark, docs, wts, n_files=5)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    batch = (
        classifier.score_quality(docs, wts)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(one) > 0
    pd.testing.assert_frame_equal(one, five)
    pd.testing.assert_frame_equal(one, batch[one.columns.tolist()])


def test_media_dedup_stream_matches_batch_reps_and_boundaries(spark):
    """The streamed fingerprint registry must equal the BATCH rep
    collapse (min doc_id per distinct dHash) regardless of micro-batch
    boundaries: a 1-file drain (no registry consultation ever binds)
    and a 4-file drain (the anti-join must drop every fingerprint the
    earlier batches registered) both reproduce the batch reps exactly.
    Also pins non-vacuity: with 4 files at least one fingerprint must
    span batches, else the registry path is untested."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        media_dedup_stream_replay,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    media = multimodal.ppm_table(docs)
    bands = ["band0", "band1", "band2", "band3"]
    batch = (
        multimodal.dhash_ppm(media)
        .groupBy(*bands)
        .agg(F.min("doc_id").alias("rep_id"))
        .toPandas()
        .sort_values(bands + ["rep_id"])
        .reset_index(drop=True)
    )
    one = (
        media_dedup_stream_replay(spark, media, n_files=1)
        .toPandas()
        .sort_values(bands + ["rep_id"])
        .reset_index(drop=True)
    )
    four = (
        media_dedup_stream_replay(spark, media, n_files=4)
        .toPandas()
        .sort_values(bands + ["rep_id"])
        .reset_index(drop=True)
    )
    assert len(batch) > 0
    pd.testing.assert_frame_equal(one, batch[one.columns.tolist()])
    pd.testing.assert_frame_equal(four, batch[four.columns.tolist()])
    # non-vacuity: some fingerprint's docs must span more than one
    # quartile chunk, so the 4-file drain genuinely exercised the
    # cross-batch registry drop
    fp_rows = multimodal.dhash_ppm(media).toPandas()
    # the pipeline's exact cuts (approxQuantile relativeError=0), not
    # pandas' interpolated quantiles — the check must describe the
    # chunking the stream actually used
    cuts = media.approxQuantile("doc_id", [0.25, 0.5, 0.75], 0.0)

    def chunk(d):
        return sum(d > c for c in cuts)

    spans = fp_rows.groupby(bands)["doc_id"].agg(
        lambda s: len({chunk(d) for d in s})
    )
    assert (spans > 1).any(), "no fingerprint spans a batch boundary"
    spark.catalog.clearCache()


# --- replay harness: teardown, timeouts, degenerate inputs -----------------

_PRICE_DDL = (
    "coin_id string, exchange string, timestamp timestamp, price double, volume double"
)
_CANDLE_DDL = (
    "coin_id string, exchange string, timestamp timestamp,"
    " open double, high double, low double, close double"
)
_SPREAD_DDL = (
    "symbol string, ts_a timestamp, price_a double,"
    " ts_b timestamp, price_b double, spread double"
)
#: every spool replay -> (input kind, declared output schema)
_SPOOL_REPLAYS = {
    "vwap_stream_replay": (
        "price",
        "coin_id string, exchange string, timestamp timestamp,"
        " vwap double, total_volume double, n_ticks bigint",
    ),
    "session_stream_replay": (
        "price",
        "coin_id string, exchange string, session_start timestamp,"
        " session_end timestamp, n_ticks bigint, low double, high double",
    ),
    "ohlc_stream_replay": ("price", _CANDLE_DDL),
    "spread_stream_replay": ("price", _SPREAD_DDL),
    "dedup_stream_replay": ("price", _PRICE_DDL),
    "recovery_stream_replay": ("price", _CANDLE_DDL),
    "enrich_stream_replay": (
        "enrich",
        "coin_id string, exchange string, timestamp timestamp,"
        " price double, volume double, name string, symbol string",
    ),
    "late_drop_stream_replay": ("price", _CANDLE_DDL),
    "drawdown_stream_replay": (
        "ticks",
        "coin_id string, exchange string, timestamp timestamp, event_id long,"
        " price double, running_peak double, drawdown double, tick_n long",
    ),
    "spread_outer_stream_replay": ("price", _SPREAD_DDL),
    "quality_stream_replay": ("docs", "doc_id long, score double, predicted boolean"),
    "media_dedup_stream_replay": (
        "media",
        "band0 long, band1 long, band2 long, band3 long, rep_id long",
    ),
}


def _replay_inputs(spark, kind: str, empty: bool) -> tuple:
    """Positional inputs for a replay function: a small feed spanning
    more than an hour on the view/click exchanges, or an empty frame of
    the same schema."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import multimodal

    T = dt.datetime(2024, 1, 1)
    ticks = [
        (f"{x}_C{c}", x, T + dt.timedelta(minutes=m), 10.0 + m + c, 1.0)
        for x in ("view", "click")
        for c in (1, 2)
        for m in (0, 7, 50, 95, 170)
    ]
    n = 0 if empty else None
    if kind in ("price", "enrich"):
        price = spark.createDataFrame(ticks[:n], _PRICE_DDL)
        if kind == "price":
            return (price,)
        dim = spark.createDataFrame(
            [("view_C1", "view", "Coin 1", "C1")],
            "coin_id string, exchange string, name string, symbol string",
        )
        return (price, dim)
    if kind == "ticks":
        rows = [(*t, i) for i, t in enumerate(ticks)][:n]
        return (spark.createDataFrame(rows, _PRICE_DDL + ", event_id long"),)
    if kind == "docs":
        docs = spark.createDataFrame(
            [(i, f"token{i % 3} word{i % 5} text", "en", "web") for i in range(12)][:n],
            "doc_id long, text string, lang string, source string",
        )
        weights = spark.range(66).select(
            F.col("id").alias("bucket"), (F.col("id") / 100.0 - 0.3).alias("weight")
        )
        return (docs, weights)
    ids = spark.range(0 if empty else 12).withColumnRenamed("id", "doc_id")
    return (multimodal.ppm_table(ids),)


def _session_state(spark) -> dict:
    """What a replay must leave as it found it."""
    import tempfile

    return {
        "views": sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        "streams": [q.id for q in spark.streams.active],
        "tmp": sorted(os.listdir(tempfile.gettempdir())),
        "conf": [
            spark.conf.get(k, None)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.streaming.minBatchesToRetain",
                "spark.sql.streaming.noDataMicroBatches.enabled",
            )
        ],
        "rdds": frozenset(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
    }


def _assert_left_as_found(before: dict, after: dict, rdds: bool = True) -> None:
    """``after`` equals ``before``, except that persistent RDDs are only
    checked for additions (with ``rdds``): the context cleaner may drop
    an earlier test's blocks at any time."""
    before, after = dict(before), dict(after)
    added = after.pop("rdds") - before.pop("rdds")
    assert after == before
    if rdds:
        assert not added, f"persistent RDDs left behind: {sorted(added)}"


#: the replays whose result is the memory sink's rows; the others return
#: a localCheckpoint-materialized frame, persistent while it is held
_MEMORY_SINK_REPLAYS = {
    "vwap_stream_replay", "session_stream_replay", "ohlc_stream_replay",
    "spread_stream_replay", "dedup_stream_replay", "enrich_stream_replay",
    "spread_outer_stream_replay",
}


@pytest.mark.parametrize("name", sorted(_SPOOL_REPLAYS))
def test_replay_leaves_no_session_state(spark, tmp_path, monkeypatch, name):
    """A replay call leaves no temp view, active stream, tempdir or conf
    pin behind, and its result stays readable after teardown. A
    memory-sink replay also leaves no persistent RDD: the feed's
    checkpoint blocks are released (the other sinks' results are
    checkpointed frames the caller holds)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    kind, _ = _SPOOL_REPLAYS[name]
    args = _replay_inputs(spark, kind, empty=False)
    before = _session_state(spark)
    got = getattr(streaming.pipeline, name)(spark, *args)
    _assert_left_as_found(before, _session_state(spark), name in _MEMORY_SINK_REPLAYS)
    assert got.count() > 0
    got.write.mode("overwrite").format("noop").save()


#: micro-batches per replay on the ``_replay_inputs`` feed, in order:
#: False = a data batch, True = a no-data batch (0 input rows)
_BATCH_SHAPES = {
    "spread_stream_replay": [False],
    "enrich_stream_replay": [False],
    "dedup_stream_replay": [False],
    "ohlc_stream_replay": [False, True],
    "vwap_stream_replay": [False, True],
    "session_stream_replay": [False, True],
    "spread_outer_stream_replay": [False, True],
    "recovery_stream_replay": [False, True, False, True],
    "late_drop_stream_replay": [False, True, False, True],
}


@pytest.mark.parametrize("name", sorted(_BATCH_SHAPES))
def test_replay_runs_no_data_batch_only_where_rows_wait(spark, name):
    """A replay whose rows wait on the final watermark (a ``keep``
    sentinel predicate) keeps the trailing no-data batch that commits
    it, one per wave, since a restart resumes from that watermark; a
    replay that emits every row from its data batches (inner join,
    dedup, stateless map) runs no no-data batch. Counted from the
    progress events the query posts, one per executed micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    shape = []

    class Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            shape.append(event.progress.numInputRows == 0)

        def onQueryTerminated(self, event):
            pass

    kind, _ = _SPOOL_REPLAYS[name]
    args = _replay_inputs(spark, kind, empty=False)
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        got = getattr(streaming.pipeline, name)(spark, *args)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert shape == _BATCH_SHAPES[name]
    assert got.count() > 0


@pytest.mark.parametrize("name", sorted(_SPOOL_REPLAYS))
def test_replay_empty_input_returns_declared_schema(spark, monkeypatch, name):
    """Every spool replay returns 0 rows with exactly its declared
    output schema on an empty feed, without spooling or starting a
    stream."""
    import tempfile

    from pyspark.sql.types import DataType

    def no_spool(*a, **k):
        raise AssertionError("an empty feed must not reach the spool")

    kind, ddl = _SPOOL_REPLAYS[name]
    args = _replay_inputs(spark, kind, empty=True)
    monkeypatch.setattr(tempfile, "mkdtemp", no_spool)
    got = getattr(streaming.pipeline, name)(spark, *args)
    assert got.schema == DataType.fromDDL(ddl)
    assert got.count() == 0


@pytest.mark.parametrize("sink", ["memory", "parquet", "foreachBatch"])
def test_replay_teardown_after_stream_failure(spark, tmp_path, monkeypatch, sink):
    """A stream that fails at run time raises out of the harness, and
    the spool, checkpoint, sink, view, query, conf pins and the feed's
    checkpoint blocks are all gone."""
    import tempfile

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming import pipeline

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    (price,) = _replay_inputs(spark, "price", empty=False)
    if sink == "foreachBatch":
        def stream_fn(spool):
            return pipeline.read_price_stream(spark, spool)

        def sink(batch, epoch_id, out):
            return batch.select(F.raise_error(F.lit("planted failure")).cast("string").alias("x"))
    else:
        def stream_fn(spool):
            return pipeline.read_price_stream(spark, spool).select(
                F.raise_error(F.lit("planted failure")).cast("string").alias("x")
            )
    before = _session_state(spark)
    with pytest.raises(Exception, match="planted failure"):
        pipeline._replay(
            spark, "failing", price, pipeline._feed_wave, stream_fn, "x string", sink
        )
    _assert_left_as_found(before, _session_state(spark))


def test_restfeed_replay_honours_timeout(spark, tmp_path, monkeypatch):
    """The processAllAvailable drain is bounded too: past ``timeout_s``
    the query is stopped and the replay raises the spool drains'
    TimeoutError, leaving no stream, view or tempdir."""
    import tempfile

    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        restfeed_stream_replay,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _session_state(spark)
    with pytest.raises(TimeoutError, match="restfeed replay did not finish in 0s"):
        restfeed_stream_replay(spark, timeout_s=0)
    _assert_left_as_found(before, _session_state(spark))
