"""Capstone integration test — the full SURVEY §3 lifecycle in one run:

  events -> 5-min JSON envelopes (producer S6)
         -> envelope text spool (the topic)
         -> streaming from_json decode (consumer S2/P1/P2)
         -> foreachBatch fan-out: price appends + coins upserts (S7/T2-T4)
         -> serving route over the written tables (§3.3)

Every stage's output is compared against the equivalent batch
computation — proving the pieces compose, not just pass in isolation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark import sinks, streaming
from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving
from etl_visualization_of_cryptocurrency_trading_data_spark.session import scoped_conf
from etl_visualization_of_cryptocurrency_trading_data_spark.sources import envelope as env

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("e2e")
    events = load_table(spark, SF_SMOKE, "events")
    envelopes = env.build_envelopes(events).orderBy("tick_ts").cache()
    lines = [r.value for r in envelopes.select("value").collect()]
    spool = str(tmp / "spool")
    os.makedirs(spool)
    third = max(len(lines) // 3, 1)
    for i in range(3):
        chunk = lines[i * third :] if i == 2 else lines[i * third : (i + 1) * third]
        p = os.path.join(spool, f"{i:03d}.txt")
        with open(p, "w") as f:
            f.write("\n".join(chunk) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    out_dir = str(tmp / "tables")
    stream = streaming.envelope_price_stream(
        streaming.read_envelope_stream(spark, spool, max_files_per_trigger=1)
    )
    q = streaming.run_ingest(stream, out_dir, str(tmp / "ckpt"))
    assert q.awaitTermination(300)
    batch_price = env.decode_price(env.decode_envelopes(envelopes)).cache()
    return out_dir, batch_price


def test_written_price_equals_batch_decode(spark, pipeline_out):
    out_dir, batch_price = pipeline_out
    written = sinks.read_table(spark, out_dir, "price_data")
    assert written.count() == batch_price.count()
    cols = ["coin_id", "exchange", "timestamp", "price", "volume"]
    w = sorted(map(str, written.select(*cols).collect()))
    b = sorted(map(str, batch_price.select(*cols).collect()))
    assert w == b


def test_written_coins_upserted_to_latest(spark, pipeline_out):
    out_dir, batch_price = pipeline_out
    coins = sinks.read_table(spark, out_dir, "coins")
    keys = batch_price.select("coin_id", "exchange").distinct()
    assert coins.count() == keys.count()
    latest = batch_price.groupBy("coin_id").agg(F.max("timestamp").alias("ts"))
    joined = coins.join(latest, coins.id == latest.coin_id)
    assert joined.filter(F.col("timestamp") != F.col("ts")).count() == 0


def test_serving_route_over_written_tables(spark, pipeline_out):
    """§3.3: the price_chart route runs unchanged over the streamed-in
    table and equals the same route over the batch decode."""
    out_dir, batch_price = pipeline_out
    written = sinks.read_table(spark, out_dir, "price_data")
    sym = "C7"
    via_stream = serving.price_chart(written, sym, "1w")
    via_batch = serving.price_chart(batch_price, sym, "1w")
    assert sorted(map(str, via_stream.collect())) == sorted(
        map(str, via_batch.collect())
    )
    assert via_batch.count() > 0


def test_jsonl_roundtrip_corrupt_tolerance(spark, tmp_path):
    """JSONL contract: schema-enforced read survives malformed lines
    (they surface via the corrupt column and drop), and the surviving
    rows equal the written frame exactly; drop_corrupt=False exposes
    the bad line for quarantine accounting."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import jsonl

    df = spark.createDataFrame(
        [(1, "alpha", 5), (2, "beta", 4)], "doc_id long, text string, n long"
    )
    path = str(tmp_path / "out")
    jsonl.write_jsonl(df, path)
    (tmp_path / "out" / "zz_bad.json").write_text('{"doc_id": oops\n{"no_close"\n')
    back = jsonl.read_jsonl(spark, path, df.schema)
    assert sorted((r.doc_id, r.text, r.n) for r in back.collect()) == [
        (1, "alpha", 5), (2, "beta", 4),
    ]
    kept = jsonl.read_jsonl(spark, path, df.schema, drop_corrupt=False)
    corrupt = kept.filter(kept["parsed"][jsonl.CORRUPT_FIELD].isNotNull())
    assert corrupt.count() == 2
    # the raw text of the quarantined lines is preserved for triage
    bad = {r[jsonl.RAW_COL] for r in corrupt.collect()}
    assert bad == {'{"doc_id": oops', '{"no_close"'}


def test_csv_roundtrip_corrupt_tolerance(spark, tmp_path):
    """CSV contract, mirroring the JSONL one: quoted delimiters and
    quotes round-trip; malformed lines (unclosed quote, wrong arity,
    type mismatch) quarantine with their raw text and drop from the
    clean read."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import delimited

    df = spark.createDataFrame(
        [(1, 'with, comma and "quote"', 5), (2, "plain", 4)],
        "doc_id long, text string, n long",
    )
    path = str(tmp_path / "out")
    delimited.write_csv(df, path)
    (tmp_path / "out" / "zz_bad.csv").write_text(
        '3,"unclosed,9\nnotanint,x,1\n4,short\n'
    )
    back = delimited.read_csv(spark, path, df.schema)
    assert sorted((r.doc_id, r.text, r.n) for r in back.collect()) == [
        (1, 'with, comma and "quote"', 5), (2, "plain", 4),
    ]
    kept = delimited.read_csv(spark, path, df.schema, drop_corrupt=False)
    corrupt = kept.filter(kept["parsed"][delimited.CORRUPT_FIELD].isNotNull())
    assert corrupt.count() == 3
    bad = {r[delimited.RAW_COL] for r in corrupt.collect()}
    assert bad == {'3,"unclosed,9', "notanint,x,1", "4,short"}


def test_restfeed_datasource_partitions_and_determinism(spark):
    """Custom DataSource contract: one input partition per API page,
    two reads produce identical rows, and executor-side rows match the
    generator run locally — the source is a real parallel scan, not a
    driver-side materialization."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import restfeed

    restfeed.register(spark)

    def load(pages=3, cpp=2, minutes=5):
        return (
            spark.read.format("cryptofeed")
            .option("pages", pages)
            .option("coins_per_page", cpp)
            .option("minutes", minutes)
            .load()
        )

    df = load()
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(map(tuple, df.collect()))
    assert rows == sorted(map(tuple, load().collect()))
    want = sorted(
        row for p in range(3) for row in restfeed._page_rows(p, 2, 5)
    )
    assert rows == want
    assert len(rows) == 3 * 2 * 5


def test_restfeed_pushdown_prunes_pages(spark):
    """Opt-in source pushdown: a coin_id equality is consumed by the
    source (one partition scanned = the owning API page, not all),
    results equal the post-scan filter, and an id whose exchange
    prefix doesn't round-trip yields an empty — not wrong — scan."""
    import pyspark.sql.functions as F

    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import restfeed

    restfeed.register(spark)
    with scoped_conf(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        opts = dict(pages="4", coins_per_page="5", minutes="30")
        base = spark.read.format("cryptofeed").options(**opts).load()
        pushed = (
            spark.read.format("cryptofeed").options(pushdown="true", **opts).load()
        )
        f = pushed.filter(F.col("coin_id") == "coinbase_R7")
        assert f.rdd.getNumPartitions() == 1  # page 1 only, not 4
        assert f.count() == 30
        assert sorted(map(tuple, f.collect())) == sorted(
            map(tuple, base.filter(F.col("coin_id") == "coinbase_R7").collect())
        )
        # R7 belongs to coinbase; a binance_R7 id cannot exist
        assert pushed.filter(F.col("coin_id") == "binance_R7").count() == 0


def test_restfeed_stream_equals_batch(spark):
    """The streaming face of the custom source (the reference's poll
    loop): micro-batches over minute offsets drain to exactly the
    batch read's rows — same generator, same schema, offset counters
    replay deterministically."""
    import time

    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import restfeed

    restfeed.register(spark)
    q = (
        spark.readStream.format("cryptofeed")
        .option("pages", 2).option("coins_per_page", 2)
        .option("minutes", 20).option("batch_minutes", 5)
        .load()
        .writeStream.format("memory")
        .queryName("rf_stream_test")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        want = 2 * 2 * 20
        deadline = time.time() + 120
        while time.time() < deadline and spark.table("rf_stream_test").count() < want:
            time.sleep(2)
    finally:
        q.stop()
    batch = sorted(
        map(
            tuple,
            spark.read.format("cryptofeed")
            .option("pages", 2).option("coins_per_page", 2).option("minutes", 20)
            .load()
            .collect(),
        )
    )
    stream = sorted(map(tuple, spark.table("rf_stream_test").collect()))
    assert stream == batch and len(stream) == 80


def test_restfeed_stream_read_returns_iterator_at_exhaustion():
    """The simple stream reader's ``read`` must return an ITERATOR:
    pyspark's prefetch wrapper probes the exhausted-feed path
    (end == start) with ``next(it)``, which raises TypeError on a bare
    list — the exact failure restfeed_stream_replay hit when a
    processingTime drain ran past the feed cap (single-batch fallback
    tests never reach that path)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources.restfeed import (
        RestFeedStreamReader,
    )

    r = RestFeedStreamReader({"pages": "1", "coins_per_page": "2", "minutes": "10"})
    it, off = r.read({"minute": 10})
    assert off == {"minute": 10}
    assert next(it, None) is None  # empty ITERATOR, not a list
    it2, off2 = r.read({"minute": 0})
    assert off2 == {"minute": 5}
    assert iter(it2) is it2 and len(list(it2)) == 2 * 5


def test_restfeed_stream_replay_withholds_open_window(spark):
    """End-to-end custom-source streaming drain: the replay emits
    exactly the candles of the CLOSED hours — the final watermark stops
    inside hour 2 (last tick 02:59, delay 0), so append mode withholds
    the open last window. 20 coins x 2 closed hours = 40 candles, none
    at or after 02:00."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.pipeline import (
        restfeed_stream_replay,
    )

    out = restfeed_stream_replay(spark, timeout_s=180).collect()
    assert len(out) == 40
    hours = {r.timestamp.hour for r in out}
    assert hours == {0, 1}
