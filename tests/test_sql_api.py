"""SQL-API surface + physical-plan property tests: the engine's tables
work through plain ``spark.sql`` over registered views, and the scan
paths show the pushdown/pruning the 100 TB design depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark import sinks
from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
    load_table,
    register_views,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
from etl_visualization_of_cryptocurrency_trading_data_spark.session import scoped_conf

from conftest import SF_SMOKE


def test_flagship_expressible_in_sql(spark):
    """The latest-per-group snapshot runs as one spark.sql statement
    over registered views — same row count as the DataFrame builder."""
    register_views(spark, SF_SMOKE)
    derive.price_data(load_table(spark, SF_SMOKE, "events")).createOrReplaceTempView(
        "price_data_v"
    )
    got = spark.sql(
        """
        SELECT coin_id, exchange, timestamp, price FROM (
          SELECT *, row_number() OVER (PARTITION BY coin_id, exchange
                                       ORDER BY timestamp DESC) AS rn
          FROM price_data_v) WHERE rn = 1
        """
    )
    n_keys = (
        spark.table("price_data_v").select("coin_id", "exchange").distinct().count()
    )
    assert got.count() == n_keys


def test_filter_pushdown_reaches_scan(spark):
    """Predicate + projection reach the parquet scan (SURVEY §4.1: the
    reference cannot push its client-side filters; Catalyst does)."""
    # nation is never .cache()d by other tests, so the parquet scan (and
    # its pushdown annotations) stays visible in the physical plan.
    df = load_table(spark, SF_SMOKE, "nation").filter(
        F.col("n_name") == "FRANCE"
    ).select("n_nationkey", "n_name")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_name), EqualTo(n_name,FRANCE)]" in plan
    assert "ReadSchema: struct<n_nationkey:" in plan  # projection pruned to 2 cols
    assert ",n_name:string>" in plan


def test_create_crypto_database(spark, tmp_path):
    """S8 parity: the reference's five-table keyspace materializes as a
    Spark SQL database of managed parquet tables."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
        create_crypto_database,
    )

    db = "crypto_analysis_test"
    create_crypto_database(spark, SF_SMOKE, db, location=str(tmp_path / "wh"))
    try:
        tables = {
            r.tableName
            for r in spark.sql(f"SHOW TABLES IN {db}").collect()
            if not r.isTemporary
        }
        assert tables == {
            "coins", "price_data", "ohlc_data",
            "technical_indicators", "coin_market_cap",
        }
        n_coins = spark.table(f"{db}.coins").count()
        assert n_coins == spark.table(f"{db}.price_data").select(
            "coin_id", "exchange"
        ).distinct().count()
        # partitioned facts prune on the partition column
        plan = (
            spark.table(f"{db}.price_data")
            .filter(F.col("exchange") == "view")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters: [isnotnull(exchange" in plan
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_envelope_decode_tolerates_malformed_lines(spark):
    """A corrupt envelope line decodes to NULL (from_json PERMISSIVE)
    and contributes zero exploded rows; valid lines are unaffected."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import envelope as env

    events = load_table(spark, SF_SMOKE, "events").limit(50)
    good = env.build_envelopes(events).select("value")
    n_good_price = env.decode_price(env.decode_envelopes(good)).count()
    corrupt = spark.createDataFrame(
        [("{not json",), ('{"coins": "wrong-type"}',), ("",)], "value string"
    )
    mixed = good.unionByName(corrupt)
    decoded = env.decode_envelopes(mixed)
    assert env.decode_price(decoded).count() == n_good_price
    assert decoded.count() == mixed.count()  # rows survive as nulls, not errors


def test_partition_pruning_on_written_table(spark, tmp_path):
    """Tables written partitionBy(exchange) prune directories: a filter
    on the partition column shows up as PartitionFilters, and only that
    partition's files are read."""
    price = derive.price_data(load_table(spark, SF_SMOKE, "events")).limit(500)
    base = str(tmp_path / "tables")
    sinks.write_table(price, base, "price_data")
    one_exchange = price.select("exchange").first().exchange
    read = sinks.read_table(spark, base, "price_data").filter(
        F.col("exchange") == one_exchange
    )
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [isnotnull(exchange" in plan
    assert read.count() > 0


def test_approx_cardinality_error_bounded(spark):
    """HLL++ sketch estimates (the 100 TB cardinality path) stay within
    a few rsd of exact — tighter (2%) than the 5% bound the registered
    query emits in-plan for the driver oracle, and checked against the
    raw estimate which the registered contract no longer exposes."""
    from pyspark.sql import functions as F

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        _price_base,
    )

    for sf_dir in (SF_SMOKE, "/root/testdata/sf0.01"):
        rows = (
            _price_base(spark, sf_dir)
            .groupBy("exchange")
            .agg(
                F.approx_count_distinct("coin_id", 0.01).alias("n_coins_approx"),
                F.countDistinct("coin_id").alias("n_coins"),
            )
            .collect()
        )
        assert rows
        for r in rows:
            rel = abs(r.n_coins_approx - r.n_coins) / r.n_coins
            assert rel <= 0.02, f"{sf_dir} {r.exchange}: HLL rel error {rel:.3f} > 2%"
        # the registered contract column must come out TRUE everywhere —
        # this is exactly what the driver's oracle hash checks
        contract = registry.q_exchange_cardinality_approx(spark, sf_dir).collect()
        assert all(r.approx_within_5pct for r in contract)


def test_approx_percentile_exact_regime_and_contract(spark):
    """At accuracy=100000 the GK summary is exact for fixture-scale
    groups (this is what makes the registered oracle valid); at a
    coarse accuracy the answers must still be actual data values
    between min and max with monotone quantiles."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table

    import math

    docs = load_table(spark, SF_SMOKE, "documents")
    fine = (
        docs.groupBy("lang")
        .agg(
            F.expr("approx_percentile(n_chars, 0.5, 100000)").alias("gk"),
            F.expr("percentile_approx(n_chars, 0.5, 10)").alias("coarse"),
            F.expr("min(n_chars)").alias("lo"),
            F.expr("max(n_chars)").alias("hi"),
            F.expr("sort_array(collect_list(n_chars))").alias("vals"),
        )
        .collect()
    )
    for r in fine:
        # exact regime: equals the lower discrete median (the same
        # definition DuckDB's quantile_disc uses in the oracle)
        n = len(r.vals)
        disc_median = r.vals[max(0, math.ceil(0.5 * n) - 1)]
        assert r.gk == disc_median, f"{r.lang}: gk {r.gk} != disc {disc_median}"
        # coarse summaries still answer with a real data value in range
        assert r.lo <= r.coarse <= r.hi


def test_bucketed_join_plan_has_no_exchange(spark, tmp_path):
    """Co-located join layout: two tables bucketed by the same keys and
    bucket count must sort-merge join with no Exchange (shuffle) on
    either side — the write-time layout every repeated fact-to-fact
    join amortizes at 100 TB."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
        write_bucketed_table,
    )

    price = derive.price_data(load_table(spark, SF_SMOKE, "events"))
    ohlc = derive.ohlc_data(price)
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            write_bucketed_table(
                price.select("coin_id", "exchange", "timestamp", "price"),
                "b_price", ["coin_id", "exchange"], 8, ["coin_id", "exchange"],
            )
            write_bucketed_table(
                ohlc, "b_ohlc", ["coin_id", "exchange"], 8, ["coin_id", "exchange"]
            )
            joined = spark.table("b_price").join(
                spark.table("b_ohlc").withColumnRenamed("timestamp", "hour_ts"),
                ["coin_id", "exchange"],
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            # sanity: the join actually produces rows
            assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_price")
        spark.sql("DROP TABLE IF EXISTS b_ohlc")


# ---------------------------------------------------------------------------
# Registry invariants (ADVICE r3: market_cap_chart silently fell out of
# QUERIES during the r3 window reorder, and window membership was encoded
# only in dict ordering + a comment)
# ---------------------------------------------------------------------------

# The driver's correctness gate checks the FIRST 50 registry entries each
# round. This list IS the current round's window — any insertion/reorder of
# QUERIES that changes window membership must edit this list too, making
# evictions deliberate and reviewed instead of silent.
EXPECTED_R14_WINDOW = [
    # (a) the three r14 registrations (dual-family perceptual union;
    # paired text+image dedup over the planted caption corpus; the
    # pipeline with the media survivorship stage) + the two
    # never-checked late-r13 registrations, (b) the FULL 43-entry
    # r10-row cohort, (c) dataset_split (re-rendered, r11 row) +
    # quality_classifier_auc (re-rendered, widest consolidated-constant
    # coverage). See the rotation header in plans/registry.py.
    "media_dup_clusters_union",
    "image_text_dup_agreement",
    "curation_pipeline_v5",
    "lm_perplexity_buckets",
    "bpe_fertility",
    "semantic_dedup_trained",
    "recovery_stream_replay",
    "media_decode_bmp",
    "media_decode_gif",
    "media_decode_jpeg",
    "media_resize",
    "incremental_dedup_bloom",
    "zorder_profile",
    "cms_frequencies",
    "enrich_stream_replay",
    "late_drop_stream_replay",
    "knn_ivf_full_fixed",
    "knn_lsh_planes8",
    "exchange_influencers",
    "trading_sessions",
    "session_range_join",
    "market_cap_chart",
    "knn_ivf_trained",
    "volume_cube",
    "spread_stream_replay",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "repetition_stats",
    "tfidf_top_terms",
    "doc_length_quantiles_approx",
    "exchange_cardinality",
    "knn_quantized",
    "embedding_normalize",
    "embedding_quantize",
    "media_frames",
    "media_features",
    "stale_coins_anti",
    "top_coins_by_volume",
    "union_price_feeds",
    "asof_price_candle",
    "top_suppliers",
    "user_retention",
    "price_correlation",
    "event_props_stats",
    "revenue_by_nation",
    "drawdown_stream_replay",
    "remove_repeated_spans_keep_first",
    "dataset_split",
    "quality_classifier_auc",
]


def test_registry_invariants():
    """Every oracle belongs to a registered query (an orphaned ORACLES
    entry means its query silently disappeared from the engine surface),
    and every query has an oracle (rows-only rows are deliberate
    downgrades — this repo currently has none)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        ORACLES,
        QUERIES,
    )

    assert set(ORACLES) <= set(QUERIES), (
        f"orphaned oracles: {sorted(set(ORACLES) - set(QUERIES))}"
    )
    assert set(QUERIES) <= set(ORACLES), (
        f"queries with no oracle: {sorted(set(QUERIES) - set(ORACLES))}"
    )


def test_driver_window_membership():
    """Pin the first-50 driver-correctness window to an explicit,
    reviewed list (len + order)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        QUERIES,
    )

    assert len(EXPECTED_R14_WINDOW) == 50
    assert list(QUERIES)[:50] == EXPECTED_R14_WINDOW


def test_fixture_timestamp_dtypes(spark):
    """Canary for the driver's fixture encoding: the fixtures' timestamp
    encoding has changed twice across rounds (TIMESTAMP(NANOS)→int64,
    then timestamp[us]→TIMESTAMP_NTZ, which broke timestamp→numeric
    casts in round 3). load_table canonicalizes every timestamp column
    to session-TZ TIMESTAMP; if this fails the encoding changed again —
    fix catalog.load_table, not the operators."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
        TABLES,
        load_table,
    )

    for name in TABLES:
        df = load_table(spark, SF_SMOKE, name)
        for col, dt in df.dtypes:
            assert dt != "timestamp_ntz", (
                f"{name}.{col} loads as {dt}; expected canonical TIMESTAMP"
            )
        if name == "events":
            assert dict(df.dtypes)["ts"] == "timestamp"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_load_table_reuses_relation_until_the_file_changes(spark, tmp_path):
    """load_table keeps a single-file table's normalized relation: a
    repeat call returns the same frame and launches no Spark job, and
    replacing the file makes the next call read it afresh."""
    import shutil

    import pyarrow.parquet as pq

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import table_path

    sc = spark.sparkContext
    src = table_path(SF_SMOKE, "events")
    dst = table_path(str(tmp_path), "events")
    shutil.copy(src, dst)

    def load(group: str):
        sc.setJobGroup(group, group)
        try:
            df = load_table(spark, str(tmp_path), "events")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    first, _ = load("load_table_cache-first")
    again, jobs = load("load_table_cache-hit")
    assert again is first
    assert jobs == 0
    rows = pq.read_table(src)
    pq.write_table(rows.slice(0, 7), dst)
    fresh, _ = load("load_table_cache-replaced")
    assert fresh is not first
    assert fresh.count() == 7
    assert dict(fresh.dtypes)["ts"] == "timestamp"


def test_plan_contracts_for_round4_operators(spark):
    """Physical-plan property pins for the round-4 operators — the
    optimizer behaviors the scale design depends on, asserted so a
    refactor can't silently lose them:
    - volume_cube: all four grouping sets via exactly ONE Expand (one
      input scan + one shuffle, not four groupBys);
    - close_pivot: exactly ONE parquet scan (a static value list must
      not add a distinct scan for pivot-value inference);
    - exchange_cardinality_approx: zero Window nodes (Catalyst prunes
      the unused lag windows out of the price derivation);
    - band indicators: the MINIMAL number of Window nodes (bollinger
      and donchian fuse all their columns into ONE; stochastic needs
      exactly two because %D consumes %K; obv exactly two because the
      lag and the running sum use different frames), so a refactor
      cannot silently add per-column window passes."""
    import re

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry

    def plan_of(name):
        df = registry.QUERIES[name](spark, SF_SMOKE)
        return df._jdf.queryExecution().executedPlan().toString()

    cube = plan_of("volume_cube")
    assert cube.count("Expand") == 1, cube
    pivot = plan_of("close_pivot")
    assert pivot.count("Scan parquet") == 1, pivot
    approx = plan_of("exchange_cardinality_approx")
    assert "Window" not in approx, approx
    for name, n_expected in [
        ("bollinger_bands", 1),
        ("donchian", 1),
        ("stochastic", 2),
        ("obv", 2),
    ]:
        plan = plan_of(name)
        n_window = len(re.findall(r"\bWindow\b", plan))
        assert n_window == n_expected, f"{name}: {n_window} Window nodes\n{plan}"


def test_plan_contracts_for_round5_operators(spark):
    """Physical-plan property pins for the round-5 operators:
    - gopher_rules / media_decode_wav / media_decode_ppm / url-less
      map-onlies: ZERO exchanges — the whole battery must stay a pure
      map (a refactor that sneaks in a groupBy/distinct would still be
      correct, just 100x more expensive at corpus scale);
    - url_dedup: exactly TWO exchanges — the standard expanded
      distinct-aggregate pair ((host,path,_raw) partial then
      (host,path) final) that exact n_variants requires, and no more;
    - span_dedup: exactly TWO hash exchanges (span-count agg + doc
      reassembly) and ONE broadcast exchange (the duplicated-key set —
      the join must NOT shuffle span text on span_key)."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry

    def plan_of(name):
        df = registry.QUERIES[name](spark, SF_SMOKE)
        return df._jdf.queryExecution().executedPlan().toString()

    for name in ["gopher_rules", "media_decode_wav", "media_decode_ppm"]:
        plan = plan_of(name)
        assert "Exchange" not in plan, f"{name} must be map-only\n{plan}"

    url = plan_of("url_dedup")
    assert url.count("Exchange") == 2, url

    span = plan_of("span_dedup")
    n_bcast = span.count("BroadcastExchange")
    n_hash = span.count("Exchange hashpartitioning")
    assert n_bcast == 1, span
    assert n_hash == 2, span


def test_plan_contracts_for_round5_session2_operators(spark):
    """Physical-plan pins for this session's additions:
    - candlestick_patterns: the candle aggregate + ONE fused window
      (all five flags share one lag pass), two keyed exchanges total;
    - corpus_quality_report: the rule battery stays a pure map into ONE
      aggregate exchange — zero windows;
    - coin_volume_percentile: one aggregate + one window re-key, and
      percent_rank/cume_dist fuse into ONE window node;
    - volume_grouping_sets: all three slices via ONE Expand + ONE
      exchange (not three groupBys);
    - vocab_coverage: a TakeOrdered node and exactly ONE (bounded)
      window — the full vocabulary is never globally sorted."""
    import re

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry

    def props(name):
        plan = registry.QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        return {
            "hash": plan.count("Exchange hashpartitioning"),
            "window": len(re.findall(r"\bWindow\b", plan)),
            "expand": plan.count("Expand"),
            "takeordered": plan.count("TakeOrdered"),
            "plan": plan,
        }

    p = props("candlestick_patterns")
    assert (p["hash"], p["window"]) == (2, 1), p["plan"]
    p = props("corpus_quality_report")
    assert (p["hash"], p["window"]) == (1, 0), p["plan"]
    p = props("coin_volume_percentile")
    assert (p["hash"], p["window"]) == (2, 1), p["plan"]
    p = props("volume_grouping_sets")
    assert (p["expand"], p["hash"]) == (1, 1), p["plan"]
    p = props("vocab_coverage")
    assert p["takeordered"] == 1 and p["window"] == 1, p["plan"]


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join contract: two tables bucketed on the same key
    into the same bucket count join with ZERO exchanges (the storage
    layout replaces the runtime shuffle) — and the result equals the
    plain join of the unbucketed frames."""
    import re

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
        load_table,
        write_bucketed_table,
    )

    db = "bucket_test_db"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path / 'wh'}'")
    price = derive.price_data(load_table(spark, SF_SMOKE, "events")).select(
        "coin_id", "exchange", "timestamp", "price", "volume"
    )
    totals = price.groupBy("coin_id").agg(F.sum("volume").alias("total_volume"))
    try:
        write_bucketed_table(price, f"{db}.ticks", ["coin_id"], n_buckets=4)
        write_bucketed_table(totals, f"{db}.totals", ["coin_id"], n_buckets=4)
        a = spark.table(f"{db}.ticks")
        b = spark.table(f"{db}.totals")
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = a.join(b, "coin_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            got = joined.count()
        want = price.join(totals, "coin_id").count()
        assert got == want and got > 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_no_driver_side_materialization_in_operator_paths():
    """Self-policing sweep (the anti-pattern audit every verdict runs,
    pinned as a test): no .collect()/.toPandas()/.first() anywhere in
    the package except the documented driver-boundary sites — the
    replay harness's 1-row bounds read (it places the spool sentinels
    and wave splits), the AQE skew probe and knn_brute_vectorized's
    bounded lazy-probe escape hatch. A new hit means a distributed operator
    grew a driver funnel."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_visualization_of_cryptocurrency_trading_data_spark",
    )
    allowed = {
        # the replay harness's one min/max bounds read per feed (a
        # 1-row aggregate that places sentinels and wave splits)
        ("streaming/pipeline.py", "collect"): 1,
        ("operators/similarity.py", "toPandas"): 1,  # lazy-probe hatch
        # AQE skew probe: one 1-row global-aggregate read per mode —
        # the probe must EXECUTE eagerly to read the final adaptive
        # plan (documented driver boundary in aqe_skew_probe)
        ("plans/audit.py", "collect"): 1,
    }
    found: dict[tuple[str, str], int] = {}
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            for kind, pat in [
                ("collect", r"\.collect\(\)"),
                ("toPandas", r"\.toPandas\(\)"),
                ("first", r"\.first\(\)"),
            ]:
                n = len(re.findall(pat, src))
                if n:
                    found[(rel, kind)] = n
    assert found == allowed, f"driver-side materialization drift: {found}"


def test_conf_is_set_only_by_scoped_conf_and_load_table():
    """Self-policing sweep for conf pins: the package sets or unsets
    session conf only in ``session.scoped_conf`` (which restores every
    key it touched) and in ``catalog.load_table``'s two session-lifetime
    pins. A new hit means a call grew a hand-written save/restore that
    can leak a key, or leave an unset key set to its default."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_visualization_of_cryptocurrency_trading_data_spark",
    )
    allowed = {
        # scoped_conf's one set and one unset
        "session.py": 2,
        # nanosAsLong and the UTC session zone: the parquet reader reads
        # them when the caller plans an action on the lazy frame, after
        # load_table returns, so no call-length scope can hold them
        "catalog.py": 2,
    }
    found: dict[str, int] = {}
    for root, _, files in os.walk(pkg):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(root, fname)
                n = len(re.findall(r"conf\.(?:set|unset)\(", open(path).read()))
                if n:
                    found[os.path.relpath(path, pkg)] = n
    assert found == allowed, f"conf pins outside scoped_conf: {found}"


def test_no_function_takes_a_persist_switch():
    """Self-policing sweep for cache switches: each materialization
    boundary in the package is fixed in its function or worked out
    from the input, never a ``persist_*`` parameter that callers flip.
    A new hit means a boundary grew an on/off switch again."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "etl_visualization_of_cryptocurrency_trading_data_spark",
    )
    found = []
    for root, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            for node in ast.walk(ast.parse(open(path).read())):
                if not isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
                ):
                    continue
                a = node.args
                for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]:
                    if arg is not None and arg.arg.startswith("persist_"):
                        found.append(
                            f"{os.path.relpath(path, pkg)}:{node.lineno} {arg.arg}"
                        )
    assert found == [], f"persist switches: {found}"


def test_plan_audit_pins_flagship_join_strategy(spark):
    """The flagship coin_table plan collapses all three fact tables to
    their latest row per (coin_id, exchange) in ONE grouping shuffle of
    max(struct) aggregates (the other three shuffles derive the facts
    from events in-plan), then makes one BROADCAST hash join to coins:
    no sort-merge join and no WindowGroupLimit. plan_audit makes this
    driver-visible; this test makes it fail locally first."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.audit import (
        plan_features,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        QUERIES,
    )

    f = plan_features(QUERIES["coin_table"](spark, SF_SMOKE))
    assert f == {
        "n_shuffles": 4,
        "n_broadcasts": 1,
        "n_broadcast_joins": 1,
        "n_sortmerge_joins": 0,
        "n_window_group_limits": 0,
    }


def test_bucketed_join_audit_row_contract(spark):
    """The r11 driver-hash form of the co-located join: the in-band
    plan evidence must be (plan_exchanges=0, sort_merge_join=True), the
    aggregate must equal the plain unbucketed join, and re-running the
    builder (overwrite mode) must be idempotent."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        q_bucketed_join_audit,
    )

    first = {r.exchange: r for r in q_bucketed_join_audit(spark, SF_SMOKE).collect()}
    assert first
    for r in first.values():
        assert r.plan_exchanges == 0, r
        assert r.sort_merge_join is True, r
    # plain-join oracle twin, computed without any bucketed table
    price = derive.price_data(load_table(spark, SF_SMOKE, "events")).select(
        "coin_id", "exchange", "volume"
    )
    totals = price.groupBy("coin_id").agg(F.sum("volume").alias("total_volume"))
    want = {
        r.exchange: r
        for r in price.join(totals, "coin_id")
        .groupBy("exchange")
        .agg(
            F.count("*").alias("n_ticks"),
            F.round(F.sum("volume"), 4).alias("sum_volume"),
            F.round(F.sum("total_volume"), 2).alias("sum_joined_totals"),
        )
        .collect()
    }
    assert set(first) == set(want)
    for e in want:
        assert first[e].n_ticks == want[e].n_ticks
        assert abs(first[e].sum_volume - want[e].sum_volume) < 1e-6
        assert abs(first[e].sum_joined_totals - want[e].sum_joined_totals) < 1e-6
    second = {r.exchange: r for r in q_bucketed_join_audit(spark, SF_SMOKE).collect()}
    assert {e: (r.n_ticks, r.sum_volume) for e, r in second.items()} == {
        e: (r.n_ticks, r.sum_volume) for e, r in first.items()
    }
