"""Unit tests pinning the stretch relational operators' edge semantics
on tiny literal frames (SURVEY §5.2 operator-family tests)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_visualization_of_cryptocurrency_trading_data_spark.operators import relational


def test_asof_join_tie_and_missing(spark):
    left = spark.createDataFrame(
        [("k", 5, "a"), ("k", 10, "b"), ("k", 15, "c"), ("q", 7, "d")],
        "key string, timestamp long, tag string",
    )
    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", 12, 2.0)],
        "key string, timestamp long, val double",
    )
    got = {
        (r.key, r.timestamp): r.val
        for r in relational.asof_join(left, right, ["key"]).collect()
    }
    assert got[("k", 5)] is None          # nothing at-or-before
    assert got[("k", 10)] == 1.0          # tie: same-ts right row visible
    assert got[("k", 15)] == 2.0          # latest at-or-before wins
    assert got[("q", 7)] is None          # key with no right rows at all
    assert len(got) == 4                  # every left row exactly once


def test_asof_join_carries_legit_nulls_and_whole_rows(spark):
    """A matched right row whose payload field is NULL must yield NULL
    (not a stale earlier value), and multi-column payloads must all
    come from the SAME right row."""
    left = spark.createDataFrame([("k", 6), ("k", 2)], "key string, timestamp long")
    right = spark.createDataFrame(
        [("k", 1, 7.0, "a"), ("k", 5, None, "b")],
        "key string, timestamp long, val double, tag string",
    )
    got = {
        r.timestamp: (r.val, r.tag)
        for r in relational.asof_join(left, right, ["key"]).collect()
    }
    assert got[2] == (7.0, "a")
    assert got[6] == (None, "b"), "stale non-NULL leaked through or columns mixed"


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    right = spark.createDataFrame([("b",), ("b",), ("x",)], "k string")
    semi = {r.k for r in relational.semi_join(left, right, ["k"]).collect()}
    anti = {r.k for r in relational.anti_join(left, right, ["k"]).collect()}
    assert semi == {"b"}                  # no row multiplication from dup rhs
    assert anti == {"a", "c"}
    assert semi | anti == {"a", "b", "c"}


def test_salted_join_equals_plain_join(spark):
    """Salting must not change results: hot-keyed fact (5 distinct
    exchanges) joined to an exchange dim, salted vs plain."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive

    from conftest import SF_SMOKE

    price = derive.price_data(load_table(spark, SF_SMOKE, "events")).select(
        "coin_id", "exchange", "timestamp", "price"
    )
    dim = price.select("exchange").distinct().withColumn(
        "exchange_tier", relational.F.length("exchange") % 3
    )
    plain = price.join(dim, ["exchange"]).orderBy("coin_id", "timestamp")
    salted = relational.salted_join(price, dim, ["exchange"], buckets=8).orderBy(
        "coin_id", "timestamp"
    )
    assert plain.count() == salted.count() == price.count()
    assert sorted(map(str, plain.collect())) == sorted(map(str, salted.collect()))


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property: engine as-of join == pandas merge_asof over random
    keyed series (allow_exact_matches semantics)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    left = pd.DataFrame(
        {
            "key": rng.choice(["a", "b", "c"], 60),
            "timestamp": rng.integers(0, 1000, 60),
        }
    ).drop_duplicates(["key", "timestamp"])
    right = pd.DataFrame(
        {
            "key": rng.choice(["a", "b", "c"], 30),
            "timestamp": rng.integers(0, 1000, 30),
            "val": rng.normal(size=30).round(6),
        }
    ).drop_duplicates(["key", "timestamp"])
    got = (
        relational.asof_join(
            spark.createDataFrame(left.assign(timestamp=left.timestamp.astype("int64"))),
            spark.createDataFrame(right.assign(timestamp=right.timestamp.astype("int64"))),
            ["key"],
        )
        .toPandas()
        .sort_values(["key", "timestamp"])
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(
            left.sort_values("timestamp"),
            right.sort_values("timestamp"),
            on="timestamp",
            by="key",
            direction="backward",
            allow_exact_matches=True,
        )
        .sort_values(["key", "timestamp"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["key", "timestamp", "val"]], want[["key", "timestamp", "val"]]
    )


def test_union_feeds_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id long, only_a string")
    b = spark.createDataFrame([(2, 3.0)], "id long, only_b double")
    out = relational.union_feeds(a, b).orderBy("id").collect()
    assert [r.id for r in out] == [1, 2]
    assert out[0].only_b is None and out[1].only_a is None


def test_volume_cube_grouping_sets(spark):
    """CUBE emits all four grouping sets with consistent totals: the
    grand total equals the sum over per-exchange subtotals, and each
    (exchange, day) cell rolls up into both its margins."""
    from pyspark.sql import functions as F

    price = spark.createDataFrame(
        [
            ("view", "2024-01-01 10:00:00", 10.0),
            ("view", "2024-01-01 11:00:00", 20.0),
            ("view", "2024-01-02 10:00:00", 40.0),
            ("click", "2024-01-01 09:00:00", 5.0),
        ],
        "exchange string, timestamp string, volume double",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    rows = {
        (r.exchange, None if r.day is None else r.day.strftime("%d")): (
            r.total_volume,
            r.n_ticks,
        )
        for r in relational.volume_cube(price).collect()
    }
    assert rows[(None, None)] == (75.0, 4)            # grand total
    assert rows[("view", None)] == (70.0, 3)          # exchange margin
    assert rows[(None, "01")] == (35.0, 3)            # day margin
    assert rows[("view", "01")] == (30.0, 2)          # cell
    assert len(rows) == 3 + 2 + 2 + 1                 # cells+margins+gt


def test_close_pivot_static_columns_and_nulls(spark):
    """Pivot columns come from the static list (present even when the
    data has no such exchange) and missing cells are NULL."""
    from pyspark.sql import functions as F

    ohlc = spark.createDataFrame(
        [
            ("view", "2024-01-01 10:00:00", 10.0),
            ("view", "2024-01-01 10:00:00", 30.0),
            ("click", "2024-01-01 11:00:00", 7.0),
        ],
        "exchange string, timestamp string, close double",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    got = relational.close_pivot(ohlc, ["view", "click", "signup"])
    assert got.columns == ["timestamp", "view", "click", "signup"]
    rows = {r.timestamp.hour: r for r in got.collect()}
    assert rows[10].view == 20.0 and rows[10].click is None
    assert rows[11].click == 7.0 and rows[11].view is None
    assert all(r.signup is None for r in rows.values())


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([1, 3, 7]),
)
def test_interval_join_binned_equals_theta_join(spark, ts_vals, ivals, bin_s):
    """Property: the bin-bucketed equi-join strategy returns EXACTLY the
    rows of the naive theta join (start <= ts < end) for any fact/
    interval layout and bin width — including empty intervals, intervals
    ending exactly on a bin boundary, facts on boundaries, and intervals
    spanning many bins. Numeric-second timestamps exercise the
    non-timestamp branch of the binning."""
    facts = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts_vals)], "fid long, ts long"
    )
    intervals = spark.createDataFrame(
        [(j, a, b) for j, (a, b) in enumerate(ivals)],
        "iid long, start long, end long",
    )
    got = {
        (r.fid, r.iid)
        for r in relational.interval_join_binned(
            facts, intervals, "ts", "start", "end", bin_seconds=bin_s
        ).collect()
    }
    expect = {
        (i, j)
        for i, t in enumerate(ts_vals)
        for j, (a, b) in enumerate(ivals)
        if a <= t < b
    }
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=3),   # day index
            st.integers(min_value=1, max_value=100),  # volume (int => exact sums)
        ),
        min_size=1,
        max_size=20,
    )
)
def test_volume_cube_equals_manual_grouping_sets(spark, rows):
    """Property: CUBE == the union of the four manual groupBys (cell,
    each margin, grand total) on arbitrary data — integer volumes so
    float summation order cannot blur the comparison."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["exchange", "di", "vol"])
    pdf["timestamp"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(pdf["di"], unit="D")
    pdf["volume"] = pdf["vol"].astype("float64")
    df = spark.createDataFrame(pdf[["exchange", "timestamp", "volume"]])
    got = {
        (r.exchange, None if r.day is None else r.day.day): (r.total_volume, r.n_ticks)
        for r in relational.volume_cube(df).collect()
    }
    gt = {}
    pdf["day"] = pdf["timestamp"].dt.day
    for keys in [["exchange", "day"], ["exchange"], ["day"], []]:
        if keys:
            for k, g in pdf.groupby(keys):
                k = k if isinstance(k, tuple) else (k,)
                full = (
                    k[0] if "exchange" in keys else None,
                    k[keys.index("day")] if "day" in keys else None,
                )
                gt[full] = (round(g["volume"].sum(), 6), len(g))
        else:
            gt[(None, None)] = (round(pdf["volume"].sum(), 6), len(pdf))
    assert got == gt


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=5000),  # minutes offsets
        min_size=1,
        max_size=15,
        unique=True,
    )
)
def test_sessionize_matches_python_reference(spark, minute_offsets):
    """Property: gaps-and-islands sessionization == a straightforward
    Python scan (gap >= 60 min starts a new session; session end =
    last event + gap), for arbitrary event spacings."""
    from pyspark.sql import functions as F

    ts = sorted(minute_offsets)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "coin_id": "x_C1",
            "exchange": "x",
            "timestamp": [base + pd.Timedelta(minutes=m) for m in ts],
            "price": [float(m % 7 + 1) for m in ts],
        }
    )
    got = {
        (r.session_start, r.session_end): (r.n_ticks, r.low, r.high)
        for r in relational.sessionize(
            spark.createDataFrame(pdf), ["coin_id", "exchange"], gap_minutes=60
        ).collect()
    }
    # python reference
    sessions = []
    cur = [ts[0]]
    for m in ts[1:]:
        if m - cur[-1] >= 60:
            sessions.append(cur)
            cur = [m]
        else:
            cur.append(m)
    sessions.append(cur)
    want = {}
    for s in sessions:
        start = base + pd.Timedelta(minutes=s[0])
        end = base + pd.Timedelta(minutes=s[-1] + 60)
        prices = [float(m % 7 + 1) for m in s]
        want[(start, end)] = (len(s), min(prices), max(prices))
    assert got == want


def test_interval_join_binned_exact_past_double_precision(spark):
    """Regression pin for the integer-binning rewrite: numeric epoch
    values whose microsecond form exceeds double's 2^53 exact range
    (e.g. an epoch-milliseconds column) must still bin exactly — a
    double quotient would misbin boundary values and silently drop
    matching rows."""
    base = 1_700_000_000_000  # epoch millis magnitude; *1e6 = 1.7e18 us
    facts = spark.createDataFrame(
        [(1, base), (2, base + 3600), (3, base + 7199), (4, base + 7200)],
        "fid long, ts long",
    )
    intervals = spark.createDataFrame(
        [(10, base, base + 7200)], "iid long, start long, end long"
    )
    got = {
        (r.fid, r.iid)
        for r in relational.interval_join_binned(
            facts, intervals, "ts", "start", "end", bin_seconds=3600
        ).collect()
    }
    # end exclusive: fid 4 at exactly start+7200 is out
    assert got == {(1, 10), (2, 10), (3, 10)}


def test_resample_ffill_gaps_and_ties(spark):
    """Forward fill across an explicit two-hour gap, is_gap flags, the
    pre-first-tick grid never extends before the first tick's hour,
    and tied-timestamp ticks collapse by the event_id total order
    BEFORE the carry (the larger event_id wins, engine-order-proof)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        ("c1", "x", T(1, 30), 10.0, 1),
        ("c1", "x", T(1, 30), 11.0, 2),   # tie: event_id 2 wins
        ("c1", "x", T(4, 15), 40.0, 3),   # hours 2,3 are gaps
        ("c2", "x", T(2, 0), 7.0, 4),     # single tick -> single grid row
    ]
    df = spark.createDataFrame(
        rows, "coin_id string, exchange string, timestamp timestamp, price double, event_id long"
    )
    out = {
        (r.coin_id, r.grid_ts.hour): r
        for r in derive.resample_ffill(df).collect()
    }
    assert set(out) == {("c1", 1), ("c1", 2), ("c1", 3), ("c1", 4), ("c2", 2)}
    # hour 1 carries its OWN last tick (pandas last()+ffill labeling)
    assert out[("c1", 1)].price == 11.0 and not out[("c1", 1)].is_gap
    assert out[("c1", 2)].price == 11.0 and out[("c1", 2)].is_gap
    assert out[("c1", 3)].price == 11.0 and out[("c1", 3)].is_gap
    assert out[("c1", 4)].price == 40.0 and not out[("c1", 4)].is_gap
    assert out[("c2", 2)].price == 7.0 and not out[("c2", 2)].is_gap


def test_cooccurrence_and_pagerank(spark):
    """Edge extraction: per-bucket DISTINCT entities pair up (tick
    volume inside a bucket never inflates weight); PageRank: symmetric
    nodes tie, better-connected nodes outrank, isolated nodes keep
    exactly the teleport mass (1-d)/N, per-round rank total is bounded
    by 1 (mass leaks only through isolation, not duplication)."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import graph

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [
        ("a", T(1)), ("a", T(1, 30)),       # two ticks, ONE bucket
        ("b", T(1)), ("c", T(1)),            # a,b,c co-occur in hour 1
        ("a", T(2)), ("b", T(2)),            # a,b again in hour 2
        ("z", T(9)),                         # isolated
    ]
    df = spark.createDataFrame(rows, "coin_id string, timestamp timestamp")
    edges = {
        (r.src, r.dst): r.weight
        for r in graph.cooccurrence_edges(df).collect()
    }
    assert edges == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}

    nodes = df.select(df.coin_id.alias("id")).distinct()
    ranks = {r.id: r for r in graph.pagerank(
        spark.createDataFrame(
            [(s, d, w) for (s, d), w in edges.items()],
            "src string, dst string, weight long",
        ),
        nodes, iters=3,
    ).collect()}
    assert ranks["a"].rank == ranks["b"].rank  # symmetric by weight
    assert ranks["a"].rank > ranks["c"].rank > ranks["z"].rank
    assert ranks["z"].rank == round((1 - 0.85) / 4, 9) and ranks["z"].wdeg == 0
    assert sum(r.rank for r in ranks.values()) <= 1.0 + 1e-9

    # max_per_bucket guard BINDS deterministically: cap=2 keeps the two
    # smallest entity ids per bucket, so hour 1 collapses to the (a, b)
    # pair — c is evicted from that bucket's pair space entirely
    capped = {
        (r.src, r.dst): r.weight
        for r in graph.cooccurrence_edges(df, max_per_bucket=2).collect()
    }
    assert capped == {("a", "b"): 2}


def test_exchange_hll_rollup_contract(spark):
    """The merged daily sketches must estimate each exchange's exact
    coin cardinality within the contract bound on a hand-built frame
    spanning several days, and n_days counts the sketch rows."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive

    T = dt.datetime(2024, 1, 1)
    rows = []
    for d in range(5):
        for c in range(40):
            rows.append(
                (f"x_C{c}", "x", T + dt.timedelta(days=d, minutes=c), 1.0, 1.0)
            )
    rows.append(("y_C1", "y", T, 1.0, 1.0))
    df = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    out = {r.exchange: r for r in derive.exchange_hll_rollup(df).collect()}
    assert out["x"].n_coins == 40 and out["x"].n_days == 5
    assert out["x"].merged_within_5pct
    assert out["y"].n_coins == 1 and out["y"].n_days == 1 and out["y"].merged_within_5pct


def test_pricing_summary_hand_built(spark):
    """Hand-checked Q1 aggregates: cutoff excludes late shipments,
    disc_price/charge formulas, and per-group counts."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        pricing_summary,
    )

    D = dt.datetime(2024, 6, 1)
    rows = [
        # (orderkey, qty, extprice, disc, tax, rf, ls, shipdate)
        (1, 10.0, 100.0, 0.1, 0.05, "A", "F", D),
        (2, 5.0, 50.0, 0.0, 0.10, "A", "F", D - dt.timedelta(days=10)),
        (3, 1.0, 10.0, 0.2, 0.00, "R", "O", D - dt.timedelta(days=5)),
        # ships within the last 90 days BEFORE max -> still included;
        # make one AFTER the cutoff by pushing max forward:
        (4, 99.0, 999.0, 0.0, 0.0, "X", "X", D + dt.timedelta(days=100)),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    )
    # max shipdate = D+100d; cutoff = D+10d -> rows 1-3 pass, row 4 fails
    out = {(r.l_returnflag, r.l_linestatus): r for r in pricing_summary(df).collect()}
    assert set(out) == {("A", "F"), ("R", "O")}
    af = out[("A", "F")]
    assert af.count_order == 2 and af.sum_qty == 15.0
    assert af.sum_disc_price == round(100.0 * 0.9 + 50.0, 6)
    assert af.sum_charge == round(100.0 * 0.9 * 1.05 + 50.0 * 1.1, 6)
    assert af.avg_disc == round(0.05, 6)
    ro = out[("R", "O")]
    assert ro.count_order == 1 and ro.sum_disc_price == 8.0


def test_rolling_active_coins_window_math(spark):
    """Exact trailing-7-day distinct counts on a hand-built calendar:
    overlap days count once, the window fills progressively, and the
    sketch contract holds at these cardinalities."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive

    D = dt.datetime(2024, 1, 1)
    rows = []
    # day 0: coins a,b; day 3: b,c; day 9: d  (gap > window from day 0)
    for c in ("a", "b"):
        rows.append((f"{c}", "x", D, 1.0, 1.0))
    for c in ("b", "c"):
        rows.append((f"{c}", "x", D + dt.timedelta(days=3), 1.0, 1.0))
    rows.append(("d", "x", D + dt.timedelta(days=9), 1.0, 1.0))
    df = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    out = {r.day: r for r in derive.rolling_active_coins(df).collect()}
    assert out[D].n_coins_7d == 2 and out[D].n_days_in_window == 1
    d3 = out[D + dt.timedelta(days=3)]
    assert d3.n_coins_7d == 3 and d3.n_days_in_window == 2  # a,b,c; b once
    d9 = out[D + dt.timedelta(days=9)]
    # trailing-7-DAY range = days 3..9 -> {b,c,d}; a rows-window would
    # wrongly reach back to day 0 and fail the sketch contract
    assert d9.n_coins_7d == 3 and d9.n_days_in_window == 2
    assert all(r.sketch_within_5pct for r in out.values())


def test_activity_reconciliation_trichotomy(spark):
    """Handcrafted halves: a coin active in both, one delisted after
    the first half, one newly listed in the second — each status
    emitted exactly once with zero-coalesced absent sides."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        activity_reconciliation,
    )

    T = dt.datetime(2024, 1, 1)

    def tick(c, hours, vol):
        return (c, "x", T + dt.timedelta(hours=hours), 1.0, vol)

    # span 0..10h -> integer midpoint at 5h
    rows = [
        tick("both", 0, 10.0), tick("both", 10, 20.0),
        tick("early", 1, 5.0),
        tick("late", 9, 7.0),
    ]
    df = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    out = {r.coin_id: r for r in activity_reconciliation(df).collect()}
    assert out["both"].status == "both"
    assert out["both"].n_ticks_h1 == 1 and out["both"].n_ticks_h2 == 1
    assert out["early"].status == "first_half_only"
    assert out["early"].n_ticks_h2 == 0 and out["early"].volume_h2 == 0.0
    assert out["late"].status == "second_half_only"
    assert out["late"].n_ticks_h1 == 0 and out["late"].volume_h1 == 0.0


def test_event_props_variant_extraction(spark):
    """variant_get extracts typed values; try_variant_get yields NULL
    (not an error) on a missing path for every row."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        q_event_props_variant,
    )
    # drive through the registered builder against a temp fixture dir
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="variant_fix_")
    T = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, T, 1, "view", 1.0, '{"k": 5}'),
            (2, T, 2, "view", 1.0, '{"k": 7}'),
            (3, T, 3, "click", 1.0, '{"k": -1}'),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r.event_type: r for r in q_event_props_variant(spark, d).collect()}
    assert out["view"].sum_k == 12 and out["view"].min_k == 5 and out["view"].max_k == 7
    assert out["click"].sum_k == -1
    assert out["view"].n_missing_path == 2 and out["click"].n_missing_path == 1


def test_shipping_priority_hand_built(spark):
    """Hand-checked Q3: segment filter, both date cutoffs, revenue
    aggregation, and the rounded-revenue/orderkey top-k order."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        shipping_priority,
    )

    D = dt.datetime(2024, 6, 1)
    lineitem = spark.createDataFrame(
        [
            # max shipdate D+70 -> cutoff D+10
            (1, 100.0, 0.0, D + dt.timedelta(days=20)),   # after cutoff: counts
            (1, 50.0, 0.5, D + dt.timedelta(days=30)),    # after cutoff: counts
            (1, 999.0, 0.0, D),                            # before cutoff: excluded
            (2, 10.0, 0.0, D + dt.timedelta(days=70)),    # after cutoff
            (3, 77.0, 0.0, D + dt.timedelta(days=15)),    # order not in segment
        ],
        "l_orderkey long, l_extendedprice double, l_discount double, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [
            (1, 10, D, "1-URGENT"),       # before cutoff, cust in segment
            (2, 10, D + dt.timedelta(days=5), "2-HIGH"),
            (3, 20, D, "3-MEDIUM"),       # cust NOT in segment
            (4, 10, D + dt.timedelta(days=60), "4-LOW"),  # order after cutoff
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_orderpriority string",
    )
    customer = spark.createDataFrame(
        [(10, "BUILDING"), (20, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    out = shipping_priority(lineitem, orders, customer, k=10).collect()
    rows = {r.l_orderkey: r for r in out}
    assert set(rows) == {1, 2}
    assert rows[1].revenue == round(100.0 + 25.0, 6)
    assert rows[1].o_orderpriority == "1-URGENT"
    assert rows[2].revenue == 10.0
    # ordering: revenue desc
    assert [r.l_orderkey for r in out] == [1, 2]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # user
            st.sampled_from(["view", "click", "purchase"]),  # type
            st.integers(min_value=0, max_value=30),          # hour offset
        ),
        min_size=1,
        max_size=25,
    )
)
def test_funnel_matches_bruteforce_replay(spark, events):
    """Property: the declarative funnel equals a per-user Python
    replay of first-touch semantics on random event streams
    (including tied timestamps, where both sides use min())."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        funnel,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        (i, typ, u, T + dt.timedelta(hours=h), 1.0)
        for i, (u, typ, h) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp, value double"
    )
    got = {r.stage_idx: r.n_users for r in funnel(df).collect()}

    by_user = {}
    for u, typ, h in events:
        by_user.setdefault(u, []).append((typ, h))
    want = {1: 0, 2: 0, 3: 0}
    for u, evs in by_user.items():
        t1 = min((h for t, h in evs if t == "view"), default=None)
        if t1 is None:
            continue
        want[1] += 1
        t2 = min((h for t, h in evs if t == "click" and h > t1), default=None)
        if t2 is None:
            continue
        want[2] += 1
        t3 = min((h for t, h in evs if t == "purchase" and h > t2), default=None)
        if t3 is not None:
            want[3] += 1
    assert got.get(1, 0) == want[1]
    assert got.get(2, 0) == want[2]
    assert got.get(3, 0) == want[3]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # coin
            st.integers(min_value=0, max_value=12),  # day
            st.integers(min_value=1, max_value=50),  # volume
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_ranges_partition_observed_days(spark, ticks):
    """Property: per coin, SCD2 validity ranges are disjoint, ordered,
    cover exactly the coin's observed days (counted by n_days), and
    exactly one range per coin is current."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive

    T = dt.datetime(2024, 1, 1)
    rows = [
        (f"c{c}", "x", T + dt.timedelta(days=d, hours=1), 1.0, float(v))
        for c, d, v in ticks
    ]
    df = spark.createDataFrame(
        rows,
        "coin_id string, exchange string, timestamp timestamp, price double, volume double",
    )
    out = derive.scd2_volume_tiers(df).collect()
    observed = {}
    for c, d, _ in ticks:
        observed.setdefault(f"c{c}", set()).add(d)
    per_coin = {}
    for r in out:
        per_coin.setdefault(r.coin_id, []).append(r)
    assert set(per_coin) == set(observed)
    for coin, ranges in per_coin.items():
        ranges.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ranges if r.is_current) == 1
        assert all(r.valid_from < r.valid_to for r in ranges)
        for a, b in zip(ranges, ranges[1:]):
            assert a.valid_to <= b.valid_from  # disjoint, ordered
        assert sum(r.n_days for r in ranges) == len(observed[coin])
        # the current range is the one holding the coin's last observed day
        last_day = T + dt.timedelta(days=max(observed[coin]))
        cur = next(r for r in ranges if r.is_current)
        assert cur.valid_from <= last_day < cur.valid_to


def test_event_bigrams_sequencing_and_ties(spark):
    """Transitions count per user in (ts, event_id) order — tied
    timestamps resolve by event_id, cross-user boundaries contribute
    nothing, and ranking ties break lexicographically."""
    import datetime as dt

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        event_bigrams,
    )

    T = dt.datetime(2024, 1, 1)
    rows = [
        # u1: view -> click -> click  (tie between the two clicks, ids 2<3)
        (1, "view", 1, T, 1.0),
        (2, "click", 1, T + dt.timedelta(hours=1), 1.0),
        (3, "click", 1, T + dt.timedelta(hours=1), 1.0),
        # u2: view -> click
        (4, "view", 2, T, 1.0),
        (5, "click", 2, T + dt.timedelta(hours=2), 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp, value double"
    )
    out = {(r.from_type, r.to_type): r for r in event_bigrams(df, k=10).collect()}
    assert out[("view", "click")].n_transitions == 2
    assert out[("click", "click")].n_transitions == 1
    assert len(out) == 2  # no cross-user view->view etc.
    assert out[("view", "click")].rank == 1


# ---------------------------------------------------------------------------
# Z-order layout (operators/layout.py)
# ---------------------------------------------------------------------------

def test_zorder_key_handcrafted(spark):
    """Morton interleave pinned on handcrafted values: bit i of a at
    position 2i, bit i of b at 2i+1 — z(1,0)=1, z(0,1)=2, z(1,1)=3,
    z(2,0)=4, z(3,3)=15, z(0b101, 0b011)=0b011011=27 — and the key
    orders cells so that both dimensions stay local."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import layout

    rows = [(1, 0), (0, 1), (1, 1), (2, 0), (3, 3), (5, 3)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", layout.zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    assert got == {(1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 0): 4, (3, 3): 15, (5, 3): 27}


def test_write_zordered_collapses_file_bounding_boxes(spark, tmp_path):
    """The layout claim, measured on actual parquet footers: write the
    same (a, b) grid once zordered and once round-robin-shuffled, read
    every file's per-column min/max statistics with pyarrow, and the
    zordered layout's total bounding-box AREA (sum over files of
    (a_max-a_min+1)*(b_max-b_min+1)) must collapse — tight boxes in
    BOTH dimensions are what parquet min/max pruning needs for
    predicates on either column."""
    import pyarrow.parquet as pq

    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import layout

    n = 64  # a 64x64 grid, 4096 rows
    grid = spark.range(n * n).selectExpr(
        f"cast(id % {n} as long) a", f"cast(id div {n} as long) b"
    )
    zpath, npath = str(tmp_path / "zordered"), str(tmp_path / "naive")
    layout.write_zordered(grid, F.col("a"), F.col("b"), zpath, n_files=16, bits=6)
    grid.repartition(16).write.mode("overwrite").parquet(npath)

    def bbox_area(path):
        import glob as g

        total = 0
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            lo = {"a": None, "b": None}
            hi = {"a": None, "b": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        s = col.statistics
                        lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                        hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
            if lo["a"] is not None:
                total += (hi["a"] - lo["a"] + 1) * (hi["b"] - lo["b"] + 1)
        return total

    z_area, n_area = bbox_area(zpath), bbox_area(npath)
    # naive round-robin: every file spans the whole grid, ~16 * 4096;
    # zordered: 16 contiguous Morton ranges tile the grid, ~1 * 4096
    assert z_area < n_area / 4, f"zordered {z_area} vs naive {n_area}"
    # and the rows themselves are unchanged (layout only)
    assert (
        spark.read.parquet(zpath).orderBy("a", "b").collect()
        == grid.orderBy("a", "b").collect()
    )


def test_zorder_key_bijection_and_locality(spark):
    """The Morton key is a BIJECTION on the (a, b) grid (deinterleaving
    the bits recovers both inputs exactly — checked for the full 16x16
    grid in one Spark pass) and consecutive keys differ in exactly one
    unit step of one dimension within each 2x2 quad — the locality that
    makes contiguous key ranges tight 2-D boxes."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import layout

    n = 16
    grid = spark.range(n * n).selectExpr(
        f"cast(id % {n} as long) a", f"cast(id div {n} as long) b"
    )
    rows = grid.select(
        "a", "b", layout.zorder_key(F.col("a"), F.col("b"), bits=4).alias("z")
    ).collect()
    assert len({r.z for r in rows}) == n * n  # injective on the grid
    for r in rows:
        # deinterleave: even bits -> a, odd bits -> b
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(4))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(4))
        assert (a, b) == (r.a, r.b)
    # keys 0..3 are exactly the 2x2 quad at the origin
    quad = sorted((r.a, r.b) for r in rows if r.z < 4)
    assert quad == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_large_volume_customers_broadcasts_filtered_aggregate(spark):
    """Q18's point is the plan: the HAVING-filtered aggregate must be
    BROADCAST through both dimension joins — lineitem never reaches a
    join exchange (zero sort-merge joins), and values match a pandas
    replay."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators.relational import (
        large_volume_customers,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.audit import (
        plan_features,
    )

    from conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    out = large_volume_customers(li, orders, cust, qty_threshold=100)
    feats = plan_features(out)
    assert feats["n_sortmerge_joins"] == 0, feats
    assert feats["n_broadcast_joins"] == 2, feats
    got = {(r.o_orderkey): (r.c_custkey, r.total_qty) for r in out.collect()}
    lp = li.select("l_orderkey", "l_quantity").toPandas()
    op = orders.select("o_orderkey", "o_custkey").toPandas()
    agg = lp.groupby("l_orderkey")["l_quantity"].sum()
    want_keys = set(agg[agg > 100].index)
    assert set(got) == want_keys and len(got) > 0
    omap = dict(zip(op["o_orderkey"], op["o_custkey"]))
    for k, (ck, tq) in got.items():
        assert ck == omap[k] and tq == agg[k]


def test_aqe_skew_probe_contract(spark):
    """The adaptive skew-join probe: final plan splits the straggler
    partition exactly when skewJoin is enabled, results identical in
    both modes, and session configs are restored afterwards."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.audit import aqe_skew_probe

    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = {r.mode: r for r in aqe_skew_probe(spark).collect()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    on, off = rows["skew_on"], rows["skew_off"]
    assert on.skew_split_applied and on.aqe_shuffle_reads and on.smj_in_final
    assert not off.skew_split_applied and not off.aqe_shuffle_reads
    for c in ["n_rows", "pad_chars", "tag_sum"]:
        assert getattr(on, c) == getattr(off, c)
    assert on.n_rows == 100_000


def test_price_chart_stored_pushes_endswith_into_scan(spark):
    """r12 verdict item #7: when price_chart reads the SINK-MATERIALIZED
    price_data table instead of deriving it in-plan from events, the
    entity-suffix predicate must reach the parquet reader as a pushed
    StringEndsWith filter (the in-plan derivation leaves it on a
    computed column where no scan can accept it), and the values must
    equal the in-plan price_chart exactly."""
    from conftest import SF_SMOKE

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles.serving import (
        q_price_chart,
        q_price_chart_stored,
    )

    stored = q_price_chart_stored(spark, SF_SMOKE)
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [
        ln for ln in plan.splitlines()
        if "PushedFilters" in ln and "StringEndsWith" in ln
    ]
    assert pushed, plan[:4000]
    a = (
        stored.toPandas()
        .sort_values(["exchange", "timestamp"])
        .reset_index(drop=True)
    )
    b = (
        q_price_chart(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["exchange", "timestamp"])
        .reset_index(drop=True)
    )
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_price_base_builds_no_window(spark):
    """The five-column tick base that 40 builders start from is a plain
    projection of events: its analyzed plan holds no Window node (a
    price_data window the optimizer would prune still costs its
    analysis on every build)."""
    from conftest import SF_SMOKE

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles.serving import (
        _price_base,
    )

    df = _price_base(spark, SF_SMOKE)
    assert df.columns == ["coin_id", "exchange", "timestamp", "price", "volume"]
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan, plan


def test_chart_ranges_match_oracle_over_stored_tables(spark, tmp_path):
    """price_chart and ohlc_chart over sink-written tables, for every
    time range and for a symbol with no rows, equal the registry's
    oracle SELECT with the symbol and range substituted (the registry
    itself pins only C7/1w). The range anchor is a window max with a
    non-empty partition spec: no broadcast aggregate, no
    no-partition-window warning."""
    import duckdb

    from conftest import SF_SMOKE
    from test_oracle_parity import assert_frames_match

    from etl_visualization_of_cryptocurrency_trading_data_spark import sinks
    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import load_table
    from etl_visualization_of_cryptocurrency_trading_data_spark.operators import derive
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles import (
        serving as oracle_sql,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import ORACLES

    store = str(tmp_path / "store")
    price = derive.price_data(load_table(spark, SF_SMOKE, "events"))
    tables = {"price_chart": "price_data", "ohlc_chart": "ohlc_data"}
    sinks.write_table(price, store, "price_data")
    sinks.write_table(derive.ohlc_data(price), store, "ohlc_data")
    con = duckdb.connect()
    for table in tables.values():
        con.sql(f"CREATE TABLE {table} AS SELECT * FROM read_parquet("
                f"'{store}/{table}/*/*.parquet', hive_partitioning = true)")
    ctes = {"price_chart": oracle_sql.PRICE_DATA_CTE, "ohlc_chart": oracle_sql.OHLC_CTE}
    sizes = {route: set() for route in tables}
    for route, table in tables.items():
        select = ORACLES[route].split(ctes[route], 1)[1]
        for symbol in ("C7", "C999999"):
            for time_range, hours in serving.TIME_RANGE_HOURS.items():
                got = getattr(serving, route)(
                    sinks.read_table(spark, store, table), symbol, time_range
                )
                got_pdf = got.toPandas()
                sql = (select.replace("'_C7'", f"'_{symbol}'")
                       .replace("INTERVAL 168 HOURS", f"INTERVAL {hours} HOURS"))
                assert_frames_match(got_pdf, con.sql(sql).df(),
                                    f"{route}({symbol}, {time_range})")
                if symbol == "C999999":
                    assert got_pdf.empty
                else:
                    sizes[route].add(len(got_pdf))
                plan = got._jdf.queryExecution().executedPlan().toString()
                # an empty partition spec renders as
                # windowspecdefinition(specifiedwindowframe(...))
                assert "windowspecdefinition(" in plan, plan
                assert "windowspecdefinition(specifiedwindowframe" not in plan, plan
                assert "Broadcast" not in plan, plan
    con.close()
    # the ranges really cut: each route returns at least two row counts
    assert all(len(n) > 1 for n in sizes.values()), sizes

    # a null timestamp never passes, and never becomes the anchor
    nulls = spark.createDataFrame(
        [("a_X", "a", "2024-01-02 00:00:00", 1.0), ("b_X", "b", None, 2.0),
         ("a_X", "a", "2024-01-01 23:30:00", 3.0), ("a_X", "a", "2024-01-01 22:00:00", 4.0)],
        "coin_id string, exchange string, timestamp string, price double",
    ).withColumn("timestamp", F.to_timestamp("timestamp")).withColumn("volume", F.lit(0.0))
    got = serving.price_chart(nulls, "X", "1h").select("price").collect()
    assert sorted(r.price for r in got) == [1.0, 3.0]


def _serving_frames(spark):
    """Tiny serving tables with the degenerate cases coin_table must
    resolve exactly as the oracle's row_number collapse does: a_C1 ties
    on its max timestamp in every fact table with different measures
    (the indicator tie also differs only by a null rsi_14), and carries a
    null-timestamp price row that must never win; b_C2's latest price
    ties a NaN against a number and a null; c_C3's price rows all have
    null timestamps; d_C4 has no OHLC row; e_C5 is missing from coins;
    f_C6 is in coins only."""
    ts = "coin_id string, exchange string, timestamp string"

    def frame(rows, measures):
        return spark.createDataFrame(rows, f"{ts}, {measures}").withColumn(
            "timestamp", F.to_timestamp("timestamp")
        )

    t1, t2 = "2024-01-01 00:00:00", "2024-01-01 01:00:00"
    nan = float("nan")
    price = frame(
        [("a_C1", "x", t2, 1.0, 5.0), ("a_C1", "x", t2, 2.0, 1.0),
         ("a_C1", "x", t2, 2.0, 0.5), ("a_C1", "x", t1, 9.0, 9.0),
         ("a_C1", "x", None, 99.0, 99.0),
         ("b_C2", "y", t2, 100.0, 2.0), ("b_C2", "y", t2, nan, 1.0),
         ("b_C2", "y", t2, None, 3.0),
         ("c_C3", "x", None, 1.0, 1.0), ("c_C3", "x", None, 2.0, None),
         ("d_C4", "x", t1, 1.0, 1.0), ("e_C5", "x", t1, 1.0, 1.0)],
        "price double, volume double",
    )
    ohlc = frame(
        [("a_C1", "x", t2, 1.0, 2.0, 0.5, 1.0), ("a_C1", "x", t2, 1.0, 3.0, 0.5, 1.0),
         ("a_C1", "x", t1, 7.0, 7.0, 7.0, 7.0),
         ("b_C2", "y", t1, 1.0, 1.0, 1.0, None), ("b_C2", "y", t1, 1.0, 1.0, 1.0, nan),
         ("c_C3", "x", t1, 1.0, 1.0, 1.0, 1.0), ("e_C5", "x", t1, 1.0, 1.0, 1.0, 1.0)],
        "open double, high double, low double, close double",
    )
    indicators = frame(
        [("a_C1", "x", t2, 1.0, 1.0, None, 1.0), ("a_C1", "x", t2, 1.0, 1.0, 50.0, 0.0),
         ("a_C1", "x", t2, 0.5, 9.0, 90.0, 9.0),
         ("b_C2", "y", t1, None, None, None, None),
         ("c_C3", "x", t2, 1.0, 2.0, 3.0, 4.0), ("d_C4", "x", t1, 1.0, 1.0, 1.0, 1.0),
         ("e_C5", "x", t1, 1.0, 1.0, 1.0, 1.0)],
        "sma_20 double, ema_20 double, rsi_14 double, macd double",
    )
    coins = spark.createDataFrame(
        [(f"{c}_C{i}", f"Coin {i}", f"C{i}", "y" if c == "b" else "x")
         for i, c in ((1, "a"), (2, "b"), (3, "c"), (4, "d"), (6, "f"))],
        "id string, name string, symbol string, exchange string",
    )
    return coins, price, ohlc, indicators


def test_coin_table_degenerate_inputs_match_oracle(spark):
    """coin_table's one-shuffle max(struct) collapse picks, for every
    degenerate case in _serving_frames, exactly the row the oracle's
    LATEST_CTES row_number() collapse picks in DuckDB, and keeps the
    oracle's inner-join semantics. Compared through Arrow, so a NaN and
    a null are told apart."""
    import duckdb

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles import (
        serving as oracle_sql,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import ORACLES

    frames = _serving_frames(spark)
    got = serving.coin_table(*frames).toArrow()
    con = duckdb.connect()
    for name, df in zip(("coins", "price_data", "ohlc_data", "technical_indicators"), frames):
        con.register(name, df.toArrow())
    select = ORACLES["coin_table"].split(oracle_sql.LATEST_CTES, 1)[1]
    want = con.sql("WITH " + oracle_sql.LATEST_CTES + select).arrow()
    con.close()

    def rows(table):
        cols = got.column_names
        return sorted(
            (tuple("NaN" if v != v else v for v in (r[c] for c in cols))
             for r in table.to_pylist()),
            key=lambda r: r[:4],
        )

    assert got.column_names == [
        "id", "name", "symbol", "exchange", "price_ts", "price", "volume",
        "open", "high", "low", "close", "sma_20", "ema_20", "rsi_14", "macd",
    ]
    assert rows(got) == rows(want)
    by_id = {r[0]: r for r in rows(got)}
    assert sorted(by_id) == ["a_C1", "b_C2", "c_C3"]
    assert by_id["a_C1"][5:] == (2.0, 1.0, 1.0, 3.0, 0.5, 1.0, 1.0, 1.0, 50.0, 0.0)
    assert by_id["b_C2"][5] == "NaN" and by_id["b_C2"][10] == "NaN"
    assert by_id["c_C3"][4] is None and by_id["c_C3"][5] == 2.0


def test_serving_routes_bind_parameters_and_leave_no_views(spark):
    """Every SQL serving route binds the request's values as parameter
    markers: a symbol carrying SQL text matches nothing. The temp views
    that carry the input frames into the statement are gone after each
    call, both when it returns and when it raises."""
    from pyspark.errors import AnalysisException

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving

    coins, price, ohlc, indicators = _serving_frames(spark)
    hostile = "C7' OR '1'='1"

    def views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    before = views()
    calls = {
        "price_chart": lambda sym, rng="1y": serving.price_chart(price, sym, rng),
        "ohlc_chart": lambda sym, rng="1y": serving.ohlc_chart(ohlc, sym, rng),
        "indicator_chart": lambda sym, limit=200: serving.indicator_chart(
            indicators, sym, limit),
    }
    for route, call in calls.items():
        assert call("C1").count() > 0, route
        assert views() == before, route
        assert call(hostile).count() == 0, route
        assert views() == before, route
    assert serving.coin_table(coins, price, ohlc, indicators).count() == 3
    assert views() == before

    failing = {
        "price_chart": lambda: calls["price_chart"]("C1", "2h"),
        "ohlc_chart": lambda: calls["ohlc_chart"]("C1", "2h"),
        "indicator_chart": lambda: calls["indicator_chart"]("C1", -1),
        "coin_table": lambda: serving.coin_table(
            coins, price, ohlc, indicators.drop("macd")),
    }
    for route, call in failing.items():
        with pytest.raises((KeyError, AnalysisException)):
            call()
        assert views() == before, route
