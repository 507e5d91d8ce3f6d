"""``replay``: the registry's ``*_stream_replay`` builders.

Three spool-fed drain shapes, each timed from the builder call (the
stream runs inside it) to a ``noop`` write of the returned frame:

- ``ohlc_stream_replay``: sentinel spool drained into a memory sink;
- ``spread_stream_replay``: stream-stream join;
- ``recovery_stream_replay``: multi-wave drain resumed from a checkpoint.

The ``foreachBatch`` shape (``media_dedup_stream_replay``, 6-8 s warm)
and the Python DataSource (``restfeed_stream_replay``, ~11 s) do not fit
the run's time budget. A pass is the three in this order. Set-up runs
one warm-up pass: on 4 cores the first pass took 17-31 s and the second
8.9-14.4 s, already within the spread of the passes after it. The timed
window runs passes until ``--seconds`` have elapsed, and at least three.
Every timed result is checked against the registry's DuckDB oracle for
that replay.
"""

from __future__ import annotations

import os
import time

import datagen
import harness
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import ORACLES, QUERIES
from etl_visualization_of_cryptocurrency_trading_data_spark.streaming import pipeline

SF = 0.01
REPLAYS = (
    "ohlc_stream_replay",
    "spread_stream_replay",
    "recovery_stream_replay",
)
PROGRESS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
            "triggerExecution")
WARMUP_PASSES = 1
MIN_PASSES = 3


class Progress:
    """StreamingQueryListener that folds micro-batch progress into
    per-pass sums (registered in the traced run only)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        acc = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                acc.batches += 1
                acc.input_rows += p.numInputRows
                for k in PROGRESS:
                    acc.ms[k] += p.durationMs.get(k, 0)
                acc.state_rows = max(
                    [acc.state_rows] + [s.numRowsTotal for s in p.stateOperators])

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.reset()

    def reset(self) -> None:
        self.batches = self.input_rows = self.state_rows = 0
        self.ms = dict.fromkeys(PROGRESS, 0)

    def snapshot(self) -> dict:
        return {"batches": self.batches, "input_rows": self.input_rows,
                "state_rows": self.state_rows, **{f"{k}_ms": v for k, v in self.ms.items()}}


def run(ctx) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    data_dir = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    with tracer.span("setup.data"):
        ticks = datagen.write_events(data_dir, ctx.seed, SF)
    ctx.setup["setup.data_s"] = time.perf_counter() - t0
    progress = None
    if ctx.trace:
        progress = Progress()
        spark.streams.addListener(progress.listener)
    results: dict[str, list] = {name: [] for name in REPLAYS}

    def one_pass(traced: bool):
        ctx.set_traced(traced)
        if progress:
            progress.reset()
        out = []
        for name in REPLAYS:
            group = f"replay-{len(ctx.ops)}-{name}"
            if traced:
                spark.sparkContext.setJobGroup(group, name)
            err, df = None, None
            start = time.perf_counter()
            try:
                with ctx.watchdog:
                    with tracer.span(f"replay.{name}"):
                        df = QUERIES[name](spark, data_dir)
                    built = time.perf_counter()
                    with tracer.span("replay.exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001 - one failure never aborts the run
                err, built = f"{type(e).__name__}: {e}"[:300], time.perf_counter()
            end = time.perf_counter()
            op = {"replay": name, "latency_s": end - start, "build_s": built - start,
                  "error": err, "traced": traced}
            if traced:
                op.update(harness.job_counts(spark, group))
            if df is not None and not err:
                results[name].append((op, df.toPandas()))
            op.update(harness.leak_counts(spark))
            out.append(op)
        if progress:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            out[-1]["progress"] = progress.snapshot()
        ctx.set_traced(False)
        return out

    ctx.warm_up(one_pass, WARMUP_PASSES)
    for name in REPLAYS:
        results[name].clear()
    ctx.timed_passes(one_pass, MIN_PASSES)
    ctx.input_size = f"sf{SF}: {ticks} ticks"
    t0 = time.perf_counter()
    check(ctx, data_dir, results)
    ctx.check_s = time.perf_counter() - t0
    if progress:
        spark.streams.removeListener(progress.listener)
    return layer_metrics(ctx)


def latency(ops: list[dict]) -> tuple[float, float, str]:
    """Per replay, not pooled: the three replays are three cost modes
    with few calls each, so a pooled percentile would land on whichever
    mode boundary the call times put it. Each replay's typical call is
    the median of its calls; ``latency_p50_ms`` is the middle one of the
    three, and the tail the slowest."""
    per = sorted(
        (harness.median([op["latency_s"] * 1000 for op in ops if op["replay"] == name]), name)
        for name in REPLAYS
    )
    calls = min(sum(op["replay"] == name for op in ops) for name in REPLAYS)
    return (per[len(per) // 2][0], per[-1][0],
            f"median call of {per[-1][1]}, >= {calls} calls per replay")


def check(ctx, data_dir: str, results: dict) -> None:
    import duckdb

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    for name, runs in results.items():
        if not runs:
            continue
        want = con.sql(ORACLES[name]).df()
        for op, got in runs:
            diff = harness.frames_match(got, want)
            if diff:
                op["error"] = f"output check: {diff}"
    con.close()


def layer_metrics(ctx) -> dict[str, float]:
    tr = ctx.tracer
    traced = [op for op in ctx.ops if op["traced"]]
    ok = [op for op in traced if not op["error"]]
    out = {
        f"replay.{name}_s": harness.median(
            [op["latency_s"] for op in ok if op["replay"] == name])
        for name in REPLAYS
    }
    passes = [op["progress"] for op in traced if "progress" in op]
    for key in ["batches", "input_rows", "state_rows"] + [f"{k}_ms" for k in PROGRESS]:
        out[f"replay.{key}"] = harness.median([p[key] for p in passes])
    out["replay.exec_ms"] = harness.median([d * 1000 for d in tr.durations("replay.exec")])
    out["replay.jobs"] = harness.median([op["jobs"] for op in traced])
    out["replay.tasks"] = harness.median([op["tasks"] for op in traced])
    last = traced[-1] if traced else {}
    for key in ("views_left", "streams_left", "rdds_left"):
        out[f"replay.{key}"] = last.get(key, 0)
    return out


WRAP = [
    (pipeline, ["read_price_stream", "ohlc_stream", "cross_exchange_stream_join"], "pipeline",
     None),
]
