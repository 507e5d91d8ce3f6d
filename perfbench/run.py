"""Engine benchmark: one workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload serve|replay --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench/`` (with every temp, spill and checkpoint dir), the
engine runs on ``local[<cores>]``, and the last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: process start to ready-to-time (session, input
  generation and store build, warm-up);
- ``pass_s``: median time of one pass, summed over its operations
  (serve: one dashboard view of five requests; replay: the three
  replays);
- ``latency_p50_ms``: median per-operation latency. On serve, over
  every request; on replay, per replay (see ``replay.latency``).

The tail latency (on serve the highest of p50/p75/p90/p95/p99/p99.9
with at least ten samples beyond it) is printed on the line before the
JSON and kept in the run log, but it is not one of the metrics: over ten
seeds its spread was wider than any bound the metrics may have.

With ``--trace 1`` the timed window runs blocks of untraced, traced,
traced and untraced passes, spans are recorded around the calls into
each layer (and around package functions wrapped for the traced passes
only), and the per-layer metrics are printed instead, including each
layer's self time per pass and the tracing overhead on ``pass_s``. A
metric of a layer the workload never enters reads 0. Spans and the
per-operation log (with the leak counters taken after every operation)
are written to ``.perfbench/`` at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("serve", "replay")
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "setup.data_s": "s",
    "setup.warmup_s": "s",
    "pass.first_over_last": "ratio",
    "sinks.read_table_ms": "ms",
    "sinks.write_table_ms": "ms",
    "sinks.upsert_by_key_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    **{f"serve.route.{r}.p50_ms": "ms" for r in
       ("price_chart", "ohlc_chart", "indicator_chart", "market_cap_chart", "coin_table")},
    "serve.plan_ms": "ms",
    "serve.exec_ms": "ms",
    "serve.tasks_per_request": "count",
    "serve.rows_returned": "count",
    "latest.latest_per_group_ms": "ms",
    **{f"replay.{r}_s": "s" for r in
       ("ohlc_stream_replay", "spread_stream_replay", "recovery_stream_replay")},
    "replay.exec_ms": "ms",
    "replay.batches": "count",
    "replay.input_rows": "count",
    "replay.state_rows": "count",
    **{f"replay.{k}_ms": "ms" for k in
       ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
        "triggerExecution")},
    "replay.jobs": "count",
    "replay.tasks": "count",
    "replay.views_left": "count",
    "replay.streams_left": "count",
    "replay.rdds_left": "count",
    "host.jvm_ms": "ms",
    "host.py_ms": "ms",
    **{f"self.{layer}_ms": "ms" for layer in
       ("client", "sinks", "serving", "latest", "replay_harness", "replay_scan", "pipeline")},
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}
# Layer of each span name (first match on the name's prefix), for the
# per-layer self time of one traced pass.
LAYERS = {
    "serve.request": "client",
    "serve.plan": "serving",
    "serve.exec": "serving",
    "sinks.": "sinks",
    "latest.": "latest",
    "replay.exec": "replay_scan",
    "replay.": "replay_harness",
    "pipeline.": "pipeline",
}
OP_TIMEOUT_S = 60


class Context:
    """What a workload module gets: the session, the tracer, the timed
    loop, and the lists it fills (operations, checks, set-up parts)."""

    def __init__(self, args, work: str, module) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work, self.module = work, module
        self.tracer = Tracer()
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.setup: dict[str, float] = {}
        self.passes: list[tuple[bool, float]] = []
        self.warmup_curve: list[float] = []
        self.input_size = ""
        self.setup_s = 0.0
        self.check_s = 0.0
        self.spark = None

    def start(self) -> None:
        t0 = time.perf_counter()
        self.spark = harness.start_spark(self.work)
        self.setup["session.start_s"] = time.perf_counter() - t0
        self.watchdog = harness.Watchdog(self.spark, OP_TIMEOUT_S)
        self.set_traced(True)  # a traced run traces its set-up too

    def set_traced(self, on: bool) -> None:
        if not self.trace:
            return
        self.tracer.on = on
        self.tracer.unwrap()
        if on:
            for module, names, prefix, count in self.module.WRAP:
                self.tracer.wrap(module, names, prefix, count)

    def warm_up(self, one_pass, passes: int) -> None:
        """Set-up's last part: ``passes`` untimed passes of the timed
        window's own work, each pass's time kept as the warm-up curve.
        The run is ready to time when it returns."""
        t0 = time.perf_counter()
        for _ in range(passes):
            self.warmup_curve.append(sum(op["latency_s"] for op in one_pass(False)))
        self.setup["setup.warmup_s"] = time.perf_counter() - t0
        self.set_traced(False)
        self.setup_s = time.perf_counter() - T_START
        self.tracer.mark()

    def timed_passes(self, one_pass, min_passes: int) -> None:
        """Untraced: passes until ``seconds`` have elapsed, at least
        ``min_passes``. Traced: blocks of untraced, traced, traced,
        untraced passes (about ``min_passes`` in all), so linear host
        drift cancels out of the tracing overhead."""

        def run(traced: bool) -> None:
            ops = one_pass(traced)
            self.ops.extend(ops)
            self.passes.append((traced, sum(op["latency_s"] for op in ops)))

        if self.trace:
            for traced in (False, True, True, False) * max(1, round(min_passes / 4)):
                run(traced)
            return
        t0 = time.perf_counter()
        while len(self.passes) < min_passes or time.perf_counter() - t0 < self.seconds:
            run(False)


def pooled_latency(ops: list[dict]) -> tuple[float, float, str]:
    """Median and tail over every operation of the timed window."""
    ms = [op["latency_s"] * 1000 for op in ops]
    tail, pct, n = harness.tail(ms)
    return harness.median(ms), tail, f"p{pct:g} of {n} requests"


def end_to_end(ctx) -> tuple[dict, float, str]:
    ok = [op for op in ctx.ops if not op["traced"] and not op["error"]]
    if not ok:
        raise SystemExit("no operation succeeded in the timed window")
    p50, tail, about = getattr(ctx.module, "latency", pooled_latency)(ok)
    values = {
        "setup_s": ctx.setup_s,
        "pass_s": harness.median([s for traced, s in ctx.passes if not traced]),
        "latency_p50_ms": p50,
    }
    return values, tail, about


def per_layer(ctx, layers: dict) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(ctx.setup)
    out.update(layers)
    untraced = [s for traced, s in ctx.passes if not traced]
    out["pass.first_over_last"] = untraced[0] / untraced[-1]
    traced = [s for traced, s in ctx.passes if traced]
    if untraced and traced:
        out["trace.overhead_pct"] = 100.0 * (harness.median(traced) / harness.median(untraced) - 1)
    out["trace.spans"] = len(ctx.tracer.spans)
    n_traced = max(1, len(traced))
    for layer, spent in ctx.tracer.layer_self_times(LAYERS).items():
        out[f"self.{layer}_ms"] = 1000 * spent / n_traced
    out.update(ctx.tracer.counters)
    out.update(harness.host_stamp(ctx.spark))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise SystemExit(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out_dir = os.path.join(harness.ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    ctx = None
    try:
        harness.prepare_env(work)
        ctx = Context(args, work, importlib.import_module(args.workload))
        ctx.start()
        layers = ctx.module.run(ctx)
        values, tail, about = end_to_end(ctx)
        metrics = per_layer(ctx, layers) if ctx.trace else values
        units = PER_LAYER if ctx.trace else END_TO_END
    finally:
        if ctx is not None and ctx.spark is not None:
            ctx.tracer.unwrap()
            harness.stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [op for op in ctx.ops if op["error"]] + [c for c in ctx.checks if c["error"]]
    attempted = len(ctx.ops) + len(ctx.checks)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    log = {
        "workload": args.workload, "seed": args.seed, "input": ctx.input_size,
        "clients": 1, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "setup": {**ctx.setup, "setup_s": ctx.setup_s, "warmup_curve_s": ctx.warmup_curve},
        "passes": ctx.passes, "check_s": ctx.check_s,
        "total_s": time.perf_counter() - T_START, "end_to_end": values,
        "latency_tail_ms": tail, "latency_tail": about,
        "metrics": metrics,
        "checks": ctx.checks,
        "ops": [{k: v for k, v in op.items() if k not in ("rows", "cols")} for op in ctx.ops],
    }
    with open(stem + ".json", "w") as f:
        json.dump(log, f, indent=1, default=str)
    if ctx.trace:
        ctx.tracer.dump(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})
    for err in failed[:5]:
        print(f"failed: {err}", file=sys.stderr)
    print(
        f"{args.workload}: input {ctx.input_size}; 1 closed-loop client; "
        f"latency tail {tail:.1f} ms ({about}); setup {json.dumps(log['setup'])}"
    )
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
