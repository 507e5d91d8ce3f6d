"""Shared plumbing: the Spark session inside the checkout, statistics,
leak counters, job/task counts, the host stamp and output comparison."""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time
import timeit

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def prepare_env(work: str) -> int:
    """Point every temp/scratch location at ``work`` (inside the
    checkout) and return the core count the session will use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # the short-lived JVM spark-submit runs to build the driver's
        # command line would otherwise write its perf data under /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TZ="UTC",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def start_spark(work: str):
    """The engine's own session, with its scratch inside ``work``.

    The JVM runs its client compiler only (``TieredStopAtLevel=1``).
    With the default tiered C2 compiler a serve view on 4 cores went
    9.0, 6.6, 4.8, 4.6, 3.6 s and was still drifting between 2.2 and
    3.3 s a minute in; with C1 alone it went 3.0, 2.5, 2.4 s and then
    held at about 2.1 s. The optimising compiler's threads compete with
    the executors for the same few cores for longer than a run lasts.
    """
    from etl_visualization_of_cryptocurrency_trading_data_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
                "-XX:TieredStopAtLevel=1"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin and proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


# -- statistics ------------------------------------------------------------


def median(values: list[float]) -> float:
    """Median; 0.0 for a layer the workload never entered."""
    return float(np.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest ladder percentile with at least ten samples beyond
    it: (value, percentile, samples). With fewer than twenty samples no
    percentile qualifies and the slowest sample is reported as p100."""
    n = len(values)
    pct = 100.0
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            pct = p
    return float(np.percentile(values, pct)), pct, n


# -- leak counters and job counts -----------------------------------------


def leak_counts(spark) -> dict[str, int]:
    """Temp views, active streams and RDDs still persisted after
    ``clearCache()`` — what an operation left behind in the session.
    Temp views are counted straight from the session catalog: the same
    set ``spark.catalog.listTables()`` marks temporary, at under 1 ms
    instead of ~200 ms a call."""
    spark.catalog.clearCache()
    return {
        "views_left": spark._jsparkSession.sessionState().catalog()
        .listLocalTempViews("*").size(),
        "streams_left": len(spark.streams.active),
        "rdds_left": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def job_counts(spark, group: str) -> dict[str, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = tracker.getStageInfo(s)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Watchdog:
    """Cancels the running Spark jobs and streams of an operation that
    outlives its deadline, so it fails instead of hanging the run."""

    def __init__(self, spark, timeout_s: float) -> None:
        self.spark, self.timeout_s = spark, timeout_s

    def __enter__(self):
        self._timer = threading.Timer(self.timeout_s, self._fire)
        self._timer.daemon = True
        self._timer.start()
        return self

    def _fire(self) -> None:
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


def host_stamp(spark) -> dict[str, float]:
    """A fixed JVM aggregate and a fixed Python loop, median of three,
    so host drift can be told apart from program drift."""
    plan = spark.range(20_000_000).selectExpr("sum(id * 2 + 1)")
    plan.collect()
    jvm = []
    for _ in range(3):
        t0 = time.perf_counter()
        plan.collect()
        jvm.append((time.perf_counter() - t0) * 1000)
    py = [timeit.timeit("sum(i * i for i in range(200000))", number=5) * 1000 for _ in range(3)]
    return {"host.jvm_ms": median(jvm), "host.py_ms": median(py)}


# -- output comparison ----------------------------------------------------


def canon(pdf: pd.DataFrame, sort: bool = True) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_localize(None)
            pdf[c] = col.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(col):
            pdf[c] = col.astype("int64")
        elif col.dtype == object and col.map(lambda v: hasattr(v, "isoformat")).any():
            pdf[c] = pd.to_datetime(col).astype("datetime64[us]")
    if sort and len(pdf.columns):
        pdf = pdf.sort_values(list(pdf.columns), na_position="last")
    return pdf.reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, sort: bool = True) -> str | None:
    """None when equal: non-float columns exactly, floats at rtol 1e-9.
    Otherwise a short description of the first difference."""
    got, want = canon(got, sort), canon(want, sort)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            if not np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True).all():
                return f"column {c}: float values differ"
        elif not (a.astype(object).where(a.notna(), None).tolist()
                  == b.astype(object).where(b.notna(), None).tolist()):
            return f"column {c}: values differ"
    return None


def rows_frame(rows, columns: list[str]) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
