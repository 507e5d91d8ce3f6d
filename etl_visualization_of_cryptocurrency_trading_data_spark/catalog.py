"""Fixture-table catalog.

One canonical loader per driver-generated parquet table (TESTDATA.md).
Parquet is self-describing, so there is no duplicated schema declaration
(the reference declares every schema three times — Cassandra DDL at
spark-streaming.py:51-116, StructTypes at :216-267, producer dicts at
dags/crypto_data_streaming.py:73-112; we keep exactly one source of truth).

At 100 TB each of these becomes a partitioned table/dataset behind the
same name; callers only ever see a DataFrame, so the storage layout can
change without touching any operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sinks

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning + predicate pushdown into
    the parquet scan are Catalyst's job — callers just select/filter.

    SIDE EFFECT (part of the public contract, ADVICE r4): every call
    pins two session-level runtime confs —
    ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` — for the REST of the session,
    because the engine's timestamp semantics (NTZ→LTZ cast below,
    epoch math vs the DuckDB oracles) are only correct under UTC.
    Done per-load, not only in session.py, because the driver harness
    supplies its own SparkSession. A caller that had set a different
    session TZ gets a ``UserWarning`` instead of a silent override.
    These are the package's only conf sets outside
    [[session.scoped_conf]], and no scope can hold them: the returned
    frame is lazy, and the parquet reader reads ``nanosAsLong`` when the
    caller later plans an action on it, after this call has returned.

    Timestamp normalization: the driver's fixture encoding for
    ``events.ts`` has changed across rounds — parquet TIMESTAMP(NANOS)
    (no native Spark type → int64 nanos under the legacy conf, truncated
    here to micros with integer ``div``; int64 epoch-nanos exceed
    double's 2^53 exact range, so never float-divide), then plain
    ``timestamp[us]`` with no UTC flag, which Spark 4 reads as
    TIMESTAMP_NTZ and forbids casting to numeric. Every timestamp column
    is therefore canonicalized HERE to session-TZ TIMESTAMP (LTZ), and
    the session TZ is pinned to UTC so the NTZ→LTZ cast is
    value-preserving and epoch math matches DuckDB's naive-as-UTC
    semantics.
    ``tests/test_sql_api.py::test_fixture_timestamp_dtypes`` is the
    canary that fails loudly if the encoding changes again.

    Relation cache: the normalized frame is kept by
    [[sinks.cached_relation]] (the read cache ``sinks.read_table`` uses),
    so a later call for the same unchanged table in the same session
    returns the same frame with no listing and no schema-inference job
    (~100 ms of a ~190 ms ``_price_base`` build at sf0.01 on 4 cores;
    a hit costs under 1 ms). The two conf pins above still run on every
    call, before the lookup, so a cached frame is always read under the
    confs it was normalized with. Blind spots are the cache's: a fixture
    directory whose part file is rewritten in place under its name, or a
    change within one file-system timestamp tick, is served stale until
    some other change; a replaced or rewritten single-file table is
    seen. Callers share the frame, so two calls give the same attribute
    ids (join them as a self-join).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # session-lifetime pins, not call-scoped: the reader reads them when
    # the caller plans an action on the lazy frame (see docstring)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    # JVM default in a UTC container is "Etc/UTC" — same zone, don't warn
    if tz not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone=UTC for the rest"
            f" of the session (was {tz!r}); the engine's timestamp"
            " semantics require UTC",
            UserWarning,
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        dtypes = dict(df.dtypes)
        if name == "events" and dtypes.get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        for col, dt in dtypes.items():
            if dt == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        return df

    return sinks.cached_relation(spark, path, read)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by its join
    keys — the co-located-join layout for 100 TB fact-to-fact joins.

    Two tables bucketed by the same keys into the same bucket count
    join with ZERO Exchange on either side (bucketing pre-applies the
    hash partitioning at write time, amortized across every later join
    or aggregation on those keys), and matching ``sortBy`` also removes
    the per-task Sort of a sort-merge join. ``test_bucketed_join_plan``
    pins the no-Exchange plan. Only ``saveAsTable`` supports bucket
    metadata (the bucketing spec lives in the catalog, not the files).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def create_crypto_database(
    spark: SparkSession,
    sf_dir: str,
    database: str = "crypto_analysis",
    location: str | None = None,
) -> None:
    """Materialize the reference's five-table keyspace (S8 parity:
    CREATE KEYSPACE/TABLE IF NOT EXISTS, reference spark-streaming.py:
    41-116) as a Spark SQL database of managed parquet tables, queryable
    as ``<database>.<table>`` from any SQL client of this session.

    The derived ``price_data`` feeds four of the five tables, so it is
    persisted for the duration of the writes — each ``saveAsTable`` is
    an executor-side parquet write reading the cached price rows, not a
    re-execution of the events scan + window pass. Facts are
    partitioned by exchange (the reference's partition-key prefix).
    """
    from .operators import derive
    from .operators.indicators import technical_indicators

    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")
    events = load_table(spark, sf_dir, "events")
    price = derive.price_data(events).persist()
    try:
        tables: dict[str, tuple[DataFrame, tuple[str, ...]]] = {
            "coins": (derive.coins(events), ()),
            "price_data": (price, ("exchange",)),
            "ohlc_data": (derive.ohlc_data(price), ("exchange",)),
            "technical_indicators": (technical_indicators(price), ("exchange",)),
            "coin_market_cap": (derive.coin_market_cap(price), ()),
        }
        for name, (df, parts) in tables.items():
            writer = df.write.mode("overwrite")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.saveAsTable(f"{database}.{name}")
    finally:
        price.unpersist()
