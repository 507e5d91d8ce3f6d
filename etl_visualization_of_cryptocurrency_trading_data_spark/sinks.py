"""Batch sinks: the reference's Cassandra table-router re-expressed as
schema->path parquet dispatch (SURVEY §2.1 S7, §2.9 T2, §2.6 O1).

Reference behavior being re-expressed:
- ``write_to_cassandra`` routes each batch DataFrame to a table by
  COLUMN PRESENCE (reference spark-streaming.py:119-149): ``"id"`` ->
  coins, ``"price"`` -> price_data, ``"open"`` -> ohlc_data,
  ``"sma_20"`` -> technical_indicators, ``"market_cap_percentage"`` ->
  coin_market_cap. The reference's ``"ema_20"`` branch (:131-132) is
  dead code — ``"sma_20"`` at :127 always matches first — and is
  deliberately NOT reproduced.
- Upsert semantics come only from Cassandra primary-key overwrite
  (T2); our ``upsert_by_key`` makes that explicit: latest row wins per
  key, resolved by a row_number window, rewritten atomically.
- ``CLUSTERING ORDER BY (timestamp DESC)`` (O1, reference
  spark-streaming.py:74-75 etc.) becomes ``sortWithinPartitions`` on
  write so parquet row-groups are time-clustered and min/max row-group
  stats make time predicates prune I/O.

Scale notes (100 TB): fact tables append partition-by-date-style dirs
(here: by ``exchange``, the reference's physical partition key prefix);
upserts rewrite only the dimension (dimension-sized, cheap). Writes are
executor-side parquet — no driver funnel.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Routing by column presence, first match wins — reference
# spark-streaming.py:121-132 (minus its dead ema_20 branch).
ROUTES: tuple[tuple[str, str], ...] = (
    ("id", "coins"),
    ("price", "price_data"),
    ("open", "ohlc_data"),
    ("sma_20", "technical_indicators"),
    ("market_cap_percentage", "coin_market_cap"),
)

# Per-table primary keys (reference DDL spark-streaming.py:51-116).
TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "coins": ("id", "exchange"),
    "price_data": ("coin_id", "exchange", "timestamp"),
    "ohlc_data": ("coin_id", "exchange", "timestamp"),
    "technical_indicators": ("coin_id", "exchange", "timestamp"),
    "coin_market_cap": ("coin_symbol", "timestamp"),
}

# Fact tables are directory-partitioned by exchange (the reference's
# partition-key prefix); coins/mcap are dimension-sized, unpartitioned.
PARTITION_COLS: dict[str, tuple[str, ...]] = {
    "price_data": ("exchange",),
    "ohlc_data": ("exchange",),
    "technical_indicators": ("exchange",),
}


def route_table(df: DataFrame) -> str:
    """Pick the destination table for a batch by column presence."""
    cols = set(df.columns)
    for marker, table in ROUTES:
        if marker in cols:
            return table
    raise ValueError(f"no route for columns {sorted(cols)}")


def table_dir(base_dir: str, table: str) -> str:
    return os.path.join(base_dir, table)


def write_table(
    df: DataFrame,
    base_dir: str,
    table: str | None = None,
    epoch_id: int | None = None,
) -> str:
    """Append one batch to its (routed) table as time-clustered parquet.

    With ``epoch_id`` (streaming foreachBatch), the batch lands in a
    ``batch_epoch=N`` partition directory written with overwrite —
    re-running the same epoch after a failure REPLACES its output
    instead of double-appending, giving effectively-once file output
    on top of the checkpointed source offsets (T7). ``read_table``
    hides the bookkeeping column.
    """
    table = table or route_table(df)
    parts = PARTITION_COLS.get(table, ())
    out = df
    if "timestamp" in df.columns:
        out = out.sortWithinPartitions(F.desc("timestamp"))
    path = table_dir(base_dir, table)
    # Epoch and non-epoch layouts are mutually exclusive per table:
    # mixing them puts data files at two directory depths, which Spark's
    # partition discovery rejects ("Conflicting directory structures").
    has_epoch_dirs = os.path.isdir(path) and any(
        e.startswith("batch_epoch=") for e in os.listdir(path)
    )
    if epoch_id is not None:
        if os.path.isdir(path) and not has_epoch_dirs and os.listdir(path):
            raise ValueError(
                f"table {table!r} already has non-epoch data; cannot mix "
                "epoch and plain appends in one table directory"
            )
        path = os.path.join(path, f"batch_epoch={epoch_id}")
        writer = out.write.mode("overwrite")
    else:
        if has_epoch_dirs:
            raise ValueError(
                f"table {table!r} is epoch-partitioned; pass epoch_id "
                "to append (mixing layouts breaks partition discovery)"
            )
        writer = out.write.mode("append")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)
    return table


def upsert_by_key(
    df: DataFrame,
    base_dir: str,
    table: str | None = None,
    order_col: str = "timestamp",
) -> str:
    """Keyed upsert: merge the batch with the existing table, keep the
    newest row per primary key (latest ``order_col``; batch rows win
    ties), and atomically replace the table.

    This is the explicit form of the reference's rely-on-Cassandra-PK
    overwrite (T2). Intended for dimension-sized tables (``coins``);
    facts should append via ``write_table``.
    """
    table = table or route_table(df)
    keys = list(TABLE_KEYS[table])
    path = table_dir(base_dir, table)
    spark = df.sparkSession
    tagged = df.withColumn("_pref", F.lit(0))
    if os.path.isdir(path):
        existing = read_table(spark, base_dir, table).withColumn("_pref", F.lit(1))
        tagged = tagged.unionByName(existing)
    # Newest order_col wins; the batch row (_pref=0) wins exact ties.
    # order_col must come FIRST — preferring the batch outright would
    # let a replayed stale row overwrite newer data.
    order = (
        [F.col(order_col).desc(), F.col("_pref").asc()]
        if order_col in df.columns
        else [F.col("_pref").asc()]
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    latest = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pref")
    )
    _swap_into_place(path, lambda tmp: latest.write.mode("overwrite").parquet(tmp))
    return table


def _swap_into_place(path: str, write_to) -> None:
    """Atomic-swap rewrite shared by upsert_by_key and compact_table:
    materialize the new table in a staging dir (it may read from the
    live dir, so it must be written out first), then swap directories
    with two renames — readers never observe a partially rewritten
    table. Crash recovery: if the process dies between the renames,
    the complete new copy is in ._staging and the previous table in
    ._old; re-running the operation or renaming either into place
    restores service. NOT safe against a concurrently WRITING stream —
    quiesce writers first (see compact_table's docstring)."""
    tmp = path + "._staging"
    old = path + "._old"
    _rm_tree(tmp)
    _rm_tree(old)
    write_to(tmp)
    if os.path.isdir(path):
        os.replace(path, old)
    os.replace(tmp, path)
    _rm_tree(old)


def compact_table(
    spark: SparkSession,
    base_dir: str,
    table: str,
    target_rows_per_file: int = 1_000_000,
    order_col: str = "timestamp",
) -> int:
    """Small-files compaction: streaming appends land one parquet file
    per micro-batch per shuffle partition, and at scale the FILE COUNT
    (driver listing, task scheduling fan-out, open/close overhead) —
    not the byte count — becomes the read bottleneck. Rewrites the
    table as ceil(rows / target_rows_per_file) time-range-clustered
    files and atomically swaps directories (same two-rename protocol
    as upsert_by_key; readers never see a partial table). Returns the
    new file count.

    Range-partitioning on ``order_col`` (plus any table partition
    columns) keeps time-locality, so time-range queries after
    compaction skip whole files via parquet min/max stats.

    Maintenance utility, not a query: it runs a count() to size the
    output, and it REQUIRES the table's writers to be quiesced first —
    the directory swap cannot defend against a stream that writes
    between its two renames (an epoch landing mid-swap is either
    stranded in ._old or makes the final rename fail with the table
    recoverable from ._old). Stop the streaming query, compact, then
    restart. Compacting an epoch-partitioned table also FINALIZES it —
    the epoch bookkeeping is flattened away, and a RESTARTED stream
    that tries to append another epoch fails write_table's layout
    guard loudly instead of corrupting the directory.

    Rows are clustered newest-first within files (same
    ``CLUSTERING ORDER BY timestamp DESC`` re-expression as
    write_table), so compaction does not flip the documented row
    order.
    """
    import math

    path = table_dir(base_dir, table)
    df = read_table(spark, base_dir, table)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    parts = [c for c in PARTITION_COLS.get(table, ()) if c in df.columns]
    cluster = parts + ([order_col] if order_col in df.columns else [])
    out = (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster])
        if cluster
        else df.repartition(n_files)
    )
    if order_col in df.columns:
        out = out.sortWithinPartitions(F.desc(order_col))

    def write_to(tmp: str) -> None:
        writer = out.write.mode("overwrite").option(
            "maxRecordsPerFile", target_rows_per_file
        )
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(tmp)

    _swap_into_place(path, write_to)
    return sum(
        1
        for root, _, files in os.walk(path)
        for f_ in files
        if f_.endswith(".parquet")
    )


# One read relation per parquet path (absolute): the path's stamps at
# read time, the session that read it, and the frame. See
# cached_relation.
_RELATIONS: dict[str, tuple[tuple, SparkSession, DataFrame]] = {}


def _tree_stamp(path: str) -> tuple:
    """``(path, st_ino, st_mtime_ns)`` of every directory in the table
    tree, in walk order; ``(path, st_ino, st_mtime_ns, st_size)`` of a
    single-file table; empty for a missing table."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return ()
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_ino, st.st_mtime_ns, st.st_size),)
    stamp = []
    for root, _, _ in os.walk(path):
        try:
            st = os.stat(root)
        except FileNotFoundError:  # removed mid-walk: the stamp moves anyway
            continue
        stamp.append((root, st.st_ino, st.st_mtime_ns))
    return tuple(stamp)


def cached_relation(
    spark: SparkSession, path: str, read: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``read()`` builds for the parquet table at ``path``,
    kept for later calls while the table is unchanged.

    A parquet read costs a schema-inference job and a file listing, and
    on a small read both cost more than the scan. So the whole relation
    (the frame with its inferred schema and its file listing) is kept,
    keyed on the absolute path, and a later call in the same session
    returns that frame while the table is unchanged: every directory in
    its tree has the ``(st_ino, st_mtime_ns)`` it had when the frame was
    read, or a single-file table has the same inode, mtime and size.
    Adding, removing or renaming a file or directory anywhere in a tree
    changes its parent directory's stamp, so every writer here
    invalidates the entry: a new ``exchange=``/``batch_epoch=``
    partition, the files and ``_temporary`` churn of an append into an
    existing partition, and the directory swap of
    ``upsert_by_key``/``compact_table``. So does a file dropped into a
    partition by hand, and a single file replaced or rewritten. A call
    from another session reads afresh, so the frame always belongs to
    the session that asked for it. One path has one reader: the entry
    keeps whichever ``read`` filled it.

    Callers share the returned frame, so two calls give the same
    attribute ids; join two reads of one table the way a self-join of
    one frame is joined (aliases, or columns derived per side).

    Blind spots: a file of a directory tree rewritten in place under an
    existing name (no directory entry changes) is not seen until some
    other change, and neither is a change made in the same file-system
    timestamp tick (a few ms on ext4) as an earlier change the read
    already saw, unless it changes a single file's size.
    """
    path = os.path.abspath(path)
    # Stamp before reading: a rewrite that races the read leaves an
    # entry whose stamp no longer matches, so it is never served.
    stamp = _tree_stamp(path)
    hit = _RELATIONS.get(path)
    if hit is not None and hit[0] == stamp and hit[1] is spark:
        return hit[2]
    df = read()
    _RELATIONS[path] = (stamp, spark, df)
    return df


def read_table(spark: SparkSession, base_dir: str, table: str) -> DataFrame:
    """Read a table written by the writers above, through
    [[cached_relation]]: a later read of the unchanged table returns the
    same frame."""
    path = os.path.abspath(table_dir(base_dir, table))

    def read() -> DataFrame:
        df = spark.read.option("basePath", path).parquet(path)
        if "batch_epoch" in df.columns:  # epoch bookkeeping, not user data
            df = df.drop("batch_epoch")
        return df

    return cached_relation(spark, path, read)


def _rm_tree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """Per-process scratch directory under the system tempdir:
    ``/tmp/{prefix}_{pid}`` — concurrent sessions (a driver run next to
    a pytest parity run) never race on a shared path. Before returning,
    same-prefix orphans from DEAD processes are swept so long-lived
    hosts don't accumulate one dir per past run (ADVICE r11), scoped to
    dirs owned by THIS uid and older than an hour (ADVICE r12: a
    multi-user host may hold another user's same-named dirs, and PID
    reuse can make a just-forked process "own" a dead session's number
    — a fresh dir is never an orphan, a true orphan is swept once it
    ages past the threshold). Live PIDs are never touched; the sweep
    runs only where /proc exists. The caller owns cleanup of the
    returned dir (or leaves it for a later run's sweep)."""
    import shutil
    import tempfile
    import time

    tmp = tempfile.gettempdir()
    if os.path.isdir("/proc"):
        for d in os.listdir(tmp):
            if not (d.startswith(prefix + "_")):
                continue
            pid = d.rsplit("_", 1)[-1]
            path = os.path.join(tmp, d)
            try:
                st = os.stat(path)
            except OSError:
                continue
            if (
                pid.isdigit()
                and int(pid) != os.getpid()
                and not os.path.exists(f"/proc/{pid}")
                and st.st_uid == os.getuid()
                and time.time() - st.st_mtime > 3600
            ):
                shutil.rmtree(path, ignore_errors=True)
    out = os.path.join(tmp, f"{prefix}_{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    return out

