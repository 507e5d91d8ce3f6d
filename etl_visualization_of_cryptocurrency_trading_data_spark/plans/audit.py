"""Plan-shape observability: deterministic physical-plan features of
registered queries, AS A QUERY — so a plan regression (a new shuffle, a
broadcast join degrading to sort-merge, a lost latest-per-group
WindowGroupLimit) flips a driver-side oracle hash instead of hiding in
a NOTES table someone has to re-measure by hand.

Why these features: they are exactly the properties the 100 TB design
cares about (data movement count and kind, join strategy, the
WindowGroupLimit collapse that keeps latest-per-group from sorting
whole partitions), and they are DETERMINISTIC — measured identical
under the tuned session and a vanilla default-config session, and
across sf0.001/sf0.01/sf0.1, because they depend only on the logical
plan and the planner (explicit broadcast hints pin every join strategy
the audited queries use; no CBO/statistics enter). Runtime metrics
(shuffle bytes, spill) are deliberately NOT here — they are not
engine-reproducible, so they belong in bench.py, not a hash-checked
query.

Driver boundary (documented, like the stream-replay spool builders):
the plan strings are inspected driver-side and the result frame is
created from local rows — |audited queries| rows of metadata, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import scoped_conf


def plan_features(df: DataFrame) -> dict[str, int]:
    """Count plan-shape features from the physical plan's string form
    (the AQE initial plan — pre-execution, so independent of runtime
    statistics). Substring counts are stable for a pinned Spark
    version; the registered oracle pins the expected values, so a
    planner change surfaces as a hash mismatch to investigate, which
    is the intended behavior for an observability contract."""
    s = df._jdf.queryExecution().executedPlan().toString()
    return {
        "n_shuffles": (
            s.count("Exchange hashpartitioning")
            + s.count("Exchange rangepartitioning")
            + s.count("Exchange SinglePartition")
        ),
        "n_broadcasts": s.count("BroadcastExchange"),
        "n_broadcast_joins": s.count("BroadcastHashJoin")
        + s.count("BroadcastNestedLoopJoin"),
        "n_sortmerge_joins": s.count("SortMergeJoin"),
        "n_window_group_limits": s.count("WindowGroupLimit"),
    }


def aqe_skew_probe(spark: SparkSession) -> DataFrame:
    """Native AQE skew-join evidence as a driver-checked contract
    (r7 verdict stretch #8): run a deliberately skewed sort-merge join
    twice — skewJoin on and off — on a FIXED synthetic input and pin
    (a) that the adaptive path actually split the skewed partition
    (``skew=true`` + AQEShuffleRead in the FINAL adaptive plan) and
    (b) that both modes return bit-identical aggregates. This is the
    runtime-statistics twin of [[q_salted_join_skew]]'s manual
    salting: at 100 TB the same straggler partition is split by the
    engine itself, no salting code required.

    Probe design notes (each measured, see tests):
    - the hot key's shuffle payload is md5 text — an all-constant key
      column alone compresses to a few KB and stays under any
      threshold (shuffle statistics are COMPRESSED bytes);
    - the pad column is carried through the aggregate so column
      pruning cannot drop it before the exchange;
    - the post-join aggregate is GLOBAL: a per-key aggregate would
      reuse the join's hash partitioning and OptimizeSkewedJoin
      (correctly) refuses to break required distribution;
    - shuffle partitions, thresholds, and advisory size are pinned
      for each run by [[session.scoped_conf]], which restores every key
      as it found it (an unset key is unset again), so the row is
      identical under the tuned and vanilla driver sessions and at
      every sf, and the probe leaves the session's conf unchanged.

    Driver boundary (documented, like [[audit_plans]]): the probe
    executes two tiny fixed-size jobs eagerly and returns a 2-row
    metadata frame built from local rows.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }

    def run(skew_enabled: bool):
        skew = {"spark.sql.adaptive.skewJoin.enabled": str(skew_enabled).lower()}
        with scoped_conf(spark, confs | skew):
            big = spark.range(100_000).select(
                F.when(F.col("id") % 10 != 0, F.lit(0))
                .otherwise(F.col("id"))
                .alias("key"),
                F.md5(F.col("id").cast("string")).alias("pad"),
            )
            dim = (
                spark.range(0, 100_000)
                .select(F.col("id").alias("key"), (F.col("id") * 2).alias("tag"))
                .filter((F.col("key") == 0) | (F.col("key") % 10 == 0))
            )
            j = (
                big.join(dim, "key")
                .groupBy()
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(F.length("pad")).alias("pad_chars"),
                    F.sum("tag").alias("tag_sum"),
                )
            )
            row = j.collect()[0]
            final = (
                j._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
            )
            return (
                "skew_on" if skew_enabled else "skew_off",
                int(row.n_rows),
                int(row.pad_chars),
                int(row.tag_sum),
                "SortMergeJoin" in final,
                final.count("skew=true") > 0,
                final.count("AQEShuffleRead") > 0,
            )

    return spark.createDataFrame(
        [run(True), run(False)],
        "mode string, n_rows long, pad_chars long, tag_sum long,"
        " smj_in_final boolean, skew_split_applied boolean,"
        " aqe_shuffle_reads boolean",
    )


def audit_plans(spark: SparkSession, frames: dict[str, DataFrame]) -> DataFrame:
    """One row per audited query: (query, n_shuffles, n_broadcasts,
    n_broadcast_joins, n_sortmerge_joins, n_window_group_limits)."""
    rows = [(name, *plan_features(df).values()) for name, df in frames.items()]
    return spark.createDataFrame(
        rows,
        "query string, n_shuffles int, n_broadcasts int, n_broadcast_joins int,"
        " n_sortmerge_joins int, n_window_group_limits int",
    )
