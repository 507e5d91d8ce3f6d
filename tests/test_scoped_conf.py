"""Every call-scoped conf pin leaves the session's conf as it found it,
also when the body raises: ``session.scoped_conf`` itself, the small-loop
pin of the iterative operators, and the AQE skew probe. "As it found
it" is read with ``spark.conf.get(key, None)``, so a key that was unset
must be unset again, not set to its default (nor, for a fallback key,
to its parent key's value)."""

from __future__ import annotations

import pytest

from etl_visualization_of_cryptocurrency_trading_data_spark.operators._loopconf import (
    SMALL_LOOP_ROWS,
    pinned_small_loop,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.audit import aqe_skew_probe
from etl_visualization_of_cryptocurrency_trading_data_spark.session import scoped_conf

PARTITIONS = "spark.sql.shuffle.partitions"  # set by the test session
AQE = "spark.sql.adaptive.enabled"  # set by the test session
FACTOR = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"  # has a default
# a fallback key: while unset it reads as its parent key's value
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
ADVISORY_PARENT = "spark.sql.adaptive.shuffle.targetPostShuffleInputSize"


def _conf(spark, keys):
    return {k: spark.conf.get(k, None) for k in keys}


def test_scoped_conf_set_over_set(spark):
    before = _conf(spark, [PARTITIONS])
    assert before[PARTITIONS] is not None
    with scoped_conf(spark, {PARTITIONS: "7"}):
        assert spark.conf.get(PARTITIONS, None) == "7"
    assert _conf(spark, [PARTITIONS]) == before


def test_scoped_conf_set_over_unset_restores_unset(spark):
    before = _conf(spark, [FACTOR])
    with scoped_conf(spark, {FACTOR: None}):
        assert spark.conf.get(FACTOR, None) is None
        with scoped_conf(spark, {FACTOR: "3.0"}):
            assert spark.conf.get(FACTOR, None) == "3.0"
        assert spark.conf.get(FACTOR, None) is None
    assert _conf(spark, [FACTOR]) == before


def test_scoped_conf_unset_over_set(spark):
    before = _conf(spark, [PARTITIONS])
    with scoped_conf(spark, {PARTITIONS: None}):
        assert spark.conf.get(PARTITIONS, None) is None
    assert _conf(spark, [PARTITIONS]) == before


def test_scoped_conf_restores_when_body_raises(spark):
    with scoped_conf(spark, {FACTOR: None}):
        before = _conf(spark, [PARTITIONS, FACTOR])
        with pytest.raises(RuntimeError, match="body failed"):
            with scoped_conf(spark, {PARTITIONS: "7", FACTOR: "3.0"}):
                assert _conf(spark, [PARTITIONS, FACTOR]) == {
                    PARTITIONS: "7",
                    FACTOR: "3.0",
                }
                raise RuntimeError("body failed")
        assert _conf(spark, [PARTITIONS, FACTOR]) == before


def test_scoped_conf_restores_unset_fallback_key_under_set_parent(spark):
    with scoped_conf(spark, {ADVISORY: None, ADVISORY_PARENT: "1m"}):
        assert ADVISORY not in spark.conf.getAll
        assert spark.conf.get(ADVISORY, None) == "1m"
        with scoped_conf(spark, {ADVISORY: "2m"}):
            assert spark.conf.get(ADVISORY, None) == "2m"
        assert ADVISORY not in spark.conf.getAll
        assert spark.conf.get(ADVISORY, None) == "1m"


@pytest.mark.parametrize(
    "n_rows, engaged, raises",
    [
        (1_000, True, False),
        (1_000, True, True),
        (SMALL_LOOP_ROWS, False, False),
        (SMALL_LOOP_ROWS, False, True),
    ],
)
def test_pinned_small_loop_leaves_conf_as_found(spark, n_rows, engaged, raises):
    """With AQE unset first (the vanilla-session case), an engaged pin
    must restore it as unset rather than as its default ``true``."""
    with scoped_conf(spark, {AQE: None}):
        before = _conf(spark, [AQE, PARTITIONS])
        assert before[AQE] is None
        try:
            with pinned_small_loop(spark, n_rows) as pinned:
                assert pinned is engaged
                inside = _conf(spark, [AQE, PARTITIONS])
                if engaged:
                    assert inside == {AQE: "false", PARTITIONS: "1"}
                else:
                    assert inside == before
                if raises:
                    raise RuntimeError("loop failed")
        except RuntimeError as e:
            assert raises and str(e) == "loop failed"
        assert _conf(spark, [AQE, PARTITIONS]) == before


def test_aqe_skew_probe_leaves_conf_as_found(spark):
    """All eight keys the probe pins, with the session's own values for
    five of them and the three size thresholds unset."""
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    ]
    unset = {k: None for k in keys[3:6]}
    with scoped_conf(spark, unset):
        before = _conf(spark, keys)
        assert [k for k, v in before.items() if v is None] == list(unset)
        rows = aqe_skew_probe(spark).collect()
        assert [r.mode for r in rows] == ["skew_on", "skew_off"]
        assert _conf(spark, keys) == before
