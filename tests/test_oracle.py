"""Differential tests: every registered query vs its DuckDB oracle.

This mirrors the driver's correctness gate (sf0.01) at sf0.001 for
fast local iteration; the comparison logic is scale-invariant.
"""

from __future__ import annotations

import pytest

from cdc_debezium_spark import registry
from cdc_debezium_spark.testing import compare_query

registry.load_all()

ORACLE_KEYS = sorted(registry.ORACLES)
FAKE_KEY = "fake_compare_key"


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_match(spark, sf_dir, key):
    compare_query(spark, key, sf_dir)


def test_every_query_has_callable():
    assert registry.QUERIES, "registry must not be empty"
    for key in registry.ORACLES:
        assert key in registry.QUERIES


def test_every_key_has_oracle():
    assert list(registry.ORACLES) == list(registry.QUERIES)


def test_harness_rejects_hugeint_drift(spark, sf_dir):
    """A deliberately uncast HUGEINT oracle must fail locally — this is
    the exact class that slipped through to the driver in r1/r2
    (sum(BIGINT) -> HUGEINT -> pandas float64 vs Spark int64)."""
    import pandas as pd

    from cdc_debezium_spark.testing import assert_driver_hashable

    spark_pdf = pd.DataFrame({"total": pd.array([10, 20], dtype="int64")})
    duck_pdf = pd.DataFrame({"total": pd.array([10.0, 20.0], dtype="float64")})
    with pytest.raises(AssertionError, match="dtype mismatch"):
        assert_driver_hashable("fake_key", spark_pdf, duck_pdf)


def test_harness_rejects_array_columns(spark, sf_dir):
    """Array-typed output cells are unhashable at the driver's
    canonicalizer (numpy.ndarray in sort_values) — must fail locally."""
    import numpy as np
    import pandas as pd

    from cdc_debezium_spark.testing import assert_driver_hashable

    arr = pd.Series([np.array([1.0]), np.array([2.0])], dtype=object)
    pdf = pd.DataFrame({"feature": arr})
    with pytest.raises(AssertionError, match="un-hashable"):
        assert_driver_hashable("fake_key", pdf, pdf)


def test_forced_keys_lead_registry():
    forced = [k for k in registry.QUERIES if k in registry._RESAMPLE_FORCED]
    assert list(registry.QUERIES)[: len(forced)] == forced


@pytest.fixture
def fake_key(monkeypatch):
    """Register FAKE_KEY with the given Spark query and oracle SQL."""

    def register(query, oracle):
        monkeypatch.setitem(registry.QUERIES, FAKE_KEY, query)
        monkeypatch.setitem(registry.ORACLES, FAKE_KEY, oracle)

    return register


def test_compare_runs_spark_query_once(spark, sf_dir, fake_key):
    fake_key(
        lambda s, _: s.range(3).selectExpr("id", "id / 2 AS x"),
        "SELECT range AS id, range / 2 AS x FROM range(3)",
    )
    sc = spark.sparkContext
    sc.setJobGroup(FAKE_KEY, "compare_query job count")
    try:
        compare_query(spark, FAKE_KEY, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(FAKE_KEY)) == 1


def _one_row(schema, *row):
    return lambda s, _: s.createDataFrame([row], schema)


@pytest.mark.parametrize(
    "query, oracle",
    [
        # relative float difference inside the 1e-9 tolerance
        (_one_row("x double", 1.0), "SELECT 1.0000000001::DOUBLE AS x"),
        # a row led by the Debezium delete op keeps float tolerance
        (
            _one_row("a_op string, x double", "d", 1.0),
            "SELECT 'd' AS a_op, 1.0000000001::DOUBLE AS x",
        ),
        # ...and NaN equality
        (
            _one_row("a_op string, x double", "d", float("nan")),
            "SELECT 'd' AS a_op, 'nan'::DOUBLE AS x",
        ),
        # Spark DateType against DuckDB DATE (datetime64 in pandas)
        (
            lambda s, _: s.range(1).selectExpr("DATE'2020-01-02' AS d"),
            "SELECT DATE '2020-01-02' AS d",
        ),
    ],
    ids=["float_1e-10", "delete_led_float", "delete_led_nan", "date"],
)
def test_compare_passes(spark, sf_dir, fake_key, query, oracle):
    fake_key(query, oracle)
    compare_query(spark, FAKE_KEY, sf_dir)


@pytest.mark.parametrize(
    "query, oracle, why",
    [
        (_one_row("x double", 1.0), "SELECT 1.000001::DOUBLE AS x", "rows differ"),
        (
            lambda s, _: s.range(3),
            "SELECT range AS id FROM range(2)",
            "row count",
        ),
        (_one_row("x double", 1.0), "SELECT 1.0::DOUBLE AS y", "column mismatch"),
        # a row led by "f" is not a tagged float
        (
            _one_row("a_op string, n long, s string", "f", 3, "x"),
            "SELECT 'f' AS a_op, 3::BIGINT AS n, 'y' AS s",
            "rows differ",
        ),
        (
            lambda s, _: s.range(1).selectExpr("DATE'2020-01-02' AS d"),
            "SELECT DATE '2020-01-03' AS d",
            "rows differ",
        ),
    ],
    ids=["float_1e-6", "row_count", "column_name", "f_led_row", "date"],
)
def test_compare_fails(spark, sf_dir, fake_key, query, oracle, why):
    fake_key(query, oracle)
    with pytest.raises(AssertionError, match=why):
        compare_query(spark, FAKE_KEY, sf_dir)
