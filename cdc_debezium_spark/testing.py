"""Local differential-testing harness mirroring the driver's oracle gate.

Runs a registered Spark query and its DuckDB oracle on the same parquet
fixtures, once each, and compares the two pandas frames: column-name
set, driver-hashable dtypes, row count, and order-insensitive values
(floats with tolerance, everything else exactly).
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb
import pandas as pd

from .sources.catalog import TABLES

FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-9


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _values_equal(a, b) -> bool:
    """One cell pair: missing equals missing, floats within tolerance,
    everything else exactly."""
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=FLOAT_ATOL)
    return a == b


def _cells(s: pd.Series, as_date: bool) -> list:
    """A pandas column as plain Python values; NaN, NaT and None all
    become None, as pandas treats them all as missing."""
    if s.dtype.kind == "M":
        s = s.dt.date if as_date else s.dt.tz_localize(None)
    return s.astype(object).where(s.notna(), None).tolist()


def _sorted_rows(pdf: pd.DataFrame, date_cols: set[str]) -> list[tuple]:
    cols = [_cells(pdf[c], c in date_cols) for c in pdf.columns]
    return sorted(zip(*cols), key=repr)


def assert_driver_hashable(key, spark_pdf, duck_pdf) -> None:
    """Mirror the driver's canonicalizer hazards so they fail HERE.

    The driver compares via pandas (sort_values over every column,
    then a value hash), which makes two silent killers possible:

    1. dtype drift — DuckDB HUGEINT (e.g. sum(BIGINT), or integer
       division of a HUGEINT window sum) lands in pandas as float64
       while Spark's long lands as int64; values print equal, hashes
       differ. Oracles must CAST back to BIGINT.
    2. array/struct output columns — numpy.ndarray cells are
       unhashable in pandas sort_values; the driver errors out before
       comparing anything. Queries must flatten to scalar columns.
    """
    for col in spark_pdf.columns:
        for side, pdf in (("spark", spark_pdf), ("duck", duck_pdf)):
            if pdf[col].dtype == object and len(pdf):
                v = pdf[col].iloc[0]
                assert not isinstance(v, (list, tuple, dict)) and not hasattr(
                    v, "__array__"
                ), (
                    f"{key}: column {col!r} ({side}) holds {type(v).__name__} "
                    "cells — array/struct outputs are un-hashable at the "
                    "driver; flatten to scalar columns"
                )
        s_dt, d_dt = spark_pdf[col].dtype, duck_pdf[col].dtype
        # Compare dtype KIND: int64-vs-float64 (the HUGEINT drift
        # class) must fail; datetime64 unit differences (ns vs us)
        # share kind 'M' and hash identically, so they pass. One more
        # tolerated combo, proven green at the driver (type_coercion,
        # scalar_datetime in r1/r2): Spark DateType arrives as object
        # cells of datetime.date while DuckDB DATE arrives datetime64.
        if {s_dt.kind, d_dt.kind} == {"O", "M"}:
            obj = spark_pdf[col] if s_dt.kind == "O" else duck_pdf[col]
            if len(obj) and isinstance(obj.iloc[0], (date, datetime)):
                continue
        assert s_dt.kind == d_dt.kind, (
            f"{key}: dtype mismatch on {col!r}: spark={s_dt} duck={d_dt} "
            "— likely a DuckDB HUGEINT/array oracle; CAST to BIGINT (or "
            "matching type) in the oracle SQL"
        )


def compare_query(spark, key: str, sf_dir: str) -> None:
    """Assert a registered query matches its oracle. Raises AssertionError.

    Each side runs once, into the pandas frame the driver hashes; the
    rows compared are built from those two frames.
    """
    from .registry import ORACLES, QUERIES

    spark_pdf = QUERIES[key](spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        duck_pdf = con.sql(ORACLES[key]).df()
    finally:
        con.close()
    cols = sorted(spark_pdf.columns)
    assert sorted(duck_pdf.columns) == cols, (
        f"{key}: column mismatch spark={cols} duck={sorted(duck_pdf.columns)}"
    )
    spark_pdf, duck_pdf = spark_pdf[cols], duck_pdf[cols]
    assert_driver_hashable(key, spark_pdf, duck_pdf)
    assert len(spark_pdf) == len(duck_pdf), (
        f"{key}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    # The object/datetime64 pair assert_driver_hashable accepts is
    # Spark DateType against DuckDB DATE: compare it as dates.
    dates = {
        c for c in cols
        if {spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind} == {"O", "M"}
    }
    spark_rows = _sorted_rows(spark_pdf, dates)
    duck_rows = _sorted_rows(duck_pdf, dates)
    bad = [
        (s, d)
        for s, d in zip(spark_rows, duck_rows)
        if not all(map(_values_equal, s, d))
    ]
    assert not bad, (
        f"{key}: {len(bad)}/{len(spark_rows)} rows differ; first: {bad[0]}"
    )
