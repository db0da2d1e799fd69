"""Shared scalar helpers for the engine's type discipline (SURVEY §1.3).

The two wire-type decisions the reference pins (decimal-as-string,
time-as-epoch-micros — postgresql-connector.yaml:48-49) plus the µs
conversions every CDC op threads through. Centralized so Spark code and
DuckDB oracles always cast identically (SURVEY §7.3.4).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def micros_to_ts(col: Column | str) -> Column:
    """Epoch-µs -> timestamp (µs precision, the adaptive_time_microseconds
    lane)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.timestamp_micros(col)


def ts_to_micros(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(col.cast("timestamp"))


def ns_to_us(col_name: str) -> Column:
    """Parquet TIMESTAMP(NANOS) read as int64 ns -> epoch µs.

    Integer division (`div`), NOT float: double math loses the low
    microseconds at ~1.7e18 (sources/catalog.py reads events this way).
    """
    return F.expr(f"{col_name} div 1000")
