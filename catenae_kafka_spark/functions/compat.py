"""Oracle-compat helpers: deterministic cross-engine value formatting.

The DuckDB oracle and Spark must hash identical values (SURVEY §5.2).
These helpers encode the engine-wide discipline:

- ``ts_str``: events.ts is parquet timestamp[ns]; Spark truncates to µs
  on read while DuckDB keeps ns, so raw ts can NEVER be hashed — format
  to whole seconds on both sides (DuckDB side: ``strftime(ts, '%Y-%m-%d
  %H:%M:%S')``).
- ``date_str``: timestamp[ms] date-like columns, formatted as dates
  (DuckDB side: ``strftime(col, '%Y-%m-%d')``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS_FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_SECONDS_FMT = "%Y-%m-%d %H:%M:%S"


def ts_str(col: Column | str) -> Column:
    """Format a timestamp to whole seconds (hash-safe vs ns parquet)."""
    return F.date_format(col, SECONDS_FMT)


def date_str(col: Column | str) -> Column:
    return F.date_format(col, "yyyy-MM-dd")
