"""Oracle-compat helpers: deterministic cross-engine value formatting.

The DuckDB oracle and Spark must hash identical values (SURVEY §5.2).
These helpers encode the engine-wide discipline:

- ``ts_str``: events.ts is parquet timestamp[ns]; Spark truncates to µs
  on read while DuckDB keeps ns, so raw ts can NEVER be hashed — format
  to whole seconds on both sides (DuckDB side: ``strftime(ts, '%Y-%m-%d
  %H:%M:%S')``).
- ``date_str``: timestamp[ms] date-like columns, formatted as dates
  (DuckDB side: ``strftime(col, '%Y-%m-%d')``).
- ``half_up``: the one quantization policy, ``x * factor`` rounded
  half-up to BIGINT units (DuckDB side: ``FLOOR(x * factor + 0.5)``).
  Negative midpoints go up: -2.5 → -2, where DuckDB ``ROUND`` gives -3,
  so an oracle must not use ``ROUND`` where Spark quantizes signed input
  with ``half_up``.
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


def half_up(x: Column | str, factor=1) -> Column:
    """x*factor rounded half-up to BIGINT units: FLOOR(x*factor + 0.5),
    the oracle's expression.

    ``x * factor`` is the same IEEE double in both engines, so the result
    is portable even when the product lands at 4900.1999... Callers pass
    ``factor`` as the oracle writes it (``100``, ``1e6``, ...) so Spark's
    type coercion matches; factor 1 adds no multiply."""
    c = F.col(x) if isinstance(x, str) else x
    return F.floor((c * factor if factor != 1 else c) + F.lit(0.5)).cast("bigint")
