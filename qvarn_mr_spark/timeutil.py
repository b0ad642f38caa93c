"""Timezone-free timestamp arithmetic helpers.

The testdata timestamps are parquet TIMESTAMP with ``isAdjustedToUTC=0``,
which Spark reads as ``TIMESTAMP_NTZ`` — a wall-clock value with no zone.
Two functions that look interchangeable are NOT safe on it:

* ``F.unix_micros`` rejects NTZ outright
  (``DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE``).
* ``cast('timestamp')`` / tz-typed literals re-interpret the wall clock in
  the *session* timezone; under a non-UTC session the shift differs across
  DST boundaries, so comparisons against literals silently move rows near
  window edges (this produced a wrong-answer hash mismatch in round 2's
  q12 while UTC-local runs looked fine).

So every operator that needs epoch math or a date-window literal goes
through these helpers, which stay entirely inside NTZ semantics — the
result is byte-identical regardless of ``spark.sql.session.timeZone``,
matching DuckDB's naive-``TIMESTAMP`` oracle semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_UNIX_ZERO_NTZ = "1970-01-01 00:00:00"


def ts_us(c: Column | str, dtype: str | None = None) -> Column:
    """Microseconds since the epoch as a long.

    ``dtype`` is the column's Spark type string when the caller knows it
    (one entry of ``df.dtypes``). Type decides the exact path:

    * tz-aware ``timestamp`` → ``F.unix_micros`` — true instant
      microseconds, exact under any session timezone (an NTZ cast here
      would go through the session-tz wall clock, where a DST transition
      shifts *differences* by the offset change — e.g. a 30-min gap
      reading as -30 or +90 min);
    * ``timestamp_ntz`` / ``date`` (and no-hint default) → wall-clock
      diff against the NTZ epoch, byte-identical regardless of
      ``spark.sql.session.timeZone`` and equivalent to DuckDB
      ``epoch_us(ts)`` on naive timestamps. (``unix_micros`` rejects NTZ
      outright, so the hint never changes NTZ behavior — it only
      upgrades tz-aware inputs from "DST-hazardous" to exact.)
    """
    col = F.col(c) if isinstance(c, str) else c
    if dtype == "timestamp":
        return F.unix_micros(col)
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit(_UNIX_ZERO_NTZ).cast("timestamp_ntz"),
        col.cast("timestamp_ntz"),
    )


def ts_lit(value: str) -> Column:
    """A timezone-free timestamp literal (e.g. ``ts_lit('1996-01-01')``).

    Comparisons between this and an NTZ column are pure wall-clock
    comparisons — same semantics as DuckDB ``TIMESTAMP '1996-01-01'``
    against a naive column, under ANY Spark session timezone.
    """
    return F.lit(value).cast("timestamp_ntz")
