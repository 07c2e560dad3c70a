"""Column-expression library (SURVEY.md §2.7-2.9).

Every scalar operation the reference hand-rolls per row becomes a reusable
Column expression here — JVM-side, codegen'd, UDF-free.  Also holds the
engine-wide numeric-determinism helpers: double sums are accumulation-order-
dependent, so money aggregates go through exact decimals and only cast back
to double at the end (bit-identical across partitionings, engines, and
cluster sizes — required for the DuckDB oracle gate and for reproducible
pipelines at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NOT_FOUND = "Not_Found"  # reference sentinel (buisness_profile_etl/main.py:501-568)


# -- numeric determinism -----------------------------------------------------


def dec2(col: Column | str, precision: int = 18) -> Column:
    """Cast a cent-quantized double to an exact decimal (2 dp)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},2)")


def dsum2(col: Column | str, precision: int = 18) -> Column:
    """Order-independent sum of a cent-quantized double, returned as double."""
    return F.sum(dec2(col, precision)).cast("double")


def ntz_epoch_us(col: Column | str) -> Column:
    """Timezone-independent epoch microseconds of a TIMESTAMP_NTZ column.

    ``unix_micros(CAST(ntz AS TIMESTAMP))`` interprets the wall-clock in the
    session timezone — differences taken across a DST transition in a
    non-UTC session would be off by the offset change, and absolute values
    shift by the whole offset.  ``timestampdiff(MICROSECOND, epoch, ts)``
    on the NTZ value is pure wall-clock arithmetic: identical under every
    session timezone, matching DuckDB's ``epoch_us`` on the same data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def davg2(col: Column | str, precision: int = 18) -> Column:
    """Deterministic mean: exact decimal sum ÷ count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec2(c, precision)).cast("double") / F.count(c)


# -- reference scalar surface (§2.7) ----------------------------------------


def bool_to_int(col: Column | str) -> Column:
    """`convert_boolean` (Gonukkad_Merchants.py:71-72): bool → 0/1."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("int")


def lossy_int(col: Column | str) -> Column:
    """F8: `int(v)` with unparseables skipped (main.py:603-606) → try_cast null."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("int")


def iso_ts(col: Column | str) -> Column:
    """F13: parse `%Y-%m-%dT%H:%M:%S.%fZ` (main.py:661)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")


def ds(col: Column | str) -> Column:
    """F12: date → 'yyyy-MM-dd' string stamp (Gonukkad_Merchants.py:81-82)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")
