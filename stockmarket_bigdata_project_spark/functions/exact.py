"""Cross-engine deterministic aggregation of float columns.

A plain ``sum(double)`` depends on accumulation order, which Spark does not
fix (shuffle-merge order varies run to run) and DuckDB orders differently
anyway — so ``round(sum(x), 2)`` can land on either side of a half-cent
boundary per engine/run. The fix is to make the SUM itself exact:

* quantize each input to DECIMAL(27, scale) — for source columns that are
  k-decimal by construction (o_totalprice, l_extendedprice, events.value are
  2-decimal; quality/sentiment scores are pre-rounded to 6) the cast is
  lossless; for genuinely inexact computed doubles it is a deterministic
  per-row rounding, identical in Spark and DuckDB;
* DECIMAL addition is associative/exact, so any merge order yields the same
  total;
* the final cast back to DOUBLE (and any division by a count) is a single
  IEEE-754 operation on identical operands — bit-identical across engines.

Sums of INTEGER-VALUED doubles (l_quantity, volume, 0/1 flags) are already
exact below 2^53 and need none of this.

Each helper has a SQL twin so oracle strings declare the same arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return col if isinstance(col, Column) else F.col(col)


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a k-decimal double, returned as DOUBLE."""
    return F.sum(_c(col).cast(f"decimal(27,{scale})")).cast("double")


def big_sum(col: Column) -> Column:
    """Exact wide-integer sum converted to DOUBLE via a decimal STRING.

    For scaled-integer sums that can exceed 2^53 (squares, cubes, power
    sums), DECIMAL(38,0) accumulation is exact, but the final decimal→double
    conversion differs per engine: DuckDB's int128→double is not correctly
    rounded (observed 1-ulp-low), Spark's is. Digit-string parsing IS
    correctly rounded in every engine, so routing the conversion through
    CAST(x AS STRING) makes the single inexact step identical. The cost is a
    few group rows' worth of string formatting — nothing at any scale.
    """
    return F.sum(col.cast("decimal(38,0)")).cast("string").cast("double")


def sql_big_sum(expr: str) -> str:
    """DuckDB twin of :func:`big_sum` (HUGEINT is exact to 127 bits)."""
    return f"CAST(CAST(sum(CAST({expr} AS HUGEINT)) AS VARCHAR) AS DOUBLE)"


def sql_dec_sum(expr: str, scale: int = 2) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"
