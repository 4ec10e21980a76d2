"""Temporal scalar functions.

The reference does ALL temporal work on string `yyyymmdd` dates: substring
year/month/day derivation (jb_de_enhancement_t0_fact_d2s.py:86-88), a Python
scalar UDF for day-of-week names (jb_de_enhancement_t2_salesbydatetime_s2s.py:63-80),
and Presto date_parse/date_format/day_of_week in the Athena query set
(document/glue_t2.md:41-52). We keep the string-date surface but implement
the hot path with built-in JVM expressions (whole-stage codegen, no Python
round-trip); the Python UDF survives only as the documented exemplar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType


def ymd(col: Column | str, fmt: str = "yyyyMMdd") -> Column:
    """Timestamp/date column -> zero-padded string date (reference storage form)."""
    return F.date_format(col, fmt)


def with_date_parts(df: DataFrame, date_col: str = "purchase_date") -> DataFrame:
    """Derive year/month/day partition columns by string slicing, exactly like
    reference jb_de_enhancement_t0_fact_d2s.py:86-88 (1-based substring).

    These become Hive partition columns; keeping them strings ("01" not 1)
    pins the partition-directory layout and avoids type drift at read-back.
    """
    c = F.col(date_col)
    return (
        df.withColumn("purchase_year", F.substring(c, 1, 4))
        .withColumn("purchase_month", F.substring(c, 5, 2))
        .withColumn("purchase_day", F.substring(c, 7, 2))
    )


def day_name(col: Column | str) -> Column:
    """English day name ('Monday'...), equivalent of Presto date_format(%W)
    (document/glue_t2.md:44) and of the reference UDF's strftime('%A')."""
    return F.date_format(col, "EEEE")


def presto_day_of_week(col: Column | str) -> Column:
    """Day-of-week number with Presto/ISO numbering 1=Monday..7=Sunday
    (document/glue_t2.md:41,45). Spark's F.dayofweek is 1=Sunday -- do not
    use it directly; weekday() is 0=Monday."""
    return F.weekday(col) + F.lit(1)


INVALID_DATE_SENTINEL = "Invalid date format. Please"


# useArrow=False pins the row-at-a-time pickled UDF the reference runs and
# skips pyspark's eval-type inference, which cannot read the (postponed,
# string) type hints and warns at import
@F.udf(returnType=StringType(), useArrow=False)
def change_day_of_week(year: str, month: str, day: str) -> str:
    """Row-at-a-time Python UDF exemplar, semantics pinned to the reference
    (jb_de_enhancement_t2_salesbydatetime_s2s.py:63-80): three string args ->
    English day name; invalid dates return the literal error string
    (error-as-value), e.g. ('2014','11','12') -> 'Wednesday'.

    This is the SLOW path kept only for parity tests; production queries use
    `day_name(F.to_date(...))` which stays inside whole-stage codegen.
    """
    from datetime import datetime

    try:
        return datetime.strptime(f"{year}{month}{day}", "%Y%m%d").strftime("%A")
    except (ValueError, TypeError):
        return INVALID_DATE_SENTINEL


def builtin_change_day_of_week(year: Column, month: Column, day: Column) -> Column:
    """JVM-side equivalent of `change_day_of_week` incl. the error-as-value
    fallback: try_to_date (NULL on invalid -- plain to_date THROWS under the
    ANSI-mode default of Spark 4) + coalesce."""
    d = F.try_to_date(F.concat(year, month, day), "yyyyMMdd")
    return F.coalesce(F.date_format(d, "EEEE"), F.lit(INVALID_DATE_SENTINEL))
