"""Time-derivation column expressions (SURVEY.md §2.8, F1–F6).

Pure Catalyst expressions — no UDFs — matching the reference's pandas
semantics exactly:

* ``weekday`` is 0=Monday (pandas ``dt.dayofweek``) → Spark ``F.weekday``,
  NOT ``F.dayofweek`` (which is 1=Sunday).
* ``week_of_year`` is ISO (pandas ``isocalendar().week``) → ``F.weekofyear``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def date_from_parts(y: Column, m: Column, d: Column) -> Column:
    """F1 (ref TrafficAnalysis.py:80): date from year/month/day; NULL if any
    part is NULL or out of range (matches pd.to_datetime errors='coerce').

    NOT a concat_ws/parse round-trip: concat_ws SKIPS null arguments, so
    (2024, NULL, 5) would silently parse as '2024-05' = 2024-05-01."""
    zero = F.lit(0)
    return F.try_make_timestamp(y, m, d, zero, zero, zero).cast("date")


def timestamp_from_parts(y: Column, m: Column, d: Column, h: Column) -> Column:
    """F1/Dash variant (ref Dash.py:59-60): full timestamp with hour; NULL on
    out-of-range parts (pd.to_datetime errors='coerce' parity — a plain
    make_timestamp raises under ANSI for e.g. Feb 30)."""
    return F.try_make_timestamp(y, m, d, h, F.lit(0), F.lit(0))


def day_of_week(c: Column) -> Column:
    """F2 (ref TrafficAnalysis.py:81): 0=Monday…6=Sunday."""
    return F.weekday(c)


def is_weekend(c: Column) -> Column:
    """F3 (ref TrafficAnalysis.py:82): lambda x: 1 if x>=5 else 0 — native CASE."""
    return F.when(F.weekday(c) >= 5, F.lit(1)).otherwise(F.lit(0))


def week_of_year(c: Column) -> Column:
    """F4 (ref TrafficAnalysis.py:83): ISO week number."""
    return F.weekofyear(c)


def with_time_parts(df: DataFrame) -> DataFrame:
    """Derive the reference's full time-feature block (F1–F6) from the event
    timestamp ``ts`` (ref TrafficAnalysis.py:80-84, Dash.py:59-60)."""
    ts = F.col("ts")
    return df.withColumns(
        {
            "date_str": F.to_date(ts).cast("string"),
            "year": F.year(ts),
            "month": F.month(ts),
            "day": F.dayofmonth(ts),
            "hour_of_day": F.hour(ts),
            "day_of_week": day_of_week(ts),
            "is_weekend": is_weekend(ts),
            "week_of_year": week_of_year(ts),
        }
    )
