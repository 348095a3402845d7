"""WKT point parsing (SURVEY.md §2.8 F7, §2.10 U2/U3).

The reference parses ``POINT (x y)`` strings with shapely row-apply
(TrafficAnalysis.py:87-95) and a hand-rolled string splitter (Dash.py:14-23).
Here it's a single Catalyst ``regexp_extract`` — JVM-side, codegen'd, no
Python boundary — returning a NULL pair on malformed input exactly like the
reference's (None, None) fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WKT_POINT = r"POINT \((-?[0-9][0-9.]*) (-?[0-9][0-9.]*)\)"


def _coord(geom: Column, group: int) -> Column:
    # regexp_extract yields '' on no match; try_cast maps that (and any other
    # junk) to NULL without tripping ANSI cast errors.
    return F.regexp_extract(geom, _WKT_POINT, group).try_cast("double")


def wkt_x(geom: Column) -> Column:
    return _coord(geom, 1)


def wkt_y(geom: Column) -> Column:
    return _coord(geom, 2)


def with_point_coords(df: DataFrame) -> DataFrame:
    """F7: explode the WKT ``geometry`` column into x/y double columns and
    drop the raw string (P3, ref TrafficAnalysis.py:95)."""
    g = F.col("geometry")
    return (
        df.withColumn("x_coord", wkt_x(g))
        .withColumn("y_coord", wkt_y(g))
        .drop("geometry")
    )
