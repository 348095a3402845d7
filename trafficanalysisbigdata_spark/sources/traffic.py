"""Reference-native ingest layer (SURVEY.md §2.1/§2.2/§2.8).

Takes the all-strings traffic schema the reference receives from Socrata JSON
(ref SC/initialDatainfo.png — 14 columns, every dtype object) through the
full preprocess pipeline of ref TrafficAnalysis.py:57-107 and Dash.py:47-60:

    JSON list → table (S4)  →  bulk rename (P1)  →  lenient coerce (F10/F11)
    →  required-column drop (P4)  →  derived time parts (F1–F6)
    →  WKT parse + drop (F7/P3)  →  direction category codes (NaN → −1)

Every step is a Catalyst expression over one projection — ingest is a single
narrow stage, no shuffle, fully pushdown-friendly; at cluster scale the JSON
scan parallelizes per file split and the normalize chain rides along inside
whole-stage codegen. Golden parity against a pandas re-implementation of the
reference semantics lives in tests/test_ingest.py.

Wide-format (Dataset B, ref proto/TrafficAnalysis_Hist.py) helpers live here
too: the typed cast loop (S6), the hour-label parse from column names
(F13/F14, ref proto:148-149), and melt-to-long normalization (F20).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.casts import to_number
from ..functions.timeparts import (
    date_from_parts,
    day_of_week,
    is_weekend,
    timestamp_from_parts,
    week_of_year,
)
from ..functions.wkt import with_point_coords

# --- Dataset A: long format (Socrata 7ym2-wayt) --------------------------

# P1 bulk rename (ref TrafficAnalysis.py:61-65)
RENAME_MAP = {
    "requestid": "request_id",
    "boro": "borough",
    "yr": "year",
    "m": "month",
    "d": "day",
    "hh": "hour",
    "mm": "minute",
    "vol": "volume",
    "segmentid": "segment_id",
    "wktgeom": "geometry",
}

RAW_COLUMNS = (
    "requestid boro yr m d hh mm vol segmentid wktgeom street fromst tost direction"
).split()

# JSON delivers everything as strings (ref SC/initialDatainfo.png)
RAW_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in RAW_COLUMNS])

INT_COLUMNS = ("year", "month", "day", "hour", "minute", "volume", "segment_id")

# P4 required columns (ref TrafficAnalysis.py:76-77)
REQUIRED = ("volume", "hour", "segment_id", "borough", "street")

# direction → category codes: pandas .cat.codes order (alphabetical), NaN → −1
DIRECTION_CODES = {"EB": 0, "NB": 1, "SB": 2, "WB": 3}


def read_traffic_json(spark: SparkSession, path: str) -> DataFrame:
    """S4: JSON-lines scan with the explicit all-strings schema (PERMISSIVE —
    malformed records yield NULL fields, matching the reference's tolerance)."""
    return spark.read.schema(RAW_SCHEMA).option("mode", "PERMISSIVE").json(path)


def traffic_from_json_column(df: DataFrame, json_col: str) -> DataFrame:
    """S4 variant: parse a string column of JSON objects (the shape Socrata
    pagination accumulates, ref TrafficAnalysis.py:57-58) with ``from_json``."""
    return df.select(F.from_json(F.col(json_col), RAW_SCHEMA).alias("r")).select("r.*")


def normalize_traffic(raw: DataFrame) -> DataFrame:
    """The full reference preprocess (TrafficAnalysis.py:61-107 + Dash.py:59-60)
    as one narrow projection chain."""
    df = raw.withColumnsRenamed(RENAME_MAP)
    # F10: lenient numeric coercion — NULL on malformed input, matching
    # pd.to_numeric(errors='coerce')
    df = df.withColumns({c: to_number(F.col(c), "int") for c in INT_COLUMNS})
    # P4: drop rows missing any required analysis column
    df = df.na.drop(subset=list(REQUIRED))
    # F1–F6: date, datetime, day_of_week (0=Mon), is_weekend, ISO week
    y, m, d, h = (F.col(c) for c in ("year", "month", "day", "hour"))
    date = date_from_parts(y, m, d)
    df = df.withColumns(
        {
            "date": date,
            "datetime": timestamp_from_parts(y, m, d, h),
            "day_of_week": day_of_week(date),
            "is_weekend": is_weekend(date),
            "week_of_year": week_of_year(date),
        }
    )
    # F7 + P3: WKT POINT → x/y doubles, geometry dropped
    df = with_point_coords(df)
    # direction codes: pandas .cat.codes parity — alphabetical, NaN/unseen → −1
    code = F.lit(-1)
    for name, c in DIRECTION_CODES.items():
        code = F.when(F.col("direction") == name, F.lit(c)).otherwise(code)
    return df.withColumn("direction_code", code.cast("int"))


# --- Dataset B: wide format (Socrata btm5-ppia) ---------------------------

# ref proto/TrafficAnalysis_Hist.py:348-354 — 24 hourly columns; index i is
# the bucket starting at hour-of-day i (index 0 = 12:00-1:00 am)
WIDE_HOUR_COLS = [
    "_12_00_1_00_am", "_1_00_2_00am", "_2_00_3_00am", "_3_00_4_00am",
    "_4_00_5_00am", "_5_00_6_00am", "_6_00_7_00am", "_7_00_8_00am",
    "_8_00_9_00am", "_9_00_10_00am", "_10_00_11_00am", "_11_00_12_00pm",
    "_12_00_1_00pm", "_1_00_2_00pm", "_2_00_3_00pm", "_3_00_4_00pm",
    "_4_00_5_00pm", "_5_00_6_00pm", "_6_00_7_00pm", "_7_00_8_00pm",
    "_8_00_9_00pm", "_9_00_10_00pm", "_10_00_11_00pm", "_11_00_12_00am",
]


def hour_label_number(label_col: Column) -> Column:
    """F13 (ref proto:148, ``str.extract(r'(\\d{1,2})_')``): first 1–2 digit
    group of the label — the reference's 'hour' feature (12-hour clock
    number, NOT hour-of-day; it conflates 1am and 1pm)."""
    return F.regexp_extract(label_col, r"(\d{1,2})_", 1).cast("int")


def hour_label_of_day(label_col: Column) -> Column:
    """Engine upgrade of F13: true 0–23 hour of the bucket START, derived
    from the label's position in the canonical column order."""
    mapping = F.create_map(
        *[x for i, c in enumerate(WIDE_HOUR_COLS) for x in (F.lit(c), F.lit(i))]
    )
    return mapping[label_col].cast("int")


def cast_wide(df: DataFrame) -> DataFrame:
    """S6 (ref proto:93-105): typed cast loop — hour columns to int (NULL on
    malformed), date to date."""
    casts: dict[str, Column] = {
        c: to_number(F.col(c), "int") for c in WIDE_HOUR_COLS if c in df.columns
    }
    if "date" in df.columns:
        # F11: lenient — ANSI to_date raises on malformed strings
        casts["date"] = F.try_to_timestamp(F.col("date")).cast("date")
    return df.withColumns(casts)


def melt_wide(df: DataFrame, id_cols: list[str] | None = None) -> DataFrame:
    """F20 + F13 (ref proto:144-149): unpivot the 24 hour columns to long
    (ids, time_label, traffic_volume) plus the reference's integer hour."""
    ids = id_cols or ["segmentid"]
    long = df.melt(
        ids=ids,
        values=[c for c in WIDE_HOUR_COLS if c in df.columns],
        variableColumnName="time_label",
        valueColumnName="traffic_volume",
    )
    return long.withColumn("hour", hour_label_number(F.col("time_label")))
