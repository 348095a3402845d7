"""Golden parity: the Spark ingest layer vs a pandas re-implementation of the
reference's preprocess semantics (SURVEY.md §5.3).

The fixture is deliberately hostile: malformed numerics (→ NULL under
pd.to_numeric(errors='coerce') AND Spark try_cast), NULL boroughs/streets
(→ dropped by the required-column filter), malformed WKT (→ NULL coords),
NULL directions (→ category code −1), out-of-range dates (→ NaT/NULL).
"""

from __future__ import annotations

import json
import math
import re

import pandas as pd
import pytest

from trafficanalysisbigdata_spark.session import prep
from trafficanalysisbigdata_spark.sources.traffic import (
    WIDE_HOUR_COLS,
    cast_wide,
    melt_wide,
    normalize_traffic,
    read_traffic_json,
    traffic_from_json_column,
)

ROWS = [
    # requestid boro yr m d hh mm vol segmentid wktgeom street fromst tost direction
    {"requestid": "1", "boro": "Queens", "yr": "2024", "m": "1", "d": "15", "hh": "8",
     "mm": "0", "vol": "120", "segmentid": "10", "wktgeom": "POINT (997000.5 200100.25)",
     "street": "MAIN ST", "fromst": "A", "tost": "B", "direction": "NB"},
    {"requestid": "2", "boro": "Brooklyn", "yr": "2024", "m": "1", "d": "13", "hh": "17",
     "mm": "15", "vol": "49", "segmentid": "11", "wktgeom": "POINT (1001234.0 150000.0)",
     "street": "OCEAN AVE", "fromst": "C", "tost": "D", "direction": "SB"},
    # malformed volume -> coerced NULL -> dropped by required filter
    {"requestid": "3", "boro": "Bronx", "yr": "2024", "m": "2", "d": "1", "hh": "9",
     "mm": "30", "vol": "n/a", "segmentid": "12", "wktgeom": "POINT (950000 260000)",
     "street": "GRAND CONCOURSE", "fromst": "E", "tost": "F", "direction": "EB"},
    # NULL borough -> dropped
    {"requestid": "4", "boro": None, "yr": "2024", "m": "2", "d": "2", "hh": "10",
     "mm": "45", "vol": "77", "segmentid": "13", "wktgeom": "POINT (960000 170000)",
     "street": "SOME ST", "fromst": "G", "tost": "H", "direction": "WB"},
    # malformed WKT -> NULL coords (row kept); NULL direction -> code -1
    {"requestid": "5", "boro": "Manhattan", "yr": "2023", "m": "12", "d": "31", "hh": "23",
     "mm": "0", "vol": "200", "segmentid": "14", "wktgeom": "not a point",
     "street": "BROADWAY", "fromst": "I", "tost": "J", "direction": None},
    # malformed month -> NULL date/derivations (row kept: month not required)
    {"requestid": "6", "boro": "Queens", "yr": "2024", "m": "xx", "d": "5", "hh": "6",
     "mm": "15", "vol": "33", "segmentid": "15", "wktgeom": None,
     "street": "MAIN ST", "fromst": "K", "tost": "L", "direction": "NB"},
    # out-of-range date (Feb 30) -> NULL date, coerced like pandas NaT
    {"requestid": "7", "boro": "Queens", "yr": "2024", "m": "2", "d": "30", "hh": "7",
     "mm": "0", "vol": "55", "segmentid": "16", "wktgeom": "POINT (913000 120000)",
     "street": "35 AVE", "fromst": "M", "tost": "N", "direction": "SB"},
]


def _pandas_golden(rows: list[dict]) -> pd.DataFrame:
    """The reference's preprocess re-implemented verbatim in pandas
    (rename TrafficAnalysis.py:61-65, dropna :76-77, derive :80-84, WKT
    :87-95, coerce :104-107, codes :98-101)."""
    df = pd.DataFrame(rows)
    df = df.rename(
        columns={"requestid": "request_id", "boro": "borough", "yr": "year",
                 "m": "month", "d": "day", "hh": "hour", "mm": "minute",
                 "vol": "volume", "segmentid": "segment_id", "wktgeom": "geometry"}
    )
    for c in ["year", "month", "day", "hour", "minute", "volume", "segment_id"]:
        df[c] = pd.to_numeric(df[c], errors="coerce")
    df = df.dropna(subset=["volume", "hour", "segment_id", "borough", "street"])
    date = pd.to_datetime(
        {"year": df["year"], "month": df["month"], "day": df["day"]}, errors="coerce"
    )
    df["date"] = date
    df["day_of_week"] = date.dt.dayofweek
    # verbatim ref TrafficAnalysis.py:82 — note NaN >= 5 is False, so missing
    # dates get 0, not NULL; the Spark CASE's otherwise(0) matches exactly
    df["is_weekend"] = date.dt.dayofweek.apply(lambda x: 1 if x >= 5 else 0)
    df["week_of_year"] = date.dt.isocalendar().week

    def _xy(g):
        if isinstance(g, str):
            m = re.match(r"POINT \((-?[0-9][0-9.]*) (-?[0-9][0-9.]*)\)", g)
            if m:
                return float(m.group(1)), float(m.group(2))
        return None, None

    coords = df["geometry"].apply(_xy)
    df["x_coord"] = [c[0] for c in coords]
    df["y_coord"] = [c[1] for c in coords]
    df = df.drop(columns=["geometry"])
    df["direction_code"] = (
        df["direction"].astype("category")
        .cat.set_categories(["EB", "NB", "SB", "WB"]).cat.codes
    )
    return df


@pytest.fixture()
def raw_json_path(tmp_path):
    p = tmp_path / "traffic.jsonl"
    with open(p, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    return str(p)


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def test_normalize_matches_pandas_golden(spark, raw_json_path):
    prep(spark)
    got = normalize_traffic(read_traffic_json(spark, raw_json_path))
    want = _pandas_golden(ROWS)

    grows = {r["request_id"]: r.asDict() for r in got.collect()}
    assert set(grows) == set(want["request_id"])
    for _, w in want.iterrows():
        g = grows[w["request_id"]]
        for c in ["borough", "street", "direction", "volume", "hour", "minute",
                  "segment_id", "x_coord", "y_coord", "direction_code"]:
            gv, wv = _norm_cell(g[c]), _norm_cell(w[c])
            assert gv == wv, (w["request_id"], c, gv, wv)
        # date / derived time parts (pandas NaT ↔ Spark NULL)
        wd = None if pd.isna(w["date"]) else w["date"].date()
        assert g["date"] == wd, (w["request_id"], "date")
        for c in ["day_of_week", "week_of_year", "is_weekend"]:
            wv = None if pd.isna(w[c]) else int(w[c])
            assert _norm_cell(g[c]) == wv, (w["request_id"], c, g[c], wv)


def test_from_json_column_equals_file_read(spark, raw_json_path):
    prep(spark)
    lines = spark.read.text(raw_json_path)
    via_col = normalize_traffic(traffic_from_json_column(lines, "value"))
    via_file = normalize_traffic(read_traffic_json(spark, raw_json_path))
    assert sorted(map(tuple, via_col.collect())) == sorted(
        map(tuple, via_file.collect())
    )


WIDE_ROW = {
    "id": "1", "segmentid": "77", "roadway_name": "BROADWAY", "from": "A", "to": "B",
    "direction": "NB", "date": "2013-01-05", "spare": "x",
    **{c: str(i * 10) for i, c in enumerate(WIDE_HOUR_COLS)},
}
WIDE_ROW_BAD = {
    **WIDE_ROW, "id": "2", "segmentid": "78", "date": "not-a-date",
    "_3_00_4_00am": "junk",
}


def test_wide_cast_and_melt(spark):
    prep(spark)
    df = spark.createDataFrame([WIDE_ROW, WIDE_ROW_BAD])
    typed = cast_wide(df)
    dt = dict(typed.dtypes)
    assert dt["date"] == "date"
    assert all(dt[c] == "int" for c in WIDE_HOUR_COLS)
    rows = {r["segmentid"]: r for r in typed.collect()}
    assert rows["78"]["date"] is None  # F11: lenient date
    assert rows["78"]["_3_00_4_00am"] is None  # F10: lenient int

    long = melt_wide(typed, ["segmentid"])
    assert long.count() == 2 * 24
    # F13 parity: label '_12_00_1_00_am' → 12, '_1_00_2_00am' → 1 (the
    # reference's regex keeps the 12-hour clock number)
    hours = {
        r["time_label"]: r["hour"]
        for r in long.filter(long.segmentid == "77").collect()
    }
    assert hours["_12_00_1_00_am"] == 12
    assert hours["_1_00_2_00am"] == 1
    assert hours["_11_00_12_00pm"] == 11
    # values ride the melt: bucket i carries 10*i
    vals = {
        r["time_label"]: r["traffic_volume"]
        for r in long.filter(long.segmentid == "77").collect()
    }
    assert vals["_5_00_6_00am"] == 50


@pytest.mark.filterwarnings("error::FutureWarning")
def test_hour_label_of_day_covers_24(spark):
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.sources.traffic import hour_label_of_day

    prep(spark)
    df = spark.createDataFrame([(c,) for c in WIDE_HOUR_COLS], "label string")
    got = {r.label: r.h for r in df.select("label", hour_label_of_day(F.col("label")).alias("h")).collect()}
    assert got == {c: i for i, c in enumerate(WIDE_HOUR_COLS)}


def test_paginated_datasource_matches_json_read(spark, tmp_path):
    """The custom paginated_json DataSource (one partition per page) must
    yield exactly spark.read.json's rows, and actually plan one task per
    page."""
    from trafficanalysisbigdata_spark.session import prep
    from trafficanalysisbigdata_spark.sources.paginated import (
        PaginatedJsonDataSource,
    )
    from trafficanalysisbigdata_spark.sources.traffic import RAW_SCHEMA

    prep(spark)

    pages = tmp_path / "pages"
    pages.mkdir()
    # 3 pages of sizes 3/3/1 — the reference's limit/offset walk
    for i in range(0, len(ROWS), 3):
        with open(pages / f"page-{i // 3:05d}.json", "w") as f:
            for r in ROWS[i : i + 3]:
                f.write(json.dumps(r) + "\n")

    spark.dataSource.register(PaginatedJsonDataSource)
    via_source = spark.read.format("paginated_json").load(str(pages))
    assert via_source.rdd.getNumPartitions() == 3  # one task per page

    jsonl = tmp_path / "all.jsonl"
    with open(jsonl, "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    via_json = spark.read.schema(RAW_SCHEMA).json(str(jsonl))

    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, via_source.collect())) == sorted(
        map(key, via_json.collect())
    )

    # and the normalize chain composes on top unchanged
    from trafficanalysisbigdata_spark.sources.traffic import normalize_traffic

    n1 = normalize_traffic(via_source).count()
    n2 = normalize_traffic(via_json).count()
    assert n1 == n2 > 0


def test_paginated_datasource_filtered_scan_matches_rows(spark, tmp_path):
    """An equality predicate and a non-equality predicate over the paginated
    scan return exactly the matching rows."""
    from trafficanalysisbigdata_spark.session import prep
    from trafficanalysisbigdata_spark.sources.paginated import (
        PaginatedJsonDataSource,
    )

    prep(spark)
    pages = tmp_path / "pages"
    pages.mkdir()
    with open(pages / "page-00000.json", "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")

    spark.dataSource.register(PaginatedJsonDataSource)
    df = spark.read.format("paginated_json").load(str(pages))
    got = (
        df.filter((df.boro == "Queens") & (df.vol != "33"))
        .select("requestid")
        .collect()
    )
    assert sorted(r.requestid for r in got) == ["1", "7"]


def test_paginated_filter_does_not_leak_into_later_scans(spark, tmp_path):
    """A filtered count on a paginated frame must not narrow later
    filter-free scans of the same frame (Spark 4.1 reuses the last reader
    it pushed filters into, so a reader-side filter leaked into them). The
    frame reads the source directly: ``from_paginated`` scans its checkpoint
    after the first action, which would hide the reader."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.api import TrafficAnalytics
    from trafficanalysisbigdata_spark.sources.paginated import PaginatedJsonDataSource

    pages = tmp_path / "pages"
    pages.mkdir()
    for i in range(0, len(ROWS), 3):
        with open(pages / f"page-{i // 3:05d}.json", "w") as f:
            for r in ROWS[i : i + 3]:
                f.write(json.dumps(r) + "\n")

    prep(spark)
    spark.dataSource.register(PaginatedJsonDataSource)
    raw = spark.read.format("paginated_json").load(str(pages))
    ta = TrafficAnalytics.from_normalized(normalize_traffic(raw))
    assert ta.df.filter(F.col("borough") == "Queens").count() == 3
    assert ta.df.count() == 5
    dash = ta.dashboard()
    assert dash["q2_top5"].count() > 0
    assert sorted(r.event_type for r in dash["q4_type_totals"].collect()) == [
        "Brooklyn", "Manhattan", "Queens",
    ]


def test_retrying_fetcher_backoff_then_success():
    """Transport fails twice, third attempt wins; backoff doubles. No Spark,
    no real sleeping — injected sleep/clock make the schedule assertable."""
    from trafficanalysisbigdata_spark.sources.paginated import RetryingFetcher

    calls, slept = [], []

    def flaky(addr):
        calls.append(addr)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return [{"requestid": "1"}]

    f = RetryingFetcher(
        flaky, "test-flaky", retries=3, backoff_s=0.5, sleep=slept.append, clock=lambda: 0.0
    )
    assert f("page-0") == [{"requestid": "1"}]
    assert len(calls) == 3
    assert slept == [0.5, 1.0]  # backoff_s * 2**attempt


def test_retrying_fetcher_exhausts_budget():
    from pytest import raises

    from trafficanalysisbigdata_spark.sources.paginated import FetchError, RetryingFetcher

    calls = []

    def down(addr):
        calls.append(addr)
        raise ConnectionError("hard down")

    f = RetryingFetcher(down, "test-down", retries=2, backoff_s=0.1, sleep=lambda s: None)
    with raises(FetchError):
        f("page-0")
    assert len(calls) == 3  # first try + 2 retries


def test_retrying_fetcher_rate_limit_spacing():
    """min_interval_s spaces fetch starts: a burst of calls sleeps for the
    remaining interval; a slow caller (clock already past the interval)
    doesn't sleep at all."""
    from trafficanalysisbigdata_spark.sources.paginated import _RATE_STATE, RetryingFetcher

    now = {"t": 100.0}
    slept = []

    def sleep(s):
        slept.append(round(s, 6))
        now["t"] += s

    key = "test-rate-spacing"
    _RATE_STATE.pop(key, None)
    f = RetryingFetcher(
        lambda a: [], key, retries=0, min_interval_s=2.0, sleep=sleep, clock=lambda: now["t"]
    )
    f("p0")          # first call: no wait
    f("p1")          # immediate second call: waits the full interval
    now["t"] += 5.0  # slow page: next call is already past the interval
    f("p2")
    assert slept == [2.0]
    _RATE_STATE.pop(key, None)


def test_paginated_empty_page_and_fetcher_option(spark, tmp_path):
    """An empty page yields zero rows (not an error), and the fetcher seam is
    configurable through DataSource options end-to-end (dotted-path transport
    + retry wrapper resolve on the executor)."""
    from trafficanalysisbigdata_spark.session import prep
    from trafficanalysisbigdata_spark.sources.paginated import PaginatedJsonDataSource

    prep(spark)
    pages = tmp_path / "pages_empty"
    pages.mkdir()
    (pages / "page-00000.json").write_text(json.dumps(ROWS[0]) + "\n")
    (pages / "page-00001.json").write_text("")  # empty page: API ran dry early

    spark.dataSource.register(PaginatedJsonDataSource)
    df = (
        spark.read.format("paginated_json")
        .option("fetcher", "trafficanalysisbigdata_spark.sources.paginated:fetch_page_file")
        .option("retries", "2")
        .load(str(pages))
    )
    assert df.rdd.getNumPartitions() == 2  # the empty page still plans a task
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["requestid"] == "1"


def test_rate_limit_spans_fetcher_instances():
    """The DataSource builds a FRESH fetcher per partition and each partition
    fetches one page — so spacing must live at process level (rate_key), not
    on the instance, or the limit is a silent no-op."""
    from trafficanalysisbigdata_spark.sources import paginated as P

    now = {"t": 100.0}
    slept = []

    def sleep(s):
        slept.append(round(s, 6))
        now["t"] += s

    key = "test-rate-group-xyz"
    P._RATE_STATE.pop(key, None)
    mk = lambda: P.RetryingFetcher(  # noqa: E731
        lambda a: [], key, retries=0, min_interval_s=2.0,
        sleep=sleep, clock=lambda: now["t"],
    )
    mk()("p0")  # first instance, first call: no wait
    mk()("p1")  # NEW instance, immediate call: must still wait
    assert slept == [2.0]
    P._RATE_STATE.pop(key, None)


def test_paginated_stream_reader_incremental_exactly_once(spark, tmp_path):
    """The streaming form of the paginated source (S1 as continuous ingest):
    draining under AvailableNow consumes all current pages; a NEW page
    appearing later plus a restart from the SAME checkpoint appends only the
    new page's rows — offset tracking + readBetweenOffsets replay give
    exactly-once across restarts, the property the reference's full-refetch
    loop cannot have."""

    from trafficanalysisbigdata_spark.session import prep
    from trafficanalysisbigdata_spark.sources.paginated import (
        PaginatedJsonDataSource,
    )
    from trafficanalysisbigdata_spark.streaming.snapshot import drain

    prep(spark)
    pages = tmp_path / "pages"
    pages.mkdir()
    for i in range(0, 6, 3):
        with open(pages / f"page-{i // 3:05d}.json", "w") as f:
            for r in ROWS[i : i + 3]:
                f.write(json.dumps(r) + "\n")

    spark.dataSource.register(PaginatedJsonDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery, and recovery is exactly the property under test
        q = (
            spark.readStream.format("paginated_json")
            .load(str(pages))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)

    run()
    ids_run1 = sorted(r.requestid for r in spark.read.parquet(out).collect())
    assert ids_run1 == sorted(str(r["requestid"]) for r in ROWS[:6])

    # a new page lands (the API produced new data); restart from checkpoint
    with open(pages / "page-00002.json", "w") as f:
        f.write(json.dumps(ROWS[6]) + "\n")
    run()
    ids_run2 = sorted(r.requestid for r in spark.read.parquet(out).collect())
    # exactly-once: run 1's pages are NOT re-ingested
    assert ids_run2 == sorted(str(r["requestid"]) for r in ROWS[:7])
