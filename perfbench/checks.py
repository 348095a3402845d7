"""Output checks for the benchmark workloads.

* Roster queries are compared with their DuckDB ``oracle_sql`` twin through
  the repository's oracle harness (``tests/oracle_harness.py``, exact after
  normalization). A pinned query list may hold oracle-bearing queries only,
  so every roster result is value-checked.
* ``traffic_ingest`` analyses are compared with a pandas computation over the
  generated rows (``expected_analyses``), and every dashboard tick with the
  same pandas dashboard over the snapshot it refreshed from
  (``expected_dashboard``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from datagen import normalize_rows


def frames_equal(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive comparison of ``got`` (projected onto ``want``'s
    columns) with ``want``; floats agree to 1e-9 relative / 1e-6 absolute."""
    if got.empty and want.empty:
        return []
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return [f"{name}: missing columns {missing}"]
    if len(got) != len(want):
        return [f"{name}: row count got={len(got)} want={len(want)}"]
    cols = list(want.columns)

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].reset_index(drop=True)
        key = df.apply(lambda c: c.round(6) if c.dtype.kind == "f" else c.astype(str))
        return df.loc[key.sort_values(cols).index].reset_index(drop=True)

    g, w = canon(got), canon(want)
    for c in cols:
        a, b = g[c], w[c]
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
            ok = np.isclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-6, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return [f"{name}: column {c} differs at sorted row {i}: got={a[i]!r} want={b[i]!r}"]
    return []


def rows_frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


def _totals(df: pd.DataFrame, key, alias: str) -> pd.DataFrame:
    g = df.groupby(key).volume.agg(["sum", "count"]).reset_index()
    g.columns = [alias, "total", "n"]
    g["total"] = g["total"].astype(float)
    return g


def expected_analyses(rows: list[dict]) -> dict[str, pd.DataFrame]:
    """pandas results for the 11 ``TrafficAnalytics`` analyses over the
    normalized rows."""
    df = normalize_rows(rows)
    v = df.volume.astype(float)
    daily = _totals(df, "date", "d")
    hourly = _totals(df, "hour", "hour")
    lo, hi = v.min(), v.max()
    width = (hi - lo) / 20.0
    bins = np.minimum(np.floor((v - lo) / width), 19).astype(int)
    mu, sigma = daily.total.mean(), daily.total.std()
    thresh = hourly.total.quantile(0.75)
    top = df.sort_values(["volume", "request_id"], ascending=[False, True]).head(10)
    prof = df.groupby("borough").volume.agg(["sum", "mean", "count"]).reset_index()
    prof.columns = ["borough", "total", "avg_val", "n"]
    corr = df[["volume", "hour", "month"]].astype(float).corr()
    return {
        "borough_totals": _totals(df, "borough", "borough"),
        "borough_profile": prof,
        "daily_totals": daily,
        "hourly_totals": hourly,
        "weekend_split": _totals(df, "is_weekend", "is_weekend"),
        "volume_summary": pd.DataFrame([{
            "n": len(v), "mean_val": v.sum() / len(v), "std_val": round(v.std(), 6),
            "min_val": lo, "p25": v.quantile(0.25), "p50": v.quantile(0.5),
            "p75": v.quantile(0.75), "max_val": hi,
        }]),
        "volume_histogram": bins.value_counts().rename_axis("bin").reset_index(name="n"),
        "correlations": pd.DataFrame([{
            "corr_volume_hour": round(corr.loc["volume", "hour"], 6),
            "corr_volume_month": round(corr.loc["volume", "month"], 6),
            "corr_hour_month": round(corr.loc["hour", "month"], 6),
        }]),
        "busiest_segments": top[["request_id", "volume"]],
        "abnormal_days": daily.rename(columns={"total": "day_total"}).assign(
            is_abnormal=lambda d: ((d.day_total > mu + 3 * sigma)
                                   | (d.day_total < mu - 3 * sigma)).astype(int)),
        "heavy_hours": hourly.rename(columns={"total": "hour_total"}).assign(
            is_peak=lambda d: (d.hour_total >= thresh).astype(int)),
    }


def expected_dashboard(df: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """pandas results for ``streaming.snapshot.dashboard_queries`` over the
    normalized rows ``df``, mapped onto the events shape as
    ``TrafficAnalytics.dashboard`` and the snapshot files map them."""
    snap = pd.DataFrame({
        "event_id": df.request_id, "user_id": df.segment_id, "event_type": df.borough,
        "value": df.volume.astype(float), "ts": df.datetime,
    })
    # event_type holds the borough, so q1's "purchase" filter selects no row:
    # its check holds only while the engine returns none
    purchases = snap[snap.event_type == "purchase"]
    latest = snap[snap.ts.dt.date == snap.ts.dt.date.max()]
    by_user = snap.groupby("user_id").value.sum().reset_index(name="total")
    md5 = snap.event_id.astype(str).map(lambda s: hashlib.md5(s.encode()).hexdigest())
    return {
        "q1_selected_series": purchases.groupby(purchases.ts.dt.date.astype(str)).value.sum()
        .rename_axis("d").reset_index(name="total"),
        "q2_top5": by_user.sort_values(["total", "user_id"], ascending=[False, True]).head(5),
        "q3_latest_hourly": latest.groupby(latest.ts.dt.hour).value.sum()
        .rename_axis("hour_of_day").reset_index(name="total"),
        "q4_type_totals": snap.groupby("event_type").value.sum().reset_index(name="total"),
        "q6_points": snap.assign(_h=md5).sort_values(["_h", "event_id"])
        .head(1000)[["event_id", "user_id", "value"]],
    }
