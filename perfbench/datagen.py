"""Seeded inputs of the ``traffic_ingest`` workload.

``write_traffic`` writes Socrata-shaped traffic pages (all strings, ~2%
malformed ``vol``, NULL ``boro``/``direction``, some bad WKT, skewed streets)
for ``sources.paginated``, plus the growing dashboard snapshots
``streaming.snapshot`` refreshes from, with pyarrow/numpy only (no Spark), so
the same seed gives byte-identical files. The roster workload reads the
engine's parquet fixtures, committed under ``perfbench/data``.

``digest`` hashes an input directory so a run can record what it ran on.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
DIRECTIONS = ["NB", "SB", "EB", "WB"]


def traffic_rows(n: int, seed: int) -> list[dict]:
    """``n`` Socrata-shaped records (FIXTURES.md §1.1), every value a string
    and ``None`` for an absent field.

    ``requestid`` is unique per record so top-k tie-breaks and the map
    layer's hash ordering are deterministic, and the output checks can
    compare exactly."""
    rng = np.random.default_rng(seed)
    streets = np.array([f"STREET {i}" for i in range(300)], dtype=object)
    zipf = 1.0 / np.arange(1, 301) ** 1.1
    vol = rng.lognormal(3.5, 1.0, n).astype(int).astype(str).astype(object)
    u = rng.random(n)
    vol[u < 0.03] = rng.integers(400, 2000, n)[u < 0.03].astype(str)  # μ+3σ outliers
    vol[u < 0.02] = rng.choice(["n/a", "12x", "", "-"], n)[u < 0.02]  # malformed
    x, y = rng.uniform(913_000, 1_068_000, n), rng.uniform(120_000, 272_000, n)
    geom = np.array([f"POINT ({a:.1f} {b:.1f})" for a, b in zip(x, y)], dtype=object)
    g = rng.random(n)
    geom[g < 0.04] = "POINT (bad)"
    geom[g < 0.02] = None
    boro = rng.choice(BOROUGHS, n).astype(object)
    boro[rng.random(n) < 0.02] = None
    direction = rng.choice(DIRECTIONS, n).astype(object)
    direction[rng.random(n) < 0.03] = None
    cols = {
        "requestid": np.arange(n).astype(str),
        "boro": boro,
        "yr": rng.integers(2021, 2025, n).astype(str),
        "m": rng.integers(1, 13, n).astype(str),
        "d": rng.integers(1, 29, n).astype(str),
        "hh": rng.integers(0, 24, n).astype(str),
        "mm": rng.choice([0, 15, 30, 45], n).astype(str),
        "vol": vol,
        "segmentid": rng.integers(0, 500, n).astype(str),
        "wktgeom": geom,
        "street": rng.choice(streets, n, p=zipf / zipf.sum()),
        "fromst": rng.choice(streets, n),
        "tost": rng.choice(streets, n),
        "direction": direction,
    }
    return [{k: (None if v[i] is None else str(v[i])) for k, v in cols.items()} for i in range(n)]


def normalize_rows(rows: list[dict]) -> pd.DataFrame:
    """The rows after ingest, from the repository's pandas golden of
    ``sources.traffic.normalize_traffic``, with the integer key and the
    hourly ``datetime`` the analyses and snapshots read. Used to build the
    snapshots and as the analyses' oracle."""
    from tests.test_ingest import _pandas_golden

    df = _pandas_golden(rows).reset_index(drop=True)
    df = df.astype({"request_id": "int64", "volume": "int64", "hour": "int64",
                    "segment_id": "int64", "month": "int64"})
    df["datetime"] = df["date"] + pd.to_timedelta(df["hour"], unit="h")
    df["date"] = df["date"].dt.date.astype(str)
    return df


def write_traffic(out_dir: str, rows: list[dict], pages: int, ticks: int) -> None:
    """``rows`` as ``pages`` JSONL page files under ``out_dir/pages`` and as
    ``ticks`` growing snapshot parquet files under ``out_dir/snapshots``
    (snapshot k holds the first k/ticks of the normalized rows, as a full
    re-fetch per dashboard tick would)."""
    rows_per_page = -(-len(rows) // pages)
    page_dir = os.path.join(out_dir, "pages")
    os.makedirs(page_dir)
    for p in range(pages):
        with open(os.path.join(page_dir, f"page-{p:05d}.json"), "w") as f:
            for r in rows[p * rows_per_page:(p + 1) * rows_per_page]:
                f.write(json.dumps({k: v for k, v in r.items() if v is not None}) + "\n")
    norm = normalize_rows(rows)
    snap = pa.table({
        "event_id": pa.array(norm.request_id, pa.int32()),
        "user_id": pa.array(norm.segment_id, pa.int32()),
        "event_type": pa.array(norm.borough, pa.string()),
        "value": pa.array(norm.volume.astype("float64")),
        "ts": pa.array(norm.datetime.values.astype("datetime64[us]")),
    })
    snap_dir = os.path.join(out_dir, "snapshots")
    os.makedirs(snap_dir)
    base = dt.datetime(2024, 1, 1).timestamp()
    for k in range(1, ticks + 1):
        path = os.path.join(snap_dir, f"snapshot-{k:04d}.parquet")
        pq.write_table(snap.slice(0, len(norm) * k // ticks), path)
        os.utime(path, (base + k, base + k))  # the file source orders by mtime


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
