"""EPSG:2263 ↔ WGS84 reprojection (F18).

The Catalyst inverse rests on independent legs: forward∘inverse roundtrip
closes to sub-millifoot, results land in the real NYC lat/lon envelope for
the state-plane input envelope, and the projection origin maps exactly.
The f18 oracle-parity test adds the cross-engine check on the same math.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trafficanalysisbigdata_spark.functions import geo
from trafficanalysisbigdata_spark.session import prep


def test_roundtrip_forward_inverse(spark):
    prep(spark)
    # grid across the FIXTURES.md envelope
    pts = [
        (i, 913000.0 + 31000.0 * (i % 5), 120000.0 + 30400.0 * (i // 5))
        for i in range(25)
    ]
    df = spark.createDataFrame(pts, "id long, x_ft double, y_ft double")
    out = df.select(
        "id",
        "x_ft",
        "y_ft",
        geo.epsg2263_lon(F.col("x_ft"), F.col("y_ft")).alias("lon"),
        geo.epsg2263_lat(F.col("x_ft"), F.col("y_ft")).alias("lat"),
    ).collect()
    for r in out:
        x2, y2 = geo.wgs84_to_epsg2263(r.lon, r.lat)
        assert abs(x2 - r.x_ft) < 1e-3, r  # sub-millifoot closure
        assert abs(y2 - r.y_ft) < 1e-3, r
        # NYC envelope (the projection is only valid near Long Island)
        assert -74.3 < r.lon < -73.0, r
        assert 40.0 < r.lat < 41.1, r


def test_known_anchor_point(spark):
    """The projection origin (40°10′N 74°W) must map from exactly
    (false_easting, 0) — an analytically known fixed point."""
    prep(spark)
    df = spark.createDataFrame(
        [(984250.0, 0.0)], "x_ft double, y_ft double"
    ).select(
        geo.epsg2263_lon(F.col("x_ft"), F.col("y_ft")).alias("lon"),
        geo.epsg2263_lat(F.col("x_ft"), F.col("y_ft")).alias("lat"),
    )
    r = df.collect()[0]
    assert abs(r.lon - (-74.0)) < 1e-9
    assert abs(r.lat - (40.0 + 10.0 / 60.0)) < 1e-9
