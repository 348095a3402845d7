"""User-facing facade: the reference's workflow as one object.

A user of the reference drives three scripts — ``TrafficAnalysis.main()``
(batch analyses, ref TrafficAnalysis.py:441-494), ``Dash.py`` (live dashboard
snapshots), and the ``proto`` historical pipeline. ``TrafficAnalytics`` is the
switch-over surface: the same workflow, one method per reference analysis,
returning lazy DataFrames instead of matplotlib figures, with Spark handling
distribution. Nothing here adds logic — every method delegates to the
operator modules the registry queries also use, so the facade is covered by
the same driver-oracle trail.

    ta = TrafficAnalytics.from_json(spark, "data/traffic/*.json")
    ta.borough_totals().show()          # ref TrafficAnalysis.py analysis 1
    ta.hourly_totals().show()           # ref analysis 5
    ta.abnormal_days().show()           # ref μ±3σ flag
    ta.dashboard()                      # ref Dash.py per-tick dict
    ta.volume_model()                   # ref RF pipeline metrics
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import (
    correlation_matrix,
    histogram,
    multi_agg_by_key,
    summary_stats,
    totals_by_key,
)
from .operators.filters import quantile_flag, sigma_outlier_flag
from .operators.topk import top_k
from .session import prep
from .sources.traffic import normalize_traffic, read_traffic_json


class TrafficAnalytics:
    """One instance = one normalized traffic dataset + the reference's
    analysis catalog over it.

    Construction is lazy end to end: ingest is a narrow Catalyst stage
    (sources/traffic.py), building an instance launches no job, and each
    method returns an unevaluated DataFrame.

    One fetch per instance: a ``from_paginated`` instance fetches the API's
    pages once, at its first action, and every later analysis,
    ``dashboard()`` and ``volume_model()`` reads that copy, as the
    reference's fetch-then-analyse ``main()`` does. A ``from_json``
    instance stays a plain lazy read: re-reading files is repeatable, so
    each analysis scans them natively.
    """

    def __init__(self, df: DataFrame):
        self.df = df

    # -- construction ------------------------------------------------------

    @classmethod
    def from_json(cls, spark: SparkSession, path: str) -> "TrafficAnalytics":
        """Socrata-shaped JSON (all-strings) → normalized frame (S4 + P1 +
        F10/F11 + F1–F7), the ref TrafficAnalysis.py:57-107 pipeline."""
        prep(spark)
        return cls(normalize_traffic(read_traffic_json(spark, path)))

    @classmethod
    def from_paginated(cls, spark: SparkSession, pages_dir: str) -> "TrafficAnalytics":
        """Paginated-API ingest (S1) via the custom DataSource — one Spark
        task per page, normalized through the same pipeline as from_json.

        One fetch per instance: the frame is a lazy local checkpoint, so
        construction launches no job and the first action fetches every
        page once — all of them even under a ``limit``, as the checkpoint
        computes the partitions the action skipped. Later analyses read the
        stored blocks: they neither re-fetch nor see pages changed since,
        and a new ``from_paginated`` is a new fetch. The blocks live while
        a frame derived from the instance is reachable (Spark's
        ContextCleaner frees them after; ``release_caches()`` leaves them),
        and a lost executor fails the query instead of re-fetching a
        changed API. Not ``cache()``: the CacheManager matches plans, so a
        later fetch of the same directory could be served these pages. Not
        ``io.track_cache``: it expects a deterministic recompute."""
        from .sources.paginated import PaginatedJsonDataSource

        prep(spark)
        spark.dataSource.register(PaginatedJsonDataSource)  # idempotent
        raw = spark.read.format("paginated_json").load(pages_dir)
        return cls(normalize_traffic(raw).localCheckpoint(eager=False))

    @classmethod
    def from_normalized(cls, df: DataFrame) -> "TrafficAnalytics":
        """Adopt an already-normalized frame (e.g. a curated parquet lake)."""
        return cls(df)

    # -- reference batch analyses (TrafficAnalysis.main order) -------------

    def borough_totals(self) -> DataFrame:
        """A1: volume per borough, densest first."""
        return totals_by_key(self.df, "borough", "volume", "borough").orderBy(
            F.desc("total"), "borough"
        )

    def borough_profile(self) -> DataFrame:
        """A3: count/sum/mean/min/max per borough."""
        return multi_agg_by_key(self.df, "borough", "volume")

    def daily_totals(self) -> DataFrame:
        """A4: volume per calendar date."""
        return totals_by_key(
            self.df, F.to_date("datetime").cast("string"), "volume", "d"
        ).orderBy("d")

    def hourly_totals(self) -> DataFrame:
        """A5: volume per hour of day — the reference's headline curve."""
        return totals_by_key(self.df, "hour", "volume", "hour").orderBy("hour")

    def weekend_split(self) -> DataFrame:
        """F3-driven weekday/weekend comparison."""
        return totals_by_key(self.df, "is_weekend", "volume", "is_weekend").orderBy(
            "is_weekend"
        )

    def volume_summary(self) -> DataFrame:
        """A9/A10: describe()-style scalar statistics for volume."""
        return summary_stats(self.df, "volume")

    def volume_histogram(self, bins: int = 20) -> DataFrame:
        """A13: fixed-width volume histogram."""
        return histogram(self.df, "volume", bins)

    def correlations(self, cols: list[str] | None = None) -> DataFrame:
        """A11: correlation matrix over the numeric columns."""
        return correlation_matrix(self.df, cols or ["volume", "hour", "month"])

    def busiest_segments(self, k: int = 10) -> DataFrame:
        """T2/T3: top-k rows by volume with deterministic tie-breaks."""
        return top_k(self.df, "volume", k, ["request_id"])

    def abnormal_days(self) -> DataFrame:
        """P8: μ±3σ outlier flag over the daily series (ref M5 precursor)."""
        daily = self.daily_totals().withColumnRenamed("total", "day_total")
        return sigma_outlier_flag(daily, "day_total")

    def heavy_hours(self, q: float = 0.75) -> DataFrame:
        """P9: hours above the q-quantile of hourly volume."""
        hourly = self.hourly_totals().withColumnRenamed("total", "hour_total")
        return quantile_flag(hourly, "hour_total", q)

    # -- dashboard + ML ----------------------------------------------------

    def _events(self) -> DataFrame:
        """The frame projected onto the events schema (FIXTURES.md §2) that
        the dashboard and ML paths share."""
        return self.df.select(
            F.col("request_id").alias("event_id"),
            F.col("segment_id").alias("user_id"),
            F.col("borough").alias("event_type"),
            F.col("volume").cast("double").alias("value"),
            F.col("datetime").alias("ts"),
        )

    def dashboard(self) -> dict[str, DataFrame]:
        """Dash.py's per-tick query set over the current frame (A6/A7/ST2).

        For live snapshots, feed the same dict through
        ``streaming.snapshot.SnapshotRefreshJob`` — the facade frame and the
        micro-batch frame run identical plans.
        """
        from .streaming.snapshot import dashboard_queries

        return dashboard_queries(self._events())

    def volume_model(self) -> dict:
        """M1: the reference's RF volume regression, metrics dict."""
        from .ml.models import rf_regression

        return rf_regression(self._events())
