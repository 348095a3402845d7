"""Deterministic, value-oracle-checked stages of the ML family (mlx*).

The model FITS (ml1–ml9) have no ANSI twin — a RandomForest is not
SQL-expressible — so they carry rows-only driver checks plus metric-range
gates in tests/test_ml.py. But every deterministic stage AROUND a fit is
oracle-expressible, and this module registers them so the ML surface sits
under the same driver-value-checked regime as the rest of the engine:

* mlx1/mlx2/mlx3 — the LABEL DERIVATIONS that feed M3/M4/M5 (F9 bins,
  P75 flag, μ±3σ flag over the reference's feature block,
  ref TrafficAnalysis.py:352-433), computed by the PRODUCTION expressions
  (ml/models.py ``*_label_frame``), profiled per class.
* mlx4 — ml8's md5-deterministic split × heuristic-label contract on
  ``documents``: reproducible on any engine/partitioning/row order, unlike
  randomSplit (whose per-partition seeding ties assignment to physical
  layout — the reason the raw splits stay rows-only).
* mlx5/mlx6 — the sim8 persist pattern applied to models: fit ONCE
  (seed-pinned, cached on the source stamp), persist the predictions as a
  parquet artifact, then register the CONSUMING queries — confusion-matrix
  pivot (M3) and residual metrics (M1) — whose oracles read the SAME
  artifact. This value-checks the evaluation arithmetic (pivot, MSE/MAE)
  bit-for-bit while leaving only the raw fit itself range-gated.
* mlx7 — the same pattern for M2: the fitted model's featureImportances
  persisted once as exact decimals, with the downstream ranking /
  normalization (rank, share, cumulative share) value-checked on both
  engines against that artifact.
* mlx8 — the mlx6 residual-metrics pattern applied to M6's boosted-tree
  fit (persisted decimal predictions → exact n/MSE/MAE).
* mlx9 — ml9's fold × grid work plan as a value-checked contract: the
  swept hyperparameter grid (generated from the same models.CV_* constants
  ml9 uses) crossed with an md5-deterministic k-fold assignment, with
  train/val sizes and exact label mass per fold-run checked on both
  engines — only the fold FITS remain rows-only.

Scale posture: mlx1–mlx4 are single partial/final aggregations over one
scan (the stats/threshold rows broadcast back, never a driver loop);
mlx5/mlx6 aggregate a persisted prediction table — at 100 TB that table is
the standard batch-inference output layout, and both queries are one
partial/final agg over it.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import sum_exact
from ..functions.text import EN_STOP
from ..io import ARTIFACT_ROOT, ensure_artifact, source_stamp
from ..ml import models
from .registry import register

_EN = ", ".join(f"'{w}'" for w in EN_STOP)

# Static artifact paths: the oracle SQL names them as literals. Each is a
# link that ensure_artifact points at the key for the latest sf_dir, so the
# oracle run after a query reads what that query's Spark side read.
_CONF_DIR = os.path.join(ARTIFACT_ROOT, "mlx", "volume_confusion")
_RESID_DIR = os.path.join(ARTIFACT_ROOT, "mlx", "rf_residuals")
_IMP_DIR = os.path.join(ARTIFACT_ROOT, "mlx", "rf_importances")
_GBT_DIR = os.path.join(ARTIFACT_ROOT, "mlx", "gbt_residuals")


def _fit_once(
    spark: SparkSession, sf_dir: str, path: str, rows: Callable[[], DataFrame]
) -> DataFrame:
    """Read the single-file artifact ``rows()`` persists for ``path``,
    fitting it only when no artifact exists for the events stamp."""

    def build(out: str) -> None:
        rows().coalesce(1).write.mode("overwrite").parquet(out)

    return spark.read.parquet(ensure_artifact(path, source_stamp(sf_dir, "events"), build))


# --- mlx1: M3 volume-class label derivation ---------------------------------


@register(
    "mlx1_volume_label_stage",
    oracle="""
    WITH lab AS (
      SELECT CASE WHEN value IS NOT NULL AND value >= 0 AND value < 50 THEN 0.0
                  WHEN value IS NOT NULL AND value >= 0 AND value < 200 THEN 1.0
                  ELSE 2.0 END AS label,
             event_type, user_id, value
      FROM events)
    SELECT label, event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM lab GROUP BY label, event_type ORDER BY label, event_type
    """,
    tags=("mlx", "ml", "M3", "labels"),
    tables=("events",),
)
def mlx1_volume_label_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3's label derivation, driver-value-checked: the F9 Low/Medium/High
    bins (pd.cut right=False semantics, ref TrafficAnalysis.py:352-381) as
    the 0/1/2 class label on the exact fit-input frame
    (models.volume_label_frame), profiled per (class, event_type). The
    when-chain's otherwise() catches NULL/negative values into class 2 —
    mirrored explicitly in the oracle's CASE."""
    return (
        models.volume_label_frame(spark.table("events"))
        .groupBy("label", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            sum_exact("value", "total"),
        )
        .orderBy("label", "event_type")
    )


# --- mlx2: M4 peak-hour label derivation ------------------------------------


@register(
    "mlx2_peak_label_stage",
    oracle="""
    WITH s AS (SELECT quantile_cont(value, 0.75) AS t FROM events)
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           CAST(CASE WHEN value >= t THEN 1 ELSE 0 END AS DOUBLE) AS label,
           COUNT(*) AS n
    FROM events, s
    GROUP BY hour_of_day, label ORDER BY hour_of_day, label
    """,
    tags=("mlx", "ml", "M4", "labels"),
    tables=("events",),
)
def mlx2_peak_label_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4's label derivation, driver-value-checked: value ≥ exact P75
    (ref TrafficAnalysis.py:383-406) on the fit-input frame
    (models.peak_label_frame), profiled per (hour, label) — the joint
    distribution the classifier actually learns from. The threshold is one
    broadcast row; no driver round-trip."""
    return (
        models.peak_label_frame(spark.table("events"))
        .groupBy("hour_of_day", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hour_of_day", "label")
    )


# --- mlx3: M5 abnormal-traffic label derivation ------------------------------


@register(
    "mlx3_abnormal_label_stage",
    oracle="""
    WITH s AS (SELECT AVG(value) AS mu, stddev_samp(value) AS sigma FROM events)
    SELECT CAST(CASE WHEN value > mu + 3*sigma OR value < mu - 3*sigma
                     THEN 1 ELSE 0 END AS DOUBLE) AS label,
           CAST(CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END AS INT)
             AS is_weekend,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events, s
    GROUP BY label, is_weekend ORDER BY label, is_weekend
    """,
    tags=("mlx", "ml", "M5", "labels"),
    tables=("events",),
)
def mlx3_abnormal_label_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5's label derivation, driver-value-checked: the μ±3σ abnormal flag
    (ref TrafficAnalysis.py:408-433) on the fit-input frame
    (models.abnormal_label_frame), profiled per (label, is_weekend)."""
    return (
        models.abnormal_label_frame(spark.table("events"))
        .groupBy("label", "is_weekend")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("label", "is_weekend")
    )


# --- mlx4: ml8 deterministic split × label contract --------------------------


@register(
    "mlx4_quality_split_contract",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
             COALESCE(CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ({_EN}))) AS DOUBLE)
                      / len(string_split(text, ' ')), 0.0) AS stop_ratio,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS u
      FROM documents
    ), lab AS (
      SELECT CASE WHEN u < 192 THEN 'train' ELSE 'test' END AS split,
             CAST(CASE WHEN n_tokens >= 50 AND stop_ratio >= 0.05
                        AND stop_ratio <= 0.6 THEN 1 ELSE 0 END AS DOUBLE)
               AS label,
             n_tokens, stop_ratio
      FROM feats)
    SELECT split, label,
           COUNT(*) AS n,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
           ROUND(SUM(stop_ratio), 6) AS sum_stop_ratio
    FROM lab GROUP BY split, label ORDER BY split, label
    """,
    tags=("mlx", "ml", "split", "quality"),
    tables=("documents",),
)
def mlx4_quality_split_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml8's split × label contract, driver-value-checked: the
    md5-deterministic 75/25 assignment (first md5 hex byte < 192) and the
    heuristic quality label, computed by the production frame
    (models.quality_label_frame), profiled per (split, label). This is the
    reproducibility contract a training pipeline leans on — the SAME doc
    lands in the SAME split on any engine, partitioning, or row order,
    which randomSplit cannot promise (per-partition seeding)."""
    frame = models.quality_label_frame(spark.table("documents"))
    return (
        frame.select(
            F.when(F.col("__u") < 192, "train").otherwise("test").alias("split"),
            "label",
            "n_tokens",
            "stop_ratio",
        )
        .groupBy("split", "label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            F.round(F.sum("stop_ratio"), 6).alias("sum_stop_ratio"),
        )
        .orderBy("split", "label")
    )


# --- mlx5: persisted-predictions confusion pivot (M3) ------------------------


@register(
    "mlx5_confusion_pivot",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN prediction = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS pred_0,
           CAST(SUM(CASE WHEN prediction = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS pred_1,
           CAST(SUM(CASE WHEN prediction = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS pred_2
    FROM read_parquet('{_CONF_DIR}/*.parquet')
    GROUP BY label ORDER BY label
    """,
    tags=("mlx", "ml", "M3", "confusion", "persisted"),
    tables=("events",),
)
def mlx5_confusion_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion-matrix pivot of M3's predictions, driver-value-checked
    via the sim8 persist pattern: the seed-pinned model is fit ONCE per
    source stamp, its held-out predictions persisted as a parquet artifact,
    and BOTH engines aggregate that same artifact — pinning the evaluation
    pivot bit-for-bit while the fit itself stays range-gated
    (tests/test_ml.py). Classes are small-integer doubles, so equality
    predicates are exact on both engines."""
    pred = _fit_once(
        spark,
        sf_dir,
        _CONF_DIR,
        lambda: models.volume_class_model(spark.table("events"))["pred"].select(
            "label", "prediction"
        ),
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.when(F.col("prediction") == float(k), 1).otherwise(0))
                .cast("bigint")
                .alias(f"pred_{k}")
                for k in (0, 1, 2)
            ],
        )
        .orderBy("label")
    )


# --- mlx6/mlx8: persisted-predictions residual metrics -----------------------


def _residual_oracle(label: str, path: str) -> str:
    """n_test/MSE/MAE over the ``(label, pred_dec)`` artifact at ``path``,
    squaring at (19,6) — the DuckDB side of ``_residual_metrics``."""
    return f"""
    SELECT COUNT(*) AS n_test,
           ROUND(CAST(SUM(CAST({label} - pred_dec AS DECIMAL(19,6))
                          * CAST({label} - pred_dec AS DECIMAL(19,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mse,
           ROUND(CAST(SUM(ABS({label} - pred_dec)) AS DOUBLE) / COUNT(*), 6)
             AS mae
    FROM read_parquet('{path}/*.parquet')
    """


def _residual_metrics(pred: DataFrame, label: str, query: str) -> DataFrame:
    """Exact n_test/MSE/MAE over a ``(label, pred_dec)`` DECIMAL(18,6)
    prediction artifact.

    The residual is squared at DECIMAL(16,6)×DECIMAL(16,6) → (33,12), EXACT
    on both engines: the naive (18,6) square overflows DuckDB's int64
    decimal kernel at sf0.01's daily-total residual magnitudes (caught by
    the r12 verify sweep), and Spark's own (19,6)² would precision-loss-
    truncate to scale 11 — both hazards die with the explicit narrower-width
    cast (err ≪ 10^10, so (16,6) loses nothing).

    r12-advice overflow guard: under non-ANSI Spark the (16,6) cast NULLs at
    |err| >= 1e10 and SUM would silently drop those rows while the DuckDB
    oracle (squaring at (19,6)) keeps them — a silent cross-engine
    divergence. assert_true turns that into a loud executor-side failure
    naming ``query``; it rides the same row-local projection as the cast (no
    extra action), and coalesce(null-on-pass, cast) yields the cast value on
    every passing row."""
    raw = F.col(label) - F.col("pred_dec")  # decimal(19,6): exact
    err = F.coalesce(
        F.assert_true(
            F.abs(raw) < F.lit(1e10),
            F.lit(f"{query}: |residual| >= 1e10 overflows decimal(16,6)"),
        ).cast("decimal(16,6)"),
        raw.cast("decimal(16,6)"),
    )
    n = F.count(F.lit(1))
    return pred.agg(
        n.alias("n_test"),
        F.round(F.sum(err * err).cast("double") / n, 6).alias("mse"),
        F.round(F.sum(F.abs(err)).cast("double") / n, 6).alias("mae"),
    )


@register(
    "mlx6_regression_residuals",
    oracle=_residual_oracle("value_dec", _RESID_DIR),
    tags=("mlx", "ml", "M1", "metrics", "persisted"),
    tables=("events",),
)
def mlx6_regression_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1's regression metrics recomputed from persisted predictions,
    driver-value-checked: predictions are persisted as DECIMAL(18,6) (so
    both engines read identical exact values — a raw double column would
    make the sums order-dependent), and MSE/MAE are decimal-exact sums cast
    to double at the end. This pins the metric ARITHMETIC the rows-only
    ml1 entry reports; tests/test_ml.py separately asserts the persisted
    MSE agrees with RegressionEvaluator's."""
    pred = _fit_once(
        spark,
        sf_dir,
        _RESID_DIR,
        lambda: models.rf_regression(spark.table("events"))["pred"].select(
            F.col("value").cast("decimal(18,6)").alias("value_dec"),
            F.col("prediction").cast("decimal(18,6)").alias("pred_dec"),
        ),
    )
    return _residual_metrics(pred, "value_dec", "mlx6")


# --- mlx7: persisted feature-importance ranking/normalization (M2) -----------


@register(
    "mlx7_importance_ranking",
    oracle=f"""
    WITH base AS (
      SELECT feature, imp_dec FROM read_parquet('{_IMP_DIR}/*.parquet')
    ), tot AS (SELECT SUM(imp_dec) AS t FROM base)
    SELECT feature,
           ROUND(CAST(imp_dec AS DOUBLE), 12) AS importance,
           CAST(RANK() OVER (ORDER BY imp_dec DESC, feature) AS BIGINT)
             AS imp_rank,
           ROUND(CAST(imp_dec AS DOUBLE) / CAST(t AS DOUBLE), 12) AS share,
           ROUND(CAST(SUM(imp_dec) OVER (ORDER BY imp_dec DESC, feature)
                      AS DOUBLE) / CAST(t AS DOUBLE), 12) AS cum_share
    FROM base, tot
    ORDER BY imp_rank
    """,
    tags=("mlx", "ml", "M2", "importance", "persisted"),
    tables=("events",),
)
def mlx7_importance_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2's importance ranking + normalization, driver-value-checked via the
    mlx5/mlx6 persist pattern (round-10 verdict item #8): the seed-pinned
    RF is fit ONCE per source stamp, its raw featureImportances persisted
    as DECIMAL(20,18) (exact on both engines; a double column would make
    the normalizing sum order-dependent), and BOTH engines derive rank /
    share / cumulative share from that same artifact. This pins everything
    downstream of the fit — the Pareto ordering the reference plots (ref
    TrafficAnalysis.py:201-214) — while only the fit itself stays
    range-gated. Scale: the artifact is n_features rows by construction,
    so the unpartitioned windows are driver-trivial at any corpus size."""
    from pyspark.sql.window import Window

    base = _fit_once(
        spark,
        sf_dir,
        _IMP_DIR,
        lambda: models.rf_feature_importance(spark.table("events")).select(
            "feature", F.col("importance").cast("decimal(20,18)").alias("imp_dec")
        ),
    )
    order = Window.orderBy(F.desc("imp_dec"), F.asc("feature"))
    everything = Window.partitionBy()
    total = F.sum("imp_dec").over(everything).cast("double")
    return (
        base.select(
            "feature",
            F.round(F.col("imp_dec").cast("double"), 12).alias("importance"),
            F.rank().over(order).cast("bigint").alias("imp_rank"),
            F.round(F.col("imp_dec").cast("double") / total, 12).alias("share"),
            F.round(
                F.sum("imp_dec").over(order).cast("double") / total, 12
            ).alias("cum_share"),
        )
        .orderBy("imp_rank")
    )

# --- mlx8: persisted-predictions residual metrics (M6 GBT) -------------------


@register(
    "mlx8_gbt_residuals",
    oracle=_residual_oracle("total_dec", _GBT_DIR),
    tags=("mlx", "ml", "M6", "metrics", "persisted"),
    tables=("events",),
)
def mlx8_gbt_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6's boosted-tree regression metrics recomputed from persisted
    predictions — the mlx6 pattern applied to the GBT fit (round-11 verdict
    item #5): the seed-pinned model fits ONCE per source stamp, its held-out
    (total, prediction) rows persist as DECIMAL(18,6) (exact on both
    engines; raw doubles would make the sums order-dependent), and both
    engines compute n/MSE/MAE from that same artifact. This leaves only the
    raw GBT fit itself range-gated (tests/test_ml.py); every metric ml6
    reports is now value-checked arithmetic."""
    pred = _fit_once(
        spark,
        sf_dir,
        _GBT_DIR,
        lambda: models.gbt_regression(spark.table("events"))["pred"].select(
            F.col("total").cast("decimal(18,6)").alias("total_dec"),
            F.col("prediction").cast("decimal(18,6)").alias("pred_dec"),
        ),
    )
    return _residual_metrics(pred, "total_dec", "mlx8")


# --- mlx9: deterministic CV fold x grid contract (ml9) -----------------------

_CV_GRID_VALUES = ", ".join(
    f"({t}, {d})" for t in models.CV_NUM_TREES for d in models.CV_MAX_DEPTH
)


@register(
    "mlx9_cv_fold_grid_contract",
    oracle=f"""
    WITH f AS (
      SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))::BIGINT
               % {models.CV_NUM_FOLDS} AS fold,
             value
      FROM events
    ), agg AS (
      SELECT fold, COUNT(*) AS n_val,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
      FROM f GROUP BY fold
    ), tot AS (SELECT COUNT(*) AS n FROM events),
    grid AS (
      SELECT * FROM (VALUES {_CV_GRID_VALUES}) AS g(num_trees, max_depth)
    )
    SELECT g.num_trees, g.max_depth, a.fold,
           (t.n - a.n_val) AS n_train, a.n_val, a.sum_val
    FROM grid g CROSS JOIN agg a CROSS JOIN tot t
    ORDER BY g.num_trees, g.max_depth, a.fold
    """,
    tags=("mlx", "ml", "tuning", "cv", "split"),
    tables=("events",),
)
def mlx9_cv_fold_grid_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml9's fold x grid plan as a value-checked contract (round-11 verdict
    item #5): the hyperparameter grid (generated from the SAME
    models.CV_NUM_TREES/CV_MAX_DEPTH constants ml9 sweeps, so swept and
    checked grids cannot drift) crossed with an md5-deterministic k-fold
    assignment (first md5 hex byte of event_id mod k — the mlx4 discipline:
    reproducible on any engine, partitioning, or row order, which
    CrossValidator's rand-column folds cannot promise), reporting each
    fold-run's train/validation sizes and exact label mass. This is the
    work plan a distributed CV executes — grid x folds fit jobs over pinned
    partitions — with everything except the fits themselves value-checked.
    Scale: one partial/final agg over events plus a broadcast of the
    |grid| x k contract rows.

    r15 continuation MEASURED REJECTION: fanning the one-split events scan
    out read off 1.139 vs on 1.343 s (interleaved min-of-5) — one md5 per
    EVENT ROW over ~100k rows is two orders of magnitude less hash work
    than the per-gram winners (dd4-class: ~10⁶ grams × md5), so the
    exchange tax dominates. The fan-out class needs per-row work, not just
    a hash somewhere in the plan."""
    ev = spark.table("events")
    fold = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2), 16, 10)
        .cast("bigint")
        % models.CV_NUM_FOLDS
    )
    agg = (
        ev.select(fold.alias("fold"), "value")
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_val"), sum_exact("value", "sum_val"))
    )
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    grid = spark.createDataFrame(
        [(t, d) for t in models.CV_NUM_TREES for d in models.CV_MAX_DEPTH],
        "num_trees int, max_depth int",
    )
    return (
        grid.crossJoin(agg)
        .crossJoin(F.broadcast(tot))
        .select(
            "num_trees",
            "max_depth",
            "fold",
            (F.col("n") - F.col("n_val")).alias("n_train"),
            "n_val",
            "sum_val",
        )
        .orderBy("num_trees", "max_depth", "fold")
    )
