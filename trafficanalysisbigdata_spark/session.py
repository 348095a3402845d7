"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen so
the same logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting), Arrow for any
pandas-UDF exchange, explicit shuffle-partition sizing instead of the 200
default, and UTC session time so event-time semantics are stable across
drivers.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import tempfile
import warnings
import zipfile

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime (dynamic) confs every query should be able to rely on even when the
# SparkSession is created by an external driver we don't control.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be an integer core count, got {cpus!r}"
            ) from None
    return os.cpu_count() or 8


def get_session(app_name: str = "trafficanalysisbigdata_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the master/memory settings come from spark-submit; the
    builder only pins semantics (timezone, AQE, Arrow) and shuffle sizing.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{n}]")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _package_sources() -> list[str]:
    return sorted(glob.glob(os.path.join(_PKG_DIR, "**", "*.py"), recursive=True))


@functools.cache
def package_digest() -> str:
    """sha256 over this package's ``.py`` sources (relative path and bytes),
    hashed once per process: it names the shipped worker zip and is part of
    every engine artifact's stamp (``io.source_stamp``), so an edited fit
    rebuilds its artifact."""
    digest = hashlib.sha256()
    for full in _package_sources():
        digest.update(os.path.relpath(full, os.path.dirname(_PKG_DIR)).encode() + b"\0")
        with open(full, "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers.

    Closures that reference module-level functions (mapInPandas decoders,
    pandas UDF helpers) are pickled BY REFERENCE — workers must import the
    module. A driver that found us via sys.path manipulation does not pass
    that path to its Python workers, so ship the package source as a zip via
    addPyFile (the same mechanism a real cluster submit uses)."""
    sc = spark.sparkContext
    if getattr(sc, "_tabd_pkg_shipped", False):
        return
    # one zip per source version, shared by every process that ships it
    zpath = os.path.join(
        tempfile.gettempdir(), f"trafficanalysisbigdata_spark_{package_digest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in _package_sources():
                z.write(full, os.path.relpath(full, os.path.dirname(_PKG_DIR)))
        os.replace(tmp, zpath)  # atomic: a concurrent reader never sees half a zip
    sc.addPyFile(zpath)
    sc._tabd_pkg_shipped = True


def prep(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs to an externally-provided session.

    The driver harness constructs its own SparkSession; every registry query
    calls this first so semantics (UTC event time, AQE, Arrow) hold no matter
    who built the session. All keys here are dynamically settable.
    """
    _ship_package(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:  # how Spark refuses a conf; the rest propagates
            if spark.conf.get(k, None) == v:
                continue  # already in the required state, set() just refused
            warnings.warn(f"prep(): could not set {k}={v}: {e}", stacklevel=2)
    return spark
