"""Table loaders / sinks over the driver's parquet fixtures, and the one
owner of the files the engine writes itself.

Scans are plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and (when the layout is partitioned) partition pruning. At
cluster scale the same loaders work against a partitioned/bucketed lakehouse
layout — see ``write_partitioned``.

Scratch rule (``scratch_dir``): a query that writes its own data (sink
round-trips, layout rewrites, stream sources and checkpoints, LSH staging)
writes under ``spark.trafficanalysisbigdata.scratchDir`` if the session sets
it, else under ``<spark.sql.warehouse.dir>/_scratch``, in a fresh uuid leaf
per run.

* Cluster-reachable: every executor writes there and the returned DataFrame
  reads back from there, and the warehouse is the one location a cluster
  session already guarantees is shared. A driver-local temp dir works only
  in local mode.
* A uuid leaf per run: two runs of one query, in one driver or many, never
  share a path, so a rerun cannot overwrite files an earlier result still
  reads.
* Freed when the run is consumed: ``scratch_dir`` records each leaf it hands
  out, ``track_cache`` records each frame a query persisted, and
  ``release_caches()`` unpersists those frames and deletes those leaves. A
  harness calls it once it has consumed a result (``bench.py``,
  ``perfbench``, ``scripts/opt_plans.py``, the test session's teardown);
  until then the files back the returned DataFrame, so a result collected
  late still reads them. ``QuerySpec.run`` frees only the frames at the
  start of the next run: a frame recomputes, a deleted file does not.

A warehouse on ``file:`` resolves to a plain local path, so the callers that
use the Python filesystem on their leaf (st10's ordered source install,
st11's versioned state) work unchanged in local mode. Leaves are deleted
through the session's Hadoop ``FileSystem`` (the record keeps such a leaf
qualified as ``file:``), so a non-local warehouse is freed the same way.

Fit-once artifacts (``ensure_artifact``) are different: fitted models and
indexes that a DuckDB oracle reads by literal path. One rule publishes them:
a build writes into a fresh ``.tmp-<uuid>`` directory beside its target and
is renamed into ``<path>.d/<key>``, the key a digest of the stamp, so a key
directory that exists is complete and never changes. Builds of one key race
safely: the loser of the rename deletes its copy and uses the winner's. The
Spark side reads the returned key directory; ``<path>`` itself is a symlink,
swapped atomically to the key of the latest call, for the oracle SQL that
names it. Each ``<path>.d/`` keeps the ``ARTIFACT_KEEP`` most recently used
keys, so alternating scale factors reuse theirs. Retention never deletes a
``.tmp-`` directory: it may be a concurrent build, which removes its own
when it finishes or fails; one left by a killed process is never served and
stays until the root is deleted. The limit: there is one
link per artifact kind under ``ARTIFACT_ROOT``, so one per host with the
default temp dir, and two drivers on two scale factors at once still contend
for it: each Spark side reads its own key, but an oracle reads whichever key
was linked last. The artifacts live under ``ARTIFACT_ROOT`` on the driver's
local filesystem; the root of the earlier layout, one mutable directory per
kind under ``<tempdir>/spark_graft_artifacts``, is inert and safe to delete.
"""

from __future__ import annotations

import errno
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (region and
# nation are bounded by geography; supplier/part/customer grow with SF but the
# *driver fixtures* keep them tiny — joins against them take a broadcast hint
# only where the table is bounded in principle).
BROADCAST_SAFE = {"region", "nation"}


SCRATCH_DIR_CONF = "spark.trafficanalysisbigdata.scratchDir"

# Root of the fit-once artifacts: oracle SQL interpolates paths under it as
# literals, so it is fixed at import time and stays on the driver's local
# filesystem, where DuckDB reads it.
ARTIFACT_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_keyed_artifacts")
# Keys kept per artifact path, the most recently used first.
ARTIFACT_KEEP = 4


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@dataclass
class _LeftBehind:
    """What the query runs of this process leave behind until
    ``release_caches()``: the frames they persisted and the scratch leaves
    they were handed, each leaf with the session whose FileSystem holds it."""

    frames: list[DataFrame] = field(default_factory=list)
    leaves: list[tuple[SparkSession, str]] = field(default_factory=list)


_LEFT_BEHIND = _LeftBehind()


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """A fresh ``<root>/<tag>-<uuid>`` path for one run's own files (see the
    module docstring for the rule). Not created: Spark writers create it.
    Recorded, so ``release_caches()`` deletes it."""
    root = spark.conf.get(SCRATCH_DIR_CONF, None) or (
        spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/_scratch"
    )
    local = root.startswith("file:")
    if local:
        root = unquote(urlparse(root).path)
    leaf = f"{root.rstrip('/')}/{tag}-{uuid.uuid4().hex}"
    _LEFT_BEHIND.leaves.append((spark, f"file:{leaf}" if local else leaf))
    return leaf


def track_cache(df: DataFrame) -> DataFrame:
    """Record a persisted DataFrame for release by ``release_caches()``.

    Contract: only track frames whose RECOMPUTE is deterministic (pure
    transformations of the source tables). QuerySpec.run() unpersists
    tracked frames before the NEXT query runs, so a consumer that collects a
    prior result late re-triggers computation — a frame persisted to freeze
    nondeterminism (a sample, un-seeded model scores) would silently return
    different rows after release. Freeze-persist use cases need a written
    artifact (see ensure_artifact), not a tracked cache."""
    _LEFT_BEHIND.frames.append(df)
    return df


def _unpersist_frames() -> int:
    """Unpersist every tracked frame; returns how many. A frame whose
    SparkContext is stopped holds nothing left to release and is skipped;
    any other unpersist error propagates."""
    frames = _LEFT_BEHIND.frames
    n = len(frames)
    while frames:
        df = frames.pop()
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist()
    return n


def _delete_leaves() -> int:
    """Delete every recorded scratch leaf; returns how many. A leaf that was
    never written is not an error; any other delete failure propagates."""
    leaves = _LEFT_BEHIND.leaves
    n = len(leaves)
    while leaves:
        spark, leaf = leaves.pop()
        jsc = spark.sparkContext._jsc
        if jsc is None:
            raise RuntimeError(f"cannot delete scratch leaf {leaf}: its SparkContext is stopped")
        path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(leaf)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if not fs.delete(path, True) and fs.exists(path):
            raise OSError(f"could not delete scratch leaf {leaf}")
    return n


def release_caches() -> int:
    """Free what query runs left behind: unpersist the tracked frames and
    delete the scratch leaves. Call it once the results are consumed; returns
    how many frames and leaves were freed."""
    return _unpersist_frames() + _delete_leaves()


def source_stamp(sf_dir: str, table: str) -> str:
    """The stamp of an engine artifact fitted on a fixture table:
    ``session.package_digest()`` plus the table's path, mtime and size, so an
    edited fit or a regenerated table at the same path never serves a stale
    artifact."""
    try:
        st = os.stat(table_path(sf_dir, table))
    except OSError:
        return f"{session.package_digest()}|{sf_dir}|nostat"
    return f"{session.package_digest()}|{sf_dir}|{st.st_mtime_ns}|{st.st_size}"


def ensure_artifact(path: str, stamp: str, build: Callable[[str], None]) -> str:
    """Fit-once cache (see the module docstring): the complete, immutable
    directory for ``stamp``, ``<path>.d/<sha256(stamp)[:16]>``, running
    ``build(tmp)`` only when it does not exist yet. A build that raises
    leaves nothing behind. ``path`` is repointed to the returned directory,
    and the ``ARTIFACT_KEEP`` most recently used keys are kept."""
    keys = f"{path}.d"
    key = os.path.join(keys, hashlib.sha256(stamp.encode()).hexdigest()[:16])
    try:
        os.utime(key)  # exists, so complete; the touch orders retention
    except FileNotFoundError:
        tmp = os.path.join(keys, f".tmp-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        try:
            build(tmp)
            os.rename(tmp, key)
        except OSError as e:  # a concurrent build of this key renamed first
            if e.errno not in (errno.ENOTEMPTY, errno.EEXIST) or not os.path.isdir(key):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    link = f"{path}.lnk-{uuid.uuid4().hex}"
    os.symlink(os.path.relpath(key, os.path.dirname(path)), link)
    os.replace(link, path)

    def recency(name: str) -> tuple[bool, int]:
        try:
            return name != os.path.basename(key), -os.stat(os.path.join(keys, name)).st_mtime_ns
        except FileNotFoundError:  # pruned by a concurrent call
            return True, 0

    published = [name for name in os.listdir(keys) if not name.startswith(".tmp-")]
    for name in sorted(published, key=recency)[ARTIFACT_KEEP:]:
        shutil.rmtree(os.path.join(keys, name), ignore_errors=True)
    return key


def fan_out_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive fan-out for EXPRESSION-HEAVY pipelines over a small
    scan: when the frame has fewer partitions than the session has cores AND
    is estimated under one scan split, hash-repartition it on ``key_col`` to
    ``defaultParallelism`` so the md5/tokenize/fold work above it runs
    cores-wide instead of on the scan's single task.

    Opt-in PER OPERATOR, never per table: the r14 interleaved A/Bs measured
    the win only where per-row expression cost dominates (per-gram md5
    pipelines: dd4/dd7/dd10/tx16/tx9/pipe5/tx11; int8 quantization+folds:
    pipe16) and a 2–3× TAX on light queries that share the same tables
    (tx18/mm9/pipe7–9), so a blanket table-level fan-out loses net. Keyed
    hash partitioning on the unique id — NOT round-robin, whose
    sortBeforeRepartition pays a full local sort of the rows (guide §2.5;
    measured as most of the light-query tax) — and a unique key spreads
    evenly at any scale. Both gate operands derive from the environment
    (estimated bytes, partition count, session parallelism): a real layout
    has many splits and/or exceeds the size bound, so cluster-scale scans
    never pay the shuffle; the shuffle, when it fires, moves under one
    split of bytes.

    The size bound is one parquet scan split as the SESSION sizes it
    (``spark.sql.files.maxPartitionBytes``, parsed by Spark), so a deployment
    that re-tunes its split size keeps the gate aligned with actual scan
    splits. A frame estimated under it is one scan task here (single file,
    single row group in the fixtures), so everything fused above the scan
    runs on one core — the guide's "input skew: one huge unsplittable file;
    repartition immediately after the read" case (§2.5), in miniature."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if cores <= 1:
        return df
    # size gate FIRST: it reads optimized-plan statistics (no physical
    # planning), and every at-scale layout exceeds one split, so the df.rdd
    # physical-plan compile below is only ever paid by frames already known
    # to be small (r14 verdict item on double planning)
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if est >= split or df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores, F.col(key_col))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (see session.RUNTIME_CONFS); convert
        # to microsecond timestamp with integer division — ts/1000 in floating
        # point would lose precision above 2^53 ns (~1970+104 days).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named tables (default: all) as temp views for spark.sql."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Scale-path sink: date/key-partitioned, optionally bucketed, parquet.

    Bucketing co-locates later joins/aggregations on the bucket keys without a
    shuffle; it requires a managed table (``saveAsTable``).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucketed writes need table_name for saveAsTable")
        writer.option("path", path).bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return
    writer.save(path)


def write_sorted(df: DataFrame, path: str, sort_col: str, n_files: int) -> None:
    """Range-partitioned, sorted parquet layout — the zone-map/data-skipping
    strategy for range-filtered scans (time-series facts above all): rows are
    range-partitioned on ``sort_col`` into ``n_files`` disjoint spans and
    sorted within each, so every file's parquet footer carries a TIGHT
    min/max for the column. A later range predicate prunes whole files and
    row groups at planning/scan time — bytes read scale with the predicate's
    span, not the table. The same layout is what table formats call
    clustering/Z-ordering in the single-column case.
    """
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


# rank width of each dimension in ``write_zorder``'s Morton key
ZORDER_BITS = 16


def zorder_col(u: F.Column, v: F.Column) -> F.Column:
    """Interleave the low ``ZORDER_BITS`` bits of two non-negative integer
    columns into a Morton (z-order) key: z = ... v1 u1 v0 u0.

    Pure Catalyst bit math (shift/and/or), so the key computation is
    whole-stage-codegen and never leaves the JVM."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zorder(df: DataFrame, path: str, col_a: str, col_b: str, n_files: int) -> None:
    """Two-column z-order clustered parquet layout — the multi-dimensional
    generalization of ``write_sorted``: each column is min-max normalized to
    a ``ZORDER_BITS``-bit rank (bounds from one scalar aggregate, broadcast back),
    the ranks interleave into a Morton key, and rows are range-partitioned +
    sorted on that key. Because the z-curve preserves locality in BOTH
    dimensions, every file's parquet footer carries a tight min/max box on
    col_a AND col_b simultaneously (asserted on disk in
    tests/test_operator_edges.py) — so a predicate on either column, or a
    box on both, prunes files/row groups. A single-column sort gives tight
    footers on one dimension and full-range footers on every other; z-order
    is what table formats run for multi-dimension clustering.
    """
    top = float((1 << ZORDER_BITS) - 1)
    bounds = df.agg(
        F.min(col_a).cast("double").alias("_a_lo"),
        F.max(col_a).cast("double").alias("_a_hi"),
        F.min(col_b).cast("double").alias("_b_lo"),
        F.max(col_b).cast("double").alias("_b_hi"),
    )

    def rank(c: str, lo: str, hi: str) -> F.Column:
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1e-12))
        frac = (F.col(c).cast("double") - F.col(lo)) / span
        return F.floor(frac * top).cast("long")

    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z", zorder_col(rank(col_a, "_a_lo", "_a_hi"), rank(col_b, "_b_lo", "_b_hi"))
    )
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_a_lo", "_a_hi", "_b_lo", "_b_hi")
        .write.mode("overwrite")
        .parquet(path)
    )
