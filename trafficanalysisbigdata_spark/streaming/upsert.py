"""Versioned keyed-upsert sink for foreachBatch (the st11 pattern).

Each micro-batch merges its per-key aggregate into the latest state version
STRICTLY OLDER than the batch and publishes the result as an immutable new
version directory ``v{batch_id:05d}`` — the plain-parquet expression of what
Delta/Iceberg MERGE does under snapshot isolation.

Effectively-once under replay: Structured Streaming may re-run a batch whose
version directory was written but whose checkpoint commit was lost. Because
the merge reads only versions with id < batch_id, the replay recomputes the
SAME output and the ``mode("overwrite")`` publish is idempotent — reading
"latest version" unconditionally would instead double-count the batch into
its own partial output (covered by tests/test_streaming.py's replay test).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _complete_versions(state_root: str, below: int | None = None) -> list[str]:
    """Version directories that finished committing (``_SUCCESS`` present),
    sorted ascending; a crash between publish and checkpoint commit leaves a
    marker-less partial directory that must be invisible to readers."""
    try:
        names = sorted(d for d in os.listdir(state_root) if d.startswith("v"))
    except FileNotFoundError:
        return []
    return [
        d
        for d in names
        if (below is None or int(d[1:]) < below)
        and os.path.exists(os.path.join(state_root, d, "_SUCCESS"))
    ]


#: Complete state versions retained after each publish (see keyed_upsert_batch).
KEEP_VERSIONS = 3


def keyed_upsert_batch(state_root: str) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch writer: counter columns accumulate, the
    latest-attribute columns resolve by event recency (max event_id) — the
    CDC materialization contract. The merge is a full-outer join on the key
    of two one-row-per-key frames, so each batch's cost is bounded by its
    own key set plus the state width, never the stream's history.

    ``KEEP_VERSIONS`` bounds storage: after each publish, all but the newest
    K complete versions are retired. One full state copy per batch is the
    price of immutable-version snapshot isolation (what Delta/Iceberg pay
    too), but UNBOUNDED retention is not — over a long-running stream the
    state root would grow linearly in batches. K >= 2 preserves replay
    idempotence: Structured Streaming only ever replays the newest
    batch (the one whose checkpoint commit was lost), and that replay reads
    the newest complete version STRICTLY OLDER than itself — i.e. the
    second-newest overall, which retention always keeps."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            F.max("event_id").alias("last_event_id"),
            F.max_by("value", "event_id").alias("last_value"),
        )
        versions = _complete_versions(state_root, below=batch_id)
        if versions:
            s = batch_df.sparkSession.read.parquet(
                os.path.join(state_root, versions[-1])
            )
            joined = s.alias("s").join(b.alias("b"), "user_id", "full_outer")
            merged = joined.select(
                "user_id",
                (
                    F.coalesce(F.col("s.n"), F.lit(0))
                    + F.coalesce(F.col("b.n"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("s.total_dec"), F.lit(0).cast("decimal(18,6)"))
                    + F.coalesce(F.col("b.total_dec"), F.lit(0).cast("decimal(18,6)"))
                ).alias("total_dec"),
                F.greatest(
                    F.coalesce(F.col("s.last_event_id"), F.lit(-1)),
                    F.coalesce(F.col("b.last_event_id"), F.lit(-1)),
                ).alias("last_event_id"),
                F.when(
                    F.coalesce(F.col("b.last_event_id"), F.lit(-1))
                    > F.coalesce(F.col("s.last_event_id"), F.lit(-1)),
                    F.col("b.last_value"),
                )
                .otherwise(F.col("s.last_value"))
                .alias("last_value"),
            )
        else:
            merged = b
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id:05d}")
        )
        for stale in _complete_versions(state_root)[:-KEEP_VERSIONS]:
            shutil.rmtree(os.path.join(state_root, stale), ignore_errors=True)

    return upsert


#: Schema of the published state versions — used to type the empty frame a
#: drained-zero-batches stream yields, so consumers see the same columns
#: whether or not any batch ever committed.
STATE_SCHEMA = (
    "user_id bigint, n bigint, total_dec decimal(18,6), "
    "last_event_id bigint, last_value double"
)


def latest_state(spark, state_root: str) -> DataFrame:
    """Read the most recently published COMPLETE version.

    Two failure shapes are first-class states, not stack traces:

    - the stream drained zero batches (no ``v*`` directory at all) — return
      an EMPTY frame with the state schema so downstream unions/joins work;
    - a crash between publish and checkpoint commit left a partial version
      directory (no ``_SUCCESS`` marker from the Hadoop committer) — skip it
      and read the newest version that finished committing. The replayed
      batch will overwrite the partial directory on restart, so skipping is
      exactly the snapshot-isolation read.
    """
    complete = _complete_versions(state_root)
    if not complete:
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.parquet(os.path.join(state_root, complete[-1]))
