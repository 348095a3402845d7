"""Named-query registry — the contract surface consumed by __spark_entry__.py.

Each entry pairs a Spark implementation (DataFrame API or spark.sql) with an
ANSI-SQL oracle string that DuckDB runs on the same parquet tables. The driver
compares row-count + schema + order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* floating aggregates are either computed over DECIMAL(18,6) casts (exact,
  order-independent — double sums are not) or rounded on both sides;
* top-k queries carry deterministic tie-breaker keys.

Queries registered without an oracle (``oracle=None``) are non-SQL-expressible
(ML fits, LSH, streaming) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import importlib
import re
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..io import (  # noqa: F401  (re-exported)
    _unpersist_frames,
    register_views,
    release_caches,
    track_cache,
)
from ..session import prep

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}

# What a query leaves behind is recorded in ``io``: the frames it persisted
# to share work between its bounds action and its returned plan (olap9's
# reduced catalog, pipe11's scored docs) and the scratch leaves its files live
# in. Both must outlive the query function, since the returned plan still
# reads them, so the query hands them to ``io.track_cache`` /
# ``io.scratch_dir`` and the harness (bench.py, perfbench, the test session)
# frees them with ``release_caches()`` after consuming each result.
# ``track_cache`` and ``release_caches`` stay importable from here.

# Modules that register queries on import (kept lazy so importing the package
# root stays cheap).
_QUERY_MODULES = (
    "queries_core",
    "queries_ingest",
    "queries_sources",
    "queries_topk",
    "queries_functions",
    "queries_joins",
    "queries_windows",
    "queries_wide",
    "queries_setops",
    "queries_sql",
    "queries_text",
    "queries_olap",
    "queries_pipeline",
    "queries_geo",
    "queries_multimodal",
    "queries_dedup",
    "queries_similarity",
    "queries_streaming",
    "queries_ml",
    "queries_mlx",
)


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = ""
    # tables the query reads; registered as temp views before running
    tables: tuple[str, ...] = field(default_factory=tuple)

    def run(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        # Unpersist the PREVIOUS query's tracked frames: by the time the next
        # query starts, the prior result has been consumed by every harness
        # (driver sweep included — it collects before moving on), and
        # unpersist is correctness-neutral (the plan recomputes if re-read).
        # This closes the cache-lifetime gap for harnesses that never call
        # release_caches() themselves, e.g. the external driver. Scratch
        # leaves stay: a deleted file does not recompute, and a result
        # collected after the next run still reads them.
        _unpersist_frames()
        prep(spark)
        if self.tables:
            register_views(spark, sf_dir, *self.tables)
        return self.fn(spark, sf_dir)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    tables: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a DataFrame-API query implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "", tables=tables
        )
        return fn

    return deco


def register_sql(
    name: str,
    sql: str,
    tags: tuple[str, ...] = (),
    tables: tuple[str, ...] = (),
    doc: str = "",
) -> None:
    """Register a query whose Spark side is ``spark.sql(sql)`` and whose
    DuckDB oracle is the same ANSI string — the strongest possible guarantee
    the two sides agree on semantics.
    """

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(sql)

    fn.__doc__ = doc
    register(name, oracle=sql, tags=tags, tables=tables)(fn)


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry."""
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__package__}.{mod}")
    return REGISTRY


# The driver's correctness harness samples the FIRST 50 entries of
# ``queries()`` in iteration order, so ordering is a coverage decision, not
# cosmetics. Through round 6 the 50-slot window was a hand-maintained tuple;
# it is now DERIVED from the committed CORRECTNESS_r*.json history so no
# manual step can strand an oracle-bearing query outside driver view:
#
#   tier 0 — oracle-bearing queries with NO driver-green row in any past
#            round (never sampled, sampled-but-err, or newly added/renamed),
#            in registration order;
#   tier 1 — previously-green queries, least-recently-green first (so old
#            results keep getting refreshed once tier 0 drains).
#
# No-oracle queries (ml1–ml9) sort after every oracle-bearing
# query so the window stays 100% value-checkable. All queries are
# continuously exact-checked by the local mirror (tests/test_oracle_parity)
# regardless of window membership.
_WINDOW_SIZE = 50


def _green_history() -> dict[str, int]:
    """name -> latest round with a driver-green (rows+hash) row, scanned from
    the committed CORRECTNESS_r*.json files at the repo root."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    green: dict[str, int] = {}
    paths = sorted(root.glob("CORRECTNESS_r*.json"))
    parsed = 0
    for path in paths:
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            warnings.warn(
                f"driver_window: unreadable history file {path.name}; "
                "its greens will be treated as never-sampled",
                stacklevel=2,
            )
            continue
        parsed += 1
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                green[name] = max(green.get(name, 0), rnd)
    if not parsed:
        # An installed package / stripped checkout has no history files: the
        # window silently degrading to first-50 registration order would
        # starve least-recently-green rotation, so say so out loud. The
        # derivation itself stays total (tier-0 everything) on purpose —
        # a missing history must never make queries() unloadable.
        warnings.warn(
            "driver_window: no CORRECTNESS_r*.json history found at "
            f"{root} — window falls back to first-{_WINDOW_SIZE} "
            "registration order",
            stacklevel=2,
        )
    return green


def driver_window(specs: dict[str, "QuerySpec"] | None = None) -> tuple[str, ...]:
    """The 50 names the driver will sample, derived from green history."""
    if specs is None:
        specs = load_all()
    green = _green_history()
    pos = {n: i for i, n in enumerate(specs)}
    oracle_names = [n for n in specs if specs[n].oracle]
    ranked = sorted(oracle_names, key=lambda n: (green.get(n, 0), pos[n]))
    return tuple(ranked[:_WINDOW_SIZE])


def _ordered() -> dict[str, QuerySpec]:
    """Registry in driver-facing order: the derived 50-slot window first,
    then remaining oracle-bearing queries in registration order, no-oracle
    queries last."""
    specs = load_all()
    window = {n: i for i, n in enumerate(driver_window(specs))}
    pos = {n: i for i, n in enumerate(specs)}

    def key(name: str) -> tuple[int, int, int]:
        in_window = window.get(name, len(window))
        has_oracle = 0 if specs[name].oracle else 1
        return (in_window, has_oracle, pos[name])

    return {name: specs[name] for name in sorted(specs, key=key)}


def queries() -> dict[str, QueryFn]:
    return {name: spec.run for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle}
