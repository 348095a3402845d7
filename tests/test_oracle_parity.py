"""Differential tests: every registry query with an oracle must match DuckDB
exactly at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from trafficanalysisbigdata_spark.plans.registry import load_all

from .oracle_harness import compare, duck_connection

SPECS = load_all()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    spec = SPECS[name]
    sdf = spec.run(spark, sf_dir)
    ddf = duck.execute(spec.oracle).df()
    problems = compare(name, sdf, ddf)
    assert not problems, "\n".join(problems)


def test_driver_window_is_fully_oracle_checkable():
    """The driver samples the first 50 entries of queries(); every one of
    them must carry an oracle, every window name must exist, and no-oracle
    queries must sort behind every oracle-bearing one — a registry change
    that silently pushes an unverifiable query into the sample window is a
    regression this test catches."""
    from trafficanalysisbigdata_spark.plans.registry import (
        driver_window,
        oracle_sql,
        queries,
    )

    window = driver_window()
    names = list(queries())
    assert len(window) == 50
    assert len(set(window)) == 50
    missing = [n for n in window if n not in SPECS]
    assert not missing, f"window names not in registry: {missing}"
    assert names[:50] == list(window)
    no_oracle_in_window = [n for n in names[:50] if not SPECS[n].oracle]
    assert not no_oracle_in_window, no_oracle_in_window
    # oracle_sql iterates in the same order, and the no-oracle tail is last
    assert list(oracle_sql())[:50] == names[:50]
    tail = names[len(names) - sum(1 for s in SPECS.values() if not s.oracle) :]
    assert all(not SPECS[n].oracle for n in tail)


def test_driver_window_ranks_never_green_first():
    """The window is derived from CORRECTNESS_r*.json history: every
    oracle-bearing query that has never earned a driver-green row must rank
    ahead of every query that has one, so new/renamed queries cannot be
    stranded outside driver view by a stale hand-maintained list."""
    from trafficanalysisbigdata_spark.plans.registry import (
        _green_history,
        driver_window,
    )

    green = _green_history()
    window = driver_window()
    never_green = [n for n in SPECS if SPECS[n].oracle and n not in green]
    # every never-green oracle query fits in (or overflows past) the window
    expected_head = never_green[:50]
    assert set(expected_head) <= set(window), (
        f"never-green queries missing from window: "
        f"{sorted(set(expected_head) - set(window))}"
    )
    # and they all rank before any previously-green entry
    first_green_pos = next(
        (i for i, n in enumerate(window) if n in green), len(window)
    )
    assert all(n not in green for n in window[:first_green_pos])
    assert all(n in green for n in window[first_green_pos:])
    # backfill is least-recently-green first (non-decreasing green rounds)
    rounds = [green[n] for n in window[first_green_pos:]]
    assert rounds == sorted(rounds)


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still must execute and return a schema."""
    for name, spec in SPECS.items():
        if spec.oracle:
            continue
        df = spec.run(spark, sf_dir)
        assert df.columns, f"{name} returned no columns"
        assert df.count() >= 0


def test_a14_hll_error_bound(spark, sf_dir):
    """Raw HLL++ estimates (rsd 0.01 / 0.05) within tight empirical bounds.

    a14b's registered query now returns only the oracle-checkable bound
    VERDICTS; this test keeps the raw estimates auditable by computing them
    directly, at a tighter-than-contract 2% / 10% empirical bar."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.io import register_views
    from trafficanalysisbigdata_spark.plans.registry import queries
    from trafficanalysisbigdata_spark.session import prep

    prep(spark)
    register_views(spark, sf_dir, "events")
    raw = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_fine"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("n_coarse"),
        )
        .collect()
    )
    assert raw
    for r in raw:
        assert abs(r.n_fine - r.n_exact) <= max(1, 0.02 * r.n_exact), r
        assert abs(r.n_coarse - r.n_exact) <= max(1, 0.10 * r.n_exact), r
    verdicts = queries()["a14b_hll_estimate_audit"](spark, sf_dir).collect()
    assert verdicts and all(
        v.fine_within_3rsd and v.coarse_within_3rsd for v in verdicts
    ), verdicts


def test_window_rotation_regreens_every_oracle_query(monkeypatch):
    """Staleness guard for the derived rotation: simulating the driver
    forward — each round greens the current 50-slot window, then the window
    re-derives — every oracle-bearing query must re-green within
    ceil(n_oracle/50) + 1 rounds, forever. Protects against a future
    registration-order or ranking change silently starving some query of
    driver refresh."""
    import math

    from trafficanalysisbigdata_spark.plans import registry

    specs = load_all()
    oracle_names = [n for n in specs if specs[n].oracle]
    bound = math.ceil(len(oracle_names) / 50) + 1

    green: dict[str, int] = dict(registry._green_history())
    base = max(green.values(), default=0)
    monkeypatch.setattr(registry, "_green_history", lambda: green)

    for rnd in range(base + 1, base + 1 + 2 * bound):
        for name in registry.driver_window(specs):
            green[name] = rnd
    # after `bound` rounds of any window in the simulation, nothing is stale
    stalest = min((green.get(n, 0) for n in oracle_names), default=0)
    assert stalest > base + 2 * bound - bound, (
        f"some oracle query not re-greened within {bound} rounds: "
        f"{[n for n in oracle_names if green.get(n, 0) <= base + bound]}"
    )


def test_load_all_raises_on_missing_query_module(monkeypatch):
    """A renamed or deleted query module must fail loudly: skipping it would
    silently drop its queries from the registry, the driver window and this
    oracle sweep."""
    from trafficanalysisbigdata_spark.plans import registry

    modules = registry._QUERY_MODULES + ("queries_renamed",)
    monkeypatch.setattr(registry, "_QUERY_MODULES", modules)
    with pytest.raises(ModuleNotFoundError, match="queries_renamed"):
        registry.load_all()
