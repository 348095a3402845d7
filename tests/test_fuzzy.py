"""Edge tests for the FastSS deletion-neighborhood fuzzy matcher
(operators/fuzzy.py): each edit kind collides as the guarantee promises,
distance-2 strings never pair, and the degenerate-key cap drops only
over-populated buckets. j10's oracle is the exhaustive cross-join ground
truth; these pin the operator's contract on hand-built cases the TPC-H
names don't cover (insertions/deletions — all c_name are equal length)."""

from __future__ import annotations

from pyspark.sql import functions as F

from trafficanalysisbigdata_spark.operators import fuzzy
from trafficanalysisbigdata_spark.operators.fuzzy import ed1_blocking_keys, ed1_pairs


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, name string")


def _pairs(df):
    return {(r.id1, r.id2, r.dist) for r in ed1_pairs(df, "id", "name").collect()}


def test_substitution_insertion_deletion_all_pair(spark):
    df = _df(
        spark,
        [
            (1, "karin"),   # substitution vs 2 (karen)
            (2, "karen"),
            (3, "karens"),  # insertion vs 2
            (4, "kare"),    # deletion vs 2
            (5, "karen"),   # exact duplicate of 2 → distance 0
            (6, "magnus"),  # unrelated
        ],
    )
    got = _pairs(df)
    assert (1, 2, 1) in got
    assert (2, 3, 1) in got
    assert (2, 4, 1) in got
    assert (2, 5, 0) in got
    assert not any(6 in (a, b) for a, b, _ in got)
    # distance-2 chain ends do NOT pair: karin↔karens is 2 edits
    assert not any((a, b) == (1, 3) for a, b, _ in got)


def test_matches_exhaustive_levenshtein(spark):
    """Blocked pairs == brute-force pairs on a corpus with every edit kind."""
    rows = [(i, w) for i, w in enumerate(
        ["spark", "spork", "sparks", "spar", "spa", "stark", "shark", "sharks",
         "park", "parka", "spark"]
    )]
    df = _df(spark, rows)
    got = {(a, b) for a, b, _ in _pairs(df)}
    lev = (
        _df(spark, rows)
        .alias("x")
        .crossJoin(_df(spark, rows).alias("y"))
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.levenshtein("x.name", "y.name").alias("d"),
        )
        .collect()
    )
    expect = {(r.a, r.b) for r in lev if r.d <= 1}
    assert got == expect and expect  # non-trivial and exact


def test_max_bucket_drops_degenerate_key_only(spark, monkeypatch):
    """A blank-name flood shares one identity key; the cap removes that
    bucket's quadratic blowup while real neighborhoods still pair."""
    flood = [(i, "") for i in range(50)]
    real = [(100, "abc"), (101, "abd")]
    df = _df(spark, flood + real)
    # uncapped (the shipped default), the flood pairs quadratically — the
    # hazard is real
    assert len(_pairs(df)) >= 50 * 49 // 2
    monkeypatch.setattr(fuzzy, "ED1_MAX_BUCKET", 10)
    capped = _pairs(df)
    assert (100, 101, 1) in capped
    assert not any(a < 50 and b < 50 for a, b, _ in capped)


def test_blocking_keys_count_is_length_plus_one(spark):
    df = spark.createDataFrame([("abcd",)], "s string").select(
        F.size(ed1_blocking_keys("s")).alias("n")
    )
    assert df.collect()[0].n == 5  # identity + 4 deletions, all distinct
