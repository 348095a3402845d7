"""Fuzzy (edit-distance) matching via deletion-neighborhood blocking.

The scale problem: "find all string pairs within edit distance 1" is
naively O(n²) `levenshtein` evaluations — 2.5×10¹⁷ comparisons for a
500M-row entity table. The FastSS family (Bocek et al., 2007, public) turns
it into an equi-join: every string of length L is indexed under L+1 keys —
itself plus each single-character-deletion variant — and two strings within
edit distance 1 (one substitution, insertion, or deletion) are GUARANTEED
to share at least one key. Candidate generation is then a self-equi-join on
the key (hash shuffle, no cross join), and the cheap `levenshtein` verify
runs only on candidates.

Why the guarantee holds for distance ≤ 1:
* substitution at position i  → both sides' delete-at-i variants agree;
* deletion (|a| = |b|+1)      → a's delete-at-i variant equals b itself;
* insertion                    → symmetric to deletion;
* equality                     → the identity key collides.

Scale accounting: keys per row = L+1 (bounded by the string length, not the
corpus); the join is an equi-join whose bucket sizes are true neighborhood
sizes, so worst-case work is Σ bucket² over REAL near-match clusters — the
same knob family as the LSH paths (`dedup.bucket_capped`): set
``ED1_MAX_BUCKET`` to drop degenerate keys (e.g. a blank-name default value
shared by millions of rows) before the self-join. Verification cost is
|candidates|, not n².

The engine hashes blocking keys to xxhash64 BIGINTs before the self-join
(string shuffle payload → 8 bytes, the dd7 posting-key idiom); correctness
is unaffected because the final `levenshtein ≤ 1` verify runs on the real
strings. Oracles at test SF cross-join with DuckDB's `levenshtein` instead
— the point of the oracle is exhaustive ground truth, not scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# All L+1 blocking keys for distance-1 matching: the string itself plus each
# single-deletion variant. SQL-expression form so the whole derivation stays
# inside whole-stage codegen (substring/concat/sequence are all codegen'd).
_ED1_KEYS = (
    "array_union(array({c}), transform(sequence(1, length({c})),"
    " i -> concat(substring({c}, 1, i - 1), substring({c}, i + 1, length({c})))))"
)


def ed1_blocking_keys(str_col: str) -> F.Column:
    """Column of the L+1 deletion-neighborhood keys for ``str_col``.

    The name is backtick-quoted before interpolation into the SQL
    expression so non-bare identifiers (spaces, hyphens, reserved words)
    resolve as column references instead of parsing as expression text.
    """
    quoted = "`{}`".format(str_col.replace("`", "``"))
    return F.expr(_ED1_KEYS.format(c=quoted))


# Bucket cap for ``ed1_pairs``' blocking keys; None keeps every key. Read at
# call time.
ED1_MAX_BUCKET: int | None = None


def ed1_pairs(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """All pairs within edit distance ≤ 1 on ``str_col`` (``id1 < id2``),
    with the verified distance attached.

    Plan: explode the L+1 blocking keys → (optional) drop keys whose bucket
    exceeds ``ED1_MAX_BUCKET`` → self-equi-join on the xxhash64 of the key →
    distinct candidate id pairs → verify ``levenshtein ≤ 1`` on the real
    strings. Nothing is quadratic in the corpus; the only superlinear term
    is Σ bucket² over genuine near-match neighborhoods, which ``ED1_MAX_BUCKET``
    bounds absolutely.
    """
    keyed = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(str_col).alias("s"),
            F.explode(ed1_blocking_keys(str_col)).alias("k"),
        )
        .select("id", "s", F.xxhash64("k").alias("kh"))
        .distinct()
    )
    if ED1_MAX_BUCKET is not None:
        sizes = keyed.groupBy("kh").agg(F.count(F.lit(1)).alias("kn"))
        keyed = keyed.join(sizes.filter(F.col("kn") <= ED1_MAX_BUCKET), "kh").drop("kn")
    a = keyed.select(F.col("kh"), F.col("id").alias("id1"), F.col("s").alias("s1"))
    b = keyed.select(F.col("kh"), F.col("id").alias("id2"), F.col("s").alias("s2"))
    cands = (
        a.join(b, "kh")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
    )
    return cands.withColumn("dist", F.levenshtein("s1", "s2")).filter(F.col("dist") <= 1)
