"""Deterministic weighted sampling (Efraimidis & Spirakis 2006, A-ES).

The classic result that makes weighted sampling without replacement a
single distributed pass: give each row the key ``-ln(u)/w`` for a uniform
u ∈ (0, 1] and weight w — an Exponential(w) draw — and the k smallest keys
are a weighted-without-replacement sample with inclusion probability ∝ w.
No sequential draws, no rejection, so it parallelizes and (with the
engine's md5-derived deterministic uniform instead of ``rand()``) is
stable under retries, re-runs, AND engines — the property every sampler in
this engine keeps (see ``functions/hashing.hash_frac``).

Float discipline: u is an exact dyadic rational (first 8 md5 hex digits,
+1 so u > 0, over 16^8), ``ln`` is rounded to 8 decimals before the single
IEEE division by the integer weight (tx12's log rule), so ranking keys are
bit-identical cross-engine and an ANSI oracle can replay the sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash_frac


def aes_key(id_col: Column, weight_col: Column) -> Column:
    """The A-ES exponential key ``-ln(u)/w`` with the deterministic
    uniform u = (md5-fraction of id + one domain ulp) ∈ (0, 1]."""
    return F.round(-F.log(hash_frac(id_col, open_zero=True)), 8) / weight_col


def aes_weighted_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    strata_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-k weighted sample per stratum: the k smallest A-ES keys,
    doc-id tie-break. Adds ``k0`` (the raw ranking key, double) and
    ``pick_rank`` (1-based bigint) to the surviving rows.

    ``rank() <= k`` over the key order compiles to WindowGroupLimit
    Partial+Final (the pipe15 shape): map tasks keep only their own k
    smallest keys per stratum before the exchange, so per-task state is
    k × (strata seen) rows and no sort ever touches the corpus."""
    keyed = df.withColumn("k0", aes_key(F.col(id_col), F.col(weight_col)))
    w = Window.partitionBy(strata_col).orderBy(F.asc("k0"), F.asc(id_col))
    return (
        keyed.withColumn("pick_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick_rank") <= k)
    )
