"""Deterministic per-row uniforms from md5.

The first 8 hex digits of ``md5(string(col))`` read as an integer, over the
16^8 domain: the reproducible substitute for ``rand(seed)`` — stable under
retries, re-runs AND engines (``sample()``/``sampleBy()`` are
partition-order-dependent and not oracle-checkable). Same derivation as the
LSH hyperplanes (operators/similarity.plane_component); oracle SQL spells it
with ``HEX_MOD``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_MOD = float(16**8)  # md5 first-8-hex-digits domain


def hash_frac(col: Column, open_zero: bool = False) -> Column:
    """The md5 fraction of ``col``: in [0, 1), or in (0, 1] with
    ``open_zero`` (one domain ulp added, so ``log`` of it is finite)."""
    n = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
    return (n + F.lit(1) if open_zero else n) / F.lit(HEX_MOD)
