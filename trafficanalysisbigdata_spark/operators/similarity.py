"""Similarity search over embedding columns (``array<float>``).

Three tiers:

* ``brute_force_topk`` — exact cosine top-k. The probe set is broadcast, so
  cost is |probes| × |corpus| dot products with zero shuffle of the corpus;
  fine for interactive k-NN at any corpus size when |probes| is small.
* ``lsh_topk`` — multi-table random-hyperplane LSH (OR-amplification):
  L independent sign-hash tables of P planes each; a pair is a candidate if
  it collides in ANY table. For a neighbor at angle θ the per-table collision
  probability is (1-θ/π)^P, amplified to 1-(1-(1-θ/π)^P)^L across tables —
  the standard recall/cost dial. Candidate generation is an equi-join on
  (table, bucket); the corpus is never cross-joined.
* ``lsh_neardup_pairs`` — the scale path for embedding near-dup detection:
  same banded candidates, then exact cosine ≥ threshold. Replaces the O(n²)
  ``threshold_pairs`` baseline beyond small n.

Hyperplanes are derived deterministically — component (t, p, i) is
``md5("table{t}|plane{p}|dim{i}")``'s first 8 hex digits scaled to
[-0.5, 0.5) — so signatures are reproducible with no stored model AND the
whole pipeline is expressible in ANSI SQL for the DuckDB oracle (see
``plans/queries_similarity.py``). Signature computation itself is a
vectorized Arrow/pandas UDF (one numpy matmul per batch: (rows×dim) @
(dim×L·P)); per-plane Catalyst fold trees would be ~L·P·dim expression
nodes, which breaks codegen far before the matmul breaks Arrow.

Parameter guidance: defaults (L=16, P=4) target loose neighbors
(cos ≈ 0.3, as in the synthetic fixtures). Real near-dup corpora with
cos ≥ 0.8 neighbors should raise P to 8–16 and drop L — candidate volume
scales ~n²·L/2^P per table-bucket family, so more planes = fewer, purer
candidates.

Every ANN path here (brute force, LSH, k-means and hash IVF, quantized and
two-stage) differs only in how it generates candidate pairs; the scoring
around them is one shared kernel:

* row projection — ``_normed`` / ``_precast_normed``: (id, vec, norm) once
  per row, below any pair join, so pair scoring folds one dot per pair;
* rounded cosine — ``_cos6`` (vectors cast per pair, ``cosine_prenorm``) /
  ``_cos6_precast`` (vectors cast once per row);
* argmax — ``_argmax_cosine``: nearest candidate per row, over a broadcast
  cross join or, given a key, a broadcast equi-join;
* per-probe top-k — ``windows.top_n_per_group`` on (cos desc, id asc), fed
  by ``_scored_top_k`` (and ``_probe_cells``, the IVF probe tail).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import as_double, cosine, cosine_prenorm, dot, norm
from ..io import scratch_dir
from .windows import top_n_per_group

# the corpus columns every operator here reads
_ID_COL = "vec_id"
_VEC_COL = "embedding"
# column names of the two sides every top-k path scores: (id, vec, norm)
_PROBE = ("query_id", "query_vec", "qn")
_NEIGHBOR = ("neighbor_id", "vec", "cn")


def _normed(
    df: DataFrame,
    names: tuple[str, str, str],
    *extra: Column,
    id_col: str = _ID_COL,
    vec_col: str = _VEC_COL,
) -> DataFrame:
    """(id, vec, norm) named ``names``, plus ``extra``: the norm of the
    double-cast vector folds once per row, below any pair join, and the raw
    vector rides along for ``_cos6`` to cast per pair."""
    i, v, n = names
    return df.select(
        F.col(id_col).alias(i),
        F.col(vec_col).alias(v),
        norm(as_double(F.col(vec_col))).alias(n),
        *extra,
    )


def _precast_normed(df: DataFrame, names: tuple[str, str, str]) -> DataFrame:
    """``_normed`` with the vector itself cast to double once per row, for
    scores that fold over pre-cast vectors (``_cos6_precast``)."""
    i, v, n = names
    return df.select(
        F.col(_ID_COL).alias(i),
        as_double(F.col(_VEC_COL)).alias(v),
        norm(as_double(F.col(_VEC_COL))).alias(n),
    )


def _cos6(a: str, b: str, na: str, nb: str) -> Column:
    """Pair cosine rounded to 6 over raw vectors ``a``/``b`` and per-row
    norms (``cosine_prenorm``: the double casts run per pair)."""
    return F.round(cosine_prenorm(F.col(a), F.col(b), F.col(na), F.col(nb)), 6)


def _cos6_precast(a: str, b: str, na: str, nb: str) -> Column:
    """Pair cosine rounded to 6 over vectors already cast to double."""
    return F.round(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6)


def _scored_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos) for the ``k`` best neighbors per probe:
    ``pairs`` carries both sides' ``_PROBE`` and ``_NEIGHBOR`` columns.
    Ranking is on the ROUNDED cosine with an id tie-break, so the result set
    is stable under float reassociation across engines/partitionings."""
    scored = pairs.select(
        "query_id", "neighbor_id", _cos6("query_vec", "vec", "qn", "cn").alias("cos")
    )
    return top_n_per_group(scored, ["query_id"], "cos", ["neighbor_id"], k)


def _probe_cells(shortlist: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    """The IVF probe tail: each probe's shortlisted cells (``cl``) fetch
    their assigned vectors by equi-join, then score and keep the top ``k``."""
    return _scored_top_k(
        shortlist.join(assigned, "cl").filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )


def plane_component(table: int, plane: int, dim_i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).

    Mirrors the SQL derivation
    ``('0x' || substr(md5('table{t}|plane{p}|dim{i}'), 1, 8))::BIGINT
    / 16^8 - 0.5`` exactly, so Spark and the DuckDB oracle hash identical
    planes with no stored state.
    """
    h = hashlib.md5(f"table{table}|plane{plane}|dim{dim_i}".encode()).hexdigest()
    return int(h[:8], 16) / float(16**8) - 0.5


def plane_matrix(
    n_tables: int, n_planes: int, dim: int, table_offset: int = 0
) -> np.ndarray:
    """(n_tables * n_planes, dim) hyperplane matrix; row t*P+p = plane p of
    table ``table_offset + t``. The offset lets the staged arm
    (``_lsh_pairs_staged``) generate DISJOINT table groups — table
    identity is the md5 seed, so group [8, 16) hashes exactly the planes a
    single L=16 run would have used for its tables 8..15."""
    return np.array(
        [
            [plane_component(t, p, i) for i in range(dim)]
            for t in range(table_offset, table_offset + n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def multi_table_buckets(
    df: DataFrame,
    n_tables: int,
    n_planes: int,
    dim: int,
    table_offset: int = 0,
) -> DataFrame:
    """Append ``buckets``: array of ``n_tables`` sign-bit bucket ids
    (bit p of table t = (v · plane_{t,p}) >= 0).

    One Arrow-batched matmul per partition batch — the per-row cost is
    O(dim · L · P) multiply-adds in BLAS, independent of corpus size.

    The UDF is marked non-deterministic (it is pure — this is purely an
    optimizer fence, the guide-§4.4 idiom): every caller posexplodes the
    bucket array, and InferFiltersFromGenerate + filter pushdown duplicated
    the WHOLE matmul UDF below the inferred ``size(buckets) > 0`` filter —
    two ArrowEvalPython nodes per side, every corpus row paying the
    signature matmul twice (r14-before sim3/sim4 plans; one node after).
    """
    mat = plane_matrix(n_tables, n_planes, dim, table_offset)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def _buckets(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        vecs = np.array(s.tolist(), dtype=np.float64)
        proj = vecs @ mat.T  # (batch, L*P)
        bits = (proj >= 0).astype(np.int64).reshape(len(vecs), n_tables, n_planes)
        sigs = bits @ weights  # (batch, L)
        return pd.Series(list(sigs.astype(np.int32)))

    return df.withColumn("buckets", _buckets.asNondeterministic()(F.col(_VEC_COL)))


def _exploded_buckets(
    df: DataFrame, n_tables: int, n_planes: int, dim: int, id_alias: str, table_offset: int = 0
) -> DataFrame:
    """(id_alias, t, bucket) — one row per (row, table).

    Cross-table pair dedup downstream is a ``distinct`` over the SKINNY
    (id, id) projection — only two ids per row ever shuffle. (A row-local
    first-colliding-table filter was benchmarked instead and lost 4×: its
    array lambdas are CodegenFallback, and sitting in the same fused stage as
    the cosine scoring they drag the whole stage into interpreted eval. The
    distinct's stage boundary keeps scoring in codegen.)"""
    return (
        multi_table_buckets(df, n_tables, n_planes, dim, table_offset=table_offset)
        .select(F.col(_ID_COL).alias(id_alias), F.posexplode("buckets").alias("t", "bucket"))
    )


def brute_force_topk(corpus: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors for each probe (self-matches excluded):
    the candidates are every corpus row, against broadcast probes."""
    p = _normed(probes, _PROBE)
    c = _normed(corpus, _NEIGHBOR)
    return _scored_top_k(
        c.crossJoin(F.broadcast(p)).filter(F.col("neighbor_id") != F.col("query_id")), k
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    n_tables: int | None = 16,
    n_planes: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates colliding with the probe in
    at least one of the L hash tables (OR-amplified recall).

    ``n_planes=None`` derives the dial via ``adaptive_n_planes`` from one
    count() job; pass an explicit ``n_planes`` to pin a band layout against
    a static oracle. ``n_tables=None`` engages ``adaptive_n_tables_topk`` —
    the L step-up that compensates bucket occupancy once P saturates at its
    cap (the 16 default keeps pinned-layout callers unchanged)."""
    if n_planes is None or n_tables is None:
        # one count at most, and only when a dial is left to derive
        # (pinned-layout callers never pay it)
        n_known = corpus.count()
        if n_planes is None:
            n_planes = adaptive_n_planes(n_known)
        if n_tables is None:
            n_tables = adaptive_n_tables_topk(n_known)
    cb = _exploded_buckets(corpus, n_tables, n_planes, dim, "neighbor_id")
    pb = _exploded_buckets(probes, n_tables, n_planes, dim, "query_id")
    cand = (
        cb.join(pb, ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _scored_top_k(
        cand.join(_normed(corpus, _NEIGHBOR), "neighbor_id").join(
            F.broadcast(_normed(probes, _PROBE)), "query_id"
        ),
        k,
    )


def table_bucket_capped(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Drop (t, bucket) groups larger than ``max_bucket`` — the embedding-LSH
    twin of ``dedup.bucket_capped`` (same ``capped_groups`` idiom, different
    keys). A dense embedding region (boilerplate pages, template images)
    collides a fixed sign pattern across tables; pair-joining that bucket is
    O(bucket²) on one shuffle key. The absolute cap bounds per-bucket work
    at any corpus size; raising ``n_planes`` (purer buckets) is the
    recall-preserving dial to apply alongside it."""
    from .dedup import capped_groups

    return capped_groups(buckets, ["t", "bucket"], max_bucket)


# The BAR (near-dup) path's P ceiling, decoupled from adaptive_n_planes'
# top-k cap in round 14: at P=15 the 0.8-bar solution of adaptive_n_tables'
# collision equation needs L=71 tables — past its 64 amplification cap —
# so bar-recall would dip to ~0.88 with no L left to compensate (the exact
# failure the 8M top-k rehearsal measured at L=32 before the 48 step).
# P <= 14 keeps (P, L) solvable at the 0.8 reference bar (L=56) and
# matches every neardup receipt's dial; the top-k path has no bar equation
# and carries P to 16 because adaptive_n_tables_topk's 48 step is its
# compensation.
NEARDUP_P_CAP = 14


def adaptive_n_planes(n: int, cap: int = 16) -> int:
    """The n_planes dial as CODE (dd5's k∝√n discipline applied to LSH
    banding): per-table candidate-pair volume is ~n²/2^P at uniform
    occupancy, so holding expected bucket size at 128 means 2^P ∝ n, i.e.
    P = log2(n / 128). Clamped to [4, cap]:
    the floor keeps toy corpora at the oracle-mirrored P=4 (any corpus
    < 4096 vectors derives 4, which covers every driver SF); the cap at 16
    carries the rule to ~16M vectors before bucket growth resumes (raised
    from 14 in round 14: the 4M rehearsal point derives P=14 — exactly AT
    the old cap — so the next decade would have crossed it silently; the
    8M receipt exercises P=15, recall at the shipped dial in
    BENCH_LOCAL.md. Raised from 12 in round 11 on the same one-decade-
    ahead rule when the 1M point reached the then-cap's edge; the raise
    keeps the occupancy invariant ahead of the measured frontier instead
    of trailing it).

    The cap MUST stay above log2(n/target) through the target corpus size:
    the round-9 500k rehearsal measured what happens when it doesn't.
    With the old cap 8, expected occupancy was 500k/256 ≈ 1950 > the 1024
    ``max_bucket`` work cap, so ``table_bucket_capped`` dropped the dense
    buckets wholesale and injected-twin recall fell to 0.748 (from 1.000
    at 50k, where occupancy ≈ 195 never engaged the cap). Deeper banding
    is the recall-PRESERVING response exactly as ``table_bucket_capped``'s
    docstring prescribes — purer buckets stay under the work cap, so true
    pairs stop being casualties of bucket truncation. The trade is
    per-band selectivity: a pair at cosine s collides per table with
    probability (1 − θ(s)/π)^P, so OR-amplified recall AT THE BAR needs
    L to grow with P — that compensation is ``adaptive_n_tables``; net
    candidate volume still falls ~2^ΔP / (L'/L), e.g. 16×/2.25 ≈ 7× going
    P 8→12 at the 0.8 bar. Measured on the 10× rehearsal: the fixed-P=6
    run grew 10.5× in wall for 10× data; this rule (P=8 at 50k vectors)
    divides candidate volume 4× right where the growth was."""
    if n <= 128:
        return 4
    return max(4, min(cap, int(math.log2(n / 128))))


def adaptive_n_tables_topk(n: int) -> int:
    """The L dial for the TOP-K path, where no similarity bar exists to
    solve ``adaptive_n_tables``'s collision equation against: once
    ``adaptive_n_planes`` saturates at its recall-preserving cap (P=8 at
    n ≥ 32k), per-bucket occupancy grows ~n/2^P again and OR-amplification
    at L=16 stops clearing 0.9 recall. Measured at 500k vectors
    (BENCH_LOCAL.md round 10): L=16 → recall@5 0.868, L=24 → 0.952 at the
    SAME wall (candidate fetch is probes × bucket, and buckets shrink as L
    spreads them), L=32 → 0.988 at 1.4× wall. Steps are decade-based
    because occupancy is linear in n past the P cap; recall is a
    query-time knob — no index rebuild.

    The 48 step (round 14): the P-cap raise to 16 lets 8M-vector corpora
    band at P=15, where each extra plane multiplies the per-table hit
    rate for a fixed-angle neighbor by p < 1 — the 8M rehearsal measured
    recall@5 0.88 at L=32, the first sub-bar point in the dial's history
    (BENCH_LOCAL.md). Per-probe candidate volume is L × occupancy and
    occupancy is pinned at ~128 while P tracks the corpus, so
    L is the only recall lever past each P step: 48 tables restore the
    miss-rate exponent — measured 0.972 at 8M (BENCH_LOCAL.md round 14),
    wall 61.4 s vs 108.8 at L=32 (more tables spread the same pinned
    occupancy across smaller buckets, so candidate fetch stays flat while
    task granularity improves)."""
    if n <= 100_000:
        return 16
    if n <= 1_000_000:
        return 24
    if n <= 4_000_000:
        return 32
    return 48


def adaptive_n_tables(n_planes: int, threshold: float) -> int:
    """The L dial that keeps OR-amplified recall AT THE SIMILARITY BAR
    constant while ``adaptive_n_planes`` deepens banding with the corpus:
    a pair at cosine ``threshold`` agrees with one random hyperplane with
    probability p = 1 − θ/π (θ = arccos(threshold)), collides per table
    with p^P, so L ≥ ln(1 − 0.9) / ln(1 − p^P) tables give recall ≥ 0.9
    for every pair AT OR ABOVE the bar (recall is monotone in cosine).
    Clamped to [8, 64]: the floor keeps toy corpora at a stable layout,
    the cap bounds the explode volume (n·L bucket rows) — hitting
    it means the (P, threshold) combination demands more amplification
    than one LSH stage should carry, and the right move is a coarser P or
    a re-rank stage (sim9's two-stage shape). At (P=12, bar 0.8):
    p ≈ 0.795, p^12 ≈ 0.064, L = 35 — candidate volume per table shrinks
    16× vs P=8 while L grows 2.2×, a ~7× net reduction at equal recall."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    hit = p**n_planes
    if hit >= 1.0 or hit <= 0.0:
        return 8
    need = math.ceil(math.log(1.0 - 0.9) / math.log(1.0 - hit))
    return max(8, min(64, need))


# The single-pass frontier: past this many MB of prenormed vectors
# (~n·(8·dim + 48) bytes) the router stages, and under it the single-pass
# plan broadcasts them for scoring. Staged groups score at twice it.
NEARDUP_BUDGET_MB = 512
# Tables per staged group: peak transient candidates are ~this/L of a
# single pass's (the 1M receipts in BENCH_LOCAL.md ran 4).
NEARDUP_GROUP_SIZE = 4


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_tables: int | None = 16,
    n_planes: int | None = None,
    dim: int = 64,
    max_bucket: int | None = None,
    n_rows: int | None = None,
    collapse: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs at scale: banded LSH candidates (pairs
    colliding in any table), then exact cosine ≥ threshold. Never all-pairs —
    the recall/candidate-volume dial is (n_tables, n_planes), and
    ``max_bucket`` (optional) applies ``table_bucket_capped`` before the
    self-join: at web scale a dense region's bucket is the same quadratic
    hazard the MinHash path caps (see ``dedup.bucket_capped``).

    ``n_planes=None`` (default) derives the dial via ``adaptive_n_planes``
    from ``n_rows`` when the caller already knows the corpus size (skipping
    the count() job), else from one count() job. Pass an explicit
    ``n_planes`` only to pin a band layout (e.g. to mirror a static
    oracle). ``n_tables=None`` derives the compensating table count from
    (n_planes, threshold) via ``adaptive_n_tables``, holding recall at the
    bar constant as banding deepens with the corpus — the pair
    (P(n), L(P, bar)) is the shipped auto-dial; the 16 default keeps
    pinned-layout callers unchanged.

    AUTO-ROUTING AT THE FRONTIER (the dd5 k>=200 / tx9 200k-doc crossover
    discipline): the router is the only thing that picks the plan. It
    resolves the corpus size (``n_rows`` if given, else one count() —
    zero-column parquet counts are footer-cheap, and the scalar here
    decides between a working plan and a measured DNF) and, past the
    single-pass frontier — prenormed vector frame ``n·(8·dim + 48)`` bytes
    exceeding ``NEARDUP_BUDGET_MB`` — builds the STAGED plan
    (``_lsh_pairs_staged``: groups of ``NEARDUP_GROUP_SIZE`` tables
    materialized under ``io.scratch_dir(spark, "lsh")``, the scratch rule
    in the ``io`` module docstring; the group files back the returned
    DataFrame) instead of the single-pass plan.

    ``collapse=True`` is the COLLAPSE-CONSUMER posture (pipe3/dd6-style
    pipelines that fold the pairs straight into a flagged-id set or
    connected components, where per-pair state never materializes): always
    the single-pass lazy plan, and — when ``n_planes``/``n_tables`` are
    also pinned — ZERO Spark actions, the no-count contract for
    non-parquet inputs (the corpus size is then only used for the
    scoring-broadcast hint, which is skipped when unknown; pass ``n_rows``
    to keep the hint).

    The round-11 1M×64-d rehearsal measured exactly this boundary:
    single-pass DNF'd three separate dials (4.3B-candidate distinct spill;
    sort-merge scoring once 560 MB of prenormed rows blew the 512 MB
    broadcast budget) while the staged run returned 169.4M pairs, twin
    recall 1.000; the round-12 router run at these defaults took 2,155 s
    for the same pairs. Under the frontier the single-pass plan is strictly
    better (no materialization, cross-group dedup before scoring). The two
    plans are set-identical by construction (pinned in
    tests/test_similarity.py); a staged call is EAGER (group writes
    execute during the call).

    Scale accounting (10x rehearsal, 2k -> 20k clustered vectors at the
    0.8 bar): wall grows ~12x but the TRUE OUTPUT grows 103x (10.7k ->
    1.097M pairs >= threshold — dense clusters make the qualifying-pair
    set itself near-quadratic), so per-output-pair throughput IMPROVES ~9x
    at scale; the round-6 '10.5x wall at 10x data' flag conflated output
    volume with engine waste. Where the pair LIST (not a downstream
    collapse) must stay linear, the dials are: raise ``threshold`` (output
    is threshold-driven), or set ``max_bucket`` — measured at 10x:
    cap=1024 keeps recall 0.96 and cuts wall ~3x; cap=512 is 2x faster
    again but recall 0.62 on this cluster-dense corpus. For dedup
    pipelines, pipe3/dd6 consume these pairs into connected components,
    where a capped pair list collapses dense regions identically."""
    # the count() is only owed when a decision needs the size: adaptive
    # dials or the frontier. collapse + pinned dials resolves with ZERO
    # driver actions.
    need_n = n_rows is None and (
        n_planes is None or n_tables is None or not collapse
    )
    n_known = n_rows if n_rows is not None else (corpus.count() if need_n else None)
    if n_planes is None:
        n_planes = adaptive_n_planes(n_known, cap=NEARDUP_P_CAP)
    if n_tables is None:
        n_tables = adaptive_n_tables(n_planes, threshold)
    args = (corpus, threshold, n_tables, n_planes, dim, max_bucket, n_known)
    if (
        not collapse
        and n_known * (dim * 8 + 48) > NEARDUP_BUDGET_MB * 1024 * 1024
        and n_tables > NEARDUP_GROUP_SIZE
    ):
        return _lsh_pairs_staged(*args)
    return _lsh_pairs_single_pass(*args, 0, NEARDUP_BUDGET_MB)


def _lsh_pairs_single_pass(
    corpus: DataFrame,
    threshold: float,
    n_tables: int,
    n_planes: int,
    dim: int,
    max_bucket: int | None,
    n_known: int | None,
    table_offset: int,
    budget_mb: int,
) -> DataFrame:
    """The single-pass near-dup plan (dials already resolved) — shared by
    the router's under-frontier branch and the staged arm's per-group
    passes (tables ``table_offset`` on, scored at ``budget_mb``), which
    must NOT re-route, however large the corpus.

    Scoring-join strategy: when the corpus size is KNOWN and the prenormed
    vector frame fits a generous broadcast budget (512 MB — e.g. ~900k rows
    at 64-d), both vector-attach joins carry an explicit broadcast hint, so
    pair scoring is MAP-SIDE over the streaming candidate set. Without the
    hint, Catalyst picks sort-merge past the 10 MB auto threshold and the
    second join SORTS pairs already widened by one 8·dim-byte vector —
    measured at 500k×35-table scale that intermediate is ~10⁸ MB of
    UnsafeExternalSorter spill, which is a single-node disk wall and a
    pointless triple shuffle on a cluster. Past the broadcast budget the
    router above stages instead."""
    ba = _exploded_buckets(corpus, n_tables, n_planes, dim, "id1", table_offset)
    if max_bucket is not None:
        ba = table_bucket_capped(ba, max_bucket)
    bb = ba.select(F.col("id1").alias("id2"), "t", "bucket")
    cand = (
        ba.join(bb, ["t", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # norms ride the vector attach (one fold per ROW); pair scoring is then
    # a single dot fold per candidate — see functions.vectors.cosine_prenorm
    v = _normed(corpus, ("vid", "v", "n"))
    # ~(8·dim + 48) bytes per prenormed row
    if n_known is not None and n_known * (dim * 8 + 48) <= budget_mb * 1024 * 1024:
        v = F.broadcast(v)
    return (
        cand.join(v.withColumnsRenamed({"vid": "id1", "v": "v1", "n": "n1"}), "id1")
        .join(v.withColumnsRenamed({"vid": "id2", "v": "v2", "n": "n2"}), "id2")
        .select("id1", "id2", _cos6("v1", "v2", "n1", "n2").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _lsh_pairs_staged(
    corpus: DataFrame,
    threshold: float,
    n_tables: int,
    n_planes: int,
    dim: int,
    max_bucket: int | None,
    n_known: int,
) -> DataFrame:
    """The router's past-frontier arm (dials and corpus size already
    resolved): the L tables are processed in groups of
    ``NEARDUP_GROUP_SIZE``, each group's verified pairs materialized under
    one ``io.scratch_dir`` leaf before the next group starts, and the final
    result is the distinct union read back. Set-identical to the single-pass
    plan (a pair qualifies iff it collides in >= 1 table and scores past
    the threshold; verification is deterministic, and the table offset makes
    group g hash exactly the planes single-pass tables [g·gs, (g+1)·gs)
    would) — only the peak in-flight candidate volume changes: L/gs stages of
    ~(total/L)·gs candidate rows each, instead of one stage holding all of
    them at once.

    This is the materialized-pair-list contract past the single-pass
    frontier (~10⁶ vectors): at 1M×64-d the shipped dial (P=12, L=35)
    yields ~4.3B transient candidates whose distinct+score sort spill
    (~140+ GB with lineage overhead) exceeded an 80 GB-free host twice in
    the round-11 rehearsal (P=14 and P=16 re-dials both DNF — skewed
    cluster buckets keep Σbucket² high as P deepens). Staging bounds the
    spill at ~gs/L of that, which is also the cluster posture: when
    aggregate shuffle space is the scarce resource, checkpointing stage
    boundaries beats one giant exchange. The extra cost is re-verifying
    pairs that collide in multiple groups (the single-pass distinct dedups
    them pre-score); the group size trades that against peak disk.

    Only the pair LIST needs this; collapse consumers (dd5/sim8/components)
    stay on the single-pass plan whose output never materializes per-pair
    state.
    """
    spark = corpus.sparkSession
    work_dir = scratch_dir(spark, "lsh")
    paths = []
    for off in range(0, n_tables, NEARDUP_GROUP_SIZE):
        g = min(NEARDUP_GROUP_SIZE, n_tables - off)
        # Scoring budget is 2× the routing budget: single-pass must hold the
        # vector broadcast AND the full-L candidate state simultaneously,
        # while a staged group holds only gs/L of the candidate state — the
        # freed executor headroom hosts the larger broadcast. This is what
        # keeps per-group scoring MAP-SIDE one binary decade past the
        # routing frontier (receipted: the r11 1M×64-d run broadcast the
        # 560 MB prenormed frame on a 48 GB-heap host; unhinted, each
        # group's second scoring join sorts a ~275 GB vector-widened
        # intermediate — a DNF, not a slowdown). Past 2× the budget the
        # unhinted plan stands, and the documented dials (threshold,
        # max_bucket, collapse consumers) are the pair-list contract.
        part = _lsh_pairs_single_pass(
            corpus,
            threshold,
            g,
            n_planes,
            dim,
            max_bucket,
            n_known,
            off,
            NEARDUP_BUDGET_MB * 2,
        ).select("id1", "id2", "cos")
        p = f"{work_dir}/tables_{off:04d}"
        part.write.mode("overwrite").parquet(p)
        paths.append(p)
    return spark.read.parquet(*paths).distinct()


# the k-means IVF's cluster count and the clusters each probe scores
# (build_ivf_index, ivf_topk_indexed)
IVF_CLUSTERS = 16
IVF_PROBES = 6


def build_ivf_index(corpus: DataFrame, index_dir: str) -> None:
    """Persist the IVF (inverted-file) index: a seed-pinned k-means coarse
    quantizer partitions the corpus into ``IVF_CLUSTERS`` cluster lists,
    written as assignments parquet PARTITIONED BY cluster id
    (``{index_dir}/assignments/cl=N/``, each row carrying its vector and
    precomputed norm so query-time scoring is one fold per pair) + a
    centroids table.

    The alternative scale path to LSH (``lsh_topk``): better when the corpus
    HAS cluster structure (real embedding corpora do; the synthetic
    near-uniform fixtures are its worst case — measured candidate recall
    0.76 at 47% candidate fraction with 16/6, asserted ≥ 0.6 in tests).
    Partitioning by ``cl`` is the scale payoff: a query batch probing
    ``IVF_PROBES`` of ``IVF_CLUSTERS`` cells reads only that fraction of the
    corpus from disk — the centroid shortlist join broadcasts, and dynamic
    partition pruning turns it into a partition filter on the scan. The fit
    (MLlib's distributed k-means, the expensive stage) runs once here;
    ``ivf_topk_indexed`` pays none of it."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    as_dbl = F.transform(F.col(_VEC_COL), lambda x: x.cast("double"))
    corpus_v = corpus.withColumn("__v", array_to_vector(as_dbl))
    model = KMeans(
        k=IVF_CLUSTERS, seed=42, featuresCol="__v", predictionCol="__cluster"
    ).fit(corpus_v)
    assigned = _normed(model.transform(corpus_v), _NEIGHBOR, F.col("__cluster").alias("cl"))
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cl int, center array<double>",
    )
    assigned.write.mode("overwrite").partitionBy("cl").parquet(f"{index_dir}/assignments")
    centers.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_topk_indexed(spark, index_dir: str, probes: DataFrame, k: int) -> DataFrame:
    """IVF top-k against a persisted index (``build_ivf_index``): no fit
    stage — centroids load as a broadcast dimension, each probe scores only
    its ``IVF_PROBES`` nearest cells, and the assignments scan reads only
    those ``cl=`` partitions (dynamic partition pruning): broadcast centroid
    shortlist → cluster-id equi-join → prenorm cosine → per-probe top-k,
    never a corpus cross join.

    The shortlist ranks on the squared distance ROUNDED TO 6 (cl as the
    tie-break), matching the repo's round-6 idiom everywhere a float feeds
    an ordering decision: last-ulp fold differences between engines (or
    between Spark codegen variants) can otherwise flip near-tied cell
    picks, and the rounding is what makes the query stage over a persisted
    index value-oracle-checkable (sim6x) rather than rows-only."""
    assigned = spark.read.parquet(f"{index_dir}/assignments")
    centers = spark.read.parquet(f"{index_dir}/centroids")
    p = _normed(probes, _PROBE)
    sq_dist = F.aggregate(
        F.zip_with(
            F.transform("query_vec", lambda x: x.cast("double")),
            F.col("center"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wshort = Window.partitionBy("query_id").orderBy("d", "cl")
    shortlist = (
        p.crossJoin(F.broadcast(centers))
        .withColumn("d", F.round(sq_dist, 6))
        .withColumn("rn", F.row_number().over(wshort))
        .filter(F.col("rn") <= IVF_PROBES)
        .select("query_id", "query_vec", "qn", "cl")
    )
    return _probe_cells(shortlist, assigned, k)


def threshold_pairs(corpus: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold. O(n²) — the small-n correctness baseline
    only; ``lsh_neardup_pairs`` is the registered scale path."""
    # prenorm/precast (r14): casts and norm folds once per row, one dot fold
    # per pair — bit-identical to cosine() (functions/vectors.py contract)
    a = _precast_normed(corpus, ("id1", "v1", "n1"))
    b = _precast_normed(corpus, ("id2", "v2", "n2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", _cos6_precast("v1", "v2", "n1", "n2").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _argmax_cosine(
    rows: DataFrame, cands: DataFrame, key_col: str, pick_col: str, on: str | None = None
) -> DataFrame:
    """Broadcast nearest-candidate assignment: for each ``rows`` row
    (key, vec), pick the ``cands`` row (pick, center) maximizing
    round(cosine, 6), ties to the smallest pick id — reduced by a
    map-side-combinable ``max(struct(cos, -pick, vec))`` so the vector
    rides the struct without being compared. ``cands`` must be
    broadcast-small. Returns (key, pick, vec).

    Without ``on`` every candidate competes for every row (a broadcast cross
    join); with it, only the candidates sharing the row's ``on`` value (a
    broadcast equi-join — ``two_level_assign``'s in-cell level).

    r14 perf: the per-pair score is prenorm-style — each side's double cast
    and norm fold run ONCE per input row (below the join on the stream side,
    below the BroadcastExchange on the candidate side) instead of 2 casts +
    3 interpreted folds per (row × candidate). dot/(nr·nc) evaluates the
    identical expression tree in the identical order as ``cosine()``, so the
    rounded-6 value is bit-identical (the ``cosine_prenorm`` contract,
    functions/vectors.py). Measured on dd5's flat 2000×64 assignment at
    sf0.1: the n·k stage drops ~3× in interpreted-fold work."""
    keys = [on] if on else []
    r = rows.select(
        key_col,
        *keys,
        "vec",
        as_double(F.col("vec")).alias("__vd"),
        norm(as_double(F.col("vec"))).alias("__nr"),
    )
    c = cands.select(
        *keys,
        pick_col,
        as_double(F.col("center")).alias("__cd"),
        norm(as_double(F.col("center"))).alias("__nc"),
    )
    pairs = r.join(F.broadcast(c), on) if on else r.crossJoin(F.broadcast(c))
    return (
        pairs.withColumn("__cos", _cos6_precast("__vd", "__cd", "__nr", "__nc"))
        .groupBy(key_col)
        .agg(
            F.max(
                F.struct(
                    F.col("__cos"),
                    (-F.col(pick_col)).alias("__neg"),
                    F.col("vec").alias("__vec"),
                )
            ).alias("__m")
        )
        .select(
            key_col,
            (-F.col("__m.__neg")).alias(pick_col),
            F.col("__m.__vec").alias("vec"),
        )
    )


def two_level_assign(corpus: DataFrame, cent: DataFrame, n_super: int) -> DataFrame:
    """Two-level nearest-centroid assignment — the production path past the
    measured n·k wall (round-8 rehearsal: 500k vectors × 1000 centroids is
    5×10⁸ broadcast cosines; a single pass did not complete in 16.5 min).

    Level 1 hash-samples ``n_super`` ≈ √k SUPER-centroids from ``cent``
    (same md5-order pick as the centroid sample itself — deterministic,
    ANSI-SQL-expressible, no stored model); every centroid and every corpus
    vector is assigned to its nearest super by rounded cosine. Level 2
    scores each vector against only the centroids sharing its super-cell —
    a broadcast equi-join on ``sid`` with average fan-out k/√k = √k. Total
    work is ~2·n·√k cosines instead of n·k: 16× fewer at k = 1000, growing
    as √k. The same trick recurses if √k itself outgrows a broadcast
    (≫10⁵ supers ⇒ three levels), which is IVF-HNSW territory no 100 TB
    corpus under the k ≈ n/500 rule reaches before ~10¹⁰ vectors.

    The assignment is APPROXIMATE where flat argmax is exact: a vector
    whose true nearest centroid sits in a different super-cell than the
    vector's nearest super gets its best IN-CELL centroid instead — the
    standard coarse-quantizer recall trade every two-level IVF makes. Cell
    membership shifts only for vectors near super-cell boundaries; the
    min-id retention rule downstream is unchanged. Ties broken identically
    to the flat path (cos desc, id asc) so the whole pipeline stays
    oracle-expressible (dd5b checks it end to end at fixture scale).

    Returns (vid, cid, vec): exactly one row per corpus vector — every
    super-cell contains at least its own super-centroid (self-cosine 1 is
    the argmax), so the level-2 join can never drop a vector."""
    sup = (
        cent.select(
            F.col("cid").alias("sid"),
            F.md5(F.col("cid").cast("string")).alias("__h"),
            F.col("center"),
        )
        .orderBy("__h", "sid")
        .limit(n_super)
        .drop("__h")
    )
    c2s = _argmax_cosine(
        cent.select("cid", F.col("center").alias("vec")), sup, "cid", "sid"
    ).select("sid", "cid", F.col("vec").alias("center"))
    v2s = _argmax_cosine(_vid_vec(corpus), sup, "vid", "sid")
    # level 2: each vector against only the centroids of its super-cell
    return _argmax_cosine(v2s, c2s, "vid", "cid", on="sid")


def _vid_vec(corpus: DataFrame) -> DataFrame:
    """The corpus as (vid, vec), the row side of ``_argmax_cosine``."""
    return corpus.select(F.col(_ID_COL).alias("vid"), F.col(_VEC_COL).alias("vec"))


# ``_nearest_centroid``'s "auto" crossover: two-level assignment from this
# many centroids on — under the k ≈ n/500 sizing rule that is n ≈ 10⁵, the
# crossover the round-8 rehearsal measured (flat at 500k×1000 did not
# complete in 16.5 min; see BENCH_LOCAL.md round-8/round-9 tables). The
# threshold is on k, not n, so no count() job is spent deciding.
TWO_LEVEL_MIN_K = 200


def _nearest_centroid(
    corpus: DataFrame, cent: DataFrame, k: int, assignment: str
) -> DataFrame:
    """(vid, cid, vec): each corpus vector's nearest centroid among the ``k``
    rows of ``cent`` (cid, center). ``assignment``: ``"flat"`` is the exact
    n·k broadcast argmax; ``"two_level"`` routes through
    ``two_level_assign`` (~2·n·√k work, approximate near super-cell
    boundaries); ``"auto"`` switches to two-level at k >=
    ``TWO_LEVEL_MIN_K``, read at call time."""
    if assignment not in ("auto", "flat", "two_level"):
        raise ValueError(f"assignment must be auto|flat|two_level, got {assignment!r}")
    if assignment == "auto":
        assignment = "two_level" if k >= TWO_LEVEL_MIN_K else "flat"
    if assignment == "two_level":
        n_super = max(2, math.isqrt(max(k - 1, 0)) + 1)  # ceil(sqrt k)
        return two_level_assign(corpus, cent, n_super)
    return _argmax_cosine(_vid_vec(corpus), cent, "vid", "cid")


def centroid_semantic_dedup(
    corpus: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.30,
    assignment: str = "auto",
) -> DataFrame:
    """IVF-style semantic dedup: a deterministic coarse quantizer partitions
    the corpus; within each cell, a doc SURVIVES iff no smaller-id doc in the
    cell is a near-dup (cosine >= threshold) — the min-id retention rule.
    Returns one row per centroid: (cid, n_assigned, n_survivors, n_dupes).

    Note this rule is NOT transitive-greedy dedup: in a chain A–B–C (A~B,
    B~C, A≁C) it removes C because its near-dup B has a smaller id, even
    though B itself was removed — sequential-greedy would keep C. The
    one-pass rule over-removes relative to greedy but is order-independent
    and join-expressible (greedy is inherently sequential per cell); the
    oracle states and matches the same rule.

    Unlike ``build_ivf_index``'s k-means quantizer, centroids here are chosen
    deterministically — the ``n_centroids`` corpus vectors with the smallest
    ``md5(id)`` (a uniform hash-sample, no stored model) — which makes the
    whole pipeline, quantizer included, expressible in ANSI SQL for the
    DuckDB oracle.

    Scale shape (semantic dedup at 100 TB):

    * centroid pick is a ``TakeOrderedAndProject`` (no full sort);
    * assignment is a broadcast cross join (corpus × k tiny centroids)
      reduced by a map-side-combinable ``max(struct(cos, -cid, vec))`` —
      (cos, -cid) is unique per (row, centroid), so the vector rides the
      struct without ever being compared;
    * everything downstream (cell sizes, the pair self-join, dupe counts)
      consumes ONE explicit ``repartition(cid)`` exchange, which Spark's
      ReuseExchange/AQE stage reuse computes once;
    * pair volume is Σ|cell|² — with FIXED k that is still n²/k, so at scale
      ``n_centroids`` must grow with the corpus (k ≈ n / target_cell_size
      keeps pair volume ≈ n · cell_size, i.e. LINEAR at constant cell size).
      Residual skewed cells get salted or size-capped (dd4's playbook). The
      fixtures use k=8 so the DuckDB oracle stays cheap; the knob is the
      scale dial.

    ``assignment`` picks the quantizer-assignment strategy (``"flat"``,
    ``"two_level"`` or ``"auto"``, the default): see ``_nearest_centroid``.
    """
    cent = (
        corpus.select(
            F.col(_ID_COL).alias("cid"),
            F.md5(F.col(_ID_COL).cast("string")).alias("__h"),
            F.col(_VEC_COL).alias("center"),
        )
        .orderBy("__h", "cid")
        .limit(n_centroids)
        .drop("__h")
    )
    assigned = _nearest_centroid(corpus, cent, n_centroids, assignment)
    cells = assigned.select(
        "vid", "cid", "vec", norm(as_double(F.col("vec"))).alias("nrm")
    ).repartition("cid")
    sizes = cells.groupBy("cid").agg(F.count("*").alias("n_assigned"))
    a = cells.select(
        "cid", F.col("vid").alias("id1"), F.col("vec").alias("v1"), F.col("nrm").alias("n1")
    )
    b = cells.select(
        "cid", F.col("vid").alias("id2"), F.col("vec").alias("v2"), F.col("nrm").alias("n2")
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id1") < F.col("id2"))
        .filter(_cos6("v1", "v2", "n1", "n2") >= threshold)
        .select("cid", "id2")
    )
    # a doc is a dupe iff it appears as the LARGER id of any near-dup pair
    dupes = pairs.groupBy("cid").agg(F.countDistinct("id2").alias("__nd"))
    return (
        sizes.join(dupes, "cid", "left")
        .select(
            "cid",
            "n_assigned",
            (F.col("n_assigned") - F.coalesce(F.col("__nd"), F.lit(0))).alias(
                "n_survivors"
            ),
            F.coalesce(F.col("__nd"), F.lit(0)).alias("n_dupes"),
        )
        .orderBy("cid")
    )


def int8_quantized(out_col: str = "qv"):
    """Symmetric per-vector int8 quantization as a pure Catalyst column:
    scale = 127 / max|x_i|, q_i = floor(x_i * scale + 0.5) (half-up — both
    engines' IEEE doubles agree on floor, unlike round()'s mode-dependent
    ties). Zero vectors quantize to all-zero (nullif guard).

    4x smaller than float32 at retrieval time — the storage/IO dial a
    100 TB embedding store turns first; ranking integer dot products is
    also fully deterministic (no float reassociation), which is what lets
    sim7 carry an EXACT value oracle where every float-scored ANN query
    needs rounding discipline.

    Expression shape: the per-row scale rides in via zip_with against
    array_repeat(scale, dim) rather than inline in the transform lambda —
    lambda bodies are re-evaluated per ELEMENT, so the inline form costs an
    O(dim) array_max fold dim times per row (O(dim^2)); array_repeat's
    argument is an ordinary child expression evaluated once per row.
    Measured on sim7 at sf0.1: ~1.4 s -> ~0.8 s, byte-identical output.
    """
    v = _VEC_COL
    scale = f"127.0D / nullif(array_max(transform({v}, y -> abs(cast(y as double)))), 0.0D)"
    return F.expr(
        f"zip_with({v}, array_repeat({scale}, size({v})),"
        f" (x, s) -> coalesce(cast(floor(cast(x as double) * s + 0.5D) as int), 0))"
    ).alias(out_col)


def quantized_topk(corpus: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Top-k neighbors per probe ranked by the COSINE OF THE QUANTIZED
    vectors: qcos = qdot / sqrt(q_aa * q_bb), where qdot and the self-dots
    are exact BIGINTs (64 products of |q| <= 127; q_aa*q_bb <= ~1.1e12,
    well inside double's 2^53 exact-integer range). Ranking on the raw
    quantized dot would mix in the per-vector max-abs scale and diverge
    from cosine order whenever norms vary — measured recall 0.68 vs 0.98
    with the cosine form on the fixtures. qcos is two correctly-rounded
    IEEE ops over exact integers, so with the repo's round-to-6 idiom it is
    engine-identical.

    Same broadcast shape as ``brute_force_topk``: probes broadcast, corpus
    scanned in place, zero corpus shuffle; the per-pair work is an integer
    zip_with/aggregate fold (JVM-side, no UDF); the per-row self-dot is
    computed once before the join.

    Zero-norm guard: an all-zero embedding quantizes to all-zero, making its
    self-dot 0 and qcos = qdot/sqrt(0) — null under Spark's non-ANSI
    division with engine-dependent ordering downstream. Cosine is undefined
    for the zero vector, so such rows are excluded from BOTH corpus and
    probes (oracle callers mirror the same ``nn > 0`` exclusion). The
    exclusion is two layers: the RAW-vector test ``exists(v, y -> y != 0)``
    applied BEFORE the quantization projection (for FINITE inputs,
    q_nn > 0 iff the raw vector has any nonzero element — a cheap
    short-circuiting scan predicate that skips quantizing rows that
    cannot survive), plus an ``nn > 0`` guard on the already-computed
    quantized self-dot. The post-guard is what makes non-finite vectors
    safe: a NaN/Infinity element passes the raw nonzero test but drives
    the quantization scale to NaN/null, so the vector quantizes to
    all-zeros (nn = 0), which would reintroduce the null-qcos
    engine-dependent-ordering hazard; the guard costs one comparison on a
    column the plan already carries (round-9 advice).
    """
    self_dot = "aggregate(transform({c}, x -> cast(x as bigint) * x), 0L, (acc, v) -> acc + v)"
    nonzero = f"exists({_VEC_COL}, y -> cast(y as double) != 0.0D)"
    p = (
        probes.filter(F.expr(nonzero))
        .select(F.col(_ID_COL).alias("query_id"), int8_quantized("q_qv"))
        .withColumn("q_nn", F.expr(self_dot.format(c="q_qv")))
        .filter(F.col("q_nn") > 0)
    )
    c = (
        corpus.filter(F.expr(nonzero))
        .select(F.col(_ID_COL).alias("neighbor_id"), int8_quantized("c_qv"))
        .withColumn("c_nn", F.expr(self_dot.format(c="c_qv")))
        .filter(F.col("c_nn") > 0)
    )
    # r14 optimization pass note: an Arrow-vectorized numpy dot was
    # A/B-measured against this interpreted fold (exact BIGINT — any order
    # is bit-identical, so the swap is legal) and LOST at fixture candidate
    # volume: min-of-4 interleaved 2.13 s (UDF) vs 1.47 s (fold) on the
    # pipe16 shape — shipping both int arrays across the Arrow boundary
    # costs more than the fold saves at ~3.6e5 pairs. Revisit only if a
    # corpus pushes stage-1 candidate volume orders of magnitude higher.
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(q_qv, c_qv, (x, y) -> cast(x as bigint) * y), 0L, (acc, v) -> acc + v)"
            ).alias("qdot"),
            "q_nn",
            "c_nn",
        )
        .select(
            "query_id",
            "neighbor_id",
            "qdot",
            F.round(
                F.col("qdot")
                / F.sqrt((F.col("q_nn") * F.col("c_nn")).cast("double")),
                6,
            ).alias("qcos"),
        )
    )
    return top_n_per_group(scored, ["query_id"], "qcos", ["neighbor_id"], k)


def two_stage_rerank_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    shortlist_factor: int = 4,
) -> DataFrame:
    """The production ANN serving pattern: a CHEAP first stage (int8
    quantized cosine over 4x-smaller vectors) builds a k*shortlist_factor
    shortlist per probe, then an EXACT float-cosine stage reranks only the
    shortlist and emits top-k. Both stages are deterministic (exact integer
    dots, rounded float cosine, id tie-breaks), so unusually for a
    two-stage ANN the whole pipeline is value-oracle-checkable.

    Plan shape: stage 1 is ``quantized_topk`` (probes broadcast over one
    corpus scan, zero corpus shuffle); stage 2 joins the corpus scan to the
    BROADCAST shortlist (n_probes * k * factor rows — tiny by construction)
    and the broadcast probe vectors, so re-ranking touches full-precision
    vectors for shortlist members only. At 100 TB this is why the pattern
    exists: the float corpus is read only at shortlist selectivity, the
    int8 representation (4x fewer scan bytes) serves the broad scan.
    Zero-norm rows are excluded by stage 1's guard on both sides.
    """
    short = quantized_topk(corpus, probes, k * shortlist_factor).select(
        "query_id", "neighbor_id", "qcos"
    )
    p = _normed(probes, ("query_id", "qv", "qn2"))
    c = _normed(corpus, ("neighbor_id", "nv", "nn2"))
    scored = (
        c.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(p), "query_id")
        .select(
            "query_id", "neighbor_id", _cos6("qv", "nv", "qn2", "nn2").alias("cos"), "qcos"
        )
    )
    return top_n_per_group(scored, ["query_id"], "cos", ["neighbor_id"], k)


# the exact cosine candidates per probe that mmr_topk's greedy selects from
MMR_SHORTLIST = 20


def mmr_topk(corpus: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    1998) — the serving-side diversity re-ranker: from each probe's exact
    top-``MMR_SHORTLIST`` cosine candidates, greedily select ``k`` maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`` so near-duplicate
    results don't crowd the slate. tx19's RRF fuses rankings ACROSS legs;
    MMR diversifies WITHIN one — the other half of how retrieval slates
    are actually assembled.

    Exactness: relevance and pairwise similarities are 6-rounded cosines
    lifted to exact BIGINT micro-units (``round(cos·1e6)``), λ = 0.7 enters
    as the integer pair (7, 3), so every greedy score is
    ``7·rel_i − 3·max_sim_i`` — pure int64 arithmetic with an id tie-break,
    bit-reproducible across engines, partitionings, and the Python/SQL
    boundary. Emitted ``rel``/``mmr`` are single IEEE divisions of those
    integers by 1e6/1e7.

    Plan shape and the 100 TB posture: stage 1 is ``brute_force_topk``
    (probes broadcast over ONE corpus scan, zero corpus shuffle); candidate
    vectors come from ONE more scan joined to the BROADCAST shortlist, so
    full vectors are touched at shortlist selectivity only (sim9's
    discipline). The pairwise matrix is NOT a self-join — re-evaluating the
    candidate subtree on both sides of a join would rescan the corpus
    twice — but a per-query ``collect_list`` (state: shortlist vectors,
    ~10 KB) whose shortlist² pair grid is generated by nested JVM
    ``transform`` lambdas, the pair cosine an in-order ``zip_with`` /
    ``aggregate`` fold identical to ``cosine_prenorm``. Only the greedy
    selection itself crosses into Python: one Arrow-batched
    ``applyInPandas`` group per probe whose state is the ≤ MMR_SHORTLIST²
    integer matrix (the one op in this file where a Catalyst expression
    genuinely can't express the sequential argmax chain), so per-group
    work is O(k · shortlist²) on ~400 int64s — constant in corpus size,
    parallel across probes. The self-pair diagonal is kept (sim value
    unused) so every candidate reaches its group even at a shortlist of 1."""
    lam_tenths, pen_tenths = 7, 3  # λ = 0.7
    cand = brute_force_topk(corpus, probes, MMR_SHORTLIST).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.round(F.col("cos") * F.lit(1e6)).cast("bigint").alias("rel_i"),
    )
    cv = (
        _precast_normed(corpus, ("cand_id", "dvec", "cn2"))
        .join(F.broadcast(cand), "cand_id")
        .groupBy("query_id")
        .agg(
            F.collect_list(F.struct("cand_id", "rel_i", "dvec", "cn2")).alias(
                "cands"
            )
        )
    )

    def _pair(a, b):  # in-order fold — bit-identical to cosine_prenorm
        d = F.aggregate(
            F.zip_with(a["dvec"], b["dvec"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.struct(
            a["cand_id"].alias("a_id"),
            a["rel_i"].alias("rel_i"),
            b["cand_id"].alias("b_id"),
            F.round(F.round(d / (a["cn2"] * b["cn2"]), 6) * F.lit(1e6))
            .cast("bigint")
            .alias("sim_i"),
        )

    pairs = cv.select(
        "query_id",
        F.explode(
            F.flatten(
                F.transform(
                    "cands",
                    lambda a: F.transform("cands", lambda b: _pair(a, b)),
                )
            )
        ).alias("p"),
    ).select("query_id", "p.a_id", "p.rel_i", "p.b_id", "p.sim_i")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel: dict[int, int] = {}
        sim: dict[tuple[int, int], int] = {}
        for a, r, b, s in zip(
            pdf["a_id"], pdf["rel_i"], pdf["b_id"], pdf["sim_i"]
        ):
            rel[int(a)] = int(r)
            if a != b:
                sim[(int(a), int(b))] = int(s)
        ids = sorted(rel)
        picked: list[int] = []
        rows = []
        while len(picked) < min(k, len(ids)):
            best_id, best_score = None, None
            for c in ids:  # ascending id = the oracle's tie-break
                if c in rel and c not in picked:
                    if picked:
                        score = lam_tenths * rel[c] - pen_tenths * max(
                            sim[(c, p)] for p in picked
                        )
                    else:
                        score = lam_tenths * rel[c]
                    if best_score is None or score > best_score:
                        best_id, best_score = c, score
            picked.append(best_id)
            rows.append(
                (qid, len(picked), best_id, rel[best_id] / 1e6, best_score / 1e7)
            )
        return pd.DataFrame(
            rows, columns=["query_id", "mmr_rank", "doc_id", "rel", "mmr"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        greedy,
        "query_id long, mmr_rank int, doc_id long, rel double, mmr double",
    )


def hash_sampled_centroids(corpus: DataFrame, n_clusters: int) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_clusters`` corpus vectors with
    the smallest md5(id) (a uniform hash-sample — dd5's trick, promoted to a
    shared operator). (cl, center) with cl = dense 0-based rank in hash
    order; re-derivable in ANSI SQL, no stored model, and a
    TakeOrderedAndProject pick (never a full sort)."""
    w = Window.orderBy("__h", "src_id")
    return (
        corpus.select(
            F.col(_ID_COL).alias("src_id"),
            F.md5(F.col(_ID_COL).cast("string")).alias("__h"),
            as_double(F.col(_VEC_COL)).alias("center"),
        )
        .orderBy("__h", "src_id")
        .limit(n_clusters)
        .withColumn("cl", (F.row_number().over(w) - 1).cast("int"))
        .select("cl", "center")
    )


def build_hash_ivf_index(corpus: DataFrame, index_dir: str, n_clusters: int = 16) -> None:
    """Persist a DETERMINISTIC IVF index: same layout and query path as
    ``build_ivf_index`` (assignments partitioned by ``cl`` + centroids
    table) but with the hash-sampled quantizer, so the whole lifecycle —
    build, persist, probe, re-rank — is expressible in ANSI SQL and
    value-oracle-checked (sim8). k-means (sim5x/sim6x) gives tighter cells on
    clustered corpora; the hash-sampled quantizer gives auditability —
    production systems run exactly this trade as 'random-projection vs
    learned coarse quantizer'.

    Cell assignment is ``_nearest_centroid``'s "auto" gate, the only thing
    that picks its arm: under ``TWO_LEVEL_MIN_K`` centroids it is
    ``_argmax_cosine``'s broadcast cross join (corpus × k tiny centroids),
    rounded-6 cosine so the cell decision is engine-exact; from it on,
    ``two_level_assign`` (~2·n·√k work) — the build-time twin of dd5's
    round-9 fix, because at production k ≈ n/500 the flat build hits the
    SAME measured n·k wall the round-8 rehearsal recorded (500k×1000 DNF
    at 16.5 min). The oracle-registered sim8 query builds at k = 16 and
    therefore always takes the flat, bit-exactly-mirrored path; two-level
    cells differ only near super-cell boundaries (the standard
    coarse-quantizer trade) and the probe path is identical either way."""
    centers = hash_sampled_centroids(corpus, n_clusters)
    assigned = _normed(
        _nearest_centroid(
            corpus, centers.select(F.col("cl").alias("cid"), "center"), n_clusters, "auto"
        ),
        _NEIGHBOR,
        F.col("cid").cast("int").alias("cl"),
        id_col="vid",
        vec_col="vec",
    )
    assigned.write.mode("overwrite").partitionBy("cl").parquet(f"{index_dir}/assignments")
    centers.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def hash_ivf_topk_indexed(
    spark,
    index_dir: str,
    probes: DataFrame,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """Query the deterministic IVF index: probes shortlist their ``n_probe``
    nearest centroids by ROUNDED COSINE (desc, cl tie-break — unlike
    ``ivf_topk_indexed``'s squared-distance shortlist, the rounded cosine is
    engine-exact, which is what lets the oracle reproduce the shortlist),
    then exact re-rank within probed cells only (dynamic partition pruning
    on the ``cl=`` layout)."""
    assigned = spark.read.parquet(f"{index_dir}/assignments")
    centers = spark.read.parquet(f"{index_dir}/centroids")
    near = (
        _normed(probes, _PROBE)
        .crossJoin(F.broadcast(centers))
        .withColumn("c", F.round(cosine(F.col("query_vec"), F.col("center")), 6))
    )
    shortlist = top_n_per_group(near, ["query_id"], "c", ["cl"], n_probe).select(
        "query_id", "query_vec", "qn", "cl"
    )
    return _probe_cells(shortlist, assigned, k)
