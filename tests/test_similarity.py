"""LSH ANN quality and determinism.

sim3/sim4 also have full DuckDB oracles (md5-derived planes are relationally
re-derivable — see plans/queries_similarity.py); these tests add the quality
bar an exact-match oracle can't express: recall against brute force.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import Node, nodes, plan_of
from trafficanalysisbigdata_spark.io import register_views
from trafficanalysisbigdata_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    centroid_semantic_dedup,
    ivf_topk_indexed,
    lsh_neardup_pairs,
    lsh_topk,
    multi_table_buckets,
    threshold_pairs,
)
from trafficanalysisbigdata_spark.session import prep


def _dynamically_pruned(plan: Node) -> bool:
    """A partition filter on some scan came from a broadcast join at runtime."""
    return any(
        "dynamicpruning" in f for s in nodes(plan, "FileSourceScan") for f in s.partition_filters
    )


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < 10)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in lsh_topk(emb, probes, k=5).collect()
    }
    # 16 tables x 4 planes OR-amplified; planes are md5-derived so recall is
    # deterministic for a fixed fixture (measured 0.96 at sf0.001).
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_lsh_neardup_recall_vs_allpairs(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    exact = {(r.id1, r.id2) for r in threshold_pairs(emb, 0.3).collect()}
    approx = {(r.id1, r.id2) for r in lsh_neardup_pairs(emb, 0.3).collect()}
    assert approx <= exact  # LSH candidates are verified exactly — no false positives
    assert len(approx) / len(exact) >= 0.7, f"pair recall: {len(approx)}/{len(exact)}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir, tmp_path):
    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    index_dir = str(tmp_path / "ivf_index")
    build_ivf_index(emb, index_dir)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_indexed(spark, index_dir, probes, k=5).collect()
    }
    # the near-uniform fixture is IVF's worst case (no cluster structure);
    # measured 0.76 — the bar leaves margin for k-means assignment jitter
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_lsh_buckets_deterministic(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings").limit(50)
    b1 = {r.vec_id: r.buckets for r in multi_table_buckets(emb, 16, 4, 64).collect()}
    b2 = {r.vec_id: r.buckets for r in multi_table_buckets(emb, 16, 4, 64).collect()}
    assert b1 == b2
    assert all(len(v) == 16 and all(0 <= b < 16 for b in v) for v in b1.values())


def test_centroid_semantic_dedup_invariants(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    n = emb.count()
    rows = centroid_semantic_dedup(emb, n_centroids=8, threshold=0.30).collect()

    assert len(rows) == 8  # every hash-picked centroid attracts some cell
    assert sum(r.n_assigned for r in rows) == n  # partition covers the corpus
    for r in rows:
        assert r.n_survivors + r.n_dupes == r.n_assigned
        assert 1 <= r.n_survivors <= r.n_assigned
    # the fixtures contain loose near-dups at cos >= 0.30 — collapse must bite
    assert sum(r.n_dupes for r in rows) > 0


def test_ivf_index_persist_and_query(spark, tmp_path, monkeypatch):
    """The persisted-index lifecycle: build once (fit + write), query many —
    on a CLUSTERED fixture (IVF's intended regime) recall vs brute force
    must clear a higher bar than the uniform-fixture path, and the
    assignments scan must be partition-pruned to the probed cells."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "IVF_CLUSTERS", 8)
    monkeypatch.setattr(sim, "IVF_PROBES", 2)
    rng = np.random.RandomState(42)
    centers = rng.randn(8, 16) * 5.0
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, [float(x) for x in centers[c] + rng.randn(16) * 0.3]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") < 10)

    index_dir = str(tmp_path / "ivf_index")
    build_ivf_index(emb, index_dir)
    indexed = ivf_topk_indexed(spark, index_dir, probes, k=5)
    got = {(r.query_id, r.neighbor_id) for r in indexed.collect()}

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"clustered-fixture IVF recall too low: {recall}"

    # the index read must only scan probed cl= partitions: with 10 probes x
    # IVF_PROBES=2 over 8 clusters, pruning keeps <= 8; the plan shows a
    # dynamic partition filter rather than a full scan
    assert _dynamically_pruned(plan_of(indexed))


def test_embedding_lsh_bucket_cap_bounds_candidates(spark):
    """Embedding twin of the dd2 skew guard: 300 identical vectors collide in
    every table; the cap drops those buckets, a genuine near pair with its
    own sign pattern survives, and candidate volume stays bounded."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators.similarity import lsh_neardup_pairs

    rng = np.random.RandomState(7)
    boiler_vec = [float(x) for x in rng.randn(16)]
    distinct = rng.randn(16)
    rows = [(i, boiler_vec) for i in range(300)]
    rows.append((1000, [float(x) for x in distinct]))
    rows.append((1001, [float(x) for x in distinct + rng.randn(16) * 0.01]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    capped = lsh_neardup_pairs(emb, 0.9, n_tables=8, n_planes=4, dim=16, max_bucket=100)
    got = {(r.id1, r.id2) for r in capped.collect()}
    assert (1000, 1001) in got
    assert len(got) <= 50  # the 300-vector buckets were dropped

    uncapped = lsh_neardup_pairs(emb, 0.9, n_tables=8, n_planes=4, dim=16)
    assert uncapped.count() >= 300 * 299 / 2  # identical vectors all pair up


def test_int8_quantized_topk_recall_vs_bruteforce(spark, sf_dir):
    """sim7's value oracle proves the quantized ranking is computed right;
    this proves the quantization is USEFUL — int8 scores must recover almost
    all of the exact float-cosine top-5 (they diverge only where true
    cosines are nearly tied)."""
    from trafficanalysisbigdata_spark.operators.similarity import quantized_topk

    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < 10)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in quantized_topk(emb, probes, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"int8 recall too low: {recall}"


def test_hash_ivf_index_pruning_and_recall(spark, tmp_path):
    """sim8's operator: the deterministic-quantizer index must ALSO prune
    the assignments scan to probed cells (same layout payoff as the k-means
    index), and on a clustered fixture the hash-sampled quantizer must
    still recover most of the exact top-5 (hash-sampling picks ~uniformly
    across clusters, so cells track true structure when structure exists)."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators.similarity import (
        build_hash_ivf_index,
        hash_ivf_topk_indexed,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 16) * 5.0
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, [float(x) for x in centers[c] + rng.randn(16) * 0.3]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") < 10)

    index_dir = str(tmp_path / "hash_ivf_index")
    build_hash_ivf_index(emb, index_dir, n_clusters=16)
    indexed = hash_ivf_topk_indexed(spark, index_dir, probes, k=5, n_probe=4)
    got = {(r.query_id, r.neighbor_id) for r in indexed.collect()}

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, f"hash-IVF recall too low: {recall}"

    assert _dynamically_pruned(plan_of(indexed))


def test_adaptive_n_planes_rule():
    """The sim4 banding dial is code, not prose: P=4 (the oracle-mirrored
    floor) for every driver-SF corpus, then grows log2 with the corpus to
    hold expected bucket size constant. The cap sits at 16 (raised from 14
    in round 14 when the measured 4M frontier landed exactly AT the old
    cap — the same one-decade-ahead rule as the round-11 12→14 raise;
    raised from 8 in round 9 after the 500k rehearsal measured twin recall
    collapsing to 0.748 when occupancy ~1950 blew past the 1024 max_bucket
    work cap and dense buckets were dropped wholesale). The cap must track
    log2(n/target) through the target corpus size."""
    from trafficanalysisbigdata_spark.operators.similarity import adaptive_n_planes

    assert adaptive_n_planes(0) == 4
    assert adaptive_n_planes(500) == 4      # sf0.001 / sf0.01 fixtures
    assert adaptive_n_planes(2000) == 4     # sf0.1 fixture — oracle P
    assert adaptive_n_planes(4095) == 4     # floor holds below 4096
    assert adaptive_n_planes(5_000) == 5    # 1x rehearsal
    assert adaptive_n_planes(50_000) == 8   # 10x rehearsal
    assert adaptive_n_planes(500_000) == 11  # 100x rehearsal: occupancy ~244 < 1024
    assert adaptive_n_planes(1_000_000) == 12   # 1M rehearsal point
    assert adaptive_n_planes(4_000_000) == 14   # 4M receipt (old cap's edge)
    assert adaptive_n_planes(8_000_000) == 15   # 8M receipt point
    assert adaptive_n_planes(100_000_000) == 16  # cap (carries rule to ~16M)


def test_adaptive_n_tables_rule():
    """L must grow with P to hold OR-amplified recall at the bar: for a
    pair at cosine s the per-table collision rate is (1 - acos(s)/pi)^P,
    so L = ceil(ln(1-recall)/ln(1-p^P)). Spot values from the closed form,
    plus the invariants the dial exists for: monotone in P, never below
    the floor, capped against explode blowup."""
    import math

    from trafficanalysisbigdata_spark.operators.similarity import adaptive_n_tables

    p = 1 - math.acos(0.8) / math.pi          # ~0.795
    for P in (4, 8, 11, 12):
        hit = p**P
        want = max(8, min(64, math.ceil(math.log(0.1) / math.log(1 - hit))))
        assert adaptive_n_tables(P, 0.8) == want, P
    assert adaptive_n_tables(4, 0.8) == 8      # floor at shallow banding
    assert adaptive_n_tables(12, 0.8) == 35    # the P-cap pairing
    assert adaptive_n_tables(8, 0.8) <= adaptive_n_tables(12, 0.8)
    assert adaptive_n_tables(12, 0.95) < adaptive_n_tables(12, 0.8)  # easier bar
    assert adaptive_n_tables(40, 0.5) == 64    # cap: one LSH stage can't carry it
    assert adaptive_n_tables(4, 1.0) == 8      # degenerate p=1 -> floor


def test_sim4_deep_banding_preserves_recall(spark):
    """The auto-dial pair (P(n), L(P, bar)) end-to-end on a corpus dense
    enough that bucket capping engages at shallow banding: planted twin
    pairs (cosine ~1) must survive n_tables=None derivation with a small
    max_bucket, where a pinned shallow layout loses them to bucket drops —
    the 500k-rehearsal failure mode at unit-test scale."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators.similarity import lsh_neardup_pairs

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 4, 120
    rows = []
    vid = 0
    for c in range(n_clusters):
        center = rng.normal(size=dim)
        center /= np.linalg.norm(center)
        for _ in range(per):
            v = center + rng.normal(scale=0.05, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # planted twins: near-exact copies of the first 10 vectors
    twins = [(1000 + i, [x * 1.001 for x in rows[i][1]]) for i in range(10)]
    df = spark.createDataFrame(rows + twins, "vec_id long, embedding array<float>")
    # deep banding via explicit P (the adaptive value for this density),
    # L derived: the twins' buckets stay under the cap and recall holds
    out = lsh_neardup_pairs(
        df, 0.999, n_tables=None, n_planes=8, dim=dim, max_bucket=32
    )
    got = {(r.id1, r.id2) for r in out.collect()}
    found = sum((i, 1000 + i) in got for i in range(10))
    assert found >= 9, f"twin recall {found}/10 under deep banding"


def test_sim4_zero_norm_guard(spark):
    """quantized/cosine paths must exclude zero vectors rather than emit
    null scores: an all-zero embedding has no defined cosine."""
    from trafficanalysisbigdata_spark.operators.similarity import quantized_topk

    df = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] * 8), (2, [0.5] * 8), (3, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    out = quantized_topk(df, df, k=3).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 0 not in ids          # zero vector excluded from both sides
    assert all(r.qcos is not None for r in out)


def test_sim7_nonfinite_vector_guard(spark):
    """A NaN/Infinity element passes the raw nonzero pre-filter but drives
    the quantization scale to NaN, collapsing the vector to all-zero
    (nn = 0) — the nn > 0 post-guard must exclude it on both sides so no
    null qcos reaches the ranking window (round-9 advice)."""
    from trafficanalysisbigdata_spark.operators.similarity import quantized_topk

    nan_vec = [float("nan")] + [1.0] * 7
    inf_vec = [float("inf")] + [1.0] * 7
    df = spark.createDataFrame(
        [(0, nan_vec), (1, inf_vec), (2, [1.0] * 8), (3, [0.5] * 8), (4, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    out = quantized_topk(df, df, k=3).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert 0 not in ids and 1 not in ids   # non-finite rows excluded
    assert out and all(r.qcos is not None for r in out)


def test_two_stage_rerank_recall_dominates_quantized(spark, sf_dir):
    """sim9's exact rerank over a 4k int8 shortlist must recover at least
    as much of the exact top-5 as plain quantized top-5 — reranking can
    only fix stage-1 ordering errors within the shortlist, never add new
    ones — and on these fixtures it should be near-perfect."""
    from trafficanalysisbigdata_spark.operators.similarity import (
        quantized_topk,
        two_stage_rerank_topk,
    )

    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    probes = emb.filter(F.col("vec_id") < 10)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, probes, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in quantized_topk(emb, probes, k=5).collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in two_stage_rerank_topk(emb, probes, k=5).collect()
    }
    r_quant = len(exact & quant) / len(exact)
    r_rerank = len(exact & rerank) / len(exact)
    assert r_rerank >= r_quant, (r_rerank, r_quant)
    assert r_rerank >= 0.95, f"rerank recall too low: {r_rerank}"


def test_fixture_corpora_derive_oracle_band_layout():
    """The registered LSH queries pin n_planes=4 to mirror their static
    oracles; the adaptive rule must agree on every committed fixture so the
    pin and the production default cannot drift apart — a fixture crossing
    the 4096-vector floor would flip adaptive callers to P>=5 and is the
    signal to regenerate the oracle CTEs alongside."""
    import os

    import pyarrow.parquet as pq

    from trafficanalysisbigdata_spark.operators.similarity import adaptive_n_planes

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        n = pq.read_metadata(path).num_rows
        assert adaptive_n_planes(n) == 4, (sf, n)
        checked += 1
    assert checked, "no fixture dirs found"


def test_two_level_assign_equals_flat_when_supers_cover(spark):
    """With n_super = k every centroid is its own super (self-cosine 1 is
    the argmax), so the two-hop route degenerates to exact flat argmax —
    the algebraic sanity anchor for the approximation."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators.similarity import (
        centroid_semantic_dedup,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    flat = centroid_semantic_dedup(df, n_centroids=12, assignment="flat")
    # n_super = ceil(sqrt(12)) = 4 two-hop vs 12-super (= flat) route
    from trafficanalysisbigdata_spark.operators.similarity import (
        _argmax_cosine,
        two_level_assign,
    )
    from pyspark.sql import functions as F

    cent = (
        df.select(
            F.col("vec_id").alias("cid"),
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
            F.col("embedding").alias("center"),
        )
        .orderBy("__h", "cid")
        .limit(12)
        .drop("__h")
    )
    full = two_level_assign(df, cent, n_super=12)
    exact = _argmax_cosine(
        df.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")),
        cent,
        "vid",
        "cid",
    )
    got = {r.vid: r.cid for r in full.collect()}
    want = {r.vid: r.cid for r in exact.collect()}
    assert got == want
    assert flat.count() > 0  # flat path still builds after the refactor


def test_two_level_assign_partition_invariants_and_agreement(spark):
    """Two-level with s = ceil(sqrt k): every vector assigned exactly once,
    to a real centroid id, deterministically; on cluster-structured data
    the approximate route agrees with exact flat argmax for the bulk of
    vectors (boundary vectors may differ — that is the documented IVF
    trade)."""
    import numpy as np

    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.similarity import (
        _argmax_cosine,
        two_level_assign,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(6, 16) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % 6] + rng.randn(16) * 0.5])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = (
        df.select(
            F.col("vec_id").alias("cid"),
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
            F.col("embedding").alias("center"),
        )
        .orderBy("__h", "cid")
        .limit(25)
        .drop("__h")
    )
    out = two_level_assign(df, cent, n_super=5)
    rows1 = {r.vid: r.cid for r in out.collect()}
    assert len(rows1) == 400                         # one row per vector
    cids = {r.cid for r in cent.collect()}
    assert set(rows1.values()) <= cids               # picks are real centroids
    rows2 = {r.vid: r.cid for r in two_level_assign(df, cent, n_super=5).collect()}
    assert rows1 == rows2                            # deterministic
    exact = {
        r.vid: r.cid
        for r in _argmax_cosine(
            df.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")),
            cent,
            "vid",
            "cid",
        ).collect()
    }
    agree = sum(1 for v, c in rows1.items() if exact[v] == c) / len(rows1)
    assert agree >= 0.8, f"two-level agreement collapsed: {agree}"


def test_centroid_dedup_auto_crossover(spark):
    """assignment='auto' must stay on the exact flat path below k=200 (the
    oracle-mirrored regime) and reject unknown strategies loudly."""
    import pytest as _pytest

    from trafficanalysisbigdata_spark.operators.similarity import (
        centroid_semantic_dedup,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    a = centroid_semantic_dedup(df, n_centroids=8, assignment="auto").collect()
    f = centroid_semantic_dedup(df, n_centroids=8, assignment="flat").collect()
    assert a == f
    with _pytest.raises(ValueError, match="assignment"):
        centroid_semantic_dedup(df, n_centroids=8, assignment="bogus")


def test_lsh_n_rows_skips_count_job(spark, monkeypatch):
    """When the caller supplies n_rows, the near-dup adaptive-P derivation
    must not trigger a corpus count() — at 100 TB that scalar is a full scan
    before any real work (round-8 verdict item) — and pinned-layout top-k
    callers never pay one. count() is poisoned for the duration; plan
    construction must still succeed and derive the same P the count-based
    path would. NOTE: the poison must target the CONCRETE class (type(df),
    pyspark.sql.classic in Spark 4) — patching the abstract
    pyspark.sql.DataFrame never intercepts instance calls, which left this
    test vacuous through round 11."""
    from trafficanalysisbigdata_spark.operators.similarity import (
        adaptive_n_planes,
        lsh_neardup_pairs,
        lsh_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )

    def _boom(self):
        raise AssertionError("count() job triggered despite n_rows")

    monkeypatch.setattr(type(df), "count", _boom)
    p = lsh_neardup_pairs(df, 0.9, n_tables=4, dim=4, n_rows=50_000)
    # the fully-auto dial pair (P and L both None) must also build
    # count-free off n_rows
    p2 = lsh_neardup_pairs(df, 0.9, n_tables=None, dim=4, n_rows=50_000)
    t = lsh_topk(df, df.limit(2), k=3, n_tables=8, n_planes=4, dim=4)
    # plans build without an action; the dial matches the explicit rule
    assert t.columns == ["query_id", "neighbor_id", "cos"]
    assert p.columns == ["id1", "id2", "cos"] and p2.columns == p.columns
    assert adaptive_n_planes(50_000) == 8


def test_adaptive_n_tables_topk_steps():
    """The occupancy-compensation L dial: steps at the measured decade
    boundaries (BENCH_LOCAL.md round 10: 0.868→0.952→0.988 recall@5)."""
    from trafficanalysisbigdata_spark.operators.similarity import (
        adaptive_n_tables_topk,
    )

    assert adaptive_n_tables_topk(50_000) == 16
    assert adaptive_n_tables_topk(100_000) == 16
    assert adaptive_n_tables_topk(500_000) == 24
    assert adaptive_n_tables_topk(4_000_000) == 32
    # the round-14 48 step: P=15 corpora (past the old P cap) measured
    # 0.88 recall at L=32 — the L dial is the only recall lever once
    # occupancy is pinned, so the step boundary tracks the P=15 frontier
    assert adaptive_n_tables_topk(8_000_000) == 48


def test_sim4_scoring_joins_broadcast_when_size_known(spark):
    """When the corpus size is known and under the 512 MB vector budget,
    lsh_neardup_pairs must hint BOTH vector-attach joins to broadcast —
    the unhinted sort-merge plan widens every candidate pair by a vector
    and sorts it, the measured 500k-vector single-node disk wall."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.similarity import lsh_neardup_pairs

    emb = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (F.pmod(F.col("id") * i, F.lit(97)) / 97.0).cast("float"),
        ).alias("embedding"),
    )
    plan = plan_of(lsh_neardup_pairs(emb, 0.8, n_tables=4, dim=16, n_rows=2000))
    assert not nodes(plan, "SortMergeJoin"), plan
    # past the budget the hint must NOT engage (a terabyte broadcast would
    # kill every executor); the plan is Catalyst's choice there
    # shape is size-dependent; building it must not throw
    assert nodes(plan_of(lsh_neardup_pairs(emb, 0.8, n_tables=4, dim=16, n_rows=50_000_000)))


def test_hash_ivf_two_level_build(spark, tmp_path, monkeypatch):
    """build_hash_ivf_index past its two-level crossover (``TWO_LEVEL_MIN_K``
    moved under k=16) must produce a complete index (one assignment row per
    vector — the level-2 join can never drop one) whose probe results stay
    close to the flat build's: cell membership may differ only near
    super-cell boundaries, so top-k overlap against the flat index stays
    high on a clustered corpus."""
    import numpy as np

    from trafficanalysisbigdata_spark.operators import similarity as sim
    from trafficanalysisbigdata_spark.operators.similarity import (
        build_hash_ivf_index,
        hash_ivf_topk_indexed,
    )

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(4, 16))
    rows = []
    for i in range(300):
        v = protos[i % 4] + rng.normal(scale=0.05, size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    flat_dir, two_dir = str(tmp_path / "flat"), str(tmp_path / "two")
    two_level = []
    orig = sim.two_level_assign
    monkeypatch.setattr(sim, "two_level_assign", lambda *a: two_level.append(a) or orig(*a))
    build_hash_ivf_index(df, flat_dir, n_clusters=16)  # k=16 < 200: flat
    assert not two_level
    monkeypatch.setattr(sim, "TWO_LEVEL_MIN_K", 16)
    build_hash_ivf_index(df, two_dir, n_clusters=16)
    assert len(two_level) == 1

    a2 = spark.read.parquet(f"{two_dir}/assignments")
    assert a2.count() == 300
    assert a2.select("neighbor_id").distinct().count() == 300

    probes = df.filter("vec_id < 12")
    def topk(d):
        out = {}
        for r in hash_ivf_topk_indexed(spark, d, probes, k=5, n_probe=4).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    ref, two = topk(flat_dir), topk(two_dir)
    overlaps = [len(ref[q] & two.get(q, set())) / len(ref[q]) for q in ref]
    assert sum(overlaps) / len(overlaps) >= 0.8


@pytest.fixture
def staging_root(spark, tmp_path, monkeypatch):
    """The near-dup router's frontier at 0 MB, so every corpus is past it
    (the router alone picks its arm; a test moves the bound it reads), with
    the session's scratch root at a fresh directory the test can list."""
    from trafficanalysisbigdata_spark.io import SCRATCH_DIR_CONF
    from trafficanalysisbigdata_spark.operators import similarity as sim

    prep(spark)
    monkeypatch.setattr(sim, "NEARDUP_BUDGET_MB", 0)
    root = tmp_path / "scratch"
    spark.conf.set(SCRATCH_DIR_CONF, str(root))
    try:
        yield root
    finally:
        spark.conf.unset(SCRATCH_DIR_CONF)


def _staged_groups(root) -> list[list[str]]:
    """The table-group directories of each staged call under ``root``."""
    import os

    if not root.exists():
        return []
    return [sorted(os.listdir(root / leaf)) for leaf in sorted(os.listdir(root))]


def _fixture_pairs(spark, sf_dir):
    """(embeddings, its size, the single-pass pair set at L=7, P=4):
    ``collapse=True`` never stages, wherever the frontier sits."""
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    n = emb.count()
    single = {
        (r.id1, r.id2, r.cos)
        for r in lsh_neardup_pairs(
            emb, 0.3, n_tables=7, n_planes=4, n_rows=n, collapse=True
        ).collect()
    }
    assert single  # fixture must produce pairs or the test is vacuous
    return emb, n, single


def test_staged_pairs_equal_single_pass(spark, sf_dir, staging_root, monkeypatch):
    """The staged arm is SET-identical to the single-pass plan for every
    group size (including one that doesn't divide L): the table offset
    makes group g hash exactly the planes the single pass uses for tables
    [g*gs, (g+1)*gs), and verification is deterministic."""
    from trafficanalysisbigdata_spark.operators import similarity as sim

    emb, n, single = _fixture_pairs(spark, sf_dir)
    for gs in (3, 6):
        monkeypatch.setattr(sim, "NEARDUP_GROUP_SIZE", gs)
        staged = {
            (r.id1, r.id2, r.cos)
            for r in lsh_neardup_pairs(emb, 0.3, n_tables=7, n_planes=4, n_rows=n).collect()
        }
        assert staged == single
    assert sorted(len(g) for g in _staged_groups(staging_root)) == [2, 3]


def test_neardup_auto_routes_staged_past_frontier(spark, sf_dir, staging_root, monkeypatch):
    """The REGISTERED entrypoint must take the staged arm past the
    broadcast-budget frontier (where the 1M rehearsal measured single-pass
    to DNF), and the routed result must be SET-identical to the single-pass
    plan. The frontier is moved here by patching the bound the router
    reads, so the same fixture exercises both branches; a call under it
    writes nothing."""
    from trafficanalysisbigdata_spark.operators import similarity as sim

    emb, n, single = _fixture_pairs(spark, sf_dir)
    monkeypatch.setattr(sim, "NEARDUP_BUDGET_MB", 512)  # the shipped frontier
    under = lsh_neardup_pairs(emb, 0.3, n_tables=7, n_planes=4, n_rows=n)
    assert under.columns == ["id1", "id2", "cos"]
    assert not staging_root.exists()
    monkeypatch.setattr(sim, "NEARDUP_BUDGET_MB", 0)
    monkeypatch.setattr(sim, "NEARDUP_GROUP_SIZE", 3)
    routed = lsh_neardup_pairs(emb, 0.3, n_tables=7, n_planes=4, n_rows=n)
    # staged arm engaged: per-group artifacts exist before collect
    assert _staged_groups(staging_root) == [["tables_0000", "tables_0003", "tables_0006"]]
    assert {(r.id1, r.id2, r.cos) for r in routed.collect()} == single


def test_staged_groups_score_at_double_budget(spark, sf_dir, staging_root, monkeypatch):
    """The staged arm must hand each group pass 2x the routing budget (the
    candidate-state headroom staging frees hosts the scoring broadcast —
    the receipted 1M posture). Captured via the group-pass entrypoint."""
    from trafficanalysisbigdata_spark.operators import similarity as sim

    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    seen = []
    orig = sim._lsh_pairs_single_pass

    def capture(*args):
        seen.append(args[-1])  # the scoring budget, positional tail
        return orig(*args)

    monkeypatch.setattr(sim, "_lsh_pairs_single_pass", capture)
    monkeypatch.setattr(sim, "NEARDUP_BUDGET_MB", 300)
    monkeypatch.setattr(sim, "NEARDUP_GROUP_SIZE", 2)
    # 1M rows at 64-d is ~560 MB of prenormed vectors: past 300, under 600
    sim.lsh_neardup_pairs(emb, 0.3, n_tables=4, n_planes=4, n_rows=1_000_000)
    assert seen == [600, 600]
    assert _staged_groups(staging_root) == [["tables_0000", "tables_0002"]]


def test_stage_false_is_count_free_and_never_stages(spark, staging_root, monkeypatch):
    """``collapse=True`` (the collapse-consumer posture): with pinned dials
    the router must resolve with ZERO Spark actions — count() is poisoned
    — and must build the single-pass LAZY plan even past the frontier
    (budget 0), leaving no staging artifacts behind. pipe3 relies on
    exactly this contract."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )

    def _boom(self):
        raise AssertionError("count() job triggered despite collapse=True")

    monkeypatch.setattr(type(df), "count", _boom)
    p = lsh_neardup_pairs(df, 0.9, n_tables=4, n_planes=4, dim=4, collapse=True)
    assert not staging_root.exists()
    assert p.columns == ["id1", "id2", "cos"]


def test_stage_true_forces_staged_under_conf_dir(spark, sf_dir, staging_root, monkeypatch):
    """Past the frontier the staged groups land under the SCRATCH_DIR_CONF
    session conf (io.scratch_dir, the cluster-portable location): one
    ``lsh-<uuid>`` leaf per staged call, one directory per table group."""
    import os

    from trafficanalysisbigdata_spark.operators import similarity as sim

    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    monkeypatch.setattr(sim, "NEARDUP_GROUP_SIZE", 3)
    for _ in range(2):
        lsh_neardup_pairs(emb, 0.3, n_tables=7, n_planes=4, n_rows=100)
    leaves = os.listdir(staging_root)
    assert len(leaves) == 2 and all(leaf.startswith("lsh-") for leaf in leaves)
    assert _staged_groups(staging_root) == [
        ["tables_0000", "tables_0003", "tables_0006"]
    ] * 2


def test_default_staging_dir_is_warehouse_relative(spark):
    """Without the conf key, scratch (LSH staging included) resolves under
    <spark.sql.warehouse.dir>/_scratch/<tag>-<uuid> — shared storage on a
    real cluster, never a driver-local temp dir. A file: warehouse comes
    back as a plain local path for the Python-filesystem callers."""
    from urllib.parse import urlparse

    from trafficanalysisbigdata_spark.io import SCRATCH_DIR_CONF, scratch_dir

    assert spark.conf.get(SCRATCH_DIR_CONF, None) is None
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    assert wh.startswith("file:")
    d1, d2 = scratch_dir(spark, "lsh"), scratch_dir(spark, "lsh")
    assert d1.startswith(urlparse(wh).path + "/_scratch/lsh-")
    assert d1 != d2  # concurrent stagings must not collide


def test_pipe16_top1_agrees_with_bruteforce(spark, sf_dir):
    """pipe16's leak gate ranks each eval doc's best train neighbor via the
    int8-shortlist → exact-rerank path (k=1, shortlist 8); its docstring
    claims near-perfect top-1 agreement with brute force on the fixtures —
    pin that claim so a quantizer or shortlist regression that silently
    degrades the gate's recall fails CI rather than shipping a leak scan
    that misses the leaks."""
    from trafficanalysisbigdata_spark.operators.similarity import (
        two_stage_rerank_topk,
    )
    from trafficanalysisbigdata_spark.functions.hashing import hash_frac
    from trafficanalysisbigdata_spark.plans.queries_pipeline import _P16_SHORTLIST

    prep(spark)
    register_views(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    split = emb.select(
        "vec_id", "embedding", (hash_frac(F.col("vec_id")) < 0.9).alias("t")
    )
    train = split.filter("t").select("vec_id", "embedding")
    ev = split.filter(~F.col("t")).select("vec_id", "embedding")
    exact = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(train, ev, k=1).collect()
    }
    gate = {
        r.query_id: r.neighbor_id
        for r in two_stage_rerank_topk(
            train, ev, k=1, shortlist_factor=_P16_SHORTLIST
        ).collect()
    }
    assert set(gate) == set(exact)
    agree = sum(1 for q, n in exact.items() if gate[q] == n) / len(exact)
    assert agree >= 0.9, f"top-1 agreement too low: {agree}"


def test_mmr_topk_matches_independent_greedy(spark, monkeypatch):
    """sim10's operator vs a from-scratch Python MMR on random vectors:
    in-order Python float arithmetic reproduces the Catalyst fold bit for
    bit, so shortlist membership, every integer micro-unit score, the
    greedy order, and the id tie-breaks must agree EXACTLY. Exercises
    multiple probes, k > shortlist truncation, and a shortlist smaller
    than the corpus."""
    import random

    from trafficanalysisbigdata_spark.operators import similarity
    from trafficanalysisbigdata_spark.operators.similarity import mmr_topk

    rng = random.Random(1442)
    n, dim, nprobe, shortlist, k = 60, 8, 2, 10, 5
    monkeypatch.setattr(similarity, "MMR_SHORTLIST", shortlist)
    vecs = {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(dim)] for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    probes = df.filter(F.col("vec_id") < nprobe)

    # independent reference: plain in-order float arithmetic end to end
    import struct as _struct

    def f32(x):  # the fixture column is array<float>: narrow exactly once
        return _struct.unpack("f", _struct.pack("f", x))[0]

    dv = {i: [f32(x) for x in v] for i, v in vecs.items()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    nrm = {i: math.sqrt(dot(v, v)) for i, v in dv.items()}

    def cos6(a, b):
        return round(dot(dv[a], dv[b]) / (nrm[a] * nrm[b]), 6)

    expect = []
    for q in range(nprobe):
        scored = sorted(
            ((cos6(q, c), c) for c in dv if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:shortlist]
        rel = {c: int(round(cs * 1e6)) for cs, c in scored}
        sim = {
            (a, b): int(round(cos6(a, b) * 1e6))
            for a in rel
            for b in rel
            if a != b
        }
        picked = []
        for _ in range(k):
            best, bs = None, None
            for c in sorted(rel):
                if c in picked:
                    continue
                s = (
                    7 * rel[c] - 3 * max(sim[(c, p)] for p in picked)
                    if picked
                    else 7 * rel[c]
                )
                if bs is None or s > bs:
                    best, bs = c, s
            picked.append(best)
            expect.append((q, len(picked), best, rel[best] / 1e6, bs / 1e7))

    got = [
        (r.query_id, r.mmr_rank, r.doc_id, r.rel, r.mmr)
        for r in mmr_topk(df, probes, k=k)
        .orderBy("query_id", "mmr_rank")
        .collect()
    ]
    assert got == expect

    # diversity actually engages on this fixture: the greedy order must not
    # simply be the relevance order for every probe (else the test is vacuous)
    rel_order = {
        q: [c for _, c in sorted(
            ((cos6(q, c), c) for c in dv if c != q), key=lambda t: (-t[0], t[1])
        )[:k]]
        for q in range(nprobe)
    }
    mmr_order = {}
    for q, rk, d, _, _ in expect:
        mmr_order.setdefault(q, []).append(d)
    assert any(mmr_order[q] != rel_order[q] for q in range(nprobe))


def test_neardup_p_cap_keeps_bar_equation_solvable():
    """The round-14 decoupling: the BAR path derives P with
    NEARDUP_P_CAP=14 so adaptive_n_tables' collision equation stays
    solvable UNDER its 64-table amplification cap at the 0.8 reference
    bar — at the top-k cap's P=15 the solution is 71 > 64 and bar-recall
    would silently dip (~0.88), the exact shape the 8M top-k rehearsal
    measured before the L=48 step. Pins both the constant and the
    unsolvability it guards against."""
    import math

    from trafficanalysisbigdata_spark.operators.similarity import (
        NEARDUP_P_CAP,
        adaptive_n_planes,
        adaptive_n_tables,
    )

    assert NEARDUP_P_CAP == 14
    p_bar = adaptive_n_planes(8_000_000, cap=NEARDUP_P_CAP)
    assert p_bar == 14
    # solvable: the derived L is the UNclamped solution
    p = 1.0 - math.acos(0.8) / math.pi
    need14 = math.ceil(math.log(0.1) / math.log(1.0 - p**14))
    assert adaptive_n_tables(14, 0.8) == need14 <= 64
    # and the top-k cap's P=15 would overflow the amplification budget
    need15 = math.ceil(math.log(0.1) / math.log(1.0 - p**15))
    assert need15 > 64
    assert adaptive_n_tables(15, 0.8) == 64  # clamped — the dip the cap avoids
