"""Property-based tests (hypothesis): invariants that hold for ALL inputs,
complementing the fixture-pinned oracle suite. Each example runs Spark jobs,
so example counts are small and deadlines disabled — the value is the input
diversity (adversarial graphs and token distributions the fixtures never
produce), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


class _UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_connected_components_equals_union_find(spark, cc_arm, edges):
    """For ANY graph, both arms — the distributed label propagation and the
    one-task numpy union-find — must produce exactly the partition a
    sequential union-find produces (component = min id)."""
    from trafficanalysisbigdata_spark.operators.components import (
        connected_components,
    )

    uf = _UnionFind()
    for a, b in edges:
        uf.union(a, b)
    # union-find roots are not guaranteed minimal per component; normalize
    groups: dict = {}
    for a, b in edges:
        for v in (a, b):
            groups.setdefault(uf.find(v), set()).add(v)
    want = {v: min(g) for g in groups.values() for v in g}

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc1 long, doc2 long"
    )
    got = {r.v: r.component for r in connected_components(df).collect()}
    assert got == want


def test_connected_components_frees_only_its_own_checkpoints(spark, cc_arm, monkeypatch):
    """CC frees the checkpoint blocks of its own edge list and rounds and
    nothing else: a frame another query checkpoints in the same session
    while CC runs (here, inside CC's first checkpoint call) must still be
    readable afterwards, on either arm."""
    from pyspark.sql.classic.dataframe import DataFrame

    from trafficanalysisbigdata_spark.operators.components import (
        connected_components,
    )

    original = DataFrame.localCheckpoint
    bystander = []

    def checkpoint_with_bystander(self, *args, **kwargs):
        if not bystander:
            bystander.append(original(spark.range(100), eager=True))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", checkpoint_with_bystander)
    df = spark.createDataFrame([(i, i + 1) for i in range(20)], "doc1 long, doc2 long")
    assert {r.component for r in connected_components(df).collect()} == {0}
    assert len(bystander[0].collect()) == 100


@given(
    token_counts=st.lists(st.integers(0, 40), min_size=1, max_size=30),
    seq_len=st.integers(4, 64),
)
@settings(**_SETTINGS)
def test_pack_sequences_invariants(spark, token_counts, seq_len, monkeypatch):
    """For ANY corpus: token mass is conserved, per-shard offsets are a
    gapless cumulative sum in doc_id order, sequence ids are consistent with
    offsets, and straddle flags match the boundary arithmetic."""
    from trafficanalysisbigdata_spark.operators import packing
    from trafficanalysisbigdata_spark.operators.packing import pack_sequences

    monkeypatch.setattr(packing, "PACK_SEQ_LEN", seq_len)
    monkeypatch.setattr(packing, "PACK_SHARDS", 4)
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * k) if k else "") for i, k in enumerate(token_counts)],
        "doc_id long, text string",
    )
    rows = pack_sequences(docs).collect()
    # whitespace split of "" yields [''] → 1 token; mirror that here
    expect_tokens = sum(max(k, 1) for k in token_counts)
    assert sum(r.n_tokens for r in rows) == expect_tokens

    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.doc_id)
        off = 0
        for r in shard_rows:
            assert r.start_off == off
            assert r.seq_id == r.start_off // seq_len
            assert r.end_seq == (r.start_off + r.n_tokens - 1) // seq_len
            assert r.straddles == int(r.end_seq > r.seq_id)
            off += r.n_tokens


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-100, 100, allow_nan=False, allow_infinity=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_int8_quantization_invariants(spark, vecs):
    """For ANY float vectors (including all-zero): |q_i| <= 127, the max-|x|
    component quantizes to exactly ±127 (unless the vector is all-zero,
    which must quantize to all zeros), and sign is preserved wherever
    |x_i| is large enough to survive rounding."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.similarity import int8_quantized

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = df.select("vec_id", F.col("embedding"), int8_quantized()).collect()
    for r in rows:
        emb, q = r.embedding, r.qv
        assert len(q) == len(emb)
        assert all(abs(x) <= 127 for x in q)
        if max(abs(x) for x in emb) == 0.0:
            assert all(x == 0 for x in q)
        else:
            assert max(abs(x) for x in q) == 127
            for x, qx in zip(emb, q):
                if qx != 0:
                    assert (x > 0) == (qx > 0)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12).map(
            lambda ts: " ".join(ts)
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_duplicate_span_stats_invariants(spark, texts, monkeypatch):
    """For ANY corpus: 0 <= n_dup <= n_shingles, dup_frac in [0,1], docs
    under n tokens are absent, and two docs with identical >=n-token text
    must both report dup_frac == 1.0 (every span is cross-doc)."""
    from trafficanalysisbigdata_spark.operators import dedup
    from trafficanalysisbigdata_spark.operators.dedup import duplicate_span_stats

    n = 3
    monkeypatch.setattr(dedup, "SPAN_NGRAM", n)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in duplicate_span_stats(docs).collect()}
    tok = {i: t.split(" ") if t else [] for i, t in enumerate(texts)}
    for i, toks in tok.items():
        n_tok = len([t for t in toks if t])
        if n_tok < n:
            assert i not in rows
            continue
        r = rows[i]
        assert r.n_shingles == n_tok - n + 1
        assert 0 <= r.n_dup <= r.n_shingles
        assert 0.0 <= r.dup_frac <= 1.0
    dup_texts = {}
    for i, t in enumerate(texts):
        if len(tok[i]) >= n and all(tok[i]):
            dup_texts.setdefault(t, []).append(i)
    for t, ids in dup_texts.items():
        if len(ids) >= 2:
            for i in ids:
                assert rows[i].dup_frac == 1.0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user_id
            st.integers(min_value=0, max_value=200),  # cents
        ),
        min_size=1,
        max_size=40,
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
def test_upsert_algebra_batch_split_invariant(spark, rows, n_batches):
    """st11's merge algebra must be associative over ANY batch split: event
    rows dealt into k batches, folded through the counter+latest upsert,
    always equal the one-shot batch aggregate. event_id is the global
    sequence, so 'latest' is well-defined regardless of which batch a row
    lands in."""
    from pyspark.sql import functions as F

    data = [
        (i, uid, cents / 100.0) for i, (uid, cents) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id long, value double")

    def agg(d):
        return d.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            F.max("event_id").alias("last_event_id"),
            F.max_by("value", "event_id").alias("last_value"),
        )

    state = None
    for b in range(n_batches):
        batch = agg(df.filter(F.col("event_id") % n_batches == b))
        if state is None:
            state = batch
        else:
            j = state.alias("s").join(batch.alias("b"), "user_id", "full_outer")
            state = j.select(
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

    got = sorted(map(tuple, state.collect()))
    want = sorted(map(tuple, agg(df).collect()))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 50)),  # (key, value)
        min_size=1,
        max_size=30,
    ),
    n_buckets=st.integers(1, 5),
    descending=st.booleans(),
)
@settings(**_SETTINGS)
def test_two_phase_prefix_sum_equals_python_cumsum(
    spark, rows, n_buckets, descending
):
    """two_phase_prefix_sums over one ungrouped column == a plain Python
    running total over the same (key, id) ordering, in either direction,
    for any key distribution (heavy ties included, so tie groups straddle
    percentile cut candidates) and any bucket count."""
    from trafficanalysisbigdata_spark.operators.prefixsum import (
        two_phase_prefix_sums,
    )

    df = spark.createDataFrame(
        [(i, float(k), v) for i, (k, v) in enumerate(rows)],
        "id long, key double, v long",
    )
    ordered = sorted(
        enumerate(rows), key=lambda e: (-e[1][0] if descending else e[1][0], e[0])
    )
    expect, running = {}, 0
    for i, (_, v) in ordered:
        running += v
        expect[i] = running
    got = two_phase_prefix_sums(
        df.repartition(3),
        key="key",
        values={"cum": "v"},
        descending=descending,
        tiebreak=("id",),
        n_buckets=n_buckets,
        totals={"tot": "v"},
    ).collect()
    assert {r["id"]: r["cum"] for r in got} == expect
    assert all(r["tot"] == running for r in got)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=10).map(
            lambda ts: " ".join(ts)
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_dup_span_scrub_equals_reference(spark, texts, monkeypatch):
    """dd10 against an independent Python implementation for ANY corpus
    (3-symbol alphabet forces heavy shingle collisions the fixtures never
    produce): token counts, survivor counts, and the md5 of every rebuilt
    document must match exactly — including overlapping duplicated spans,
    full scrubs, under-n docs, and intra-doc-only repeats surviving."""
    import hashlib

    from trafficanalysisbigdata_spark.operators import dedup
    from trafficanalysisbigdata_spark.operators.dedup import dup_span_scrub

    n = 3
    monkeypatch.setattr(dedup, "SPAN_NGRAM", n)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_md5)
        for r in dup_span_scrub(docs).collect()
    }
    grams: dict[str, set] = {}
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    for i, ts in toks.items():
        for s in range(len(ts) - n + 1):
            grams.setdefault(" ".join(ts[s : s + n]), set()).add(i)
    for i, ts in toks.items():
        cov: set = set()
        for s in range(len(ts) - n + 1):
            if len(grams[" ".join(ts[s : s + n])]) >= 2:
                cov.update(range(s, s + n))
        kept = [t for p, t in enumerate(ts) if p not in cov]
        exp = (
            len(ts),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
        assert got[i] == exp, (i, texts)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=6).map(
            lambda ts: " ".join(ts)
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_heaps_fit_equals_numpy_ols(spark, texts):
    """tx17's closed-form slope against numpy lstsq on ANY corpus: the
    engine's decimal-summed OLS over (ln cumulative tokens, ln cumulative
    distinct) must match an independent numpy fit to 1e-6, and the totals
    must equal the true stream counts."""
    import numpy as np

    from trafficanalysisbigdata_spark.plans.registry import load_all

    docs = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    docs.createOrReplaceTempView("documents")
    try:
        rows = load_all()["tx17_heaps_vocab_growth"].fn(spark, "").collect()
    finally:
        spark.catalog.dropTempView("documents")
    assert len(rows) == 1
    r = rows[0]
    seen: set = set()
    pts, n_tok = [], 0
    for t in texts:
        toks = t.split(" ")
        n_tok += len(toks)
        seen.update(toks)
        pts.append((np.log(n_tok), np.log(len(seen))))
    assert r.n_tokens == n_tok and r.n_vocab == len(seen)
    x = np.array([round(p[0], 8) for p in pts])
    y = np.array([round(p[1], 8) for p in pts])
    denom = len(x) * (x * x).sum() - x.sum() ** 2
    if abs(denom) < 1e-12:
        return  # degenerate (all-identical N): slope undefined, nothing to pin
    beta = (len(x) * (x * y).sum() - x.sum() * y.sum()) / denom
    assert abs(r.heaps_beta - round(beta, 6)) <= 1e-6, (texts, r.heaps_beta, beta)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # id
            st.integers(min_value=1, max_value=500),  # weight
            st.sampled_from(["a", "b", "c"]),  # stratum
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_aes_weighted_topk_equals_reference(spark, rows, k):
    """A-ES weighted exact-k vs a from-scratch Python reference: same md5
    uniform, same 8-rounded ln, same division and tie-break — key values,
    per-stratum membership, and ranks must agree exactly for arbitrary
    id/weight/stratum combinations (pipe17's operator)."""
    import hashlib
    import math

    from trafficanalysisbigdata_spark.operators.sampling import (
        aes_weighted_topk,
    )

    df = spark.createDataFrame(rows, "id long, w long, s string")
    got = [
        (r.s, r.pick_rank, r.id, round(r.k0, 8))
        for r in aes_weighted_topk(df, k, "w", "s", "id")
        .orderBy("s", "pick_rank")
        .collect()
    ]

    expect = []
    for stratum in sorted({s for _, _, s in rows}):
        keyed = []
        for i, w, s in rows:
            if s != stratum:
                continue
            u = (int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 1) / 16**8
            keyed.append((round(-math.log(u), 8) / w, i))
        keyed.sort()
        for rank, (k0, i) in enumerate(keyed[:k], start=1):
            expect.append((stratum, rank, i, round(k0, 8)))
    assert got == expect


def test_aes_weighting_is_not_uniform(spark):
    """Non-vacuity: a heavy-weight row must displace the uniform (md5-order)
    pick — the weighting actually reorders the sample."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.sampling import (
        aes_weighted_topk,
    )

    rows = [(i, 1 if i != 7 else 1_000_000, "x") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, w long, s string")
    weighted = {
        r.id for r in aes_weighted_topk(df, 3, "w", "s", "id").collect()
    }
    assert 7 in weighted  # key <= 22/1e6 beats any unit-weight draw w.h.p.
    uniform = {
        r.id
        for r in df.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(3)
        .collect()
    }
    assert weighted != uniform
