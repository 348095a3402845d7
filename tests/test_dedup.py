"""Dedup operator crossover pins (dd4's two candidate strategies).

The dd4 oracle (tests/test_oracle_parity.py, driver) exercises the
small-corpus shared-shingle plan; these tests pin the BIG-corpus MinHash
candidate strategy set-identical to it on the fixtures, so the 100k-doc
auto-switch cannot change results at the boundary, and pin the gate wiring
itself. The count gate alone picks the arm, so a test forces one by patching
the crossover constant the gate reads (``ngram_arm``), never through a
parameter.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_tree import joins, nodes, plan_of
from trafficanalysisbigdata_spark.io import register_views
from trafficanalysisbigdata_spark.operators import dedup
from trafficanalysisbigdata_spark.operators.dedup import (
    NGRAM_JACCARD_CROSSOVER_DOCS,
    ngram_jaccard_scores,
)
from trafficanalysisbigdata_spark.session import prep


@pytest.fixture
def ngram_arm(monkeypatch):
    """``ngram_arm("big")`` / ``ngram_arm("small")`` moves the crossover
    below / above any fixture corpus for the rest of the test."""

    def force(arm: str) -> None:
        monkeypatch.setattr(
            dedup, "NGRAM_JACCARD_CROSSOVER_DOCS", {"big": -1, "small": 10**12}[arm]
        )

    return force


@pytest.fixture
def docs(spark, sf_dir):
    prep(spark)
    register_views(spark, sf_dir, "documents")
    return spark.table("documents").select("doc_id", "n_chars", "text")


def _pairs(docs):
    return {
        (r.doc1, r.doc2, round(r.jaccard, 6))
        for r in ngram_jaccard_scores(docs)
        .filter(F.col("jaccard") >= 0.25)
        .collect()
    }


def test_ngram_jaccard_paths_identical_on_fixture(docs, ngram_arm):
    """Both candidate strategies — exhaustive shared-shingle and banded
    MinHash over the same shingle sets — must produce the SAME verified
    pair set on the fixture corpus. MinHash banding is md5-deterministic,
    so this is a stable pin, not a flaky sample: L=16 single-row bands give
    a qualifying pair at the 0.25 bar a 0.99 banding probability, and on
    this corpus every qualifying pair lands (measured before pinning)."""
    ngram_arm("small")
    small = _pairs(docs)
    ngram_arm("big")
    big = _pairs(docs)
    assert small  # fixture must produce pairs or the pin is vacuous
    assert big == small


def test_ngram_jaccard_autogate_is_one_stats_action(docs, ngram_arm, monkeypatch):
    """On a SMALL corpus the gate must spend exactly ONE cheap count() —
    the verify-broadcast sizing agg (which tokenizes the corpus) belongs to
    the big path only (measured +60% on the sf0.1 roster number when it
    rode the gate); the big path adds exactly that one sizing collect.
    NOTE: patch the CONCRETE class (type(docs), pyspark.sql.classic in
    Spark 4) — the abstract-class patch never intercepts."""
    assert NGRAM_JACCARD_CROSSOVER_DOCS == 100_000
    cls = type(docs)

    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = cls.collect, cls.count

    def counting_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counting_count(self):
        calls["count"] += 1
        return orig_count(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    monkeypatch.setattr(cls, "count", counting_count)
    ngram_jaccard_scores(docs)  # small corpus: one count, no sizing agg
    assert calls == {"collect": 0, "count": 1}
    ngram_arm("big")
    ngram_jaccard_scores(docs)
    assert calls == {"collect": 1, "count": 2}


def test_ngram_jaccard_big_path_has_no_token_self_join(docs, ngram_arm):
    """Plan guard for the crossover's scale claim: the big-corpus path's
    candidate join must key on the MinHash (band, bucket) — corpus-linear
    per band under the bucket cap — and must NOT contain the shared-token
    postings self-join (the Σ min(df,cap)² shape measured 14.1× for 10× at
    500k). The small path keeps exactly that token-keyed join."""
    ngram_arm("big")
    big = plan_of(ngram_jaccard_scores(docs))
    assert not joins(big, keyed_on="token"), big
    assert [j for j in joins(big) if {"band", "bucket"} <= set(j.keys)], big
    ngram_arm("small")
    small = plan_of(ngram_jaccard_scores(docs))
    assert joins(small, keyed_on="token"), small


def test_jaccard_verify_arrays_materialize_once(docs, ngram_arm):
    """The verify-broadcast byte budget sizes ONE copy of the hashed shingle
    arrays, and one copy is what ships: the two attach joins' broadcast
    subtrees canonicalize identically (the toks1/toks2 renames are
    alias-only), so AQE materializes the frame once and the second join gets
    a ReusedExchange (without this pin the budget would silently
    under-account by 2× and the jaccard_scores docstring's memory contract
    would be wrong). The fixture's arrays fit the budget, so the big arm
    broadcasts them."""
    ngram_arm("big")
    res = ngram_jaccard_scores(docs)
    res.collect()
    plan = plan_of(res, final=True)
    assert [n for n in nodes(plan, "ReusedExchange") if "toks2" in n.text], plan


def test_dup_span_scrub_planted_edges(spark):
    """dd10's removal rule against a pure-Python reference on planted
    edges: a 5-gram shared by exactly two docs (only those 5 positions
    scrubbed in each), a full exact-copy pair (scrubs to md5('')), an
    under-5-token doc (no shingles, untouched), a unique doc (untouched),
    and an INTRA-doc repeated shingle (not duplicated across docs — must
    survive: the bar is >= 2 DISTINCT documents)."""
    import hashlib

    from trafficanalysisbigdata_spark.operators.dedup import dup_span_scrub

    shared = "alpha beta gamma delta epsilon"  # the planted 5-gram
    texts = {
        0: f"u00 u01 u02 {shared} u03 u04 u05",
        1: f"v00 v01 {shared} v02 v03 v04 v05",
        2: "copy one two three four five copy2",
        3: "copy one two three four five copy2",
        4: "tiny doc here",
        5: "w00 w01 w02 w03 w04 w05 w06 w07",
        6: "r00 r01 r02 r03 r04 r00 r01 r02 r03 r04",
    }

    def reference(all_texts):
        grams: dict[str, set] = {}
        for i, t in all_texts.items():
            toks = t.split(" ")
            for s in range(len(toks) - 4):
                grams.setdefault(" ".join(toks[s : s + 5]), set()).add(i)
        out = {}
        for i, t in all_texts.items():
            toks = t.split(" ")
            cov: set = set()
            for s in range(len(toks) - 4):
                if len(grams[" ".join(toks[s : s + 5])]) >= 2:
                    cov.update(range(s, s + 5))
            kept = [tok for p, tok in enumerate(toks) if p not in cov]
            out[i] = (
                len(toks),
                len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_md5)
        for r in dup_span_scrub(docs).collect()
    }
    exp = reference(texts)
    assert got == exp
    # the planted semantics themselves (so the reference isn't vacuous):
    assert exp[2][1] == 0 and exp[3][1] == 0          # exact copies scrub fully
    assert exp[4][1] == 3 and exp[5][1] == 8          # untouched docs
    assert exp[6][1] == 10                            # intra-doc repeat survives
    assert exp[0][1] == exp[0][0] - 5                 # exactly the shared 5-gram


def test_cdc_chunks_resync_property(spark, monkeypatch):
    """The defining CDC property: prepend one token to a document and every
    chunk after the first boundary keeps its content address verbatim (a
    fixed-size chunker would shift and desync them all). Also pins the
    boundary rule against an independent Python md5 reference."""
    import hashlib
    import random

    from trafficanalysisbigdata_spark.operators import dedup
    from trafficanalysisbigdata_spark.operators.dedup import cdc_chunks

    monkeypatch.setattr(dedup, "CDC_MODULUS", 16)
    rng = random.Random(7)
    words = [f"w{rng.randrange(200)}" for _ in range(120)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(["zzz"] + words))],
        "doc_id long, text string",
    )
    out = {}
    for r in cdc_chunks(docs).collect():
        out.setdefault(r.doc_id, []).append((r.chunk, r.n_tokens, r.fp))
    for v in out.values():
        v.sort()

    # independent reference for doc 0
    def boundary(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 16 == 0

    chunks, cur = [], []
    for t in words:
        cur.append(t)
        if boundary(t):
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    assert len(chunks) >= 3, "fixture must produce several boundaries"
    expect0 = sorted(
        (i, len(c), hashlib.md5(" ".join(c).encode()).hexdigest())
        for i, c in enumerate(chunks)
    )
    assert out[0] == expect0

    # resync: every chunk of doc 0 except its first survives in doc 1
    fps1 = {fp for _, _, fp in out[1]}
    tail0 = {fp for ch, _, fp in out[0] if ch >= 1}
    assert tail0 <= fps1
    # and the edit is contained: doc 1 has at most 2 chunks doc 0 lacks
    assert len(fps1 - {fp for _, _, fp in out[0]}) <= 2


def test_cdc_stats_match_independent_reference(spark, monkeypatch):
    """cdc_chunk_dedup_stats vs a from-scratch Python pipeline on a corpus
    with planted chunk-level duplication (shared suffixes across docs)."""
    import hashlib
    import random
    from collections import Counter

    from trafficanalysisbigdata_spark.operators import dedup
    from trafficanalysisbigdata_spark.operators.dedup import (
        cdc_chunk_dedup_stats,
    )

    monkeypatch.setattr(dedup, "CDC_MODULUS", 16)
    rng = random.Random(99)
    shared = [f"s{rng.randrange(50)}" for _ in range(60)]
    rows = []
    for d in range(8):
        own = [f"d{d}_{i}" for i in range(rng.randrange(5, 30))]
        rows.append((d, " ".join(own + shared)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def boundary(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 16 == 0

    fps = []
    for _, text in rows:
        cur = []
        for t in text.split(" "):
            cur.append(t)
            if boundary(t):
                fps.append((len(cur), hashlib.md5(" ".join(cur).encode()).hexdigest()))
                cur = []
        if cur:
            fps.append((len(cur), hashlib.md5(" ".join(cur).encode()).hexdigest()))
    cnt = Counter(fp for _, fp in fps)
    length = dict((fp, ln) for ln, fp in fps)
    hist = {}
    for fp, c in cnt.items():
        ln = length[fp]
        n_chunks, n_distinct, n_dup = hist.get(ln, (0, 0, 0))
        hist[ln] = (n_chunks + c, n_distinct + 1, n_dup + c - 1)
    expect = sorted(
        (ln, a, b, d, ln * d) for ln, (a, b, d) in hist.items()
    )
    got = [
        (r.chunk_len, r.n_chunks, r.n_distinct, r.n_dup_instances, r.saved_tokens)
        for r in cdc_chunk_dedup_stats(docs).collect()
    ]
    assert got == expect
    assert any(d > 0 for _, _, _, d, _ in expect), "planted dup must register"


def test_cdc_guarded_matches_reference_and_respects_guards(spark, monkeypatch):
    """cdc_chunks_guarded vs a from-scratch Python implementation of the
    min/max rule on a corpus engineered to hit every branch: honored
    in-window boundaries, boundaries SKIPPED for falling before min_len,
    forced cuts at max_len (long boundary-free stretches), and short
    final tails. Also pins the guard invariants directly."""
    import hashlib
    import random

    from trafficanalysisbigdata_spark.operators import dedup
    from trafficanalysisbigdata_spark.operators.dedup import cdc_chunks_guarded

    MOD, MN, MX = 16, 8, 32
    monkeypatch.setattr(dedup, "CDC_MODULUS", MOD)
    monkeypatch.setattr(dedup, "CDC_MIN_LEN", MN)
    monkeypatch.setattr(dedup, "CDC_MAX_LEN", MX)

    def boundary(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % MOD == 0

    rng = random.Random(31)
    # find a token that IS a boundary to plant early-boundary cases
    b_tok = next(f"w{i}" for i in range(10_000) if boundary(f"w{i}"))
    nb = [f"n{i}" for i in range(10_000) if not boundary(f"n{i}")][:80]
    rows = [
        (0, " ".join([b_tok] * 3 + nb[:50])),  # skipped boundaries + forced cuts
        (1, " ".join(nb[:70])),  # boundary-free: all forced cuts + tail
        (2, " ".join(rng.choices(nb[:30] + [b_tok], k=90))),  # mixed
        (3, " ".join(nb[:5])),  # shorter than min_len: one tail chunk
        (4, b_tok),  # single-token doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(
        (r.doc_id, r.chunk, r.n_tokens, r.fp)
        for r in cdc_chunks_guarded(docs).collect()
    )

    expect = []
    for d, text in rows:
        toks = text.split(" ")
        n, c, k = len(toks), 0, 0
        while c < n:
            nxt = None
            for p in range(c + MN, min(c + MX, n) + 1):
                if boundary(toks[p - 1]):
                    nxt = p
                    break
            if nxt is None:
                nxt = min(c + MX, n)
            expect.append(
                (d, k, nxt - c,
                 hashlib.md5(" ".join(toks[c:nxt]).encode()).hexdigest())
            )
            k += 1
            c = nxt
    assert got == sorted(expect)

    # guard invariants: no chunk exceeds max; every non-tail chunk >= min
    last = {d: max(k for dd, k, _, _ in expect if dd == d) for d, _ in rows}
    for d, k, ln, _ in expect:
        assert ln <= MX
        if k < last[d]:
            assert ln >= MN
    # the fixture exercised a forced cut and a short tail
    assert any(ln == MX for _, _, ln, _ in expect)
    assert any(ln < MN for d, k, ln, _ in expect if k == last[d])


def test_cdc_guarded_workers_read_patched_guards(spark, monkeypatch):
    """The guard lengths reach the Python workers as the driver read them at
    call time: a boundary-free 10-token document under a patched max of 3
    is cut every 3 tokens (under the shipped 8/32 it is one chunk)."""
    import hashlib

    from trafficanalysisbigdata_spark.operators import dedup

    def boundary(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dedup.CDC_MODULUS == 0

    toks = [f"n{i}" for i in range(1000) if not boundary(f"n{i}")][:10]
    docs = spark.createDataFrame([(0, " ".join(toks))], "doc_id long, text string")
    monkeypatch.setattr(dedup, "CDC_MIN_LEN", 2)
    monkeypatch.setattr(dedup, "CDC_MAX_LEN", 3)
    got = sorted((r.chunk, r.n_tokens) for r in dedup.cdc_chunks_guarded(docs).collect())
    assert got == [(0, 3), (1, 3), (2, 3), (3, 1)]
