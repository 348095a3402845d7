"""Deduplication operators for the training-data pipeline surface.

Five strategies, ordered by cost/recall tradeoff:

* exact        — hash-groupBy on the full text (or its md5): one shuffle.
* minhash_lsh  — MinHash signatures over token sets, banded; only documents
                 sharing a band bucket are pair-compared. The scale path: at
                 100 TB the candidate join replaces the O(n²) all-pairs.
* simhash      — 16-bit sign-aggregated fingerprint; near-dups collide on the
                 fingerprint → dedup is a plain groupBy, no pair join at all.
* ngram_jaccard— bigram-shingle Jaccard with a shared-shingle candidate join.
* embedding    — cosine threshold over embedding vectors (see similarity.py).

Hashing is md5-based (not xxhash64) so every stage is reproducible in any
engine — the DuckDB oracles run the identical algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_bigrams, tokens


def exact_dedup_summary(docs: DataFrame) -> DataFrame:
    """Exact dedup via groupBy(text): per-group keeper = min(doc_id)."""
    groups = docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        (F.sum("n_copies") - F.count(F.lit(1))).cast("bigint").alias("n_dupes"),
        F.sum("keeper").cast("bigint").alias("keeper_id_sum"),
    )


def doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, token) distinct pairs — the set representation used by both
    MinHash and Jaccard verification."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )


def _set_array(elems: Column) -> Column:
    """Distinct element array as xxhash64 ints: integer-array intersection is
    ~2× faster than string-array intersection over millions of candidate
    pairs, and a 64-bit collision inside one pair's ~100-element union
    (P ≈ 1e-16) is the only way results could differ from the string-set
    oracle."""
    return F.transform(F.array_distinct(elems), lambda t: F.xxhash64(t))


def doc_token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) with toks = distinct hashed tokens as an array — the
    row-local set form consumed by ``jaccard_scores``."""
    return docs.select("doc_id", _set_array(tokens(F.col("text"))).alias("toks"))


def doc_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) with toks = distinct hashed token bigrams as an array."""
    return docs.select("doc_id", _set_array(token_bigrams(F.col("text"))).alias("toks"))


def minhash_signatures(tok: DataFrame, num_perm: int = 8) -> DataFrame:
    """MinHash: permutation i ≈ lexicographic min of md5(i | token). One
    grouped pass computes all permutations (no per-perm scan)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("token")))).alias(f"mh_{i}")
        for i in range(num_perm)
    ]
    return tok.groupBy("doc_id").agg(*aggs)


def capped_groups(df: DataFrame, keys: list[str], max_n: int) -> DataFrame:
    """Drop rows whose ``keys`` group exceeds ``max_n`` members — the shared
    absolute-cap idiom behind every LSH/blocking skew guard in this engine
    (MinHash band buckets here, embedding-LSH table buckets in
    ``similarity.table_bucket_capped``). One partial+final count per group
    plus an equi-join on the group keys; the count side is skinny (keys +
    one long) and broadcastable when group cardinality is bounded."""
    sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__group_n"))
    keep = sizes.filter(F.col("__group_n") <= max_n).select(*keys)
    return df.join(keep, keys)


def bucket_capped(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket`` — the hot-bucket
    skew guard for LSH, the band-bucket analogue of ``df_capped``.

    An oversized band bucket means the band's minhash values failed to
    discriminate (boilerplate-heavy corpora collide most of the corpus into a
    few buckets); pair-joining such a bucket is O(bucket²) work on a single
    shuffle key with near-zero precision. Dropping it bounds per-bucket join
    work at ``max_bucket²/2`` pairs REGARDLESS of corpus size — an absolute
    cap, unlike a fraction-of-corpus cap, keeps the worst bucket constant-cost
    as the corpus grows 100×. True near-dup pairs keep colliding in their
    discriminative buckets in other bands (OR-amplification), so recall decays
    gracefully; the cap is the documented recall/cost dial.
    """
    return capped_groups(bands, ["band", "bucket"], max_bucket)


def lsh_candidate_pairs(
    sig: DataFrame,
    num_perm: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature and join docs sharing any band bucket. Output is
    distinct (doc1 < doc2) candidate pairs.

    ``max_bucket`` (optional) applies ``bucket_capped`` before the self-join —
    at web scale this is NOT optional: one boilerplate bucket holding 1% of a
    100 TB corpus makes the self-join quadratic in that bucket.

    The cross-band dedup is a ``distinct`` over the SKINNY (doc1, doc2)
    projection — column pruning means only two ids per collision row ever
    shuffle, and the distinct's stage boundary keeps the downstream
    verification joins in their own codegen stage. (A row-local
    first-colliding-band filter was benchmarked instead and lost: its array
    lambdas are CodegenFallback and drag the fused downstream stage into
    interpreted eval.)
    """
    n_bands = num_perm // rows_per_band
    bucket_exprs = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        )
        for b in range(n_bands)
    ]
    bands = sig.select("doc_id", F.array(*bucket_exprs).alias("bkts")).select(
        "doc_id", F.posexplode("bkts").alias("band", "bucket")
    )
    if max_bucket is not None:
        bands = bucket_capped(bands, max_bucket)
    a = bands.select(F.col("doc_id").alias("doc1"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc2"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def jaccard_scores(
    pairs: DataFrame, sets: DataFrame, broadcast_sets: bool = False
) -> DataFrame:
    """Exact set Jaccard for every candidate pair.

    ``sets`` is the set-as-array form ``(doc_id, toks: array<string>)`` — the
    pair verification is two id equi-joins plus a per-row ``array_intersect``,
    NOT a pairs×tokens explode join. With hot LSH buckets (boilerplate-heavy
    corpora) candidate volume is O(bucket²); keeping verification per-pair
    row-local avoids materializing |pairs| × |tokens| shuffle rows — the
    difference between ~10M and ~300M intermediate rows on the fixtures, and
    between feasible and not at 100 TB.

    ``broadcast_sets`` hints BOTH attach joins to broadcast the array side —
    the sim4 scoring discipline: past ~10⁸ candidates the unhinted plan
    sort-merges pair rows already widened by one token array (measured on
    dd4's 1M receipt: the 500k→1M wall step was exactly this sort's spill),
    while one broadcast of the skinny hashed arrays makes both joins
    map-side with zero widened shuffles. Callers flip it from a MEASURED
    byte estimate (see ngram_jaccard_scores), never blindly.

    Memory accounting: although the two hints are two logical broadcasts,
    the rename Projects below them canonicalize identically, so AQE's
    runtime exchange reuse materializes the array frame ONCE and the
    second join gets a ReusedExchange (pinned in
    tests/test_dedup.py::test_jaccard_verify_arrays_materialize_once).
    A caller's byte budget therefore sizes ONE copy per executor, which is
    what actually ships. AQE (on by default since Spark 3.2, and in every
    session this engine builds) is required for that accounting; with AQE
    disabled the static plan holds two copies.
    """
    s1 = sets.select(F.col("doc_id").alias("doc1"), F.col("toks").alias("toks1"))
    s2 = sets.select(F.col("doc_id").alias("doc2"), F.col("toks").alias("toks2"))
    if broadcast_sets:
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
    return (
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("n_common", F.size(F.array_intersect("toks1", "toks2")))
        .select(
            "doc1",
            "doc2",
            (
                F.col("n_common").cast("double")
                / (F.size("toks1") + F.size("toks2") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def df_capped(postings: DataFrame, docs_total: DataFrame) -> DataFrame:
    """Drop postings whose token's document frequency exceeds
    ``min(NGRAM_MAX_DF_FRAC * n_docs, NGRAM_MAX_DF_ABS)`` — the hot-shingle
    skew guard: one boilerplate shingle shared by 1% of a 100 TB corpus
    makes the candidate self-join quadratic in its posting-list length.

    BOTH bounds matter. The fractional cap alone is NOT scale-safe: it allows
    posting lists of ``f·n``, so worst-case per-shingle pair volume is
    ``(f·n)² — still quadratic in the corpus``. Measured: the 10× scale
    rehearsal (scripts/scale_rehearsal.py) ran dd4 45× slower at 10× data
    under the fraction-only cap. The absolute cap bounds per-shingle work at
    ``NGRAM_MAX_DF_ABS²/2`` pairs at any corpus size; the fractional cap keeps
    small corpora from pairing on their commonest shingles. ``docs_total`` is
    a one-row (n_docs) aggregate, joined in as a broadcast literal — no
    driver action.
    """
    tok_df = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    keep = (
        tok_df.crossJoin(F.broadcast(docs_total))
        .filter(
            F.col("df")
            <= F.least(
                F.lit(NGRAM_MAX_DF_FRAC) * F.col("n_docs"), F.lit(float(NGRAM_MAX_DF_ABS))
            )
        )
        .select("token")
    )
    return postings.join(keep, "token")


def minhash_lsh_scores(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """The full MinHash-LSH near-dup pipeline as ONE reusable operator:
    token sets → 8-permutation signatures → (capped) 2-row bands → exact
    Jaccard.
    Returns (doc1, doc2, jaccard) for every candidate pair. The dd2 query,
    the dd6 component edges, and the scale rehearsal all consume THIS
    function, so a pipeline change propagates everywhere the numbers are
    cited.

    r15 continuation pass, two MEASURED REJECTIONS at this site (the dd2
    query body carries the kept fan-out instead — see there):

    * fan-out INSIDE this operator (so every consumer pays it): dd2 wins
      (1.60 → 1.21 interleaved min-of-4) but dd6 3.66 → 4.62 and pipe12
      4.21 → 5.76 — the CC consumers re-derive the edge pipeline into a
      checkpoint once and then loop; their wall is candidate/round-bound,
      and the extra exchange below the banding is pure tax. Operator-level
      placement rejected; the fan-out lives at the ONE call site that
      measured a win (the r14 whitelist discipline: opt-in per operator,
      never blanket).
    * computing signatures row-locally as
      ``array_min(transform(arr, t -> md5(i|t)))`` — no explode, no
      aggregate — is 3.6× SLOWER through the dd2 shape (interleaved
      min-of-5: 1.40 grouped vs 5.07 row-local): array lambdas are
      CodegenFallback, so all 8 md5 passes run interpreted, exactly the
      penalty the lsh_candidate_pairs docstring records for its rejected
      row-local band filter. The explode+partial-agg form keeps every md5
      inside whole-stage codegen and its exchange carries only per-doc
      partials."""
    sig = minhash_signatures(doc_token_sets(docs), num_perm=8)
    pairs = lsh_candidate_pairs(sig, num_perm=8, rows_per_band=2, max_bucket=max_bucket)
    return jaccard_scores(pairs, doc_token_arrays(docs))


NGRAM_JACCARD_CROSSOVER_DOCS = 100_000
# the big arm's verify-broadcast budget for the hashed shingle arrays
# (8·Σ|S_d| + 48·n bytes; see ngram_jaccard_scores)
NGRAM_VERIFY_BUDGET_MB = 1024
# the document-frequency cap min(frac·n_docs, abs) df_capped applies (the
# small arm below, pipe14)
NGRAM_MAX_DF_FRAC = 0.05
NGRAM_MAX_DF_ABS = 256


def ngram_jaccard_scores(docs: DataFrame) -> DataFrame:
    """The full n-gram-Jaccard near-dup pipeline as ONE reusable operator.
    Returns (doc1, doc2, jaccard). Shared by the dd4 query and the scale
    rehearsal (the source of the 45×-at-10× fraction-only-cap measurement).

    Two candidate strategies share the SAME verification (exact Jaccard over
    the full bigram-shingle sets), switched at
    ``NGRAM_JACCARD_CROSSOVER_DOCS`` by the count gate alone (no caller
    picks the arm): the gate is one cheap count(); only the big path then
    pays a second sizing agg for the verify broadcast (small corpora must
    not tokenize twice — the tx9/dd5 adaptivity discipline, applied to the
    round-11 finding that the
    shared-shingle join is honestly superlinear: 500k receipt 14.1× wall
    for 10× docs — Σ min(df, cap)² widens with the zipf mid-band even under
    the df cap):

    * small (≤ ~10⁵ docs): bigram postings → DF cap (``NGRAM_MAX_DF_FRAC``
      · n, ``NGRAM_MAX_DF_ABS``) →
      shared-shingle self-join blocked by |Δn_chars| ≤ 20 — exhaustive
      candidates at small scale, where the Σdf² term is still cheap.
    * big: MinHash banding OVER THE SAME BIGRAM SHINGLE SETS (16
      single-row bands, per-bucket cap 256) → the same |Δn_chars| block.
      Candidate volume is corpus-linear per band under the bucket cap; a
      qualifying pair at Jaccard j is banded with prob 1−(1−j)^L — 0.99 at
      the 0.25 bar with L=16 — and the selection is md5-deterministic, so
      path equality on a given corpus is a stable pin, not a flaky sample
      (tests pin both fixture corpora identical across paths).

    The df cap only exists on the small path (it bounds the self-join);
    verification always scores FULL shingle sets. Relative to the small
    path, the big path's candidate set can therefore differ in BOTH
    directions: it can ADD pairs whose shared shingles the df cap dropped
    (pure-boilerplate overlap — none exist on the pinned fixtures), and,
    because banding is probabilistic, it can MISS pairs the exhaustive
    join finds — a pair at Jaccard j survives banding with prob
    1−(1−j)^L, i.e. ~1% of pairs sitting exactly AT the 0.25 bar are
    missed at the default L=16 (the miss rate decays fast above the bar:
    0.01% at j=0.44). Past the auto-gate dd4 is an approximation with
    that known recall profile, calibrated by dd9; the fixture pins cover
    path equality on corpora where no pair lands close enough to the bar
    to be lost.

    Big-path VERIFICATION broadcast (the sim4 scoring discipline): at the
    1M receipt the candidate volume is ~2.8×10⁸ (linear — 144M at 500k)
    but the unhinted verify join sort-merges pair rows widened by a shingle
    array, and that sort's spill was the measured 500k→1M wall step
    (95 → 406 s, ~4× for 2×). On the big path, one sizing agg measures
    the exact hashed-array bytes (8·Σ|S_d| + 48·n) and verification
    broadcasts the array side when it fits ``NGRAM_VERIFY_BUDGET_MB`` —
    both attach joins go map-side, zero widened shuffles (ONE materialized
    copy: the second join's broadcast is an AQE ReusedExchange, pinned in
    tests; the 1M A/B measured the unhinted verify at 1.51× the broadcast
    plan, 406 s against 269 s).

    Past the budget the unhinted sort-merge verify stands. That is the
    right CLUSTER default — the widened sort spill distributes across
    executors while a past-budget broadcast would press every executor's
    memory — but on a single host it is a disk wall: the 2M receipt
    (BENCH_LOCAL r13) measured the broadcast plan at 448.8 s while the
    unhinted plan DNF'd a 70 GB-free host on sort spill (516M candidate
    pairs × ~50-element shingle arrays). Single-host deployments past the
    ~2.2M-doc boundary of the budget should raise
    ``NGRAM_VERIFY_BUDGET_MB`` to match their executor headroom."""
    from ..io import fan_out_small_scan

    # gate on the cheap count FIRST — the shingle-size sum tokenizes the
    # whole corpus, so small corpora must not pay it (measured: +60% on
    # dd4's sf0.1 roster number when the sizing rode the gate agg); only
    # the big path, whose total cost amortizes it, runs the sizing agg.
    n_docs = docs.count()
    # fan out AFTER the gate count so the count scans raw parquet metadata
    # without paying the fan-out exchange; the tokenize/explode stages below
    # are what the fan-out exists for (no-op on real multi-split layouts;
    # measured win in OPTIMIZATION_r14.md)
    docs = fan_out_small_scan(docs, "doc_id")
    if n_docs > NGRAM_JACCARD_CROSSOVER_DOCS:
        sig = minhash_signatures(doc_shingle_sets(docs), num_perm=16)
        cand = lsh_candidate_pairs(sig, num_perm=16, rows_per_band=1, max_bucket=256)
        nc = docs.select("doc_id", "n_chars")
        pairs = (
            cand.join(
                nc.withColumnsRenamed({"doc_id": "doc1", "n_chars": "nc1"}), "doc1"
            )
            .join(
                nc.withColumnsRenamed({"doc_id": "doc2", "n_chars": "nc2"}), "doc2"
            )
            .filter(F.abs(F.col("nc1") - F.col("nc2")) <= 20)
            .select("doc1", "doc2")
        )
        total_shingles = docs.agg(
            F.sum(F.size(F.array_distinct(token_bigrams(F.col("text")))))
        ).collect()[0][0]
        fits = (
            (total_shingles or 0) * 8 + n_docs * 48
            <= NGRAM_VERIFY_BUDGET_MB * 1024 * 1024
        )
        return jaccard_scores(pairs, doc_shingle_arrays(docs), broadcast_sets=fits)
    docs_total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    sh = df_capped(doc_shingle_sets(docs), docs_total).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    a = sh.select(F.col("doc_id").alias("doc1"), F.col("n_chars").alias("nc1"), "token")
    b = sh.select(F.col("doc_id").alias("doc2"), F.col("n_chars").alias("nc2"), "token")
    pairs = (
        a.join(b, ["token"])
        .filter(
            (F.col("doc1") < F.col("doc2"))
            & (F.abs(F.col("nc1") - F.col("nc2")) <= 20)
        )
        .select("doc1", "doc2")
        .distinct()
    )
    return jaccard_scores(pairs, doc_shingle_arrays(docs))


def simhash16(tok: DataFrame) -> DataFrame:
    """16-bit SimHash per document.

    Bit j comes from the parity of hex digit j of md5(token): tokens vote ±1
    per bit, the sign of the vote sum is the bit. Near-duplicate documents
    (mostly shared tokens) land on identical fingerprints, so dedup becomes a
    groupBy on the fingerprint — no pair join anywhere.

    Per-token work (r14 optimization pass): the 16 digit parities are
    extracted by unsigned shifts from TWO 8-hex-digit conv() prefixes (each
    < 2^32, bigint-safe — one conv of all 16 digits overflows BIGINT and
    throws under ANSI) instead of 16 separate substring+instr probes each
    re-stating md5(token) inside its aggregate — codegen subexpression
    elimination does not reach across aggregate functions, so the old form
    hashed every token 16×. Parity of hex digit j == bit 4·(8-j)-th of the
    packed prefix, so the vote values are identical by construction
    (A/B-measured 1.8× on the sf0.1 kernel, byte-identical groups; the
    DuckDB oracle keeps the digit-parity formulation).
    """
    hi = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5("token"), 9, 8), 16, 10).cast("bigint")

    def _bit(j: int) -> Column:
        src, idx = (hi, j) if j < 8 else (lo, j - 8)
        return F.shiftrightunsigned(src, 4 * (8 - (idx + 1))).bitwiseAND(F.lit(1))

    votes = [
        F.sum(F.when(_bit(j) == 1, 1).otherwise(-1)).alias(f"v_{j}")
        for j in range(16)
    ]
    sig = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sig.select("doc_id", fp.cast("int").alias("simhash"))


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct token-bigram pairs for n-gram Jaccard."""
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(token_bigrams(F.col("text")))).alias("token"),
    )


# the token n-gram size of a duplicated span (dd7, dd10)
SPAN_NGRAM = 5


def dup_span_scrub(docs: DataFrame) -> DataFrame:
    """Exact duplicated-span REMOVAL (dd10) — the transform half of the Lee
    et al. 2021 exact-substring-dedup signal that ``duplicate_span_stats``
    (dd7) measures: every token position covered by a ``SPAN_NGRAM``-token
    shingle that occurs in >= 2 DISTINCT documents is dropped, and the
    document is rebuilt from the surviving tokens (original order,
    single-space joined). Returns (doc_id, n_tokens, n_kept, clean_md5) — the md5 pins
    the full rebuilt text value-checkably without shipping megabytes of
    cleaned text through the compare harness; a doc with no duplicated
    spans keeps clean_md5 == md5(text) (single-space corpus contract), and
    a fully-duplicated doc scrubs to md5('').

    "Exact" is exact-MATCH semantics over xxhash64(shingle) fingerprints,
    not raw strings (same split as tx13/dd7, documented there): a 64-bit
    collision between two different shingles in different docs would scrub
    a non-duplicated span. By the birthday bound that stays improbable up
    to ~10^8 distinct shingles per corpus (p < 3e-4) and is expected by
    ~5e9 — at the full 100 TB posture, widen the key to
    struct(xxhash64(sh), xxhash64(reverse(sh))) (128 effective bits, same
    postings shape) or accept the one-in-a-corpus false scrub; the oracle
    groups raw strings, so the fixture gate would catch a collision.

    Plan shape (the dd7 scale posture, plus one anti join and one bounded
    rebuild): shingle postings travel as (xxhash64, doc_id, start) — long
    keys, partial-aggregated document frequency; covered positions are a
    narrow explode of <= ``SPAN_NGRAM`` rows per duplicated occurrence, distinct on
    (doc_id, pos); the scrub is a LEFT ANTI equi join of token postings
    against covered positions (AQE-skew-splittable, never pair-shaped);
    the rebuild is one collect_list per document — per-GROUP state is one
    document's tokens, the same bound every per-doc operation in this
    engine already carries, NOT corpus-shaped. No stage holds doc x doc
    state, so the whole plan is postings-linear at 100 TB."""
    from ..functions.text import token_count, token_ngrams, tokens
    from ..io import fan_out_small_scan

    # token + 5-gram explodes dominate — fan a one-split scan out to the
    # session's cores (no-op on real multi-split layouts)
    docs = fan_out_small_scan(docs, "doc_id")
    toks = tokens(F.col("text"))
    tok = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    grams = docs.select(
        "doc_id", F.posexplode(token_ngrams(F.col("text"), SPAN_NGRAM)).alias("start", "sh")
    ).select("doc_id", "start", F.xxhash64("sh").alias("k"))
    dup = (
        grams.select("k", "doc_id")
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("k")
    )
    covered = (
        grams.join(dup, "k")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(SPAN_NGRAM - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select("doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
    )


def duplicate_span_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-span statistics (dd7): a span = a ``SPAN_NGRAM``-token
    shingle occurring in >= 2 DISTINCT documents; returns (doc_id,
    n_shingles, n_dup, dup_frac) counting OCCURRENCES, i.e. the
    exact-substring-dedup removal signal of Lee et al. 2021 at shingle
    granularity.

    Shuffle shape: postings travel as (xxhash64, doc_id) pairs — an 8-byte
    LONG key regardless of span text (4x narrower than the md5 hex string
    it replaced, and long-keyed aggregation/join beats string-keyed; the
    fingerprint swap cannot change results short of a 64-bit collision,
    ~1e-10 at driver scales where the oracle compares, and the DuckDB
    mirror's own md5 keys count the same distinct-shingle sets). The
    (k, doc) pre-aggregation partial-combines map-side so intra-doc
    repetition never crosses the wire row-by-row; document frequency is a
    second partial agg over one row per (k, doc); the dup-flag join is equi
    on k (AQE skew-split handles hot boilerplate shingles — or pre-cap df
    like dd4 when a corpus is adversarially boilerplate-heavy).
    """
    from ..functions.text import token_ngrams
    from ..io import fan_out_small_scan

    # the n-gram explode dominates — fan a one-split scan out to the
    # session's cores (no-op on real multi-split layouts)
    docs = fan_out_small_scan(docs, "doc_id")
    post = (
        docs.select("doc_id", F.explode(token_ngrams(F.col("text"), SPAN_NGRAM)).alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("k"))
    )
    occ = post.groupBy("k", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    dfreq = occ.groupBy("k").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        occ.join(dfreq, "k")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("occ")).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            F.round(F.col("n_dup") * 1.0 / F.col("n_shingles"), 6).alias("dup_frac"),
        )
    )


# content-defined chunking: a token whose hash is ≡ 0 (mod CDC_MODULUS) ends
# a chunk, so CDC_MODULUS is the expected chunk length in tokens; the guarded
# rule honors a boundary only past CDC_MIN_LEN tokens and forces a cut at
# CDC_MAX_LEN
CDC_MODULUS = 16
CDC_MIN_LEN = 8
CDC_MAX_LEN = 32


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Token-level content-defined chunking (the LBFS/FastCDC cut-point
    idea at token granularity): a token whose content hash satisfies
    ``h % CDC_MODULUS == 0`` ENDS a chunk, so chunk boundaries depend only on
    local content — insert or delete a token and every boundary outside
    its chunk stays put, which is why CDC chunk stores resynchronize
    across document versions where fixed-size chunking desyncs everything
    downstream of the edit. Expected chunk length is ``CDC_MODULUS`` tokens
    with a geometric tail (P(len > L) = (1 - 1/CDC_MODULUS)^L); production
    stores add min/max cut guards on top — a business rule on the same
    boundary stream, deliberately not modeled here.

    Returns one row per (doc, chunk): ``(doc_id, chunk, n_tokens, fp)``
    where ``fp`` is md5 of the chunk's space-joined tokens — the chunk
    store's content address. Hashes are md5 throughout so the DuckDB
    oracle replays the byte-identical algorithm (this file's rule).

    Shuffle shape: ONE exchange of token rows keyed by document — the
    boundary cumsum's per-doc window and the (doc, chunk) rebuild share
    that partitioning, and each group's state is one chunk's tokens
    (geometric, mean ``CDC_MODULUS``). Nothing corpus-wide shuffles here;
    consumers aggregate the 16-byte fps (see ``cdc_chunk_dedup_stats``).
    """
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = tok.withColumn(
        "chunk",
        F.coalesce(F.sum((h % CDC_MODULUS == 0).cast("bigint")).over(w), F.lit(0)),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "token"))),
        lambda s: s["token"],
    )
    return chunked.groupBy("doc_id", "chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(ordered, " ")).alias("fp"),
    )


def chunk_dedup_ledger(chunks: DataFrame) -> DataFrame:
    """The content-addressed store's yield ledger over any (doc, chunk,
    n_tokens, fp) frame — shared by the pure-content (``cdc_chunks``) and
    min/max-guarded (``cdc_chunks_guarded``) cut rules: per chunk length,
    instances, distinct contents, instances a store would NOT re-store,
    and the tokens that saves. Scale posture: one 16-byte-key partial agg
    per chunk, then a histogram agg over one row per distinct chunk — a
    hot boilerplate chunk is a COUNT, never a join."""
    fpc = chunks.groupBy("fp").agg(
        F.max("n_tokens").alias("chunk_len"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        fpc.groupBy("chunk_len")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chunks"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("cnt") - 1).cast("bigint").alias("n_dup_instances"),
        )
        .select(
            F.col("chunk_len").cast("bigint").alias("chunk_len"),
            "n_chunks",
            "n_distinct",
            "n_dup_instances",
            (F.col("chunk_len") * F.col("n_dup_instances"))
            .cast("bigint")
            .alias("saved_tokens"),
        )
        .orderBy("chunk_len")
    )


def cdc_chunk_dedup_stats(docs: DataFrame) -> DataFrame:
    """Corpus-wide CDC chunk-dedup yield, bucketed by chunk length (see
    ``chunk_dedup_ledger``). The length histogram doubles as a receipt of
    the cut-point statistics (geometric decay away from short lengths)."""
    return chunk_dedup_ledger(cdc_chunks(docs))


def cdc_chunks_guarded(docs: DataFrame) -> DataFrame:
    """``cdc_chunks`` with the min/max cut guards every production chunk
    store adds (FastCDC's actual shape): a content boundary is honored
    only if the chunk it would close has >= ``CDC_MIN_LEN`` tokens, and a
    cut is FORCED at ``CDC_MAX_LEN`` when no acceptable boundary arrives —
    so chunk sizes live in [CDC_MIN_LEN, CDC_MAX_LEN] (the final tail may be
    shorter), killing both the geometric tail's tiny chunks (metadata
    overhead) and its unbounded heads (transfer granularity).

    The guard is a sequential reset rule — each accepted cut re-bases the
    window the next boundary must fall in — which no window cumsum can
    express (the dd11 docstring's documented boundary). The hash never
    moves to Python: boundary flags are a JVM Project; Python only scans
    per-doc flag lists and md5s chunk strings — the same content address
    ``cdc_chunks`` emits, so a store can mix guarded and unguarded
    writers. The oracle replays the identical rule as a recursive CTE
    advancing EVERY document one cut per iteration (a LATERAL picking
    min(first in-window boundary, forced max, doc end) — the sim10
    pattern applied to cut placement).

    The Python stage is ``mapInPandas`` over doc-sorted partitions, NOT
    one ``applyInPandas`` group per document: with corpus-many groups the
    per-group Arrow/pandas overhead IS the cost — measured at 500k/1M
    docs, the per-doc-group form ran 101.2/165.0 s where this
    batch-amortized form (hundreds of docs per ~10k-row Arrow batch, a
    carry buffer stitching the doc that straddles a batch boundary) runs
    11.4/21.0 s — ~9× — on identical output (BENCH_LOCAL.md round 14),
    ~2.5× over dd11's pure-JVM unguarded path, which is the honest price
    of the sequential scan itself. State is still one partition's batch
    plus at most one document of carry.

    Same output schema as ``cdc_chunks``; feed ``chunk_dedup_ledger``."""
    import hashlib
    from collections.abc import Iterator

    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
    # read on the driver: the workers' scan sees the values a caller patched
    min_len, max_len = CDC_MIN_LEN, CDC_MAX_LEN
    flagged = (
        tok.withColumn("b", (h % CDC_MODULUS == 0).cast("int"))
        .repartition(F.col("doc_id"))
        .sortWithinPartitions("doc_id", "pos")
    )

    def scan_doc(doc: int, toks, flags, out: list) -> None:
        # Vectorized cut scan (r15 optimization pass, the r14 verdict's #7
        # A/B): the former form walked every token position in Python
        # (O(n · max_len) flag probes per doc). Now boundary positions come
        # from ONE np.flatnonzero and each cut is a binary search into
        # them, the doc is joined to a string once, and each chunk is a
        # char-offset SLICE of it (cumsum of token lengths) instead of a
        # per-chunk list join — the per-cut Python work is O(log B) + one
        # md5. Identical cut rule: first boundary in [c+min_len,
        # min(c+max_len, n)], else forced at min(c+max_len, n).
        n = len(toks)
        bpos = np.flatnonzero(flags) + 1  # 1-based boundary token positions
        text = " ".join(toks)
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
        sep_ends = np.cumsum(lens + 1)  # char index just past token i (+sep)
        c, k = 0, 0
        while c < n:
            hi = min(c + max_len, n)
            i = np.searchsorted(bpos, c + min_len)
            nxt = int(bpos[i]) if i < len(bpos) and bpos[i] <= hi else hi
            start = int(sep_ends[c - 1]) if c else 0
            fp = hashlib.md5(
                text[start : int(sep_ends[nxt - 1]) - 1].encode()
            ).hexdigest()
            out.append((doc, k, nxt - c, fp))
            k += 1
            c = nxt

    cols = ["doc_id", "chunk", "n_tokens", "fp"]

    def scan_frame(pdf: pd.DataFrame, out: list) -> None:
        # split into per-doc runs with one vectorized boundary scan instead
        # of a pandas groupby (rows arrive sorted by (doc, pos))
        ids = pdf["doc_id"].to_numpy()
        toks = pdf["token"].to_numpy()
        flags = pdf["b"].to_numpy()
        cuts = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        stops = np.concatenate((cuts, [len(ids)]))
        for s, e in zip(starts, stops):
            scan_doc(int(ids[s]), toks[s:e], flags[s:e], out)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # the last doc may continue in the next Arrow batch: hold it
            last = pdf["doc_id"].iloc[-1]
            mask = pdf["doc_id"] == last
            carry = pdf[mask]
            done = pdf[~mask]
            if len(done):
                out: list = []
                scan_frame(done, out)
                yield pd.DataFrame(out, columns=cols)
        if carry is not None and len(carry):
            out = []
            scan_frame(carry, out)
            yield pd.DataFrame(out, columns=cols)

    return flagged.mapInPandas(
        scan_batches, "doc_id long, chunk long, n_tokens long, fp string"
    )
