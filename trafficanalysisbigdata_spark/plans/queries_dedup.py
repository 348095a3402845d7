"""Deduplication queries over ``documents`` — exact, MinHash-LSH, SimHash,
n-gram Jaccard. The md5-based hashing makes even the LSH pipelines fully
SQL-expressible, so every stage is oracle-checked (rare for LSH impls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    CDC_MAX_LEN,
    CDC_MIN_LEN,
    CDC_MODULUS,
    NGRAM_MAX_DF_ABS,
    NGRAM_MAX_DF_FRAC,
    SPAN_NGRAM,
    doc_token_sets,
    exact_dedup_summary,
    minhash_lsh_scores,
    ngram_jaccard_scores,
    simhash16,
)
from .registry import register


@register(
    "dd1_exact_dedup",
    oracle="""
    WITH groups AS (
      SELECT text, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      FROM documents GROUP BY text
    )
    SELECT COUNT(*) AS n_unique,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dupes,
           CAST(SUM(keeper) AS BIGINT) AS keeper_id_sum
    FROM groups
    """,
    tags=("dedup", "exact"),
    tables=("documents",),
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text, keeper = min(doc_id). One shuffle;
    at scale, group on md5(text) instead to shrink shuffle payloads."""
    return exact_dedup_summary(spark.table("documents"))


_MINHASH_MH = ",\n             ".join(
    f"min(md5('{i}|' || token)) AS mh_{i}" for i in range(8)
)
_MINHASH_BANDS = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, {b} AS band, md5(mh_{2*b} || '|' || mh_{2*b+1}) AS bucket FROM mh"
    for b in range(4)
)

# Hot-bucket cap: band buckets larger than this are dropped before the
# candidate self-join (see operators/dedup.bucket_capped). Mirrored in the
# DuckDB oracle so both engines run the identical algorithm.
DD2_MAX_BUCKET = 256

# The full dd2 pipeline as SQL CTEs (shared by the dd2 and dd6 oracles).
_DD2_CTES = f"""tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), mh AS (
      SELECT doc_id,
             {_MINHASH_MH}
      FROM tok GROUP BY doc_id
    ), bands0 AS (
      {_MINHASH_BANDS}
    ), bsizes AS (
      SELECT band, bucket, COUNT(*) AS bucket_n FROM bands0 GROUP BY band, bucket
    ), bands AS (
      SELECT b.doc_id, b.band, b.bucket FROM bands0 b
      JOIN bsizes bs ON b.band = bs.band AND b.bucket = bs.bucket
      WHERE bs.bucket_n <= {DD2_MAX_BUCKET}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id
    ), common AS (
      SELECT p.doc1, p.doc2, COUNT(*) AS n_common
      FROM pairs p
      JOIN tok t1 ON t1.doc_id = p.doc1
      JOIN tok t2 ON t2.doc_id = p.doc2 AND t2.token = t1.token
      GROUP BY p.doc1, p.doc2
    ), scored AS (
      SELECT c.doc1, c.doc2,
             CAST(n_common AS DOUBLE) / (s1.set_size + s2.set_size - n_common) AS jaccard
      FROM common c
      JOIN sizes s1 ON s1.doc_id = c.doc1
      JOIN sizes s2 ON s2.doc_id = c.doc2
    )"""

@register(
    "dd2_minhash_lsh",
    oracle=f"""
    WITH {_DD2_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS n_neardup,
           ROUND(SUM(jaccard) FILTER (WHERE jaccard >= 0.5), 4) AS sum_jaccard
    FROM scored
    """,
    tags=("dedup", "minhash", "lsh"),
    tables=("documents",),
)
def dd2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 perms) → 4 LSH bands → hot-bucket cap → candidate pairs →
    exact Jaccard ≥ 0.5.

    The banded join is the 100 TB path: pair comparisons happen only inside
    band buckets, never all-pairs — and band buckets larger than
    ``DD2_MAX_BUCKET`` are dropped first (``operators/dedup.bucket_capped``),
    bounding the worst bucket's join work at cap²/2 pairs no matter how much
    boilerplate the corpus holds. On this fixture (31-token vocab) the cap
    cuts candidate volume from ~8.3M to ~116k pairs at sf0.1 while the four
    non-discriminative mega-buckets (~62% of the corpus each) are the only
    ones dropped. Hashes are md5 so the DuckDB oracle runs the byte-identical
    algorithm, cap included. Single pass: candidate count, near-dup count,
    and the jaccard sum come from ONE conditional aggregate over the scored
    candidates — no driver action, no recomputed candidate join — and
    verification is a per-pair ``array_intersect``, not a pairs×tokens
    explode (see ``operators/dedup.jaccard_scores``).

    Every candidate pair shares a band bucket, i.e. identical minhash values
    in that band, hence at least one common token — so counting scored pairs
    equals counting candidate pairs.

    r15 continuation pass: the signature stage (8 md5 per token over the
    exploded token set) joins the fan-out whitelist — the per-gram-md5
    class r14 measured for dd4/dd7/tx9 but never A/B'd here. Interleaved
    min-of-4 on the real query, one JVM: off 1.597 vs on 1.214 s, results
    identical. The fan-out lives HERE, not inside minhash_lsh_scores: the
    operator-level placement was measured a net loss (dd6 3.66 → 4.62,
    pipe12 4.21 → 5.76 — their walls are candidate/round-bound and the
    extra exchange below the banding is pure tax; receipts at the operator
    docstring), and dd9/pipe13 read wash-to-loss.
    """
    from ..io import fan_out_small_scan

    docs = fan_out_small_scan(
        spark.table("documents").select("doc_id", "text"), "doc_id"
    )
    scores = minhash_lsh_scores(docs, max_bucket=DD2_MAX_BUCKET)
    is_dup = F.col("jaccard") >= 0.5
    return scores.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(is_dup.cast("bigint")).alias("n_neardup"),
        F.round(F.sum(F.when(is_dup, F.col("jaccard"))), 4).alias("sum_jaccard"),
    )


_SIMHASH_VOTES = ",\n             ".join(
    f"SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(token), {j + 1}, 1)) - 1) % 2 = 1"
    f" THEN 1 ELSE -1 END) AS v_{j}"
    for j in range(16)
)
_SIMHASH_FP = " + ".join(f"(CASE WHEN v_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))

@register(
    "dd3_simhash_groups",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM tok GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, CAST({_SIMHASH_FP} AS INT) AS simhash FROM votes
    )
    SELECT simhash, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM fp GROUP BY simhash HAVING COUNT(*) >= 1 ORDER BY simhash
    """,
    tags=("dedup", "simhash"),
    tables=("documents",),
)
def dd3_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-16 fingerprint groups: near-dups collide on the fingerprint so
    dedup is one groupBy — no pair join at any scale."""
    tok = doc_token_sets(spark.table("documents"))
    fp = simhash16(tok)
    return (
        fp.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keeper"),
        )
        .orderBy("simhash")
    )


@register(
    "dd4_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, n_chars,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                                   i -> string_split(text, ' ')[i] || ' ' ||
                                        string_split(text, ' ')[i+1])) AS token
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), keep AS (
      SELECT token FROM (SELECT token, COUNT(*) AS df FROM sh GROUP BY token), tot
      WHERE df <= LEAST({NGRAM_MAX_DF_FRAC} * n_docs, {NGRAM_MAX_DF_ABS})
    ), shc AS (
      SELECT sh.* FROM sh JOIN keep USING (token)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM shc a JOIN shc b
        ON a.token = b.token AND a.doc_id < b.doc_id
       AND ABS(a.n_chars - b.n_chars) <= 20
    ), common AS (
      SELECT p.doc1, p.doc2, COUNT(*) AS n_common
      FROM pairs p
      JOIN sh t1 ON t1.doc_id = p.doc1
      JOIN sh t2 ON t2.doc_id = p.doc2 AND t2.token = t1.token
      GROUP BY p.doc1, p.doc2
    )
    SELECT COUNT(*) AS n_neardup,
           ROUND(SUM(CAST(n_common AS DOUBLE) / (s1.set_size + s2.set_size - n_common)), 4)
             AS sum_jaccard
    FROM common c
    JOIN sizes s1 ON s1.doc_id = c.doc1
    JOIN sizes s2 ON s2.doc_id = c.doc2
    WHERE CAST(n_common AS DOUBLE) / (s1.set_size + s2.set_size - n_common) >= 0.25
    """,
    tags=("dedup", "ngram", "jaccard"),
    tables=("documents",),
)
def dd4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-shingle Jaccard near-dup: candidates = pairs sharing a
    NON-boilerplate shingle (document frequency ≤ min(5% of corpus, 256) —
    the hot-key skew guard; see ``operators/dedup.df_capped`` for why the
    absolute bound is load-bearing: a fraction-only cap still admits
    (0.05·n)²-pair shingles, measured 45× superlinear at 10× in the scale
    rehearsal) with |Δn_chars| ≤ 20 as the blocking key, then exact set
    Jaccard ≥ 0.25 over the FULL shingle sets. At every driver test scale
    (≤ sf0.1) 0.05·n < 256, so the absolute bound changes nothing there.
    Verification is per-pair ``array_intersect`` — no pairs×shingles explode.

    Past ~10⁵ docs the shared-shingle join is honestly superlinear even
    capped (500k receipt: 14.1× for 10× — Σ min(df, 256)² widens with the
    zipf mid-band), so ``ngram_jaccard_scores`` auto-switches candidates to
    MinHash banding over the SAME bigram shingle sets at 100k docs
    (count-gated like tx9, and only the gate picks the arm; same
    exact-Jaccard verification, broadcast when the arrays fit its budget;
    both paths pinned identical on the fixtures in tests/test_dedup.py).
    Fixture corpora stay far under the gate, so oracle parity always
    exercises the exhaustive small-corpus plan the SQL above mirrors."""
    docs = spark.table("documents").select("doc_id", "n_chars", "text")
    verified = ngram_jaccard_scores(docs).filter(F.col("jaccard") >= 0.25)
    return verified.agg(
        F.count(F.lit(1)).alias("n_neardup"),
        F.round(F.sum("jaccard"), 4).alias("sum_jaccard"),
    )


@register(
    "dd6_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_DD2_CTES}, neardup AS (
      SELECT doc1, doc2 FROM scored WHERE jaccard >= 0.5
    ), sym AS (
      SELECT doc1 AS v, doc2 AS w FROM neardup
      UNION
      SELECT doc2 AS v, doc1 AS w FROM neardup
    ), reach AS (
      SELECT v, w FROM sym
      UNION
      SELECT r.v, s.w FROM reach r JOIN sym s ON r.w = s.v
    ), lab AS (
      SELECT v, LEAST(v, MIN(w)) AS component FROM reach GROUP BY v
    ), comps AS (
      SELECT component, COUNT(*) AS size FROM lab GROUP BY component
    )
    SELECT CAST(size AS BIGINT) AS size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(component) AS BIGINT) AS keeper_id_sum
    FROM comps GROUP BY size ORDER BY size
    """,
    tags=("dedup", "components", "transitive"),
    tables=("documents",),
)
def dd6_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: dd2's verified near-dup pairs (capped LSH →
    Jaccard ≥ 0.5) become CLUSTERS via connected components — chain A–B–C
    collapses to one keeper (min id) even though A≁C pairwise, the semantics
    pairwise dd2/dd5 rules approximate. Output: component-size histogram
    with per-size keeper-id checksums, which pins the full clustering.

    Spark side is ``operators/components.connected_components``, gated on
    the checkpointed edge list's stored bytes against the session's
    ``spark.sql.autoBroadcastJoinThreshold``: at or under it (every fixture
    scale; ~1.5 MB at sf0.01) one grouped task runs a numpy union-find,
    ~2 jobs instead of the loop's ~25; above it, iterative min-label
    propagation with pointer jumping (O(log diameter) rounds, two shuffles
    per round, lineage truncated per round). The oracle is a recursive-CTE
    reachability closure: both arms reach the same engine-independent
    fixpoint, component = min reachable id."""
    from ..operators.components import connected_components

    edges = minhash_lsh_scores(
        spark.table("documents"), max_bucket=DD2_MAX_BUCKET
    ).filter(F.col("jaccard") >= 0.5).select("doc1", "doc2")
    comp = connected_components(edges)
    comps = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        comps.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
            F.sum("component").cast("bigint").alias("keeper_id_sum"),
        )
        .select(F.col("size").cast("bigint").alias("size"), "n_components", "keeper_id_sum")
        .orderBy("size")
    )


@register(
    "dd7_duplicate_spans",
    oracle=f"""
    WITH post AS (
      SELECT doc_id, md5(sh) AS k FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - {SPAN_NGRAM - 1}, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+{SPAN_NGRAM - 1}], ' '))) AS sh
        FROM documents)
    ), occ AS (
      SELECT k, doc_id, COUNT(*) AS occ FROM post GROUP BY 1, 2
    ), dfreq AS (
      SELECT k, COUNT(*) AS n_docs FROM occ GROUP BY 1
    )
    SELECT o.doc_id,
           CAST(SUM(o.occ) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.n_docs >= 2 THEN o.occ ELSE 0 END) AS BIGINT) AS n_dup,
           ROUND(SUM(CASE WHEN d.n_docs >= 2 THEN o.occ ELSE 0 END) * 1.0
                 / SUM(o.occ), 6) AS dup_frac
    FROM occ o JOIN dfreq d USING (k)
    GROUP BY o.doc_id ORDER BY o.doc_id
    """,
    tags=("dedup", "spans", "llm-pipeline"),
    tables=("documents",),
)
def dd7_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicated-text measurement (the exact-substring dedup
    signal of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better", at fixed 5-token granularity): a span is duplicated if
    the same 5-token shingle occurs in >= 2 DISTINCT documents; each doc
    reports its total shingle occurrences, how many of them are cross-doc
    duplicated, and the duplicated fraction — the per-document removal
    signal a span-dedup pass thresholds on. Docs under 5 tokens carry no
    shingle and are excluded (mirrored by the oracle's empty range()).

    Unlike tx9 (doc-level boilerplate share) this counts OCCURRENCES, so a
    doc that repeats a cross-doc-duplicated span 10x is 10x flagged —
    matching the suffix-array semantics at shingle resolution.

    Scale posture: postings shuffle as (md5, doc_id) pairs — the md5 key is
    16 bytes regardless of span text, and the (k, doc_id) pre-aggregation
    partial-combines map-side so a doc's internal repetitions never cross
    the wire individually. Document frequency is a second partial agg over
    one row per (k, doc); the flag join is equi on k where the build side
    is one skinny row per shingle — hot boilerplate shingles are handled by
    AQE skew-split exactly as dd4's postings join, and a df-cap mirroring
    dd4's min(frac*n, abs) bound can drop ubiquitous shingles early if a
    corpus is adversarially boilerplate-heavy (a shingle in >cap docs is
    dup by definition; only its exact df is lost)."""
    from ..operators.dedup import duplicate_span_stats

    return duplicate_span_stats(spark.table("documents")).orderBy("doc_id")


@register(
    "dd8_incremental_dedup",
    oracle="""
    WITH u AS (
      SELECT doc_id, text, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 < 0.75 AS in_corpus
      FROM documents
    ), corpus_fp AS (
      SELECT DISTINCT md5(text) AS fp FROM u WHERE in_corpus
    ), inc AS (
      SELECT doc_id, text, lang,
             md5(text) IN (SELECT fp FROM corpus_fp) AS is_exact
      FROM u WHERE NOT in_corpus
    ), corpus_keys AS (
      SELECT DISTINCT md5(sh) AS k FROM (
        SELECT UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh
        FROM u WHERE in_corpus)
    ), inc_post AS (
      SELECT DISTINCT doc_id, md5(sh) AS k FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh
        FROM inc WHERE NOT is_exact)
    ), near AS (
      SELECT p.doc_id FROM inc_post p JOIN corpus_keys c USING (k)
      GROUP BY p.doc_id HAVING COUNT(*) >= 10
    )
    SELECT i.lang,
           COUNT(*) AS n_increment,
           CAST(SUM(CASE WHEN i.is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(SUM(CASE WHEN NOT i.is_exact AND n.doc_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_near_flagged,
           CAST(SUM(CASE WHEN NOT i.is_exact AND n.doc_id IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM inc i LEFT JOIN near n ON n.doc_id = i.doc_id
    GROUP BY i.lang ORDER BY i.lang
    """,
    tags=("dedup", "incremental", "llm-pipeline"),
    tables=("documents",),
)
def dd8_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the gate a production corpus runs on every
    NEW batch, where re-deduping the whole corpus (dd1–dd7's shape) would
    rescan petabytes: the increment (25% hash-split of documents, standing
    in for today's crawl) is checked against the standing corpus in two
    tiers. Tier 1: exact, a semi-join of md5(text) fingerprints. Tier 2 for
    survivors: near-dup candidacy by OVERLAP VOLUME — ≥ 10 distinct 5-token
    shingles shared with the corpus. Returns the per-language ingest report
    (n_increment / n_exact_dup / n_near_flagged / n_clean).

    vs pipe5 (decontamination): pipe5 asks does ANY train shingle touch
    this eval doc (MAX flag over a window); dd8 tiers exact-before-near,
    thresholds on shared-shingle COUNT (a Jaccard-numerator candidate
    filter — dd4's verify is the optional third tier), and accounts every
    increment doc into exactly one bucket.

    Scale posture: every join is INCREMENT-side-bounded — the corpus
    contributes only its distinct fingerprint and shingle-key sets (skinny
    16-byte keys, partial-agg'd map-side; at 100 TB these are the
    pre-computed, incrementally-maintained index tables a lakehouse keeps
    next to the corpus rather than re-deriving). Hot boilerplate shingles
    get the dd4 df-cap; the per-doc overlap count is a partial-aggregable
    groupBy on (doc, k) pairs from the increment only.

    r15 continuation pass: the corpus-side 5-gram explode (xxhash64 per
    shingle) is the per-gram-expression fan-out class r14 measured for
    dd4/dd7/tx9 — interleaved min-of-4 on the real query, one JVM:
    off 2.508 vs on 1.909 s, results identical (the fan-out gate is a
    no-op on real multi-split layouts)."""
    from ..functions.hashing import hash_frac
    from ..functions.text import token_ngrams
    from ..io import fan_out_small_scan

    docs = fan_out_small_scan(
        spark.table("documents").select("doc_id", "text", "lang"), "doc_id"
    ).withColumn("in_corpus", hash_frac(F.col("doc_id")) < 0.75)
    corpus = docs.filter(F.col("in_corpus"))
    corpus_fp = corpus.select(F.md5("text").alias("fp")).distinct()
    inc = (
        docs.filter(~F.col("in_corpus"))
        .withColumn("fp", F.md5("text"))
        .join(corpus_fp.withColumn("__hit", F.lit(1)), "fp", "left")
        .select("doc_id", "text", "lang", F.col("__hit").isNotNull().alias("is_exact"))
    )
    # xxhash64 long keys (8 bytes) instead of md5 hex strings: the shingle
    # index is a fingerprint set, so any injective key gives identical
    # overlap counts (collision odds ~1e-10 at oracle scales) and the
    # distinct/join shuffles carry 4x less key payload
    corpus_keys = (
        corpus.select(F.explode(token_ngrams(F.col("text"), 5)).alias("sh"))
        .select(F.xxhash64("sh").alias("k"))
        .distinct()
    )
    inc_post = (
        inc.filter(~F.col("is_exact"))
        .select("doc_id", F.explode(token_ngrams(F.col("text"), 5)).alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("k"))
        .distinct()
    )
    near = (
        inc_post.join(corpus_keys, "k")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 10)
        .select("doc_id", F.lit(True).alias("is_near"))
    )
    return (
        inc.join(near, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_increment"),
            F.sum(F.col("is_exact").cast("bigint")).alias("n_exact_dup"),
            F.sum(
                (~F.col("is_exact") & F.col("is_near").isNotNull()).cast("bigint")
            ).alias("n_near_flagged"),
            F.sum(
                (~F.col("is_exact") & F.col("is_near").isNull()).cast("bigint")
            ).alias("n_clean"),
        )
        .orderBy("lang")
    )


_DD9_MATCH = " + ".join(
    f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(8)
)


@register(
    "dd9_minhash_calibration",
    oracle=f"""
    WITH {_DD2_CTES}, comp AS (
      SELECT p.doc1, p.doc2, ({_DD9_MATCH}) AS m_match
      FROM pairs p
      JOIN mh a ON a.doc_id = p.doc1
      JOIN mh b ON b.doc_id = p.doc2
    )
    SELECT c.m_match,
           COUNT(*) AS n_pairs,
           ROUND(c.m_match / 8.0, 6) AS est_jaccard,
           ROUND(CAST(SUM(CAST(ROUND(s.jaccard, 6) AS DECIMAL(10,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_true_jaccard,
           ROUND(CAST(SUM(CAST(ROUND(ABS(c.m_match / 8.0 - s.jaccard), 6)
                               AS DECIMAL(10,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
    FROM comp c
    JOIN scored s ON s.doc1 = c.doc1 AND s.doc2 = c.doc2
    GROUP BY c.m_match
    ORDER BY c.m_match
    """,
    tags=("dedup", "minhash", "audit"),
    tables=("documents",),
)
def dd9_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-calibration audit for dd2's MinHash: over the SAME banded
    (and hot-bucket-capped) candidate pairs dd2 emits, bucket pairs by how
    many of the 8 minhash components agree (m_match — the MinHash Jaccard
    estimate is m/8) and report mean TRUE Jaccard + mean absolute estimator
    error per bucket. The a14b discipline (audit the sketch against the
    exact answer inside one query) applied to MinHash: a sketch an engine
    ships without its measured error profile is a liability at 100 TB,
    where thresholds on the ESTIMATE decide what gets deleted.

    Scale posture: reuses dd2's pipeline pieces (signatures are one grouped
    pass, candidates banded + capped); the component-agreement join touches
    signatures (8 fixed md5 columns per doc), not token sets, and the exact
    Jaccard runs only on candidate pairs — everything is
    candidate-volume-bounded, which the cap bounds in turn.

    r14 optimization pass note: persisting ``sig``/``pairs`` (they have 5
    and 2 consumers in the logical plan) was A/B-measured SLOWER at sf0.1
    (steady-state ~2.3 s unpersisted vs ~2.6 s persisted): AQE's runtime
    exchange reuse already dedupes the identical banded-candidate exchanges,
    and the cache adds materialization + InMemoryRelation scan overhead
    while breaking whole-stage fusion. Left unpersisted on that evidence.

    r15 continuation pass: fanning the one-split fixture scan out (the dd2
    move) was A/B-measured a WASH here (interleaved min-of-4: 2.778 off vs
    2.794 on) — dd9's wall is the three sig consumers + the exact-Jaccard
    attach joins, not the signature stage's scan parallelism. Left
    untouched on that evidence."""
    from ..operators.dedup import (
        doc_token_arrays,
        doc_token_sets,
        jaccard_scores,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.table("documents")
    tok = doc_token_sets(docs)
    sig = minhash_signatures(tok, num_perm=8)
    pairs = lsh_candidate_pairs(
        sig, num_perm=8, rows_per_band=2, max_bucket=DD2_MAX_BUCKET
    )
    scores = jaccard_scores(pairs, doc_token_arrays(docs))
    a = sig.select(
        F.col("doc_id").alias("doc1"), *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(8)]
    )
    b = sig.select(
        F.col("doc_id").alias("doc2"), *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(8)]
    )
    comp = (
        pairs.join(a, "doc1")
        .join(b, "doc2")
        .select(
            "doc1",
            "doc2",
            sum(
                [(F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(8)],
                F.lit(0),
            ).alias("m_match"),
        )
    )
    joined = comp.join(scores, ["doc1", "doc2"]).select(
        "m_match",
        F.round("jaccard", 6).cast("decimal(10,6)").alias("j_dec"),
        F.round(F.abs(F.col("m_match") / 8.0 - F.col("jaccard")), 6)
        .cast("decimal(10,6)")
        .alias("err_dec"),
    )
    return (
        joined.groupBy("m_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j_dec").alias("sj"),
            F.sum("err_dec").alias("se"),
        )
        .select(
            "m_match",
            "n_pairs",
            F.round(F.col("m_match") / 8.0, 6).alias("est_jaccard"),
            F.round(F.col("sj").cast("double") / F.col("n_pairs"), 6).alias(
                "mean_true_jaccard"
            ),
            F.round(F.col("se").cast("double") / F.col("n_pairs"), 6).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("m_match")
    )


@register(
    "dd10_dup_span_scrub",
    oracle=f"""
    WITH arr AS (
      SELECT doc_id, text, string_split(text, ' ') AS a FROM documents
    ), tok AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, a[u.pos] AS tok
      FROM arr, UNNEST(range(1, len(a) + 1)) AS u(pos)
    ), grams AS (
      SELECT doc_id, CAST(u.start AS BIGINT) AS start,
             array_to_string(a[u.start:u.start+{SPAN_NGRAM - 1}], ' ') AS sh
      FROM arr, UNNEST(range(1, greatest(len(a) - {SPAN_NGRAM - 1}, 0) + 1)) AS u(start)
    ), dup AS (
      SELECT sh FROM grams GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
      SELECT DISTINCT g.doc_id, CAST(u.pos AS BIGINT) AS pos
      FROM grams g JOIN dup USING (sh),
           UNNEST(range(g.start, g.start + {SPAN_NGRAM})) AS u(pos)
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tok FROM tok t
      WHERE NOT EXISTS (
        SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)
    ), reb AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(r.clean_text, '')) AS clean_md5
    FROM documents d LEFT JOIN reb r USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("dedup", "spans", "transform", "llm-pipeline"),
    tables=("documents",),
)
def dd10_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span REMOVAL — the transform half of the Lee et al.
    2021 exact-substring story whose measurement half is dd7: every token
    position covered by a 5-token shingle occurring in >= 2 distinct
    documents is dropped and the document is rebuilt from the survivors in
    original order. Per doc: token count, surviving count, and md5 of the
    full rebuilt text — the md5 makes the TRANSFORM itself value-checked
    (both engines must reconstruct byte-identical cleaned strings, so
    ordering, boundary and under-5-token edge cases are all pinned), while
    keeping the compare payload one hash per doc instead of the cleaned
    corpus.

    Scale posture (see operators/dedup.dup_span_scrub): dd7's long-keyed
    postings aggregates for duplicate detection, one narrow <=5-rows-per-
    occurrence coverage explode, one LEFT ANTI equi join for the scrub,
    and a per-document collect_list rebuild whose state is one document's
    tokens — never corpus- or pair-shaped. The plan guard pins the anti
    join and the absence of any cartesian state."""
    from ..operators.dedup import dup_span_scrub

    return dup_span_scrub(spark.table("documents")).orderBy("doc_id")


@register(
    "dd11_cdc_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), tok AS (
      SELECT doc_id, UNNEST(range(1, len(ts) + 1)) AS pos, ts FROM toks
    ), bnd AS (
      SELECT doc_id, pos, ts[pos] AS token,
             CASE WHEN ('0x' || substr(md5(ts[pos]), 1, 8))::BIGINT
                       % {CDC_MODULUS} = 0 THEN 1 ELSE 0 END AS b
      FROM tok
    ), chk AS (
      SELECT doc_id, pos, token,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS chunk
      FROM bnd
    ), chunks AS (
      SELECT doc_id, chunk, COUNT(*) AS n_tokens,
             md5(string_agg(token, ' ' ORDER BY pos)) AS fp
      FROM chk GROUP BY doc_id, chunk
    ), fpc AS (
      SELECT fp, MAX(n_tokens) AS chunk_len, COUNT(*) AS cnt
      FROM chunks GROUP BY fp
    )
    SELECT CAST(chunk_len AS BIGINT) AS chunk_len,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_instances,
           CAST(chunk_len * SUM(cnt - 1) AS BIGINT) AS saved_tokens
    FROM fpc GROUP BY chunk_len ORDER BY chunk_len
    """,
    tags=("dedup", "cdc", "chunking", "llm-pipeline"),
    tables=("documents",),
)
def dd11_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup yield (LBFS/FastCDC cut points at
    token granularity, mean chunk = 16 tokens): a token whose md5-derived
    hash is ≡ 0 (mod 16) ends a chunk, chunks are content-addressed by
    md5, and the corpus-wide ledger reports — per chunk length — instance
    count, distinct contents, instances a chunk store would not re-store,
    and the tokens that saves. This is the STORAGE-side dedup mechanism
    the shingle family (dd2/dd4/dd7/dd10) doesn't cover: because
    boundaries depend only on local content, re-ingesting an edited
    document re-stores only the chunks its edit touched — the resync
    property pytest pins by prepending a token and asserting every
    post-boundary chunk fingerprint survives verbatim (fixed-size
    chunking desyncs them all).

    The length histogram doubles as a receipt of the cut statistics
    (geometric tail) and keeps the compare multi-row. md5 throughout, so
    the oracle replays the byte-identical algorithm — boundary rule,
    cumsum chunk ids, order-preserving rebuild, content addresses.

    Scale posture (operators/dedup.cdc_chunks): one token-row exchange
    keyed by doc shared by the boundary-cumsum window and the chunk
    rebuild (per-group state = one chunk, geometric mean 16 tokens), then
    16-byte fp partial aggs — a hot boilerplate chunk is a COUNT, never a
    join fan-out; the histogram aggregates one row per distinct chunk."""
    from ..operators.dedup import cdc_chunk_dedup_stats

    return cdc_chunk_dedup_stats(spark.table("documents"))


@register(
    "dd11b_cdc_guarded_chunks",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), tok AS (
      SELECT doc_id, UNNEST(range(1, len(ts) + 1)) AS pos, ts FROM toks
    ), bnd AS (
      SELECT doc_id, pos FROM tok
      WHERE ('0x' || substr(md5(ts[pos]), 1, 8))::BIGINT % {CDC_MODULUS} = 0
    ), lens AS (
      SELECT doc_id, len(ts) AS n FROM toks
    ), cuts AS (
      SELECT doc_id, 0 AS k, 0 AS cut, n FROM lens
      UNION ALL
      SELECT c.doc_id, c.k + 1, nxt.cut, c.n
      FROM cuts c, LATERAL (
        SELECT LEAST(COALESCE((SELECT MIN(b.pos) FROM bnd b
                               WHERE b.doc_id = c.doc_id
                                 AND b.pos >= c.cut + {CDC_MIN_LEN}
                                 AND b.pos <= c.cut + {CDC_MAX_LEN}),
                              c.cut + {CDC_MAX_LEN}), c.cut + {CDC_MAX_LEN}, c.n)
          AS cut
      ) nxt
      WHERE c.cut < c.n
    ), chunks AS (
      SELECT c1.doc_id, c1.k - 1 AS chunk, c1.cut - c0.cut AS n_tokens,
             md5(string_agg(t.ts[t.pos], ' ' ORDER BY t.pos)) AS fp
      FROM cuts c1
      JOIN cuts c0 ON c0.doc_id = c1.doc_id AND c0.k = c1.k - 1
      JOIN tok t ON t.doc_id = c1.doc_id
                AND t.pos > c0.cut AND t.pos <= c1.cut
      WHERE c1.k >= 1
      GROUP BY c1.doc_id, c1.k, c1.cut, c0.cut
    ), fpc AS (
      SELECT fp, MAX(n_tokens) AS chunk_len, COUNT(*) AS cnt
      FROM chunks GROUP BY fp
    )
    SELECT CAST(chunk_len AS BIGINT) AS chunk_len,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_instances,
           CAST(chunk_len * SUM(cnt - 1) AS BIGINT) AS saved_tokens
    FROM fpc GROUP BY chunk_len ORDER BY chunk_len
    """,
    tags=("dedup", "cdc", "chunking", "applyInPandas", "llm-pipeline"),
    tables=("documents",),
)
def dd11b_cdc_guarded_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd11's content-defined chunking with the min/max cut guards every
    production chunk store adds (FastCDC's actual shape, min 8 / max 32
    tokens): a content boundary is honored only if it closes a chunk of
    >= 8 tokens, and a cut is FORCED at 32 when no acceptable boundary
    arrives — chunk sizes live in [8, 32] (short final tails excepted),
    killing the geometric tail's metadata-heavy tiny chunks and its
    unbounded heads. Same md5 content addresses as dd11, so guarded and
    unguarded writers can share a store.

    The guard is a sequential reset rule — each accepted cut re-bases the
    next boundary's window — which dd11's docstring documents as
    inexpressible by window cumsums. It runs as one Arrow-batched
    ``applyInPandas`` group per document over JVM-computed boundary flags
    (the hash never moves to Python; the Python step is O(n) integer
    scanning of one doc). The oracle replays the identical rule as a
    recursive CTE advancing EVERY document one cut per iteration via a
    LATERAL (min of first in-window boundary / forced max / doc end) —
    the sim10 pattern applied to cut placement; recursion depth is
    max(len)/min_len, breadth the corpus.

    Scale posture: one doc-keyed token exchange into the per-doc groups
    (state = one document), then the shared 16-byte-fp ledger aggs
    (`chunk_dedup_ledger`) — join-free, plan-guarded. The Arrow boundary
    makes this the measured-cost guard tier over dd11's pure-JVM fast
    path (receipts in BENCH_LOCAL.md)."""
    from ..operators.dedup import cdc_chunks_guarded, chunk_dedup_ledger

    return chunk_dedup_ledger(cdc_chunks_guarded(spark.table("documents")))
