"""Composite training-data pipeline queries: the end-to-end funnel a
pretraining corpus build runs — quality gate → language gate → exact dedup →
SimHash near-dup collapse → token budget — and the per-language training-mix
report over the survivors.

Each stage is an already-verified operator (functions/text.py,
operators/dedup.py); these queries prove the COMPOSITION holds end-to-end,
oracle-checked as one relational program. Every stage is a groupBy or a
per-row expression — no pair joins, no driver actions — so the funnel's cost
at 100 TB is a handful of shuffles on (text-hash, doc_id, simhash) keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import HEX_MOD, hash_frac
from ..functions.text import lang_guess, lexical_diversity, token_count
from ..operators.dedup import (
    NGRAM_MAX_DF_ABS,
    NGRAM_MAX_DF_FRAC,
    doc_token_sets,
    simhash16,
)
from ..operators.packing import PACK_SEQ_LEN, PACK_SHARDS
from .registry import register

# SQL twins shared with the text/dedup oracles (same algorithms, same hashes)
from .queries_dedup import _DD2_CTES, _SIMHASH_FP, _SIMHASH_VOTES
from .queries_text import _NSTOP_EN, _NSTOP_ES, _TOKS

_MIN_TOKENS = 5
_MIN_DIVERSITY = 0.3

_QUALITY_SQL = f"""
      len({_TOKS}) >= {_MIN_TOKENS}
      AND CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) >= {_MIN_DIVERSITY}
      AND ({_NSTOP_EN} + {_NSTOP_ES}) > 0
"""


def _quality_gate(text: Column) -> Column:
    """Keep prose-like docs: long enough, not boilerplate-repetitive, and
    with at least one known-language stopword hit (lang_guess != 'und' ⟺
    en_hits + es_hits > 0)."""
    return (
        (token_count(text) >= _MIN_TOKENS)
        & (lexical_diversity(text) >= _MIN_DIVERSITY)
        & (lang_guess(text) != "und")
    )


@register(
    "pipe1_pretrain_funnel",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text FROM documents
      WHERE {_QUALITY_SQL}
    ), raw AS (
      SELECT COUNT(*) AS n_raw FROM documents
    ), nq AS (
      SELECT COUNT(*) AS n_quality FROM q
    ), exact AS (
      SELECT MIN(doc_id) AS doc_id, text FROM q GROUP BY text
    ), ne AS (
      SELECT COUNT(*) AS n_exact FROM exact
    ), tok AS (
      SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM exact
    ), votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM tok GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, CAST({_SIMHASH_FP} AS INT) AS simhash FROM votes
    ), grp AS (
      SELECT MIN(doc_id) AS keeper FROM fp GROUP BY simhash
    ), fin AS (
      SELECT COUNT(*) AS n_final,
             CAST(SUM(len({_TOKS.replace("text", "e.text")})) AS BIGINT) AS tokens_final
      FROM grp JOIN exact e ON e.doc_id = grp.keeper
    )
    SELECT n_raw, n_quality, n_exact, n_final, tokens_final
    FROM raw, nq, ne, fin
    """,
    tags=("pipeline", "dedup", "quality", "funnel"),
    tables=("documents",),
)
def pipe1_pretrain_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build funnel as ONE relational program:

    raw → quality gate (≥5 tokens, lexical diversity ≥0.3, lang != und)
        → exact dedup (groupBy text, keeper = min doc_id)
        → SimHash-16 near-dup collapse (groupBy fingerprint, keeper = min)
        → survivor count + token budget.

    One row out: n_raw, n_quality, n_exact, n_final, tokens_final. The
    survivor-stage aggregates are single-row frames crossJoined back
    together — Spark broadcasts them, so no stage adds a driver action.

    r15 continuation pass, MEASURED REJECTION: fanning the one-split scan
    out (the dd2/dd8 move) read off 1.474 vs on 1.888 s (interleaved
    min-of-4, one JVM) — pipe1's scan stage is gate math + groupBy(text)
    partials, not a per-gram hash pipeline, and the added exchange (which
    must carry the full text payload for the exact-dedup groupBy) costs
    more than the parallelism buys. Same verdict as tx12/tx6: the fan-out
    class is heavy per-row hash expressions, not explode+partial-agg."""
    docs = spark.table("documents")
    stage1 = docs.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(_quality_gate(F.col("text")).cast("bigint")).alias("n_quality"),
    )
    q = docs.filter(_quality_gate(F.col("text")))
    exact = q.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    fp = simhash16(doc_token_sets(exact))
    keepers = fp.groupBy("simhash").agg(F.min("doc_id").alias("keeper"))
    fin = (
        keepers.join(exact, keepers.keeper == exact.doc_id)
        .agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum(token_count(F.col("text"))).cast("bigint").alias("tokens_final"),
        )
    )
    return (
        stage1.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(fin))
        .select("n_raw", "n_quality", "n_exact", "n_final", "tokens_final")
    )


@register(
    "pipe2_training_mix",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text,
             CASE WHEN {_NSTOP_EN} >= {_NSTOP_ES} AND {_NSTOP_EN} > 0 THEN 'en'
                  WHEN {_NSTOP_ES} > {_NSTOP_EN} THEN 'es'
                  ELSE 'und' END AS lang_guess
      FROM documents
      WHERE {_QUALITY_SQL}
    ), exact AS (
      SELECT MIN(doc_id) AS doc_id, text, lang_guess FROM q GROUP BY text, lang_guess
    ), per_lang AS (
      SELECT lang_guess,
             COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens
      FROM exact GROUP BY lang_guess
    ), tot AS (
      SELECT CAST(SUM(total_tokens) AS DOUBLE) AS all_tokens FROM per_lang
    )
    SELECT lang_guess, n_docs, total_tokens,
           ROUND(total_tokens / all_tokens, 6) AS token_share
    FROM per_lang, tot
    ORDER BY lang_guess
    """,
    tags=("pipeline", "mix", "lang"),
    tables=("documents",),
)
def pipe2_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language training-mix report over the quality-gated, exact-deduped
    corpus: docs, token budget, and each language's share of total tokens —
    the table a sampling-weights step consumes. Two groupBys plus a broadcast
    scalar; lang_guess rides the same scan as the gate."""
    docs = spark.table("documents")
    q = docs.filter(_quality_gate(F.col("text"))).select(
        "doc_id", "text", lang_guess(F.col("text")).alias("lang_guess")
    )
    exact = q.groupBy("text", "lang_guess").agg(F.min("doc_id").alias("doc_id"))
    per_lang = exact.groupBy("lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
    )
    tot = per_lang.agg(F.sum("total_tokens").cast("double").alias("all_tokens"))
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang_guess",
            "n_docs",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("all_tokens"), 6).alias("token_share"),
        )
        .orderBy("lang_guess")
    )


# sim4's LSH defaults + hyperplane CTE, reused for the embedding signal
from .queries_similarity import _DIM, _L, _P, _SIGS_CTE


@register(
    "pipe3_multisignal_dedup",
    oracle=f"""
    WITH {_SIGS_CTE},
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id),
    edup AS (
      SELECT DISTINCT cand.id2 AS doc_id
      FROM cand
      JOIN embeddings x ON x.vec_id = cand.id1
      JOIN embeddings y ON y.vec_id = cand.id2
      WHERE ROUND(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                         CAST(y.embedding AS DOUBLE[])), 6) >= 0.3),
    xdup AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS kp FROM documents
      ) WHERE doc_id <> kp),
    tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM tok GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, CAST({_SIMHASH_FP} AS INT) AS simhash FROM votes
    ), sdup AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY simhash) AS kp FROM fp
      ) WHERE doc_id <> kp),
    u AS (
      SELECT doc_id FROM xdup UNION SELECT doc_id FROM sdup UNION SELECT doc_id FROM edup)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM xdup) AS n_exact_dups,
           (SELECT COUNT(*) FROM sdup) AS n_simhash_dups,
           (SELECT COUNT(*) FROM edup) AS n_embed_dups,
           (SELECT COUNT(*) FROM u) AS n_flagged,
           (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM u) AS n_survivors
    """,
    tags=("pipeline", "dedup", "multisignal", "embedding"),
    tables=("documents", "embeddings"),
)
def pipe3_multisignal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup union: a document is flagged if ANY signal fires —
    exact text group (non-keeper), SimHash-16 collision (non-keeper), or
    embedding-cosine near-dup (greater id of an LSH-candidate pair with
    cos ≥ 0.3; embeddings.vec_id ≡ documents.doc_id in the fixtures).

    Real corpus builds run exactly this OR-combination — lexical signals
    catch verbatim/boilerplate copies, the embedding signal catches
    paraphrases. Per signal the shape is the already-audited scale path
    (groupBy text / groupBy fingerprint / banded LSH join); the union is a
    distinct over flagged ids — no new joins, no pair explosion. The LSH
    signal is a collapse consumer (``lsh_neardup_pairs(collapse=True)``):
    single-pass at any size, built with zero Spark actions."""
    from ..operators.similarity import lsh_neardup_pairs

    docs = spark.table("documents")
    emb = spark.table("embeddings")

    exact = docs.groupBy("text").agg(F.min("doc_id").alias("kp"))
    xdup = (
        docs.join(exact, "text")
        .filter(F.col("doc_id") != F.col("kp"))
        .select("doc_id")
    )
    fp = simhash16(doc_token_sets(docs))
    skeep = fp.groupBy("simhash").agg(F.min("doc_id").alias("kp"))
    sdup = (
        fp.join(skeep, "simhash")
        .filter(F.col("doc_id") != F.col("kp"))
        .select("doc_id")
    )
    # collapse=True: the pairs fold straight into a distinct flagged-id set,
    # so per-pair state never materializes and the router must neither
    # count() (dials are pinned: the no-action contract for non-parquet
    # inputs) nor eagerly stage past the frontier.
    edup = (
        lsh_neardup_pairs(
            emb, threshold=0.3, n_tables=_L, n_planes=_P, dim=_DIM, collapse=True
        )
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    union = xdup.union(sdup).union(edup).distinct()

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    counts = (
        n_docs.crossJoin(F.broadcast(xdup.agg(F.count(F.lit(1)).alias("n_exact_dups"))))
        .crossJoin(F.broadcast(sdup.agg(F.count(F.lit(1)).alias("n_simhash_dups"))))
        .crossJoin(F.broadcast(edup.agg(F.count(F.lit(1)).alias("n_embed_dups"))))
        .crossJoin(F.broadcast(union.agg(F.count(F.lit(1)).alias("n_flagged"))))
    )
    return counts.select(
        "n_docs",
        "n_exact_dups",
        "n_simhash_dups",
        "n_embed_dups",
        "n_flagged",
        (F.col("n_docs") - F.col("n_flagged")).alias("n_survivors"),
    )


# Per-language sampling rates: downsample the dominant language, keep the
# rest — the mix-rebalancing step pipe2's share table feeds.
_SAMPLE_RATES = {"en": 0.35, "de": 0.9, "es": 0.9, "fr": 0.9, "zh": 0.9}
_RATES_SQL = "\n             ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items()
)


@register(
    "pipe4_hash_sample",
    oracle=f"""
    WITH frac AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} AS u,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), sampled AS (
      SELECT lang, n_tokens FROM frac
      WHERE u < CASE lang {_RATES_SQL} ELSE 1.0 END
    )
    SELECT f.lang,
           COUNT(*) AS n_total,
           (SELECT COUNT(*) FROM sampled s WHERE s.lang = f.lang) AS n_sampled,
           (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM sampled s WHERE s.lang = f.lang)
             AS sampled_tokens
    FROM frac f GROUP BY f.lang ORDER BY f.lang
    """,
    tags=("pipeline", "sampling"),
    tables=("documents",),
)
def pipe4_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-rebalancing corpus sample: per-language keep rates applied via
    deterministic md5-hash thresholding (no rand(), no sampleBy) — identical
    keep/drop decisions on every run, every retry, every engine, which is
    what makes a 100 TB sampling step reproducible and auditable. One scan,
    one groupBy; the per-row hash is pure Catalyst."""
    docs = spark.table("documents")
    rate = F.lit(1.0)
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    flagged = docs.select(
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        (hash_frac(F.col("doc_id")) < rate).alias("keep"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("bigint")).alias("n_sampled"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "pipe5_decontaminate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} < 0.75 AS is_train,
             string_split(text, ' ') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, is_train,
             array_to_string(list_slice(t, i.i + 1, i.i + 5), ' ') AS shingle
      FROM base, (SELECT UNNEST(range(0, 700)) AS i) i
      WHERE i.i + 5 <= len(t)
    ), train_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE is_train
    ), contam AS (
      SELECT DISTINCT s.doc_id
      FROM sh s JOIN train_sh t ON s.shingle = t.shingle
      WHERE NOT s.is_train
    )
    SELECT b.source, COUNT(*) AS n_eval,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM base b LEFT JOIN contam c ON c.doc_id = b.doc_id
    WHERE NOT b.is_train
    GROUP BY b.source ORDER BY b.source
    """,
    tags=("pipeline", "decontamination"),
    tables=("documents",),
)
def pipe5_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination — the step a training pipeline runs before
    any benchmark eval is trustworthy. Deterministic 75/25 md5-threshold
    split (pipe4's idiom), then an eval doc is contaminated iff it shares any
    5-token shingle with the train split. Long shingles mean a shared
    VOCABULARY doesn't trigger — only duplicated passages do.

    Scale shape: postings are exploded ONCE (explode_outer keeps shingle-less
    eval docs in the denominator) and shuffled by shingle ONCE; "shares a
    shingle with train" is MAX(is_train) OVER (PARTITION BY shingle), then a
    per-doc max and a per-source rollup. The earlier semi-join formulation
    (train shingles distinct → left-semi → doc-level rejoin) recomputed the
    interpreted 5-gram explode three times and paid two extra exchanges —
    measured 2.2× slower at sf0.1 (5.4-5.7s vs 2.5s), identical results.
    No doc pair is ever materialized either way. Skew caveat as in tx9: a
    window partition can't be AQE-skew-split, so at 100× a boilerplate
    shingle lands on one task — there, persist the train-shingle DF table
    once and broadcast-semi-join it (the previous shape), or cap hot
    shingles like dd4."""
    from pyspark.sql import Window

    from ..functions.text import token_ngrams
    from ..io import fan_out_small_scan

    # the 5-gram explode dominates — fan a one-split scan out to the
    # session's cores (no-op on real multi-split layouts)
    docs = fan_out_small_scan(spark.table("documents"), "doc_id")
    pairs = docs.select(
        "doc_id",
        "source",
        (hash_frac(F.col("doc_id")) < 0.75).alias("is_train"),
        F.explode_outer(F.array_distinct(token_ngrams(F.col("text"), 5))).alias("shingle"),
    )
    flagged = pairs.withColumn(
        "has_train",
        F.when(F.col("shingle").isNull(), F.lit(0)).otherwise(
            F.max(F.col("is_train").cast("int")).over(Window.partitionBy("shingle"))
        ),
    )
    return (
        flagged.filter(~F.col("is_train"))
        .groupBy("doc_id", "source")
        .agg(F.max("has_train").alias("__c"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("__c").cast("bigint").alias("n_contaminated"),
        )
        .orderBy("source")
    )


_SHARD_SQL = (
    f"CAST(FLOOR(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    f" / {HEX_MOD} * {PACK_SHARDS}) AS INT)"
)

@register(
    "pipe6_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SHARD_SQL} AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens
               AS start_off
      FROM t
    ), marked AS (
      SELECT shard, n_tokens, start_off,
             CAST(FLOOR(start_off / {float(PACK_SEQ_LEN)}) AS BIGINT) AS seq_id,
             CAST(FLOOR((start_off + n_tokens - 1) / {float(PACK_SEQ_LEN)}) AS BIGINT) AS end_seq
      FROM packed
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(end_seq) + 1 AS BIGINT) AS n_sequences,
           CAST(SUM(CASE WHEN end_seq > seq_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddlers,
           CAST(SUM(seq_id) AS BIGINT) AS seq_id_checksum
    FROM marked GROUP BY shard ORDER BY shard
    """,
    tags=("pipeline", "packing"),
    tables=("documents",),
)
def pipe6_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing audit (concat-then-chunk, GPT-style): documents are
    md5-hash-sharded (16 shards), concatenated in doc_id order per shard, and
    cut every 2048 tokens. Per shard: docs, tokens, resulting sequence count,
    boundary-straddling docs, and a checksum over every doc's assigned
    sequence id — so the oracle pins the FULL assignment, not just totals.

    Scale shape: see ``operators/packing.pack_sequences`` — one window cumsum
    per shard, shard count = parallelism dial, no global order, no driver
    state. Wasted tokens = n_sequences*2048 - total_tokens, only in each
    shard's final chunk."""
    from ..operators.packing import pack_sequences

    packed = pack_sequences(spark.table("documents"))
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.max("end_seq") + 1).cast("bigint").alias("n_sequences"),
            F.sum("straddles").cast("bigint").alias("n_straddlers"),
            F.sum("seq_id").cast("bigint").alias("seq_id_checksum"),
        )
        .orderBy("shard")
    )


@register(
    "pipe7_temperature_resample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} AS u
      FROM documents
    ), pl AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS t FROM d GROUP BY lang
    ), g AS (
      SELECT CAST(SUM(t) AS DOUBLE) AS tot, SUM(SQRT(CAST(t AS DOUBLE))) AS w
      FROM pl
    ), r AS (
      SELECT lang, t,
             LEAST(1.0, (SQRT(CAST(t AS DOUBLE)) / w) * (0.5 * tot) / t) AS rate
      FROM pl, g
    ), k AS (
      SELECT d.lang, COUNT(*) AS n_docs_kept,
             CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_kept
      FROM d JOIN r ON d.lang = r.lang WHERE d.u < r.rate GROUP BY d.lang
    )
    SELECT r.lang, r.t AS orig_tokens, ROUND(r.rate, 6) AS rate,
           COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
           COALESCE(k.tokens_kept, 0) AS tokens_kept
    FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang
    """,
    tags=("pipeline", "sampling", "mix"),
    tables=("documents",),
)
def pipe7_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled training mix: per-language keep rates DERIVED
    FROM THE CORPUS, then applied with the md5-threshold sampler.

    pipe4 applies fixed rates and pipe2 reports the mix; this is the step
    between them that multilingual pretraining actually runs: with τ = 0.5,
    a language's sampling weight ∝ (its token share)^τ, which upweights
    low-resource languages relative to proportional sampling; the token
    budget is half the corpus. rate_l = min(1, weight_l · budget / tokens_l)
    — clamped so no language oversamples (this engine never duplicates
    rows; upsampling beyond 1.0 is an epoch-count decision, not a filter).

    Two passes over one pruned (doc_id, lang, n_tokens) projection: a
    per-language stats agg (5 rows) whose derived rates broadcast-join back
    onto the scan, then the deterministic hash filter and a second agg.
    Nothing shuffles except (lang, count) pairs; the decision for every doc
    is reproducible across runs, retries, and engines — auditable sampling
    at 100 TB. Rates are rounded to 6 dp on both sides (the kept-set itself
    is ulp-robust: hash fractions are multiples of 16^-8, far coarser than
    any double rounding in the rate derivation)."""
    docs = spark.table("documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    per_lang = docs.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("t")
    )
    g = per_lang.agg(
        F.sum("t").cast("double").alias("tot"),
        F.sum(F.sqrt(F.col("t").cast("double"))).alias("w"),
    )
    rates = per_lang.crossJoin(F.broadcast(g)).select(
        "lang",
        "t",
        F.least(
            F.lit(1.0),
            (F.sqrt(F.col("t").cast("double")) / F.col("w"))
            * (0.5 * F.col("tot"))
            / F.col("t"),
        ).alias("rate"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(hash_frac(F.col("doc_id")) < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("t").alias("orig_tokens"),
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("lang")
    )


@register(
    "pipe8_shard_manifest",
    oracle=f"""
    WITH sh AS (
      SELECT CAST(floor((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         / {HEX_MOD}) * 8) AS INT) AS shard,
             len(string_split(text, ' ')) AS n_tokens,
             n_chars
      FROM documents
    ), per AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM sh GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens, n_chars,
           ROUND(n_tokens * 1.0 / (SELECT SUM(n_tokens) FROM per), 6) AS token_share
    FROM per ORDER BY shard
    """,
    tags=("pipeline", "sharding", "llm-pipeline"),
    tables=("documents",),
)
def pipe8_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest — the export-audit step between corpus build
    and training: every document is assigned to one of 8 shards by the same
    deterministic md5-hash uniform pipe4 samples with (any worker, engine or
    retry recomputes identical membership — rand()/repartition round-robin
    cannot be audited), and the manifest reports per-shard doc/token/char
    budgets plus each shard's token share, the balance check a trainer reads
    before declaring steps-per-epoch.

    Scale posture: one scan, one partial/final groupBy on an 8-value key,
    grand total rejoined as a 1-row broadcast (olap5's shape — never an
    unpartitioned window). The physical export is this same shard column fed
    to repartition(shard).write.partitionBy(shard) (s7/ops2 machinery);
    hash assignment keeps shard sizes within ~1/sqrt(n_docs/8) of ideal at
    any corpus size, and the manifest is the proof."""
    docs = spark.table("documents")
    sh = docs.select(
        F.floor(hash_frac(F.col("doc_id")) * 8).cast("int").alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
        "n_chars",
    )
    per = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_tokens") * 1.0 / F.col("tot_tokens"), 6).alias(
                "token_share"
            ),
        )
        .orderBy("shard")
    )


@register(
    "pipe9_source_canonicalize",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text)
               ORDER BY CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1
                                    WHEN 'src2' THEN 2 ELSE 3 END,
                        doc_id) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "dedup", "canonicalization", "llm-pipeline"),
    tables=("documents",),
)
def pipe9_source_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source canonicalization — when the same text arrives from
    multiple sources, keep ONE copy chosen by source PRIORITY (curated
    beats crawl; src0 > src1 > src2 > src3 here), doc_id as the
    deterministic tie-break. This is the dedup RETENTION POLICY layer the
    dd-family deliberately leaves open: dd1 keeps min(doc_id); real corpus
    builds keep the highest-provenance copy. Returns the per-source
    keep/drop ledger — the provenance report a curation team signs off on.

    Scale posture: one shuffle on md5(text) (16-byte key, text never
    shuffles as the sort key); the per-fingerprint window extends over one
    duplicate group (bounded by copy count, not corpus) — groups are tiny
    so no AQE skew concern; the ledger is a partial/final agg per source."""
    prio = (
        F.when(F.col("source") == "src0", 0)
        .when(F.col("source") == "src1", 1)
        .when(F.col("source") == "src2", 2)
        .otherwise(3)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text")).orderBy(prio, "doc_id")
    ranked = spark.table("documents").select(
        "source", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.sum((F.col("rn") > 1).cast("bigint")).alias("n_dropped"),
        )
        .orderBy("source")
    )


@register(
    "pipe10_curriculum_order",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents
    ), h AS (
      SELECT nt, COUNT(*) AS c FROM d GROUP BY nt
    ), cum AS (
      SELECT nt, SUM(c) OVER (ORDER BY nt ROWS UNBOUNDED PRECEDING) AS cc,
             (SELECT SUM(c) FROM h) AS n
      FROM h
    ), t AS (
      SELECT MIN(CASE WHEN cc >= CEIL(0.25 * n) THEN nt END) AS t1,
             MIN(CASE WHEN cc >= CEIL(0.50 * n) THEN nt END) AS t2,
             MIN(CASE WHEN cc >= CEIL(0.75 * n) THEN nt END) AS t3
      FROM cum
    )
    SELECT d.doc_id,
           CAST(1 + (d.nt > t.t1)::INT + (d.nt > t.t2)::INT + (d.nt > t.t3)::INT
                AS INT) AS phase,
           substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS shuffle_key,
           CAST(d.nt AS INT) AS n_tokens
    FROM d, t
    ORDER BY phase, shuffle_key, doc_id
    """,
    tags=("pipeline", "curriculum", "sampling"),
    tables=("documents",),
)
def pipe10_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: emit the corpus in training order — quartile
    length phases (short -> long, the classic length curriculum), shuffled
    WITHIN each phase by a deterministic md5 key so every epoch replay and
    every engine produces the identical sequence.

    The phase boundaries are NOT ntile() — a global ntile needs a global
    row sort through one partition. Instead: aggregate the token-count
    histogram (bounded by distinct document lengths, tiny), take exact
    quartile cutoffs from its cumulative counts with one window over that
    tiny frame, and broadcast the 1-row threshold frame back onto the
    corpus — the olap9 pattern. Same exact quartile semantics (ties share
    a phase), 100 TB-safe.

    Scale posture: one map-side-combined groupBy over distinct lengths;
    the threshold window runs over ~|distinct lengths| rows; the corpus
    itself is scan -> broadcast-join(1 row) -> project, and the final
    (phase, shuffle_key) ordering is a write-time range sort, never a
    single-partition window."""
    from pyspark.sql.window import Window

    docs = spark.table("documents")
    d = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("nt")
    )
    h = d.groupBy("nt").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("nt").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "nt",
        F.sum("c").over(wcum).alias("cc"),
    ).crossJoin(F.broadcast(h.agg(F.sum("c").alias("n"))))
    t = cum.agg(
        F.min(F.when(F.col("cc") >= F.ceil(0.25 * F.col("n")), F.col("nt"))).alias("t1"),
        F.min(F.when(F.col("cc") >= F.ceil(0.50 * F.col("n")), F.col("nt"))).alias("t2"),
        F.min(F.when(F.col("cc") >= F.ceil(0.75 * F.col("n")), F.col("nt"))).alias("t3"),
    )
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            "doc_id",
            (
                F.lit(1)
                + (F.col("nt") > F.col("t1")).cast("int")
                + (F.col("nt") > F.col("t2")).cast("int")
                + (F.col("nt") > F.col("t3")).cast("int")
            ).cast("int").alias("phase"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("shuffle_key"),
            F.col("nt").cast("int").alias("n_tokens"),
        )
        .orderBy("phase", "shuffle_key", "doc_id")
    )


@register(
    "pipe11_token_budget_select",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS score
      FROM documents
    ), c AS (
      SELECT doc_id, source, nt,
             SUM(nt) OVER (ORDER BY score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT (6 * SUM(nt)) // 10 FROM d) AS budget
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE cum - nt < budget) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE cum - nt >= budget) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(nt) FILTER (WHERE cum - nt < budget), 0)
                AS BIGINT) AS tokens_kept
    FROM c GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "budget", "selection", "llm-pipeline"),
    tables=("documents",),
)
def pipe11_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank the corpus by a quality score
    (lexical diversity, ties broken by doc_id), then greedily keep documents
    in rank order until a fixed token budget — 60% of the corpus's total
    tokens — is filled (a doc is kept iff the running total BEFORE it is
    under budget, the standard greedy fill that admits one boundary
    overflow). Reported per source: kept/dropped doc counts and kept tokens
    — the "which sources survive a quality-ranked budget cut" report every
    pretraining data build runs before committing a mix.

    The cumulative token sum ordered by (score DESC, doc_id) and its grand
    total are olap9's two-phase distributed prefix-sum
    (``two_phase_prefix_sums``), NOT a global single-reducer window:
    score-range buckets from value-derived literal cuts (one 1-row driver
    action over the skinny projection, the explicit RangePartitioner bounds
    — same determinism argument as olap9: buckets assigned by VALUE, never
    by physical placement), per-bucket ordered cumsums in parallel, then a
    num-buckets-row offset ledger broadcast back. The budget itself is
    integer arithmetic ((6·total) div 10) on BIGINT token counts on both
    engines, so the keep/drop boundary cannot flap on double rounding.

    Scale posture: one skinny (doc_id, source, nt, score) projection
    (persisted across the bounds action and the main DAG, harness-released),
    one hash exchange on the bucket, a broadcast ledger join, and a final
    partial/final agg on source. A 100-billion-doc corpus never sorts
    through one partition. Plan-guarded: every windowspecdefinition carries
    a partition spec (tests/test_plans.py)."""
    from pyspark import StorageLevel

    from ..operators.prefixsum import two_phase_prefix_sums
    from .registry import track_cache

    docs = spark.table("documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("bigint").alias("nt"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "score"
        ),
    )
    # persisted across the operator's bounds action and the main DAG;
    # recorded by track_cache and freed like olap9's (io's run record)
    d = track_cache(d.persist(StorageLevel.MEMORY_AND_DISK))
    cum = two_phase_prefix_sums(
        d,
        key="score",
        values={"cum": "nt"},
        descending=True,
        tiebreak=("doc_id",),
        totals={"total": "nt"},
    )
    kept = cum.select(
        "source",
        "nt",
        ((F.col("cum") - F.col("nt")) < F.expr("(total * 6) div 10")).alias(
            "keep"
        ),
    )
    return (
        kept.groupBy("source")
        .agg(
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("bigint")).alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("nt"))), F.lit(0)
            ).cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


@register(
    "pipe12_cluster_canonicalize",
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
    ), fulld AS (
      SELECT d.doc_id, d.source, d.n_chars,
             COALESCE(l.component, d.doc_id) AS comp
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.v
    ), ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY comp
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM fulld
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE rn > 1), 0)
                AS BIGINT) AS chars_dropped
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("pipeline", "dedup", "canonical", "llm-pipeline"),
    tables=("documents",),
)
def pipe12_cluster_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: dd2's verified near-dup pairs
    (capped LSH -> Jaccard >= 0.5) become clusters via dd6's connected
    components; within each cluster ONE canonical document
    survives — the longest (n_chars DESC, ties to the smallest doc_id), the
    "keep the best copy" rule an actual dedup pass applies, rather than
    dd6's min-id placeholder. Singletons (docs in no near-dup pair) are
    their own cluster via the left join + coalesce. Reported per source:
    total/kept/dropped docs and the chars the pass deletes — the dedup
    yield report per upstream source.

    Spark side: ``operators/components.connected_components`` over
    ``minhash_lsh_scores`` edges — one grouped numpy union-find task when
    the checkpointed edge list is at or under the session's broadcast bound
    (``spark.sql.autoBroadcastJoinThreshold``; every fixture scale), else
    min-label propagation with pointer jumping in O(log diameter) rounds;
    the canonical pick is a row_number window PARTITIONED BY component
    (cluster-bounded, never global); the oracle is the recursive-CTE
    closure + the same window. Scale: edges are
    capped-LSH candidates (never all-pairs), component state is one label
    row per vertex (on the loop arm, with per-round lineage truncation; the
    one-task arm only takes an edge list Spark would broadcast), and the
    final agg is partial/final on source."""
    from ..operators.components import connected_components
    from ..operators.dedup import minhash_lsh_scores
    from .queries_dedup import DD2_MAX_BUCKET

    from pyspark.sql.window import Window

    docs = spark.table("documents")
    edges = (
        minhash_lsh_scores(docs, max_bucket=DD2_MAX_BUCKET)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc1", "doc2")
    )
    labels = connected_components(edges).withColumnRenamed("v", "doc_id")
    full = (
        docs.select("doc_id", "source", "n_chars")
        .join(labels, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            "doc_id",
            F.coalesce("component", "doc_id").alias("comp"),
        )
    )
    w = Window.partitionBy("comp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = full.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") == 1).cast("bigint")).alias("n_kept"),
            F.sum((F.col("rn") > 1).cast("bigint")).alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("rn") > 1, F.col("n_chars"))), F.lit(0)
            ).cast("bigint").alias("chars_dropped"),
        )
        .orderBy("source")
    )


@register(
    "pipe13_neardup_decontaminated_split",
    oracle=f"""
    WITH {_DD2_CTES}, neardup AS (
      SELECT doc1, doc2 FROM scored WHERE jaccard >= 0.5
    ), sym AS (
      SELECT doc1 AS v, doc2 AS w FROM neardup
      UNION
      SELECT doc2 AS v, doc1 AS w FROM neardup
    ), split AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} < 0.9 AS is_train
      FROM documents
    ), bad AS (
      SELECT DISTINCT s.v AS doc_id FROM sym s
      JOIN split e ON s.w = e.doc_id AND NOT e.is_train
    )
    SELECT sp.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE NOT is_train) AS BIGINT) AS n_eval,
           CAST(COUNT(*) FILTER (WHERE is_train) AS BIGINT) AS n_train_raw,
           CAST(COUNT(*) FILTER (WHERE is_train AND b.doc_id IS NOT NULL)
                AS BIGINT) AS n_removed,
           CAST(COUNT(*) FILTER (WHERE is_train AND b.doc_id IS NULL)
                AS BIGINT) AS n_train_clean
    FROM split sp LEFT JOIN bad b ON sp.doc_id = b.doc_id
    GROUP BY sp.source ORDER BY sp.source
    """,
    tags=("pipeline", "decontamination", "dedup", "llm-pipeline"),
    tables=("documents",),
)
def pipe13_neardup_decontaminated_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup-aware train/eval decontamination: split the corpus 90/10 by
    the deterministic md5-hash rule (pipe4), then REMOVE from train every
    doc that is a verified near-duplicate (dd2's capped LSH -> Jaccard >=
    0.5) of ANY eval doc — the fuzzy-match complement of pipe5's exact
    5-gram decontamination, closing the leak where an eval doc's
    lightly-edited twin survives the n-gram gate and inflates benchmark
    scores. Direct pairs only by design (no transitive closure): standard
    eval decontamination removes eval-adjacent docs, not entire dup
    clusters. Reported per source: split sizes, removals, and the clean
    train count.

    Scale posture: the near-dup adjacency is dd2's banded/capped candidate
    machinery (never all-pairs); contamination is a semi-join of the
    symmetrized edge list against the eval-id set, then an anti-join
    against train — all equi joins on doc_id. The split itself is one
    per-row Catalyst hash, reproducible across engines, runs, and retries.
    """
    from ..operators.dedup import minhash_lsh_scores
    from .queries_dedup import DD2_MAX_BUCKET

    docs = spark.table("documents")
    split = docs.select(
        "doc_id",
        "source",
        (hash_frac(F.col("doc_id")) < 0.9).alias("is_train"),
    )
    pairs = (
        minhash_lsh_scores(docs, max_bucket=DD2_MAX_BUCKET)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc1", "doc2")
    )
    adj = pairs.select(
        F.col("doc1").alias("v"), F.col("doc2").alias("w")
    ).unionByName(pairs.select(F.col("doc2").alias("v"), F.col("doc1").alias("w")))
    eval_ids = split.filter(~F.col("is_train")).select(
        F.col("doc_id").alias("w")
    )
    bad = (
        adj.join(eval_ids, "w", "left_semi")
        .select(F.col("v").alias("doc_id"))
        .distinct()
        .withColumn("is_bad", F.lit(True))
    )
    return (
        split.join(bad, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((~F.col("is_train")).cast("bigint")).alias("n_eval"),
            F.sum(F.col("is_train").cast("bigint")).alias("n_train_raw"),
            F.sum(
                (F.col("is_train") & F.col("is_bad").isNotNull()).cast("bigint")
            ).alias("n_removed"),
            F.sum(
                (F.col("is_train") & F.col("is_bad").isNull()).cast("bigint")
            ).alias("n_train_clean"),
        )
        .orderBy("source")
    )


@register(
    "pipe14_containment_leak_scan",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} < 0.9 AS is_train
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                                   i -> string_split(text, ' ')[i] || ' ' ||
                                        string_split(text, ' ')[i+1])) AS token
      FROM documents
    ), ev AS (
      SELECT sh.doc_id AS e, sh.token
      FROM sh JOIN split s USING (doc_id) WHERE NOT s.is_train
    ), n_ev AS (SELECT COUNT(DISTINCT e) AS n_eval FROM ev),
    keep AS (
      SELECT token
      FROM (SELECT token, COUNT(*) AS df FROM ev GROUP BY token), n_ev
      WHERE df <= LEAST({NGRAM_MAX_DF_FRAC} * n_eval, {NGRAM_MAX_DF_ABS})
    ), evc AS (SELECT ev.* FROM ev JOIN keep USING (token)),
    sizes AS (SELECT e, COUNT(*) AS n_e FROM evc GROUP BY e),
    tr AS (
      SELECT sh.doc_id AS t, sh.token
      FROM sh JOIN split s USING (doc_id) WHERE s.is_train
    ), common AS (
      SELECT evc.e, tr.t, COUNT(*) AS n_common
      FROM evc JOIN tr USING (token) GROUP BY evc.e, tr.t
    ), best AS (
      SELECT c.e, MAX(CAST(n_common AS DOUBLE) / z.n_e) AS max_cont
      FROM common c JOIN sizes z ON c.e = z.e GROUP BY c.e
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_scored,
           CAST(SUM(CASE WHEN max_cont >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked,
           ROUND(SUM(max_cont), 4) AS sum_max_containment
    FROM best b JOIN split s ON b.e = s.doc_id
    GROUP BY s.source ORDER BY s.source
    """,
    tags=("pipeline", "decontamination", "containment", "llm-pipeline"),
    tables=("documents",),
)
def pipe14_containment_leak_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment leak scan — the third decontamination tier
    after pipe5 (exact 5-gram overlap) and pipe13 (symmetric near-dup):
    for each eval doc, the MAX over train docs of containment
    |S_e ∩ S_t| / |S_e| over df-capped bigram shingle sets. Containment is
    the signal symmetric Jaccard structurally misses: a short eval doc
    quoted whole inside a long train doc has Jaccard ≈ |e|/|t| (→ 0) but
    containment ≈ 1 — the classic subset-duplication leak. Reported per
    source: eval docs scored, docs leaked at the 0.8 bar, and the summed
    max-containment mass. Eval docs sharing NO capped shingle with any
    train doc carry zero leak signal and drop out of the scored set;
    boilerplate shingles (df > min(5% of eval docs, 256) WITHIN the eval
    side) are excluded from both numerator and denominator, so ubiquity
    cannot manufacture containment.

    Scale posture: the only pair-shaped state is the (eval, train)
    candidate aggregate, whose fan-out per train posting row is bounded by
    the EVAL-side df cap (≤ 256) — and the eval side is benchmark-sized by
    contract (the fixture's 10% split is its ceiling), so at 100 TB the
    capped eval postings are the broadcast side of one equi join and the
    (e, t) count partial-aggregates map-side. No train×train pair ever
    materializes; train cost is one postings explode, the same scan dd7
    receipts to 1M.

    r14 optimization pass note: persisting the eval-side postings (4 logical
    consumers) was A/B-measured SLOWER at sf0.1 (steady ~3.3 s unpersisted
    vs ~4.5 s persisted) — AQE runtime exchange reuse already shares the
    duplicated subtrees and the cache breaks stage fusion. Left unpersisted
    on that evidence.

    r15 continuation pass: (1) is_train rides the postings as the derivable
    hash_frac(doc_id) expression instead of a join against ``split`` — the
    static plan had one BroadcastHashJoin + split-side scan inside EVERY
    replicated shingle subtree (6 of them) probing every posting row for a
    bit the scan can compute itself (interleaved min-of-5: 4.63 → 4.25 s);
    ``split`` survives only as the final source attach, which genuinely
    needs a column of documents. (2) The bigram explode is a per-gram md5
    pipeline over a one-split fixture scan — the exact fan-out class dd4/
    dd7/tx9 measured in r14 — so the scan joins the fan-out whitelist
    (interleaved min-of-5 on top of (1): 4.16 → 2.54 s; no-op on real
    multi-split layouts by the io.fan_out_small_scan gate)."""
    from ..io import fan_out_small_scan
    from ..operators.dedup import df_capped, doc_shingle_sets

    docs = fan_out_small_scan(
        spark.table("documents").select("doc_id", "source", "text"), "doc_id"
    )
    split = docs.select(
        "doc_id",
        "source",
        (hash_frac(F.col("doc_id")) < 0.9).alias("is_train"),
    )
    sh = doc_shingle_sets(docs).withColumn(
        "is_train", hash_frac(F.col("doc_id")) < 0.9
    )
    ev = sh.filter(~F.col("is_train")).select("doc_id", "token")
    n_ev = ev.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    evc = df_capped(ev, n_ev).withColumnRenamed("doc_id", "e")
    sizes = evc.groupBy("e").agg(F.count(F.lit(1)).alias("n_e"))
    tr = sh.filter(F.col("is_train")).select(F.col("doc_id").alias("t"), "token")
    common = (
        tr.join(evc, "token")
        .groupBy("e", "t")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    best = (
        common.join(sizes, "e")
        .groupBy("e")
        .agg(
            F.max(F.col("n_common").cast("double") / F.col("n_e")).alias("max_cont")
        )
    )
    return (
        best.join(split.select(F.col("doc_id").alias("e"), "source"), "e")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval_scored"),
            F.sum((F.col("max_cont") >= 0.8).cast("bigint")).alias("n_leaked"),
            F.round(F.sum("max_cont"), 4).alias("sum_max_containment"),
        )
        .orderBy("source")
    )


_P15_K = 20


@register(
    "pipe15_stratified_eval_sample",
    oracle=f"""
    WITH r AS (
      SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rank
      FROM documents
    )
    SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n_tokens
    FROM r WHERE rank <= {_P15_K} ORDER BY lang, rank
    """,
    tags=("pipeline", "sampling", "eval", "llm-pipeline"),
    tables=("documents",),
)
def pipe15_stratified_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified EXACT-k eval-set sampling: per language stratum, the k
    documents with the smallest md5(doc_id) — the deterministic-uniform
    idiom every sampler in this engine uses (pipe4/pipe7: stable under
    retries, re-runs, AND engines, where ``sample()`` is partition-order-
    dependent and not oracle-checkable), here with an EXACT per-stratum
    count instead of pipe4's rate: benchmark and holdout sets are
    size-contracted ("exactly 500 per language"), not rate-contracted.

    Scale posture: the naive rank-then-filter would funnel each stratum
    through one task; Spark >= 3.5 rewrites rank() <= k into
    WindowGroupLimit with a PARTIAL mode — every map task keeps only its
    own top-k per stratum BEFORE the exchange, so per-task state is
    k x (strata seen) rows and the final per-stratum sort touches at most
    k x n_map_tasks rows, never the corpus. The plan guard pins both the
    Partial and Final group-limit operators so a regression to the
    full-window shape fails CI."""
    from pyspark.sql.window import Window

    from ..functions.text import token_count

    docs = spark.table("documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.select(
            "lang",
            "doc_id",
            token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _P15_K)
        .select("lang", "rank", "doc_id", "n_tokens")
        .orderBy("lang", "rank")
    )


_P16_SHORTLIST = 8  # quantized candidates per eval doc before exact rerank
_P16_BAR = 0.4  # leak bar on exact cosine — see docstring for calibration


@register(
    "pipe16_semantic_decontaminate",
    oracle=f"""
    WITH split AS (
      SELECT vec_id,
             ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
               / {HEX_MOD} < 0.9 AS is_train
      FROM embeddings
    ), qe AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> coalesce(CAST(floor(x * (127.0 / nullif(
                      list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                              y -> abs(y))), 0)) + 0.5) AS INT), 0)) AS qv
      FROM embeddings
    ), qn AS (
      SELECT vec_id, qv,
             CAST(list_dot_product(CAST(qv AS DOUBLE[]),
                                   CAST(qv AS DOUBLE[])) AS BIGINT) AS nn
      FROM qe
    ), stage1 AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(CAST(list_dot_product(CAST(p.qv AS DOUBLE[]),
                                         CAST(c.qv AS DOUBLE[])) AS BIGINT)
                   / sqrt(CAST(p.nn * c.nn AS DOUBLE)), 6) AS qcos
      FROM (SELECT qn.* FROM qn JOIN split USING (vec_id) WHERE is_train) c
      CROSS JOIN (SELECT qn.* FROM qn JOIN split USING (vec_id)
                  WHERE NOT is_train) p
      WHERE c.vec_id <> p.vec_id AND p.nn > 0 AND c.nn > 0
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY qcos DESC, neighbor_id) AS rn
        FROM stage1
      ) t WHERE rn <= {_P16_SHORTLIST}
    ), best AS (
      SELECT query_id, cos FROM (
        SELECT s.query_id,
               ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(n.embedding AS DOUBLE[])), 6) AS cos,
               ROW_NUMBER() OVER (
                 PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(n.embedding AS DOUBLE[])), 6) DESC,
                          s.neighbor_id) AS rn
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings n ON n.vec_id = s.neighbor_id
      ) t WHERE rn <= 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_scored,
           CAST(SUM(CASE WHEN cos >= {_P16_BAR}e0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked,
           ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE), 6) + 0.0
             AS sum_max_cos
    FROM best b JOIN documents d ON b.query_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("pipeline", "decontamination", "embedding", "similarity", "llm-pipeline"),
    tables=("documents", "embeddings"),
)
def pipe16_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-tier) decontamination — the fourth leak gate
    after pipe5 (exact 5-gram), pipe13 (symmetric near-dup) and pipe14
    (directional containment), closing the case all three lexical tiers
    structurally miss: an eval doc PARAPHRASED into train text shares no
    shingles but sits next to it in embedding space. Same 90/10
    deterministic md5 split contract as pipe13/pipe14 (ids are shared
    between documents and embeddings, so the split is consistent across
    all four tiers); for each eval doc, sim9's two-stage retrieval against
    the TRAIN side — int8-quantized shortlist (8 candidates) then exact
    float-cosine rerank to the single best train neighbor — and a
    per-source ledger: eval docs scored, docs over the leak bar, and the
    summed best-neighbor cosine mass (DECIMAL-summed, order-independent).

    Both stages are deterministic (exact integer dots; rounded cosine; id
    tie-breaks), so unlike a KMeans-IVF route the WHOLE gate is
    value-oracle-checked, shortlist boundary effects included. The top-1
    is the exact-best WITHIN the quantized shortlist — the standard rerank
    recall trade, measured 1.0 top-1 agreement with brute force on both
    fixtures (tests/test_similarity.py, bar ≥ 0.9). The 0.4 bar is
    fixture-calibrated:
    the synthetic embeddings' eval-vs-train best-cosine tops out ≈ 0.51,
    so 0.95 (a production paraphrase bar) would make the gate vacuously
    zero; 0.4 sits inside the fixture's decision-rich region so both
    branches of the ledger carry driver-checked signal. The bar is a named
    constant, not a tuned magic number.

    Scale posture (pipe14's contract, embedding-side): the eval side is
    benchmark-sized by contract, so stage 1 is ONE train-corpus scan of
    int8 vectors (4x fewer bytes than float) with the eval probes
    broadcast — zero train shuffle, no train x train pair ever forms; the
    shortlist (n_eval x 8 rows) and probe vectors broadcast into stage 2,
    so full-precision train vectors are touched at shortlist selectivity
    only. Plan-guarded: no CartesianProduct, no SortMergeJoin — every join
    is broadcast by construction."""
    from ..io import fan_out_small_scan
    from ..operators.similarity import two_stage_rerank_topk

    # int8 quantization + per-pair integer folds dominate — fan a one-split
    # scan out to the session's cores (no-op on real multi-split layouts;
    # measured 4.4 → 2.4 s at sf0.1, OPTIMIZATION_r14.md)
    emb = fan_out_small_scan(spark.table("embeddings"), "vec_id")
    docs = spark.table("documents")
    split = emb.select(
        "vec_id",
        "embedding",
        (hash_frac(F.col("vec_id")) < 0.9).alias("is_train"),
    )
    train = split.filter(F.col("is_train")).select("vec_id", "embedding")
    evalp = split.filter(~F.col("is_train")).select("vec_id", "embedding")
    best = two_stage_rerank_topk(
        train, evalp, k=1, shortlist_factor=_P16_SHORTLIST
    ).select("query_id", "cos")
    # broadcast the EVAL-side ledger (benchmark-sized by contract) onto the
    # documents scan — never the corpus-sized source map
    return (
        docs.select(F.col("doc_id").alias("query_id"), "source")
        .join(F.broadcast(best), "query_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_eval_scored"),
            F.sum((F.col("cos") >= F.lit(_P16_BAR)).cast("bigint")).alias(
                "n_leaked"
            ),
            (
                F.round(
                    F.sum(F.col("cos").cast("decimal(18,6)")).cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("sum_max_cos"),
        )
        .orderBy("source")
    )


_P17_K = 5  # weighted picks per source


@register(
    "pipe17_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROUND(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        + 1) / {HEX_MOD}), 8)
               / CAST(len(string_split(text, ' ')) AS BIGINT) AS k0
      FROM documents
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY k0, doc_id) AS pick_rank
      FROM d
    )
    SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, n_tokens,
           ROUND(k0, 8) AS sample_key
    FROM r WHERE pick_rank <= {_P17_K} ORDER BY source, pick_rank
    """,
    tags=("pipeline", "sampling", "weighted", "llm-pipeline"),
    tables=("documents",),
)
def pipe17_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact-k per source
    (Efraimidis & Spirakis 2006, algorithm A-ES): each doc draws the
    deterministic uniform u = (md5-fraction + 1ulp-of-domain) ∈ (0, 1]
    and the exponential key −ln(u)/w with w = token count; the k smallest
    keys per source are a weighted-without-replacement sample with
    inclusion probability ∝ w — token-budget-proportional corpus
    subsampling, the third member of the sampling family (pipe4 = uniform
    rate, pipe15 = uniform exact-k, pipe17 = WEIGHTED exact-k). One
    distributed pass, no sequential draws — A-ES is why weighted
    reservoir sampling parallelizes at all.

    Cross-engine float discipline: u is an exact dyadic rational, ln is
    rounded to 8 decimals before the division (tx12's log rule), and the
    single IEEE division by an integer weight is bit-identical — so the
    ranking keys, the per-source order, and the emitted rounded keys all
    hash-match; ties (impossible except by md5 collision) break on
    doc_id.

    Scale posture: rank() <= k over the key order compiles to
    WindowGroupLimit Partial+Final exactly like pipe15 — map tasks keep
    only their own k smallest keys per source before the exchange, so
    per-task state is k × (sources seen) rows and the final sort never
    touches the corpus (plan-guarded)."""
    from ..functions.text import token_count
    from ..operators.sampling import aes_weighted_topk

    docs = spark.table("documents")
    keyed = docs.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return (
        aes_weighted_topk(
            keyed, _P17_K, weight_col="n_tokens", strata_col="source",
            id_col="doc_id",
        )
        .select(
            "source",
            "pick_rank",
            "doc_id",
            "n_tokens",
            F.round("k0", 8).alias("sample_key"),
        )
        .orderBy("source", "pick_rank")
    )


@register(
    "pipe17b_quality_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(ROUND(1e6 * CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ('the', 'a', 'of', 'and', 'row',
                                             'table', 'value'))) AS DOUBLE)
                              / len(string_split(text, ' '))) AS BIGINT) + 1
               AS q_weight
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, q_weight,
             ROUND(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        + 1) / {HEX_MOD}), 8) / q_weight AS k0
      FROM d
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY k0, doc_id) AS pick_rank
      FROM keyed
    )
    SELECT source, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id, q_weight,
           ROUND(k0, 8) AS sample_key
    FROM r WHERE pick_rank <= {_P17_K} ORDER BY source, pick_rank
    """,
    tags=("pipeline", "sampling", "weighted", "quality", "llm-pipeline"),
    tables=("documents",),
)
def pipe17b_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe17's A-ES sampler with the PRODUCTION weight: a quality score
    instead of raw length — here tx2's stopword-ratio prose-ness signal
    lifted to an exact integer weight (round(1e6 · n_stop/n_tokens) + 1,
    the +1 keeping zero-stopword docs sampleable at minimal weight and the
    divisor integral, which is what keeps the A-ES keys bit-identical
    cross-engine). Inclusion probability ∝ quality: the corpus-subsampling
    policy that spends a fixed doc budget on prose and away from listy
    junk, without ever hard-filtering it (low-quality docs still appear at
    low rate — the soft-mixing posture pipe2/pipe7 use for sources,
    applied at document granularity).

    Same operator (`operators/sampling.aes_weighted_topk`), same
    WindowGroupLimit Partial+Final join-free plan as pipe17 (guarded
    together); the ratio itself is one int/int IEEE division, so the
    weight — and therefore the whole sample — replays exactly in the
    oracle."""
    from ..functions.text import EN_STOP, stopword_ratio
    from ..operators.sampling import aes_weighted_topk

    docs = spark.table("documents")
    keyed = docs.select(
        "source",
        "doc_id",
        (
            F.round(stopword_ratio(F.col("text"), EN_STOP) * F.lit(1e6)).cast(
                "bigint"
            )
            + F.lit(1)
        ).alias("q_weight"),
    )
    return (
        aes_weighted_topk(
            keyed, _P17_K, weight_col="q_weight", strata_col="source",
            id_col="doc_id",
        )
        .select(
            "source",
            "pick_rank",
            "doc_id",
            "q_weight",
            F.round("k0", 8).alias("sample_key"),
        )
        .orderBy("source", "pick_rank")
    )
