"""Text-analysis queries over the ``documents`` table: token counting,
quality scoring, language ID, lexical diversity, fingerprinting.

Every metric is a pure Catalyst expression (functions/text.py); the oracles
re-run the identical algorithm in DuckDB's list/lambda dialect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOP,
    ES_STOP,
    lang_guess,
    lexical_diversity,
    md5_fingerprint,
    rolling_hash,
    stopword_count,
    stopword_ratio,
    token_count,
)
from .registry import register

_EN = ", ".join(f"'{w}'" for w in EN_STOP)
_ES = ", ".join(f"'{w}'" for w in ES_STOP)
_TOKS = "string_split(text, ' ')"
_NSTOP_EN = f"len(list_filter({_TOKS}, x -> x IN ({_EN})))"
_NSTOP_ES = f"len(list_filter({_TOKS}, x -> x IN ({_ES})))"


@register(
    "tx1_token_stats_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(len({_TOKS})) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "tokens"),
    tables=("documents",),
)
def tx1_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) rolled up per language."""
    docs = spark.table("documents")
    out = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("total_tokens"),
    )
    return out.select(
        "lang",
        "n_docs",
        "total_tokens",
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avg_tokens"),
    ).orderBy("lang")


@register(
    "tx2_quality_by_source",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM({_NSTOP_EN}) AS BIGINT) AS total_stopwords,
           ROUND(SUM(CAST({_NSTOP_EN} AS DOUBLE) / len({_TOKS})), 6) AS sum_stop_ratio
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("text", "quality"),
    tables=("documents",),
)
def tx2_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio (prose-ness signal) per source."""
    docs = spark.table("documents")
    t = F.col("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(stopword_count(t, EN_STOP)).cast("bigint").alias("total_stopwords"),
            F.round(F.sum(stopword_ratio(t, EN_STOP)), 6).alias("sum_stop_ratio"),
        )
        .orderBy("source")
    )


@register(
    "tx3_lang_id_confusion",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_NSTOP_EN} >= {_NSTOP_ES} AND {_NSTOP_EN} > 0 THEN 'en'
                WHEN {_NSTOP_ES} > {_NSTOP_EN} THEN 'es'
                ELSE 'und' END AS guessed,
           COUNT(*) AS n
    FROM documents GROUP BY lang, guessed ORDER BY lang, guessed
    """,
    tags=("text", "langid"),
    tables=("documents",),
)
def tx3_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-vote language ID vs the labeled lang column (confusion counts)."""
    docs = spark.table("documents")
    return (
        docs.groupBy("lang", lang_guess(F.col("text")).alias("guessed"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guessed")
    )


@register(
    "tx4_lexical_diversity",
    oracle=f"""
    SELECT lang,
           ROUND(SUM(CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS})), 6)
             AS sum_diversity,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "quality"),
    tables=("documents",),
)
def tx4_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-token / token ratio — boilerplate detector."""
    docs = spark.table("documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.sum(lexical_diversity(F.col("text"))), 6).alias("sum_diversity"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "tx5_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform({_TOKS}, x -> CAST(length(x) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007
           ) AS fp_rolling
    FROM documents
    """,
    tags=("text", "fingerprint"),
    tables=("documents",),
)
def tx5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 (exact-dup key) + order-sensitive polynomial
    rolling hash over token lengths (both engine-portable)."""
    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fp_md5"),
        rolling_hash(F.col("text")).alias("fp_rolling"),
    )


@register(
    "tx8_bpe_token_budget",
    oracle=f"""
    SELECT lang,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
             AS bpe_tokens,
           ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS DOUBLE)
                 / SUM(len({_TOKS})), 4) AS fertility
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("text", "tokens", "bpe"),
    tables=("documents",),
)
def tx8_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimate under a BPE-style pre-tokenizer (letter runs |
    digit runs | single symbols) vs the whitespace count, per language —
    'fertility' (bpe/ws ratio) is the standard sizing signal for how many
    model tokens a corpus actually costs. Same regex on both engines."""
    from ..functions.text import bpe_ish_tokens

    docs = spark.table("documents")
    ws = token_count(F.col("text"))
    bpe = F.size(bpe_ish_tokens(F.col("text")))
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "ws_tokens",
            "bpe_tokens",
            F.round(F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 4).alias(
                "fertility"
            ),
        )
        .orderBy("lang")
    )


@register(
    "tx6_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT token,
           CAST(SUM(tf.tf) AS BIGINT) AS total_tf,
           ROUND(SUM(tf.tf * ln((n_docs + 1.0) / (df + 1.0))), 4) AS total_tfidf
    FROM tf JOIN dfreq USING (token), n
    GROUP BY token
    ORDER BY total_tfidf DESC, token
    LIMIT 10
    """,
    tags=("text", "tfidf"),
    tables=("documents",),
)
def tx6_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (smoothed IDF = ln((N+1)/(df+1))): per-doc term
    frequencies, document frequencies, and the corpus-level top-10 terms by
    summed TF-IDF. Two groupBys and a broadcast scalar — the classic
    map-side-combine shape that holds at any corpus size."""
    from ..functions.text import tokens as _tokens

    # r15 continuation MEASURED REJECTION: fan-out of the one-split scan
    # read off 0.634 vs on 0.871 s (interleaved min-of-4) — same verdict
    # as tx12/pipe1: explode+partial-agg stages don't pay the per-row cost
    # that makes the fan-out exchange worthwhile.
    docs = spark.table("documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    return (
        scored.groupBy("token")
        .agg(
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.round(F.sum("tfidf"), 4).alias("total_tfidf"),
        )
        .orderBy(F.desc("total_tfidf"), "token")
        .limit(10)
    )


@register(
    "tx7_token_entropy_by_lang",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY doc_id, token
    ), totals AS (
      SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id
    ), ent AS (
      SELECT tf.doc_id,
             -SUM((c * 1.0 / n) * log2(c * 1.0 / n)) AS h
      FROM tf JOIN totals USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(SUM(h), 4) AS sum_entropy
    FROM ent JOIN documents USING (doc_id)
    GROUP BY lang ORDER BY lang
    """,
    tags=("text", "entropy", "quality"),
    tables=("documents",),
)
def tx7_token_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document (repetitive
    boilerplate scores low — a quality signal), rolled up per language."""
    from ..functions.text import tokens as _tokens

    docs = spark.table("documents")
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    totals = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    ent = (
        tf.join(totals, "doc_id")
        .withColumn("p", F.col("c") * 1.0 / F.col("n"))
        .groupBy("doc_id")
        .agg((-F.sum(F.col("p") * F.log2("p"))).alias("h"))
    )
    return (
        ent.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("h"), 4).alias("sum_entropy"),
        )
        .orderBy("lang")
    )


@register(
    "tx9_boilerplate_share",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT d.doc_id, d.source,
             array_to_string(list_slice(t.t, i.i + 1, i.i + 2), ' ') AS shingle
      FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents) t
      JOIN documents d USING (doc_id),
           (SELECT UNNEST(range(0, 700)) AS i) i
      WHERE i.i + 2 <= len(t.t)
    ), df AS (
      SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs FROM pairs GROUP BY shingle
    ), n AS (SELECT COUNT(*) AS n_corpus FROM documents),
    scored AS (
      SELECT p.doc_id, p.source,
             COUNT(*) AS n_sh,
             SUM(CASE WHEN df.n_docs > 0.05 * n.n_corpus THEN 1 ELSE 0 END) AS n_bp
      FROM pairs p JOIN df USING (shingle) CROSS JOIN n
      GROUP BY p.doc_id, p.source
    )
    SELECT source,
           COUNT(*) AS n_docs_scored,
           ROUND(AVG(CAST(n_bp AS DOUBLE) / n_sh), 6) AS avg_bp_share,
           CAST(SUM(CASE WHEN n_bp > 0.5 * n_sh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM scored GROUP BY source ORDER BY source
    """,
    tags=("text", "boilerplate", "dedup"),
    tables=("documents",),
)
def tx9_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scoring (the C4/RefinedWeb line-dedup idea at shingle
    granularity): a bigram is boilerplate when >5% of the corpus contains it;
    each doc's share of boilerplate shingles is averaged per source and docs
    >50% boilerplate are flagged for removal.

    Scale shape: document frequency is a COUNT OVER (PARTITION BY shingle)
    window — the postings are exploded once and shuffled by shingle once,
    where the groupBy+rejoin formulation recomputes the explode for the join
    probe side and pays a second exchange (measured 2× slower at sf0.1,
    6.5-9.7s vs 3.2-4.8s, bit-identical results; (doc, shingle) rows are
    distinct by construction so COUNT(*) per shingle == COUNT(DISTINCT
    doc_id)). The corpus size is a broadcast one-row aggregate. No pair
    joins anywhere — cost is linear in total postings.

    Skew: a window partition cannot be AQE-skew-split the way a join can,
    so a boilerplate shingle held by a corpus fraction lands on ONE task.
    Measured both ways across three decades (scripts/scale_rehearsal.py,
    min-of-2/3, results bit-identical): the window wins ~2× at 5k-50k docs
    (5.05 vs 9.72 s, 3.11 vs 6.62 s — one exchange, explode runs once) but
    LOSES at 1M docs (74.9 s, 3.6× for 2× data past 500k — the round-11
    docs1m rehearsal caught the hot-shingle task materializing), where the
    DF-table formulation (groupBy shingle = map-side partial agg, then an
    equi join AQE can skew-split and broadcast-when-small) stays linear.
    The strategy auto-switches on corpus count above
    ``BOILERPLATE_DF_JOIN_DOCS`` (200k docs) — the count()
    is a parquet-metadata-cheap action, the same adaptivity discipline as
    dd5's two-level crossover (k >= 200). Both paths share every expression
    and are pinned identical in tests/test_plans.py."""
    docs = spark.table("documents")
    return boilerplate_share_report(docs, docs.count() > BOILERPLATE_DF_JOIN_DOCS)


# tx9's strategy switch: corpora above this many docs take the DF-join arm
BOILERPLATE_DF_JOIN_DOCS = 200_000


def boilerplate_share_report(docs: DataFrame, big_corpus: bool) -> DataFrame:
    """tx9's body with the DF-strategy explicit (see tx9 docstring):
    ``big_corpus=False`` scores document frequency with one window over the
    postings exchange; ``True`` pre-aggregates the DF table and equi-joins
    it back so AQE can skew-split the hot shingles."""
    from pyspark.sql import Window

    from ..functions.text import token_bigrams
    from ..io import fan_out_small_scan

    # per-gram tokenize/explode dominates — fan a one-split scan out to the
    # session's cores (no-op on real multi-split layouts; measured win in
    # OPTIMIZATION_r14.md)
    docs = fan_out_small_scan(docs, "doc_id")
    pairs = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(token_bigrams(F.col("text")))).alias("shingle"),
    )
    n_corpus = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    if big_corpus:
        dfreq = pairs.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
        flagged = pairs.join(dfreq, "shingle")
    else:
        flagged = pairs.withColumn(
            "n_docs", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
    scored = (
        flagged.crossJoin(F.broadcast(n_corpus))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                (F.col("n_docs") > 0.05 * F.col("n_corpus")).cast("int")
            ).alias("n_bp"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            F.round(F.avg(F.col("n_bp").cast("double") / F.col("n_sh")), 6).alias(
                "avg_bp_share"
            ),
            F.sum((F.col("n_bp") > 0.5 * F.col("n_sh")).cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "tx10_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT doc_id,
             array_to_string(list_slice(t, i.i + 1, i.i + 2), ' ') AS bg,
             list_extract(t, i.i + 1) AS w1
      FROM toks, (SELECT UNNEST(range(0, 700)) AS i) i
      WHERE i.i + 2 <= len(t)
    ), bgc AS (
      SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg
    ), w1c AS (
      SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
    ), per_doc AS (
      SELECT big.doc_id, AVG(-ln(bgc.c2 * 1.0 / w1c.c1)) AS nll
      FROM big JOIN bgc USING (bg) JOIN w1c USING (w1)
      GROUP BY big.doc_id
    )
    SELECT source, COUNT(*) AS n_docs, ROUND(SUM(nll), 4) AS sum_nll
    FROM per_doc JOIN documents USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "lm"),
    tables=("documents",),
)
def tx10_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (the CCNet idea with the corpus as
    its own LM): per-doc mean negative log-probability under the corpus
    bigram MLE, P(w2|w1) = c(w1 w2)/c(w1 ·). Unusual text (or garbage)
    scores high, boilerplate scores low — the model-free cousin of ml8's
    learned filter. No smoothing needed: every doc's bigrams are in the
    corpus by construction, so P > 0 always.

    Scale shape: two count groupBys over bigram occurrences, then re-joins
    on the bigram/prefix keys (hot boilerplate bigrams = AQE skew-split);
    per-doc and per-source rollups are ordinary partial/final aggs. Linear
    in total tokens."""
    from ..functions.text import token_ngrams

    docs = spark.table("documents")
    big = docs.select(
        "doc_id",
        F.explode(token_ngrams(F.col("text"), 2)).alias("bg"),
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    bgc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    w1c = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    per_doc = (
        big.join(bgc, "bg")
        .join(w1c, "w1")
        .groupBy("doc_id")
        .agg(F.avg(-F.log(F.col("c2") * 1.0 / F.col("c1"))).alias("nll"))
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.sum("nll"), 4).alias("sum_nll"))
        .orderBy("source")
    )


@register(
    "tx11_repetition_filter",
    oracle="""
    WITH tg AS (
      SELECT source,
             list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]) AS g
      FROM documents
    ), f AS (
      SELECT source, len(g) AS n_tg, len(g) - len(list_distinct(g)) AS n_rep
      FROM tg WHERE len(g) > 0
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_rep AS DOUBLE) / n_tg), 6) AS avg_rep_frac,
           CAST(SUM(CASE WHEN CAST(n_rep AS DOUBLE) / n_tg > 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM f GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "repetition"),
    tables=("documents",),
)
def tx11_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram fraction per document (the Gopher-rules repetition
    signal: loops, listicles and degenerate generations repeat n-grams far
    above prose baseline), rolled up per source with a >20% removal flag.
    Pure per-row Catalyst array math on one scan + one groupBy — no
    postings, no joins; docs under 3 tokens are excluded (no trigrams)."""
    from ..functions.text import token_ngrams
    from ..io import fan_out_small_scan

    tg = token_ngrams(F.col("text"), 3)
    per_doc = (
        # the per-row trigram array math dominates — fan a one-split scan
        # out to the session's cores (no-op on real layouts)
        fan_out_small_scan(spark.table("documents"), "doc_id")
        .select(
            "source",
            F.size(tg).alias("n_tg"),
            (F.size(tg) - F.size(F.array_distinct(tg))).alias("n_rep"),
        )
        .filter(F.col("n_tg") > 0)
        .select("source", (F.col("n_rep") / F.col("n_tg")).alias("rep_frac"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep_frac"), 6).alias("avg_rep_frac"),
            F.sum((F.col("rep_frac") > 0.2).cast("int")).cast("bigint").alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "tx12_zipf_slope",
    oracle=f"""
    WITH tf AS (
      SELECT lang, token, COUNT(*) AS c
      FROM (SELECT lang, unnest({_TOKS}) AS token FROM documents)
      GROUP BY lang, token
    ), ranked AS (
      SELECT lang, c,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY c DESC, token) AS r
      FROM tf
    ), terms AS (
      SELECT lang,
             CAST(ROUND(ln(r), 8) AS DECIMAL(18,8)) AS x,
             CAST(ROUND(ln(c), 8) AS DECIMAL(18,8)) AS y
      FROM ranked WHERE r <= 100
    ), s AS (
      SELECT lang, COUNT(*) AS n_ranks,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM terms GROUP BY lang
    )
    SELECT lang, n_ranks,
           ROUND((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 6)
             AS zipf_slope
    FROM s ORDER BY lang
    """,
    tags=("text", "zipf", "quality"),
    tables=("documents",),
)
def tx12_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per language: OLS slope of ln(frequency) on ln(rank)
    over each language's top-100 token ranks. Natural text sits near -1;
    machine-generated or template-heavy corpora flatten or steepen — a
    corpus-level quality fingerprint no per-document score captures.

    Cross-engine float discipline: the regression inputs are logs of small
    INTEGERS (rank, count), rounded to 8 decimals and summed as DECIMAL
    (exact, order-independent); the closed-form slope then runs in double
    from identical operands, so it is IEEE-identical on both engines.

    Scale posture: token frequencies partial-aggregate map-side ((lang,
    token) pairs, not token instances, reach the shuffle); the rank window
    partitions by lang over VOCABULARY-sized input, and everything after
    the top-100 filter is per-lang constant work."""
    from ..functions.text import tokens as _tokens
    from pyspark.sql.window import Window

    # r15 continuation MEASURED REJECTION: fan-out of the one-split scan
    # read off 0.552 vs on 0.784 s (interleaved min-of-4) — the explode's
    # (lang, token) partial agg is cheap per row and the added exchange is
    # pure tax (the fan-out class is heavy per-row hash expressions).
    docs = spark.table("documents")
    tf = (
        docs.select("lang", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    terms = (
        tf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 100)
        .select(
            "lang",
            F.round(F.log(F.col("r")), 8).cast("decimal(18,8)").alias("x"),
            F.round(F.log(F.col("c")), 8).cast("decimal(18,8)").alias("y"),
        )
    )
    s = terms.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    return s.select(
        "lang",
        "n_ranks",
        F.round(
            (F.col("n_ranks") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n_ranks") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    ).orderBy("lang")


# PII patterns kept to constructs whose semantics are identical in Java
# regex (Spark) and RE2 (DuckDB): literal character classes and bounded
# repetition only — no \d/\w shorthand, no backtracking-dependent forms.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "tx13_pii_redaction",
    oracle=f"""
    WITH d AS (
      SELECT source,
             text || ' reach user' || CAST(doc_id AS VARCHAR) || '@mail'
                  || CAST(doc_id % 7 AS VARCHAR) || '.net or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
      FROM documents
    ), r AS (
      SELECT source, full_text,
             len(regexp_extract_all(full_text, '{_EMAIL_RE}', 0)) AS n_email,
             len(regexp_extract_all(full_text, '{_PHONE_RE}', 0)) AS n_phone,
             regexp_replace(regexp_replace(full_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS total_emails,
           CAST(SUM(n_phone) AS BIGINT) AS total_phones,
           CAST(SUM(len(full_text) - len(redacted)) AS BIGINT) AS chars_removed,
           CAST(SUM(len(redacted)) AS BIGINT) AS redacted_chars
    FROM r GROUP BY source ORDER BY source
    """,
    tags=("text", "pii", "pipeline"),
    tables=("documents",),
)
def tx13_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction gate every pretraining pipeline runs
    before anything else touches the text. The fixture corpus is synthetic
    word salad with no real PII, so BOTH engines first append a
    deterministic contact block derived from doc_id (the mm11 pattern:
    the oracle re-derives the planted payload from raw table values, so
    the redaction logic itself is what the value-hash checks), then count
    and strip email/phone matches.

    Scale posture: per-row regex work is pure Catalyst (whole-stage
    codegen, no UDF); the only shuffle is the final partial-aggregated
    groupBy(source). Regex cost is linear in corpus bytes — the shape a
    1000-executor scrub of 100 TB needs, with counts surviving as the
    audit artifact."""
    docs = spark.table("documents")
    full = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".net or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.select("source", full.alias("full_text"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("full_text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    r = d.select(
        "source",
        "full_text",
        F.size(F.regexp_extract_all(F.col("full_text"), F.lit(_EMAIL_RE), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(F.col("full_text"), F.lit(_PHONE_RE), F.lit(0))).alias("n_phone"),
        red.alias("redacted"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("total_emails"),
            F.sum("n_phone").cast("bigint").alias("total_phones"),
            F.sum(F.length("full_text") - F.length("redacted"))
            .cast("bigint")
            .alias("chars_removed"),
            F.sum(F.length("redacted")).cast("bigint").alias("redacted_chars"),
        )
        .orderBy("source")
    )


@register(
    "tx14_context_chunks",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks, UNNEST(range(0, len(toks), 24)) AS start FROM d
    )
    SELECT doc_id,
           CAST(start / 24 AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, start + 1, start + 32)) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start + 1, start + 32), ' '))
             AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
    """,
    tags=("text", "chunking", "pipeline"),
    tables=("documents",),
)
def tx14_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding-window context chunking (size 32, stride 24 —
    25% overlap): the long-document path of a context-window pipeline,
    complementary to pipe6's concat-then-chunk packing (which destroys
    document boundaries; this preserves them and duplicates the overlap
    instead). Every chunk is value-checked by md5 of its joined tokens,
    so the oracle pins exact chunk CONTENT, not just counts.

    Scale posture: narrow explode — zero shuffles end to end (the ORDER BY
    is presentation-only at the sink); output rows ≈ n_tokens/stride per
    doc, linear in corpus size. Token arrays never cross an exchange; the
    md5 collapses each chunk to 32 bytes before anything is returned."""
    docs = spark.table("documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select("doc_id", toks.alias("toks"))
    c = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.size("toks") - 1, F.lit(24))).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, 32)
    return c.select(
        "doc_id",
        (F.col("start") / 24).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "tx15_cross_source_contamination",
    oracle="""
    WITH post AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
               UNNEST(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh
        FROM documents)
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM post GROUP BY source
    ), shared AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM post a JOIN post b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT x.source AS src_a, y.source AS src_b,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           ROUND(COALESCE(s.n_shared, 0) * 1.0
                 / (x.n + y.n - COALESCE(s.n_shared, 0)), 6) AS jaccard
    FROM sizes x
    JOIN sizes y ON x.source < y.source
    LEFT JOIN shared s ON s.src_a = x.source AND s.src_b = y.source
    ORDER BY src_a, src_b
    """,
    tags=("text", "contamination", "ngram", "llm-pipeline"),
    tables=("documents",),
)
def tx15_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source pair,
    the number of DISTINCT 5-token shingles both sources contain and the
    shingle-set Jaccard — the corpus-level view of pipe5's doc-level
    decontamination (is source B a re-crawl / republication of source A?).
    Pairs with zero overlap still appear (left join over the full
    source-pair grid), so an all-clean matrix is visible rather than empty.

    Scale posture: postings collapse to DISTINCT (source, xxhash64) rows
    FIRST — 8-byte keys, map-side-combined — so each shingle contributes at
    most one row per source and the self-equi-join on the hash has fan-out
    <= n_sources per key (bounded by the source catalog, NOT corpus size;
    contrast dd4's per-doc postings where hot shingles need the df cap).
    The pair grid and size ledger are source-cardinality-sized and
    broadcast. The xxhash64/raw-string split between engines counts the
    same distinct sets short of a 64-bit collision (dd7's argument).
    """
    from ..functions.text import token_ngrams
    from ..io import fan_out_small_scan

    # the 5-gram explode dominates — fan a one-split scan out to the
    # session's cores (no-op on real multi-split layouts)
    docs = fan_out_small_scan(spark.table("documents"), "doc_id")
    post = (
        docs.select(
            "source", F.explode(token_ngrams(F.col("text"), 5)).alias("sh")
        )
        .select("source", F.xxhash64("sh").alias("k"))
        .distinct()
    )
    sizes = post.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = post.select(F.col("source").alias("src_a"), "k")
    b = post.select(F.col("source").alias("src_b"), "k")
    shared = (
        a.join(b, "k")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    grid = (
        sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"), F.col("n").alias("n_b")
                )
            ),
            F.col("src_a") < F.col("src_b"),
        )
    )
    ns = F.coalesce(F.col("n_shared"), F.lit(0))
    return (
        grid.join(F.broadcast(shared), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            ns.cast("bigint").alias("n_shared"),
            F.round(ns / (F.col("n_a") + F.col("n_b") - ns), 6).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "tx16_winnowing_fingerprints",
    oracle="""
    WITH g AS (
      SELECT doc_id, source,
             list_transform(
               list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')),
               s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h
      FROM documents
    ), sel AS (
      SELECT doc_id, source, len(h) AS n_grams,
             list_distinct(list_transform(
               range(1, greatest(len(h) - 7, 0) + 1),
               j -> list_min(list_transform(
                 range(0, 8),
                 i -> h[j + i] * 2147483648 + (2147483647 - (j + i - 1)))))) AS keys
      FROM g
    ), fp AS (
      SELECT doc_id, source, UNNEST(keys) // 2147483648 AS fph FROM sel
    ), per_hash AS (
      SELECT fph, COUNT(DISTINCT doc_id) AS n_docs FROM fp GROUP BY fph
    ), doc_hash AS (
      SELECT DISTINCT f.source, f.fph, ph.n_docs
      FROM (SELECT DISTINCT source, fph FROM fp) f
      JOIN per_hash ph USING (fph)
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(s.keys)) AS BIGINT) AS n_fps,
           (SELECT COUNT(*) FROM doc_hash d WHERE d.source = s.source)
             AS n_hashes,
           (SELECT COUNT(*) FROM doc_hash d
             WHERE d.source = s.source AND d.n_docs >= 2) AS n_shared,
           ROUND(SUM(len(s.keys)) * 1.0 / NULLIF(SUM(s.n_grams), 0), 6)
             AS density
    FROM sel s GROUP BY s.source ORDER BY s.source
    """,
    tags=("text", "fingerprint", "winnowing", "llm-pipeline"),
    tables=("documents",),
)
def tx16_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken's MOSS
    algorithm — the rolling-hash fingerprinting standard for partial-overlap
    detection): hash every 4-token gram, slide a window of 8 consecutive
    gram hashes, and in each window SELECT the minimum hash, rightmost on
    ties — guaranteeing any shared token run of >= k + w - 1 = 11 tokens
    contributes at least one IDENTICAL selected fingerprint in both
    documents, while storing only ~2/(w+1) of all gram hashes. Reported per
    source: docs, selected-fingerprint positions, distinct hashes, hashes
    shared with >= 2 docs corpus-wide (the partial-plagiarism signal tx5's
    whole-document fingerprints cannot see), and the selection density.

    Both the hash and the tie-break are engine-portable by construction:
    gram hash = first 8 md5 hex digits as an integer (the repo's standard
    cross-engine hash), and the rightmost-min selection is encoded
    arithmetically — key = hash * 2^31 + (2^31 - 1 - absolute_position) —
    so a single integer MIN implements "smallest hash, then rightmost
    position" identically on both engines. The 32-bit hash times 2^31 fills
    the int64 exactly (max key = 2^63 - 1), and the 2^31-gram position
    space is unreachable by any real document, so the encoding cannot
    silently wrap.

    Scale posture: the window-min selection runs RELATIONALLY — gram
    hashes explode to (doc, pos, h32) rows and each window's rightmost-min
    is a sliding ROWS-frame MIN over pos, whole-stage-codegen the entire
    way. (The array-lambda formulation was measured first: nested HOFs run
    interpreted AND CollapseProject re-inlines the hash-array expression
    into every lambda reference — 249 s at sf0.001 vs ~seconds here; the
    explode+window shape is the fix, not a cache.)

    The r14 optimization pass restructured the consumers so the md5 gram
    hashing runs EXACTLY ONCE end to end (it was ~10× before — measured
    9.1 s → 5.8 s at sf0.1 same-host, 16 exchanges → 5, 4 document scans
    → 2, three explode+window subtrees → one):

    * the hash array is built INSIDE the posexplode generator, never as a
      named projection column — exploding a projected alias let
      InferFiltersFromGenerate + filter pushdown re-inline the whole
      transform(md5) into a pre-Generate Filter, evaluating it 3× per row
      (size>0, isnotnull, then the Generate itself); an inline generator
      expression is evaluated once and (SPARK-33544) gets no inferred
      filter at all. ``n_grams`` is token-count arithmetic computed
      alongside, NOT size(hash_array);
    * ``base`` (per-source doc counts and gram totals over ALL docs,
      including sub-11-token ones with zero fingerprints) uses the same
      arithmetic — the old ``size(transform(md5 ...))`` paid a full
      hashing pass for a length;
    * the three downstream consumers (per-doc fingerprint counts, per-hash
      document frequency, per-source shared-hash rollup) are ONE linear
      aggregation chain over the selected keys instead of three separate
      subtrees each re-deriving the explode+window pipeline: distinct
      (doc, source, k) rows give n_fps by count; (source, fph) groups give
      n_hashes; the corpus-wide per-hash doc count is a SUM over the
      (source, fph) aggregate partitioned by fph (doc→source is
      functional, so summing per-source distinct-doc counts is exactly
      countDistinct(doc) per hash) — that window runs over
      already-aggregated skinny rows, group size ≤ n_sources.

    Docs under k+w-1 tokens legitimately carry zero fingerprints and are
    kept in the per-source denominators via the left join."""
    from pyspark.sql.window import Window

    from ..functions.text import token_ngrams, tokens
    from ..io import fan_out_small_scan

    enc = 2_147_483_648
    # per-gram md5 dominates — fan a one-split scan out to the session's
    # cores (no-op on real multi-split layouts; see OPTIMIZATION_r14.md)
    docs = fan_out_small_scan(spark.table("documents"), "doc_id")
    n_tok = F.size(tokens(F.col("text")))
    n_grams_expr = F.when(n_tok >= 4, n_tok - 3).otherwise(F.lit(0))
    base_agg = (
        docs.select("source", n_grams_expr.alias("n_grams"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("sum_grams"),
        )
    )
    posts = docs.select(
        "doc_id",
        "source",
        n_grams_expr.alias("n_grams"),
        F.posexplode(
            F.transform(
                token_ngrams(F.col("text"), 4),
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint"),
            )
        ).alias("pos", "h32"),
    )
    w_slide = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.currentRow, 7)
    )
    scored = posts.select(
        "doc_id",
        "source",
        "pos",
        "n_grams",
        F.min(F.col("h32") * enc + (F.lit(enc - 1) - F.col("pos"))).over(
            w_slide
        ).alias("k"),
    )
    valid = scored.filter(F.col("pos") <= F.col("n_grams") - 8)
    # one distinct over (doc, source, k): its row count per source IS
    # sum-over-docs of countDistinct(k), the old per_doc branch's output
    sel = valid.select("doc_id", "source", "k").distinct()
    per_sf = (
        # integer div, NOT `/`: double division of a near-2^63 key loses
        # the hash's low bits past the 53-bit mantissa
        sel.select("doc_id", "source", F.expr(f"k div {enc}L").alias("fph"))
        .groupBy("source", "fph")
        .agg(
            F.count(F.lit(1)).alias("n_k"),
            F.countDistinct("doc_id").alias("nd"),
        )
    )
    flagged = per_sf.withColumn(
        "n_docs_hash", F.sum("nd").over(Window.partitionBy("fph"))
    )
    hash_stats = flagged.groupBy("source").agg(
        F.sum("n_k").alias("n_fp_sum"),
        F.count(F.lit(1)).alias("n_hashes"),
        F.sum((F.col("n_docs_hash") >= 2).cast("bigint")).alias("n_shared"),
    )
    n_fps = F.coalesce(F.col("n_fp_sum"), F.lit(0)).cast("bigint")
    return (
        base_agg.join(hash_stats, "source", "left")
        .select(
            "source",
            "n_docs",
            n_fps.alias("n_fps"),
            F.coalesce("n_hashes", F.lit(0)).cast("bigint").alias("n_hashes"),
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.round(
                n_fps / F.nullif(F.col("sum_grams").cast("double"), F.lit(0.0)),
                6,
            ).alias("density"),
        )
        .orderBy("source")
    )


@register(
    "tx17_heaps_vocab_growth",
    oracle=f"""
    WITH tok AS (
      SELECT source, doc_id, unnest({_TOKS}) AS token FROM documents
    ), first AS (
      SELECT source, token, MIN(doc_id) AS doc_id
      FROM tok GROUP BY source, token
    ), newc AS (
      SELECT source, doc_id, COUNT(*) AS new_tokens
      FROM first GROUP BY source, doc_id
    ), per_doc AS (
      SELECT d.source, d.doc_id,
             len({_TOKS}) AS n_tokens,
             COALESCE(n.new_tokens, 0) AS new_tokens
      FROM documents d LEFT JOIN newc n
        ON d.source = n.source AND d.doc_id = n.doc_id
    ), cum AS (
      SELECT source,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS nn,
             SUM(new_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS vv
      FROM per_doc
    ), pts AS (
      SELECT source,
             CAST(ROUND(ln(nn), 8) AS DECIMAL(18,8)) AS x,
             CAST(ROUND(ln(vv), 8) AS DECIMAL(18,8)) AS y
      FROM cum
    ), st AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM pts GROUP BY source HAVING COUNT(*) >= 2
    ), tot AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(new_tokens) AS BIGINT) AS n_vocab
      FROM per_doc GROUP BY source
    )
    SELECT st.source, CAST(st.n_docs AS BIGINT) AS n_docs,
           tot.n_tokens, tot.n_vocab,
           ROUND((st.n_docs * st.sxy - st.sx * st.sy)
                 / (st.n_docs * st.sxx - st.sx * st.sx), 6) + 0.0 AS heaps_beta
    FROM st JOIN tot USING (source) ORDER BY st.source
    """,
    tags=("text", "heaps", "vocabulary", "quality"),
    tables=("documents",),
)
def tx17_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per source: OLS slope beta of
    ln(cumulative distinct tokens) on ln(cumulative tokens) over the
    per-document boundary points of each source's doc_id-ordered stream
    (V ~ K*N^beta). Natural text sits near beta ~ 0.5-0.8; a source whose
    vocabulary SATURATES early (beta -> 0 as N grows) is duplicated or
    template-heavy — the corpus-level saturation signal to tx12's Zipf
    shape, and a cheaper first look than running the dedup family.

    The cumulative-distinct curve uses the w9 first-seen decomposition: a
    token's contribution to V happens at its MIN doc_id within the source,
    so "new tokens per doc" is one (source, token) -> min aggregate —
    vocabulary-sized, partial-aggregated map-side — and both running sums
    ride ONE window. Cross-engine float discipline is tx12's: ln of exact
    integers rounded to 8 decimals, summed as DECIMAL (order-independent),
    closed-form slope in double from identical operands.

    Scale posture: token instances never reach a shuffle (the first-seen
    agg combines map-side); the window's input is ONE narrow row per
    DOCUMENT, partitioned by source (plan-guarded — an unpartitioned
    window would funnel the corpus through one task). A source whose doc
    COUNT alone overwhelms one partition needs the decimated path instead:
    tx17b runs the running sums as a grouped two-phase prefix-sum
    (operators/prefixsum.py — the olap9/pipe11 shape, windows partitioned
    by (source, range-bucket)) and fits on log-decimated boundary points
    (first rank in each 10^(1/ppd) bucket — the fit needs ~10^2-3 curve
    points, not 10^9), with its own exact oracle."""
    return _heaps_fit(spark, 0)


def _heaps_fit(spark: SparkSession, points_per_decade: int) -> DataFrame:
    """Shared Heaps'-law fit pipeline: tx17 (``points_per_decade=0``, one
    window cumsum) and tx17b (decimation on). See tx17's docstring for
    semantics and float discipline."""
    from pyspark.sql.window import Window

    from ..functions.text import token_count, tokens as _tokens

    docs = spark.table("documents")
    first = (
        docs.select("source", "doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    newc = first.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    per_doc = (
        docs.select("source", "doc_id", token_count(F.col("text")).alias("n_tokens"))
        .join(newc, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
    )
    return _heaps_fit_from(
        per_doc, points_per_decade, cuts_from=docs.select("doc_id")
    )


def _heaps_fit_from(
    per_doc: DataFrame, points_per_decade: int, cuts_from: DataFrame | None = None
) -> DataFrame:
    """Running sums + OLS over an already-built per_doc frame (source,
    doc_id, n_tokens, new_tokens).

    r15 optimization pass: per_doc now has ONE consumer. The per-source
    grand totals (n_tokens / n_vocab) used to be their own aggregate over
    per_doc plus a join — a full second evaluation of the tokenize/
    first-seen pipeline — and the decimated path's range-cut percentile
    action was a third. Now the totals ride the same window (dial off:
    two more full-frame sums in the ONE source-partitioned Window node;
    dial on: ledger totals broadcast by ``two_phase_prefix_sums``) and
    survive into the OLS aggregate as constants-per-source, and the cuts
    action reads ``cuts_from`` (a pruned doc_id scan). Totals are running
    sums of non-negative addends, so max(total column) per source is
    exactly the former SUM — bit-identical, oracle-checked."""
    from pyspark.sql.window import Window

    if points_per_decade <= 0:
        w = Window.partitionBy("source").orderBy("doc_id")
        w_tot = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = per_doc.select(
            "source",
            F.sum("n_tokens").over(w).alias("nn"),
            F.sum("new_tokens").over(w).alias("vv"),
            F.sum("n_tokens").over(w_tot).alias("tn"),
            F.sum("new_tokens").over(w_tot).alias("tv"),
        )
    else:
        from ..operators.prefixsum import two_phase_prefix_sums

        # Distributed running sums (rank rides the same window as the two
        # token sums), then keep only the FIRST rank in each 10^(1/ppd)
        # log bucket. Bucket edges fall on irrational ranks except exact
        # powers of ten (where IEEE log10 of an exact integer is exact in
        # both engines), and an integer rank sits >= ~ppd/(rk*ln10) away
        # from the nearest edge in bucket units vs ~1e-13 float error —
        # so the kept set is engine-identical through rk ~ 1e12.
        cum_full = two_phase_prefix_sums(
            per_doc.withColumn("__one", F.lit(1)),
            key="doc_id",
            values={"nn": "n_tokens", "vv": "new_tokens", "rk": "__one"},
            group=("source",),
            totals={"tn": "n_tokens", "tv": "new_tokens"},
            cuts_from=cuts_from,
        )
        ppd_lit = F.lit(points_per_decade)
        decile = lambda c: F.floor(F.log10(c) * ppd_lit)  # noqa: E731
        # greatest(rk-1, 1) keeps log10's argument positive on the first
        # rank (rk=1 is kept by its own disjunct) — no engine-dependent
        # log-of-zero semantics anywhere
        cum = cum_full.filter(
            (F.col("rk") == 1)
            | (
                decile(F.col("rk"))
                != decile(F.greatest(F.col("rk") - 1, F.lit(1)))
            )
        ).select("source", "nn", "vv", "tn", "tv")
    pts = cum.select(
        "source",
        F.round(F.log("nn"), 8).cast("decimal(18,8)").alias("x"),
        F.round(F.log("vv"), 8).cast("decimal(18,8)").alias("y"),
        "tn",
        "tv",
    )
    st = (
        pts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            # constant per source (full-frame / ledger totals): max = the
            # former per_doc SUM, without re-evaluating per_doc
            F.max("tn").cast("bigint").alias("n_tokens"),
            F.max("tv").cast("bigint").alias("n_vocab"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        st.select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "n_tokens",
            "n_vocab",
            # + 0.0 normalizes IEEE negative zero: a slope rounding to zero
            # from below is -0.0 in one engine and 0.0 in the other (caught
            # by the sf0.001 mirror), and -0.0 + 0.0 == +0.0 in both
            (
                F.round(
                    (F.col("n_docs") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (
                        F.col("n_docs") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("heaps_beta"),
        )
        .orderBy("source")
    )


_TX17B_PPD = 20  # decimation dial: fit points per decade of corpus rank


@register(
    "tx17b_heaps_vocab_decimated",
    oracle=f"""
    WITH tok AS (
      SELECT source, doc_id, unnest({_TOKS}) AS token FROM documents
    ), first AS (
      SELECT source, token, MIN(doc_id) AS doc_id
      FROM tok GROUP BY source, token
    ), newc AS (
      SELECT source, doc_id, COUNT(*) AS new_tokens
      FROM first GROUP BY source, doc_id
    ), per_doc AS (
      SELECT d.source, d.doc_id,
             len({_TOKS}) AS n_tokens,
             COALESCE(n.new_tokens, 0) AS new_tokens
      FROM documents d LEFT JOIN newc n
        ON d.source = n.source AND d.doc_id = n.doc_id
    ), cum AS (
      SELECT source,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS nn,
             SUM(new_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS vv,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
      FROM per_doc
    ), dec AS (
      SELECT source, nn, vv FROM cum
      WHERE rk = 1
         OR floor(log10(rk) * {_TX17B_PPD})
            <> floor(log10(greatest(rk - 1, 1)) * {_TX17B_PPD})
    ), pts AS (
      SELECT source,
             CAST(ROUND(ln(nn), 8) AS DECIMAL(18,8)) AS x,
             CAST(ROUND(ln(vv), 8) AS DECIMAL(18,8)) AS y
      FROM dec
    ), st AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM pts GROUP BY source HAVING COUNT(*) >= 2
    ), tot AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(new_tokens) AS BIGINT) AS n_vocab
      FROM per_doc GROUP BY source
    )
    SELECT st.source, CAST(st.n_docs AS BIGINT) AS n_docs,
           tot.n_tokens, tot.n_vocab,
           ROUND((st.n_docs * st.sxy - st.sx * st.sy)
                 / (st.n_docs * st.sxx - st.sx * st.sx), 6) + 0.0 AS heaps_beta
    FROM st JOIN tot USING (source) ORDER BY st.source
    """,
    tags=("text", "heaps", "vocabulary", "quality", "scale-dial"),
    tables=("documents",),
)
def tx17b_heaps_vocab_decimated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx17's Heaps'-law fit with the DECIMATION DIAL FORCED ON (20 fit
    points per decade of per-source rank) — the scale path for a source
    whose document count alone overwhelms one window task. The running
    (token, vocab, rank) sums ride ONE grouped two-phase prefix-sum
    (operators/prefixsum.two_phase_prefix_sums: windows partitioned by
    (source, range-bucket), offset ledger n_sources x n_buckets rows,
    broadcast back — no unpartitioned window, plan-guarded), and the OLS
    fit keeps only the first rank of each 10^(1/20) log bucket: a 10^9-doc
    source contributes ~180 curve points instead of 10^9 rows through one
    sort. n_docs reports FITTED POINTS (the decimated count); n_tokens /
    n_vocab stay corpus-exact. Decimation selection is engine-identical
    (exact-integer ranks sit >= ~ppd/(rk*ln10) bucket-units from any edge
    vs ~1e-13 log10 error), so the whole decimated path — bucketing,
    selection, sums, slope — is value-oracle-checked; at fixture scale
    (~25 docs/source) ranks 11+ decimate, exercising both filter branches.
    Registered separately from tx17 so the driver checks BOTH paths every
    rotation; a caller with a source too large for one window task picks
    this query over tx17."""
    return _heaps_fit(spark, points_per_decade=_TX17B_PPD)


_BM25_TERMS = ("window", "merge", "sort")
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 20

# Shared BM25 CTE block (tx18 ranking + tx19 fusion): ends at `scored`
# (doc_id, n_terms, bm25). Constants carry e0 suffixes — see tx18 docstring.
_BM25_CTES = f"""dl AS (
      SELECT doc_id, len({_TOKS}) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      WHERE token IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
      GROUP BY doc_id, token
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln((s.n_docs - d.df + 0.5e0) / (d.df + 0.5e0) + 1)
               * (tf.tf * ({_BM25_K1}e0 + 1))
               / (tf.tf + {_BM25_K1}e0 * (1e0 - {_BM25_B}e0 + {_BM25_B}e0 * dl.dl / s.avgdl)),
             8) AS DECIMAL(18,8)) AS c
      FROM tf JOIN dfreq d USING (token)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats s
    ), scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             ROUND(CAST(SUM(c) AS DOUBLE), 6) + 0.0 AS bm25
      FROM contrib GROUP BY doc_id
    )"""


@register(
    "tx18_bm25_topk",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, n_terms, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT {_BM25_K}
    """,
    tags=("text", "retrieval", "bm25", "topk"),
    tables=("documents",),
)
def tx18_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval top-k — the keyword-side retrieval the
    embedding family (sim1-sim9) doesn't cover: rank documents for a fixed
    term set by Okapi BM25 (k1=1.2, b=0.75, the Robertson idf with +1
    floor so scores stay positive at any df). Data-curation pipelines run
    exactly this shape for targeted subset extraction and eval-leak
    triage where lexical match, not semantic similarity, is the contract.

    Cross-engine float discipline (tx12's): every per-(doc, term)
    contribution is computed in double from EXACT integer/scalar operands
    (tf, df, N, dl integers; avgdl = one division of an exact integer sum)
    with an identically-ordered expression tree on both engines, rounded
    to 8 decimals, and summed per doc as DECIMAL — so the only float SUM
    is exact and order-independent; + 0.0 normalizes negative zero. The
    oracle's constants carry `e0` suffixes (1.2e0, 0.5e0, ...) because a
    bare `1.2 + 1` parses as DECIMAL in DuckDB, and decimal-exact 2.2
    differs from double(1.2)+1 by 1 ulp — enough to flip a contribution
    sitting within ~1e-15 of a rounding boundary (r13 advice).

    Scale posture: the term list is a literal filter ON the postings
    explode (tokens not in the query never leave the scan projection —
    predicate applies before any shuffle), so tf is bounded by |terms| x
    n_docs rows; df is |terms| rows broadcast back; the scalar (N, avgdl)
    frame rides the engine's broadcast-crossJoin idiom; and the final
    ranking is TakeOrderedAndProject (plan-guarded), never a global
    sort."""
    return (
        _bm25_scored(spark)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_K)
    )


def _bm25_scored(spark: SparkSession) -> DataFrame:
    """(doc_id, n_terms, bm25) — the Okapi BM25 scoring frame shared by
    tx18 (direct ranking) and tx19 (the lexical leg of RRF fusion). See
    tx18's docstring for the float discipline and scale posture.

    r15 optimization pass, measured and REJECTED: riding ``dl`` on the
    postings explode as a grouping column (removing the dl subtree and its
    doc-keyed join under contrib, 4 → 3 scans) LOST the interleaved
    min-of-6 A/B at sf0.1 — separate-dl 0.613 s vs combined 0.685 s —
    because the combined pass evaluates split(text) TWICE per row (once
    for token_count, once for the generator; subexpression elimination
    does not cross the Generate boundary), which outweighs the removed
    n_docs-row join. Revisit only with a tokenizer that materializes the
    array once below both consumers."""
    from ..functions.text import token_count, tokens as _tokens

    docs = spark.table("documents")
    dl = docs.select("doc_id", token_count(F.col("text")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1)
                )
                * (F.col("tf") * F.lit(_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1 - _BM25_B)
                        + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        (F.round(F.sum("c").cast("double"), 6) + F.lit(0.0)).alias("bm25"),
    )


_RRF_N = 50  # depth of each input ranking fed to the fusion
_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_TOP = 20  # fused results returned
_RRF_QVEC = 0  # probe id for the semantic leg


@register(
    "tx19_hybrid_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES}, lexn AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM scored
      ) t WHERE lex_rank <= {_RRF_N}
    ), sem0 AS (
      SELECT c.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings c
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {_RRF_QVEC}) p
      WHERE c.vec_id <> {_RRF_QVEC}
    ), semr AS (
      SELECT doc_id, sem_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
        FROM sem0
      ) t WHERE sem_rank <= {_RRF_N}
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             CAST(COALESCE(s.sem_rank, 0) AS BIGINT) AS sem_rank,
             CAST(COALESCE(CAST(ROUND(1e0 / ({_RRF_C} + l.lex_rank), 8)
                                AS DECIMAL(18,8)), 0)
                + COALESCE(CAST(ROUND(1e0 / ({_RRF_C} + s.sem_rank), 8)
                                AS DECIMAL(18,8)), 0) AS DOUBLE) AS rrf_score
      FROM lexn l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
    """,
    tags=("text", "retrieval", "fusion", "similarity", "topk"),
    tables=("documents", "embeddings"),
)
def tx19_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion — reciprocal-rank fusion (RRF, the standard
    score-free combiner) of the two retrieval legs this engine serves:
    tx18's BM25 lexical ranking and sim1's exact-cosine semantic ranking
    for one probe embedding. score(d) = Σ_legs 1/(C + rank_leg(d)) with
    C = 60, over each leg's top-50; docs absent from a leg contribute 0
    (reported rank 0). This is how retrieval is actually served: lexical
    catches exact keyword matches the embedding smooths over, semantic
    catches paraphrases BM25 can't see, and rank fusion needs no score
    calibration between the two scales.

    Exactness: both input ranks are INTEGERS with deterministic
    construction (BM25's decimal-summed scores + doc_id tie-break; rounded
    cosine + id tie-break), each RRF contribution is ONE IEEE division of
    exact integers (bit-identical cross-engine, e0-literal discipline in
    the oracle) rounded to 8 decimals, and the two contributions sum as
    DECIMAL — the whole fused score is reproducible to the last bit.

    Scale posture: each leg truncates to its top-50 BEFORE fusion — the
    lexical leg via TakeOrderedAndProject over the term-filtered postings
    aggregate (tx18's plan), the semantic leg via the probe-broadcast
    corpus scan with WindowGroupLimit (sim1's plan) — so the fusion join,
    the only unpartitioned windows, and the final sort all run over ≤ 100
    rows BY CONSTRUCTION regardless of corpus size (plan-guarded: both
    rank windows sit above rank-k-bounded inputs; no cartesian)."""
    from pyspark.sql.window import Window

    from ..operators.similarity import brute_force_topk

    emb = spark.table("embeddings")
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        _bm25_scored(spark)
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= _RRF_N)
        .select("doc_id", "lex_rank")
    )
    probe = emb.filter(F.col("vec_id") == _RRF_QVEC)
    ws = Window.orderBy(F.desc("cos"), F.asc("neighbor_id"))
    sem = (
        brute_force_topk(emb, probe, k=_RRF_N)
        .withColumn("sem_rank", F.row_number().over(ws))
        .select(F.col("neighbor_id").alias("doc_id"), "sem_rank")
    )
    zero = F.lit(0).cast("decimal(18,8)")
    contrib = lambda rank: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(_RRF_C) + F.col(rank)), 8).cast(
            "decimal(18,8)"
        ),
        zero,
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
            (contrib("lex_rank") + contrib("sem_rank"))
            .cast("double")
            .alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )
