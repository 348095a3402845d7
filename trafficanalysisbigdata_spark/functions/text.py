"""Text-analysis column expressions for the training-data pipeline surface.

All pure Catalyst (split / filter / transform / aggregate lambdas — JVM-side,
no Python UDFs): token counting, stopword quality ratios, lexical diversity,
n-gram heuristic language ID, and document fingerprints (md5 + polynomial
rolling hash). Designed to run over a ``documents(text)``-shaped table at any
scale — every expression is per-row, embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/lexicon heuristic
EN_STOP = ["the", "a", "of", "and", "row", "table", "value"]
ES_STOP = ["el", "la", "de", "los", "datos"]

ROLLING_MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus is single-space separated)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def stopword_count(text: Column, stopwords: list[str]) -> Column:
    lits = [F.lit(s) for s in stopwords]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*lits)))


def stopword_ratio(text: Column, stopwords: list[str]) -> Column:
    """Quality signal: share of tokens that are stopwords (very low → listy /
    non-prose junk, very high → boilerplate)."""
    return stopword_count(text, stopwords) / token_count(text)


def lexical_diversity(text: Column) -> Column:
    """distinct tokens / tokens — near-duplicated boilerplate scores low."""
    return distinct_token_count(text) / token_count(text)


def lang_guess(text: Column) -> Column:
    """Lexicon-vote language ID: count stopword hits per language profile,
    argmax with deterministic precedence (en ≥ es > und)."""
    en = stopword_count(text, EN_STOP)
    es = stopword_count(text, ES_STOP)
    return (
        F.when((en >= es) & (en > 0), F.lit("en"))
        .when(es > en, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def md5_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint; md5 is identical in every engine."""
    return F.md5(text)


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over token lengths: fold(acc*31 + len(tok)) mod
    ``ROLLING_MOD`` — an order-sensitive fingerprint (anagram documents
    differ) computed as a single Catalyst ``aggregate`` lambda, no UDF."""
    lens = F.transform(tokens(text), lambda t: F.length(t).cast("bigint"))
    return F.aggregate(
        lens,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(ROLLING_MOD),
    )


# BPE-style pre-tokenizer classes: letter runs, digit runs, single symbols —
# the split a subword tokenizer applies before merges, so counting these
# approximates a BPE token budget far better than whitespace words do
# (e.g. "world42," is 1 word but 3 pre-tokens).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_ish_tokens(text: Column) -> Column:
    """Regex pre-tokenization (letters | digits | symbol), the
    whitespace-tokenizer's companion for token-budget estimation. Pure
    Catalyst ``regexp_extract_all`` — per-row, JVM-side, no UDF."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def token_bigrams(text: Column) -> Column:
    """Adjacent-token shingles for n-gram Jaccard dedup (0-based F.get).

    Guarded for <2-token documents: ``sequence(0, -1)`` would step DOWNWARD
    ([0, -1]) and fabricate a unigram shingle, diverging from SQL ``range``
    semantics (empty)."""
    toks = tokens(text)
    idx = F.when(F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.get(toks, i), F.get(toks, i + 1)))


def token_ngrams(text: Column, n: int) -> Column:
    """Adjacent n-token shingles (space-joined), same <n-token guard as
    ``token_bigrams``. Longer shingles = rarer collisions: decontamination
    (plans/queries_pipeline.py pipe5) uses n=5 so only genuinely duplicated
    passages — not a shared vocabulary — count as overlap."""
    toks = tokens(text)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
