#!/usr/bin/env python
"""Scale rehearsal: run an operator family at decade-spaced corpus sizes with
the documented scale dials turned, and report the wall time per operator —
the empirical check behind the "linear in corpus size" claims in
operators/dedup.py and operators/similarity.py.

The driver's parquet stops at sf0.1 (5k docs / 2k vectors), so this script
generates its own corpora (seeded; every row a pure function of its id, so
one generator serves every size and dup rows REGENERATE their source):

* documents: zipf-ish draws over a 600-word vocab, ~55 tokens/doc, with 5%
  exact duplicates and 5% near-duplicates (one token substituted) injected —
  the realistic dedup target, unlike the 31-token-vocab driver fixture whose
  candidate volume is dominated by vocabulary collisions.
* embeddings: 8 LOOSE Gaussian clusters in 64-d (intra-cluster cosine ≈ 0.7,
  below the 0.8 near-dup bar) with 5% injected near-twin vectors — so true
  near-dup volume is ~linear in n. (A first cut used tight clusters: every
  same-cluster pair cleared 0.8 and the TRUE output was quadratic, which
  measures fixture pathology, not operator scaling.)

Dial settings at 10× (each documented at its definition):

* dd2  — ``max_bucket`` stays at 256: the cap is ABSOLUTE, that is the point
         (worst-bucket work is constant as the corpus grows).
* dd4  — ``min(5%·n, 256)`` DF cap. The first 10× run of THIS script proved
         the fraction-only cap superlinear (5.75s → 258.7s, 45× at 10×):
         fractional caps admit (f·n)²-pair shingles. The absolute bound was
         added in response; at ≤ sf0.1 it changes no results (f·n < 256).
* dd5  — ``n_centroids`` scales with n (k ≈ n/500): Σ|cell|² stays ~n·cell.
* sim3/sim4 — ``n_planes`` derives IN CODE from the corpus count
         (``similarity.adaptive_n_planes``: clamp(log2(n/128), 4, 8)):
         candidate volume is ~n²·L/2^P, so banding deepens with the corpus
         while OR-amplified recall stays high (L=16 tables). The rehearsal
         passes no dial — it measures the shipped rule.

Usage: ``python scripts/scale_rehearsal.py <mode> [op-prefix ...]`` — one
mode of ``MODES`` per invocation (each fits a CI timeout); op prefixes keep
only the operators whose names start with one of them (a fault-isolated
rerun of one member). Every op is timed by ``_time`` and measures the
shipped code path, never a hand-copied variant. Corpora and sim8m's index
are cached under ``BASE`` through ``io.ensure_artifact`` (``_corpus``), so a
killed generation is never read back; the earlier mutable cache root,
``/tmp/spark_graft_rehearsal``, is inert and safe to delete. A run's
checkpoints, state roots and staged pair lists go under one ``BASE`` leaf
deleted at exit. Each mode prints one JSON line; the numbers land in
BENCH_LOCAL.md.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import sys
import time
import uuid
from dataclasses import dataclass
from typing import Callable

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bench import SF_DIR as SF01_DIR  # the sf0.1 fixtures joins/sqlsf1 amplify
from trafficanalysisbigdata_spark.io import SCRATCH_DIR_CONF, ensure_artifact
from trafficanalysisbigdata_spark.operators import components
from trafficanalysisbigdata_spark.operators import dedup as dd
from trafficanalysisbigdata_spark.operators import multimodal as mm
from trafficanalysisbigdata_spark.operators import similarity as sim
from trafficanalysisbigdata_spark.operators.fuzzy import ed1_pairs
from trafficanalysisbigdata_spark.plans.queries_text import boilerplate_share_report
from trafficanalysisbigdata_spark.plans.registry import load_all
from trafficanalysisbigdata_spark.session import prep
from trafficanalysisbigdata_spark.streaming.dedup import streaming_dedup
from trafficanalysisbigdata_spark.streaming.snapshot import drain
from trafficanalysisbigdata_spark.streaming.stateful import stateful_running_totals
from trafficanalysisbigdata_spark.streaming.upsert import (
    _complete_versions,
    keyed_upsert_batch,
    latest_state,
)
from trafficanalysisbigdata_spark.streaming.windows import watermarked_tumbling_hourly

BASE = "/tmp/spark_graft_keyed_rehearsal"
N_SMALL = 5_000
SCALE = 10
DIM = 64
SEED = 42
PASSES = 2  # bench.py's estimator since r15: min of 2 after a warm pass
RUN_ID = uuid.uuid4().hex[:8]


def _say(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _run_dir(name: str) -> str:
    """A fresh path under this run's one ``BASE`` leaf (checkpoints, state
    roots, staged work dirs); ``main`` deletes the leaf at exit."""
    return os.path.join(BASE, f"run_{RUN_ID}", f"{name}_{uuid.uuid4().hex[:8]}")


@contextlib.contextmanager
def _scratch_root(spark, run_dir: str):
    """The engine's scratch root pointed at ``run_dir`` for the block, so
    the table groups the near-dup router stages past its frontier land
    there for ``_lsh_groups`` to count."""
    spark.conf.set(SCRATCH_DIR_CONF, run_dir)
    try:
        yield
    finally:
        spark.conf.unset(SCRATCH_DIR_CONF)


def _lsh_groups(run_dir: str) -> int:
    """How many staged table groups the near-dup router wrote under
    ``run_dir`` (one ``lsh-<uuid>`` leaf per staged call, one
    ``tables_<offset>`` directory per group; 0 when it did not stage)."""
    if not os.path.isdir(run_dir):
        return 0
    return sum(
        len(os.listdir(os.path.join(run_dir, leaf)))
        for leaf in os.listdir(run_dir)
        if leaf.startswith("lsh-")
    )


def _time(fn: Callable[[], DataFrame | None], label: str, once: bool = False) -> float:
    """Wall seconds of ``fn``: a DataFrame it returns runs into the noop sink
    (``None`` means ``fn`` did its own work — a drained stream, a written
    parquet). One warm pass (codegen, broadcast compile, state-store init),
    then the min of ``PASSES`` timed passes: the host shows roaming
    multi-second stalls that land on whichever op is running (see
    BENCH_LOCAL.md), and scheduling noise only ever ADDS time — min is the
    clean signal. ``once`` is one un-warmed pass, for runs too long to
    repeat (see the call sites). A failing op records -1 and prints its
    error: a DNF must not eat the other receipts."""

    def run() -> None:
        df = fn()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()

    try:
        if not once:
            run()
        ts = []
        for _ in range(1 if once else PASSES):
            t0 = time.perf_counter()
            run()
            ts.append(round(time.perf_counter() - t0, 2))
    except Exception as e:
        _say(f"  {label}: FAILED {type(e).__name__}: {e}")
        return -1.0
    _say(f"  {label}: {ts} -> {min(ts)}s")
    return min(ts)


def _select(ops: dict, prefixes: tuple[str, ...]) -> dict:
    """The entries of ``ops`` whose names start with one of ``prefixes``
    (all of them when there are none)."""
    return {k: v for k, v in ops.items() if not prefixes or k.startswith(prefixes)}


def _time_all(ops: dict[str, Callable], prefixes: tuple[str, ...], tag: str) -> dict:
    return {name: _time(fn, f"{tag} {name}") for name, fn in _select(ops, prefixes).items()}


def _ratio(lo: float, hi: float) -> float:
    return round(hi / lo, 2) if lo > 0 and hi >= 0 else -1.0


# --- corpora ---------------------------------------------------------------


def gen_documents_dist(spark, n_docs: int, path: str) -> None:
    """Seeded zipf word salad with 5% exact and 5% near (one token
    substituted) dups, generated DISTRIBUTIVELY: text is a pure function of
    doc_id, so dup docs REGENERATE their source's text from its id instead
    of joining — no driver-side list, linear scale-out to any corpus size."""
    import pandas as pd

    n_base = int(n_docs * 0.90)
    n_exact = int(n_docs * 0.05)

    def gen(batches):
        vocab = np.array([f"w{i:03d}" for i in range(600)])
        # zipf-ish weights: heavy head like real text
        w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
        w /= w.sum()

        def base_text(i: int) -> str:
            rng = np.random.RandomState((SEED ^ (i * 2654435761)) % 2**31)
            L = 40 + int(rng.rand() * 30)
            return " ".join(rng.choice(vocab, size=L, p=w))

        for pdf in batches:
            out = []
            for i in pdf["doc_id"]:
                i = int(i)
                if i < n_base:
                    t = base_text(i)
                elif i < n_base + n_exact:
                    t = base_text((i * 40503) % n_base)
                else:
                    rng = np.random.RandomState((SEED ^ (i * 97)) % 2**31)
                    toks = base_text((i * 40503) % n_base).split()
                    toks[int(rng.rand() * len(toks))] = f"w{int(rng.rand() * 600):03d}"
                    t = " ".join(toks)
                out.append((i, t, len(t)))
            yield pd.DataFrame(out, columns=["doc_id", "text", "n_chars"])

    (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .repartition(64)
        .mapInPandas(gen, "doc_id long, text string, n_chars int")
        .write.mode("overwrite")
        .parquet(path)
    )


def gen_embeddings_dist(spark, n_vecs: int, path: str) -> None:
    """8 loose Gaussian clusters with 5% near-twins (cos ≈ 0.997 to their
    source: the linear true-dup signal), generated DISTRIBUTIVELY: every
    vector is a pure function of vec_id (twins REGENERATE their source from
    its id), so the generator scales linearly and the (source, twin)
    ground-truth pair set is derivable in closed form (``_twin_recall``)."""
    import pandas as pd

    n_base = int(n_vecs * 0.95)

    def gen(batches):
        rng0 = np.random.RandomState(SEED)
        centers = rng0.randn(8, DIM) * 4.0

        def base_vec(i: int):
            r = np.random.RandomState((SEED ^ (i * 2654435761)) % 2**31)
            return centers[i % 8] + r.randn(DIM) * 2.5

        for pdf in batches:
            out = []
            for i in pdf["vec_id"]:
                i = int(i)
                if i < n_base:
                    v = base_vec(i)
                else:
                    src = (i * 40503) % n_base
                    r = np.random.RandomState((SEED ^ (i * 97)) % 2**31)
                    v = base_vec(src) + r.randn(DIM) * 0.15
                out.append((i, [float(x) for x in v]))
            yield pd.DataFrame(out, columns=["vec_id", "embedding"])

    (
        spark.range(n_vecs)
        .withColumnRenamed("id", "vec_id")
        .repartition(64)
        .mapInPandas(gen, "vec_id long, embedding array<float>")
        .write.mode("overwrite")
        .parquet(path)
    )


def gen_stream_events(spark, n_rows: int, path: str, n_files: int = 8) -> None:
    """Deterministic event stream staged as n_files parquet files (each file
    = one potential micro-batch under maxFilesPerTrigger)."""
    df = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        # 1704067200 = 2024-01-01T00:00:00 UTC
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * 7919) % (30 * 24 * 3600)
        ).alias("ts"),
        ((F.col("id") * 104729) % max(n_rows // 10, 1)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("view", "click", "purchase", "signup", "error")]),
            ((F.col("id") % 5) + 1).cast("int"),
        ).alias("event_type"),
        (((F.col("id") * 31) % 10000) / 100.0).alias("value"),
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def _amplify(spark, path: str, copies: int, keyed: dict, verbatim: tuple = ()) -> None:
    """Write ``copies`` key-offset copies of each sf0.1 table in ``keyed``
    (name -> (key columns, output partitions)) to ``path/<name>.parquet``,
    plus byte copies of the ``verbatim`` tables. Copy i offsets every listed
    key by i·1e8, so a row of copy i still joins copy i of its parent: join
    fan-outs, selectivities and value distributions match the originals and
    only the DATA VOLUME grows."""
    for name, (keys, n_parts) in keyed.items():
        df = spark.read.parquet(f"{SF01_DIR}/{name}.parquet")
        parts = [
            df.select(
                *[
                    (F.col(c) + F.lit(i * 100_000_000)).alias(c) if c in keys else c
                    for c in df.columns
                ]
            )
            for i in range(copies)
        ]
        functools.reduce(DataFrame.unionByName, parts).repartition(n_parts).write.mode(
            "overwrite"
        ).parquet(f"{path}/{name}.parquet")
    for name in verbatim:
        shutil.copyfile(f"{SF01_DIR}/{name}.parquet", f"{path}/{name}.parquet")


def gen_join_facts(spark, copies: int, path: str) -> None:
    """The joins mode's fact tables (lineitem, orders, events) amplified;
    dims stay the shared sf0.1 ones, so join fan-out semantics hold."""
    keyed = {
        "lineitem": (["l_orderkey"], 64),
        "orders": (["o_orderkey"], 64),
        "events": (["event_id"], 64),
    }
    _amplify(spark, path, copies, keyed)


def gen_sf1(spark, copies: int, path: str) -> None:
    """An sf1-shaped TPC-H directory (10× sf0.1) with referential integrity:
    copy i of orders points at copy i of customer, copy i of lineitem at
    copy i of orders/part/supplier. region/nation are fixed-size in TPC-H
    and copy as-is; events/documents/embeddings are byte-copied (the sql
    family doesn't read them, but register_views must find every table)."""
    keyed = {
        "customer": (["c_custkey"], 8),
        "supplier": (["s_suppkey"], 4),
        "part": (["p_partkey"], 8),
        "orders": (["o_orderkey", "o_custkey"], 16),
        "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], 64),
    }
    verbatim = ("region", "nation", "events", "documents", "embeddings")
    _amplify(spark, path, copies, keyed, verbatim)


_GENERATORS = {
    "docs": gen_documents_dist,
    "emb": gen_embeddings_dist,
    "stream": gen_stream_events,
    "facts": gen_join_facts,
    "tpch": gen_sf1,
}


def _corpus(spark, kind: str, n: int) -> str:
    """Directory of the cached ``kind`` corpus of size ``n`` (rows, or sf0.1
    copies for facts/tpch), published for ``BASE/<kind>_<n>`` by
    ``io.ensure_artifact`` on first use."""

    def gen(path: str) -> None:
        t0 = time.perf_counter()
        _GENERATORS[kind](spark, n, path)
        _say(f"  gen {kind}_{n}: {time.perf_counter() - t0:.1f}s")

    return ensure_artifact(f"{BASE}/{kind}_{n}", f"{kind}|{n}", gen)


def _read(spark, kind: str, n: int) -> DataFrame:
    return spark.read.parquet(_corpus(spark, kind, n))


def docs_with_lang(docs):
    """Rehearsal corpus lacks the fixture's lang/source dims; derive
    deterministic 4-way splits so per-lang/per-source reports have real
    groups."""
    return docs.withColumn(
        "lang", F.concat(F.lit("l"), (F.col("doc_id") % 4).cast("string"))
    ).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("string"))
    )


# --- shared ops and receipts -------------------------------------------------


def _registered_over_view(spark, qname: str, docs: DataFrame):
    """Thunk running a REGISTERED query over a ``documents`` temp view of
    rehearsal data — the shipped code path."""

    def run():
        prep(spark)
        docs_with_lang(docs).createOrReplaceTempView("documents")
        return load_all()[qname].fn(spark, "")

    return run


def _dd2(docs):
    return dd.minhash_lsh_scores(docs, max_bucket=256).filter(
        F.col("jaccard") >= 0.5
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("jaccard"), 2).alias("s"))


def _dd5(emb, n: int):
    # dd5 dial: k ≈ n/cell_size
    return sim.centroid_semantic_dedup(emb, n_centroids=max(8, n // 500), threshold=0.30).agg(
        F.sum("n_dupes").alias("dupes")
    )


def _dd6(docs):
    """dd6 over synthetic 16-chains, through the shipped size gate: the
    symmetrized edge list (~1.9 rows a doc) is checkpointed and its stored
    bytes (~80 bytes a row) weighed against the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (10 MB by default). 50k docs
    (~7.9 MB) land on the one-task union-find arm; 500k and 1M docs exceed
    the bound and measure the iterative machinery itself (pointer jumping,
    checkpointing) — component COUNT scales with n while round count stays
    O(log 16), so the loop's wall should track edge volume."""
    return components.connected_components(
        docs.select(F.col("doc_id").alias("doc1"))
        .filter(F.col("doc_id") % 16 != 15)
        .withColumn("doc2", F.col("doc1") + 1)
    ).agg(F.count(F.lit(1)).alias("n"), F.countDistinct("component").alias("n_comp"))


def _dd7(docs):
    return dd.duplicate_span_stats(docs).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("dup_frac"), 4).alias("avg_frac")
    )


def _neighbors(df: DataFrame) -> dict[int, set]:
    out: dict[int, set] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall_at_5(truth: dict[int, set], approx: DataFrame) -> float:
    """Mean top-5 overlap of ``approx`` with exact brute-force neighbors
    (exact ground truth is probes × corpus — linear, feasible at 500k)."""
    got = _neighbors(approx)
    rec = [len(t & got.get(q, set())) / len(t) for q, t in truth.items()]
    return round(sum(rec) / max(1, len(rec)), 3)


def _twin_recall(spark, n: int, pairs: DataFrame) -> tuple[float, int]:
    """(fraction of the generator's injected near-twin pairs present in
    ``pairs``, pair count). The twin set is known in closed form from
    ``gen_embeddings_dist`` — all-pairs ground truth would be quadratic,
    the twin set is the linear true signal."""
    n_base = int(n * 0.95)
    src = (F.col("id") * 40503) % n_base
    expected = (
        spark.range(n_base, n)
        .select(F.least(src, F.col("id")).alias("id1"), F.greatest(src, F.col("id")).alias("id2"))
        .distinct()
        .withColumn("twin", F.lit(1))
    )
    # one pass over the (distinct) pair list yields both counts
    r = (
        pairs.select("id1", "id2")
        .join(expected, ["id1", "id2"], "left")
        .agg(F.count(F.lit(1)).alias("n"), F.count("twin").alias("found"))
        .first()
    )
    return round(r.found / max(1, expected.count()), 3), r.n


def _sim8_indexed(spark, emb, n_vecs: int, n_clusters: int):
    """Thunk: query the persisted hash-IVF index (built once per corpus,
    outside the timed region — the amortized production lifecycle)."""

    def run():
        index_dir = ensure_artifact(
            f"{BASE}/hivf_{n_vecs}_k{n_clusters}",
            f"hivf|{n_vecs}|{n_clusters}",
            lambda d: sim.build_hash_ivf_index(emb, d, n_clusters=n_clusters),
        )
        probes = emb.filter(F.col("vec_id") < 50)
        return sim.hash_ivf_topk_indexed(spark, index_dir, probes, k=5, n_probe=4)

    return run


def _stream(spark, src: str) -> DataFrame:
    # maxFilesPerTrigger=2 over the 8 staged files: 4 forced micro-batches
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)


def _drain(df: DataFrame, mode: str = "append", batch=None) -> None:
    """Run ``df`` as an AvailableNow stream into the noop sink (or the
    ``batch`` foreachBatch writer) until it drains, checkpointed under this
    run's leaf."""
    w = df.writeStream.option("checkpointLocation", _run_dir("ckpt")).trigger(availableNow=True)
    drain((w.foreachBatch(batch) if batch else w.format("noop").outputMode(mode)).start())


def _upsert(spark, src: str, state_root: str) -> None:
    """st11's sink: the shipped keyed-upsert foreachBatch writer (decimal
    sums, ``_SUCCESS``-gated versions, retention at 3)."""
    _drain(_stream(spark, src), batch=keyed_upsert_batch(state_root))


# --- modes -------------------------------------------------------------------


def run_family(spark, sizes: dict, ops: tuple) -> dict:
    """The dedup/similarity family at one decade point: n docs and n·2/5
    vectors (the fixture's 5000:2000 ratio). dd2/dd4 run THE SAME pipeline
    operators the registered queries use (dedup.minhash_lsh_scores /
    ngram_jaccard_scores)."""
    results = {}
    for tag, n in sizes.items():
        n_vecs = n * 2 // 5
        docs, emb = _read(spark, "docs", n), _read(spark, "emb", n_vecs)
        probes = emb.filter(F.col("vec_id") < 50)
        _say(f"--- {tag} ({n} docs, {n_vecs} vectors) ---")
        family = {
            "dd1_exact": lambda: dd.exact_dedup_summary(docs),
            "dd2_minhash_lsh": lambda: _dd2(docs),
            "dd3_simhash": lambda: dd.simhash16(dd.doc_token_sets(docs))
            .groupBy("simhash")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.count(F.lit(1)).alias("groups")),
            "dd4_ngram_jaccard": lambda: dd.ngram_jaccard_scores(docs)
            .filter(F.col("jaccard") >= 0.25)
            .agg(F.count(F.lit(1)).alias("n")),
            "dd5_centroid_dedup": lambda: _dd5(emb, n),
            "sim1_bruteforce_topk": lambda: sim.brute_force_topk(emb, probes, k=5),
            # sim3, like sim4, runs the in-code adaptive_n_planes rule
            "sim3_lsh_topk": lambda: sim.lsh_topk(emb, probes, k=5, n_tables=16, dim=DIM),
            # sim4 takes NO explicit n_planes: the rehearsal measures the
            # in-code adaptive_n_planes rule itself (P=5 at 5k, P=8 at 50k)
            "sim4_lsh_neardup": lambda: sim.lsh_neardup_pairs(emb, 0.8, n_tables=16, dim=DIM).agg(
                F.count(F.lit(1)).alias("pairs")
            ),
            "dd7_duplicate_spans": lambda: _dd7(docs),
            "sim7_int8_quantized_topk": lambda: sim.quantized_topk(emb, probes, k=5),
            # dd8 through the REGISTERED query: increment-vs-corpus gate —
            # wall time should track the increment's postings, not corpus²
            "dd8_incremental_dedup": _registered_over_view(spark, "dd8_incremental_dedup", docs),
            # sim8: steady-state indexed query (k grows with n, dd5's rule)
            "sim8_hash_ivf_query": _sim8_indexed(spark, emb, n_vecs, 64 if tag == "10x" else 16),
            "dd6_components": lambda: _dd6(docs),
        }
        results[tag] = _time_all(family, ops, tag)
    return {"results": results}


def run_docs(spark, sizes: dict, ops: tuple) -> dict:
    """The doc-postings family at 10x and 100x (500k docs) — the operators a
    100 TB corpus leans on hardest (dd7 span postings, dd8's increment gate,
    the text family's heaviest registered queries, dd4's absolute DF cap,
    the iterative CC machinery at 500k nodes); docs1m runs the same family
    at a single 1M point. A sublinear-in-data ratio (< 10 for 10x more
    docs) confirms the linear-postings claims extrapolate."""
    results = {}
    for tag, n in sizes.items():
        docs = _read(spark, "docs", n)
        family = {
            "dd7_duplicate_spans": lambda: _dd7(docs),
            "dd8_incremental_dedup": _registered_over_view(spark, "dd8_incremental_dedup", docs),
            # 16-chains keep round count O(log 16) while edge volume grows 10x
            "dd6_components": lambda: _dd6(docs),
            "tx6_tfidf": _registered_over_view(spark, "tx6_tfidf_top_terms", docs),
            "tx9_boilerplate": _registered_over_view(spark, "tx9_boilerplate_share", docs),
            # winnowing: per-doc sliding window min (doc_id-partitioned, no
            # hot key by construction) + dd7-style hash postings
            "tx16_winnow": _registered_over_view(spark, "tx16_winnowing_fingerprints", docs),
            # the min(5%·n, 256) DF cap: the absolute bound rules past 5.1k
            # docs, so 500k/1M walls measure the cap on a corpus 100x past
            # where it was derived
            "dd4_ngram_jaccard": _registered_over_view(spark, "dd4_ngram_jaccard", docs),
        }
        results[tag] = _time_all(family, ops, tag)
    out = {"results": results}
    if {"10x", "100x"} <= results.keys():
        lo, hi = results["10x"], results["100x"]
        out["ratio_100x_vs_10x"] = {k: _ratio(lo[k], hi[k]) for k in lo}
    return out


def run_lsh(spark, sizes: dict, ops: tuple) -> dict:
    """Scale points for the LSH/IVF families with the SHIPPED dials engaged,
    plus recall at scale:

    * dd2  — absolute ``max_bucket=256`` (constant worst-bucket work);
    * dd5  — k ≈ n/500 (pair volume ≈ n · cell_size, assignment n·k);
    * sim3 — in-code ``adaptive_n_planes`` and ``n_tables=None`` (the
      shipped (P, L) auto-dial, derived from one count() of the corpus);
    * sim4 — the auto-dial **plus** ``max_bucket=1024``: past the P cap the
      per-bucket population grows with n again, so the absolute bucket cap
      is the engaged dial for the PAIR-LIST consumer — the measured trade
      is wall vs the twin recall printed alongside.

    Receipts: sim3 recall@5 vs exact brute force on 50 probes (plus the
    32-table step at the million-vector points, validated one decade past
    its 500k measurement BEFORE the dial hands it out); sim4 twin recall
    and pairs out."""
    results = {}
    for tag, n in sizes.items():
        emb = _read(spark, "emb", n)  # 1 vector per doc at this mode's scale
        probes = emb.filter(F.col("vec_id") < 50)
        # sim4 at the 1m point costs ~36 min per execution (the round-12
        # router receipt: 2,155 s), so it runs ONE materializing pass of the
        # router at its defaults (past the frontier it stages), and the
        # receipts read the parquet back. Single-pass DNF'd three ways:
        # P=12's 4.3B-candidate distinct exceeds disk; at P=14/16 the
        # scoring joins sort-merged (1M prenormed rows are 560 MB > the 512
        # MB broadcast budget). Staging bounds the transient distinct to
        # gs/L of total and per-group scoring at twice the budget stays
        # map-side.
        staged = _run_dir("sim4_pairs") if tag == "1m" else None

        def sim3(n_tables=None):
            return sim.lsh_topk(emb, probes, k=5, n_tables=n_tables, n_planes=None, dim=DIM)

        def sim4_pairs():
            return sim.lsh_neardup_pairs(
                emb, 0.8, n_tables=None, dim=DIM, max_bucket=1024, n_rows=n
            )

        def sim4():
            if not staged:
                return sim4_pairs().agg(F.count(F.lit(1)).alias("pairs"))
            with _scratch_root(spark, staged):
                sim4_pairs().write.mode("overwrite").parquet(f"{staged}_final")

        family = {
            "dd2_minhash_lsh": lambda: _dd2(_read(spark, "docs", n)),
            "dd5_centroid_dedup": lambda: _dd5(emb, n),
            "sim3_lsh_topk": sim3,
            "sim4_lsh_neardup": sim4,
        }
        # dd5 at 100x (k = 1000 centroids, routed through the two-level
        # quantizer) keeps a single un-warmed pass: comparable with round
        # 8's row, and an unexpected regression can't eat the round's wall
        once = {"dd5_centroid_dedup": tag == "100x", "sim4_lsh_neardup": bool(staged)}
        res = {
            name: _time(fn, f"{tag} {name}", once=once.get(name, False))
            for name, fn in _select(family, ops).items()
        }
        if res.get("sim3_lsh_topk", -1) >= 0:
            truth = _neighbors(sim.brute_force_topk(emb, probes, k=5))
            res["sim3_recall_at_5"] = _recall_at_5(truth, sim3())
            if tag.endswith("m"):  # the million-vector points
                res["sim3_recall_at_5_L32"] = _recall_at_5(truth, sim3(n_tables=32))
        if res.get("sim4_lsh_neardup", -1) >= 0:
            pairs = spark.read.parquet(f"{staged}_final") if staged else sim4_pairs()
            res["sim4_twin_recall"], res["sim4_pairs_out"] = _twin_recall(spark, n, pairs)
            if staged:
                res["sim4_staged_groups"] = _lsh_groups(staged)
        results[tag] = res
    out = {"results": results}
    if {"10x", "100x"} <= results.keys():
        lo, hi = results["10x"], results["100x"]
        out["ratio_100x_vs_10x"] = {k: _ratio(lo[k], hi[k]) for k in lo if k in family}
    return out


def run_text(spark, sizes: dict, ops: tuple) -> dict:
    """Text-analysis scaling: tx6 TF-IDF and tx7 entropy through the
    REGISTERED query functions (spec.fn over a temp view — the shipped code
    path), and tx9's boilerplate report with both document-frequency
    strategies (``boilerplate_share_report``: the postings window below
    tx9's 200k-doc switch, the pre-aggregated DF table + join above it), so
    the crossover in the tx9 docstring carries measured numbers at both
    sizes. At 1x the two strategies must agree bit for bit."""
    prep(spark)
    specs = load_all()
    results = {}
    for tag, n in sizes.items():
        docs = (
            _read(spark, "docs", n)
            # rehearsal corpus lacks the fixture's source/lang dims; derive
            # a deterministic 4-way source split so rollups have real groups
            .withColumn("source", F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("string")))
            .withColumn("lang", F.lit("en"))
        )
        docs.createOrReplaceTempView("documents")
        _say(f"--- text {tag} ({n} docs) ---")
        if tag == "1x":
            window = boilerplate_share_report(docs, False).collect()
            joined = boilerplate_share_report(docs, True).collect()
            if window != joined:
                raise AssertionError(f"tx9 strategies diverged:\n{window}\n{joined}")
        family = {
            "tx6_tfidf": lambda: specs["tx6_tfidf_top_terms"].fn(spark, ""),
            "tx7_entropy": lambda: specs["tx7_token_entropy_by_lang"].fn(spark, ""),
            "tx9_window": lambda: boilerplate_share_report(docs, False),
            "tx9_df_join": lambda: boilerplate_share_report(docs, True),
        }
        results[tag] = _time_all(family, ops, f"text {tag}")
    return {"results": results}


def run_joins(spark, sizes: dict, ops: tuple) -> dict:
    """Join/agg scaling: j1-shape star join and a1-shape agg at 1× (sf0.1)
    and 10× (replicated facts, offset keys). Broadcast dims + partial aggs
    mean cost should track the FACT side ~linearly."""
    sf01 = {
        t: spark.read.parquet(f"{SF01_DIR}/{t}.parquet")
        for t in ("lineitem", "orders", "customer", "nation", "events")
    }
    ((tag, copies),) = sizes.items()
    facts = _corpus(spark, "facts", copies)

    def star_join(l, o):
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(sf01["customer"]), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(sf01["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
                ).alias("revenue")
            )
        )

    def agg(e):
        return e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )

    def bloom_join(on: bool):
        """j9's runtime-filter claim measured: a selective orders filter
        joined against the amplified lineitem as SMJ, bloom injection on vs
        off — the delta is map-side fact rows that never reach the shuffle."""
        s2 = spark.newSession()
        bloom = "spark.sql.optimizer.runtime.bloomFilter."
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2.conf.set(bloom + "enabled", str(on).lower())
        s2.conf.set(bloom + "creationSideThreshold", "100MB")
        s2.conf.set(bloom + "applicationSideScanSizeThreshold", "1KB")
        l = s2.read.parquet(f"{facts}/lineitem.parquet")
        o = s2.read.parquet(f"{facts}/orders.parquet").filter(F.col("o_totalprice") > 450000)
        # wide measures so the fact side shuffles real payload (a count-only
        # agg prunes lineitem to its 8-byte key and nothing can win)
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_extendedprice").alias("s1"),
                F.sum("l_quantity").alias("s2"),
                F.sum("l_tax").alias("s3"),
                F.sum("l_discount").alias("s4"),
            )
        )

    big = {t: spark.read.parquet(f"{facts}/{t}.parquet") for t in ("lineitem", "orders", "events")}
    cases = {
        "j1_star_1x": lambda: star_join(sf01["lineitem"], sf01["orders"]),
        f"j1_star_{tag}": lambda: star_join(big["lineitem"], big["orders"]),
        "a1_agg_1x": lambda: agg(sf01["events"]),
        f"a1_agg_{tag}": lambda: agg(big["events"]),
        f"j9_smj_{tag}_bloom_off": lambda: bloom_join(False),
        f"j9_smj_{tag}_bloom_on": lambda: bloom_join(True),
    }
    return {"results": {tag: _time_all(cases, ops, "joins")}}


def run_mm(spark, sizes: dict, ops: tuple) -> dict:
    """Multimodal scaling: the Arrow-batched mapInPandas stages (decode/
    features, resize, audio windowing, perceptual hash) over the synthesized
    media table. All four are embarrassingly parallel — zero shuffles before
    the final summary agg — so the 10×/1× ratio should track data volume."""
    results = {}
    for tag, n in sizes.items():
        docs = (
            _read(spark, "docs", n)
            # the rehearsal corpus lacks source/lang; derive deterministic
            # ones so synthesize_media's meta struct is populated the same way
            .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") % 5)))
            .withColumn(
                "lang",
                F.element_at(
                    F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                    (F.col("doc_id") % 3 + 1).cast("int"),
                ),
            )
        )
        media = mm.synthesize_media(docs)
        _say(f"--- mm {tag} ({n} assets) ---")
        family = {
            "mm3_features": lambda: mm.extract_media_features(media).agg(
                F.count(F.lit(1)).alias("n"), F.sum("width").alias("w")
            ),
            "mm5_resize": lambda: mm.resize_media(media).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b")
            ),
            "mm6_audio_energy": lambda: mm.audio_window_energy(media).agg(
                F.count(F.lit(1)).alias("n"), F.sum("energy").alias("e")
            ),
            "mm8_phash_groups": lambda: mm.media_phash(media)
            .groupBy("phash")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.count(F.lit(1)).alias("groups")),
        }
        results[tag] = _time_all(family, ops, f"mm {tag}")
    return {"results": results}


def run_streaming(spark, sizes: dict, ops: tuple) -> dict:
    """Throughput of the REAL streaming operators (AvailableNow, 4 forced
    micro-batches): watermarked tumbling-window agg, session windows,
    watermark-bounded dedup, applyInPandasWithState running totals and
    st11's keyed-upsert foreachBatch sink. Per-op wall seconds; rows/sec =
    n_rows / wall."""
    results = {}
    for tag, n in sizes.items():
        src = _corpus(spark, "stream", n)
        _say(f"--- streaming {tag} ({n} rows, 4 micro-batches) ---")
        family = {
            "st_tumbling_agg": lambda: _drain(watermarked_tumbling_hourly(_stream(spark, src))),
            "st_session_windows": lambda: _drain(
                _stream(spark, src)
                .withWatermark("ts", "0 seconds")
                .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
                .agg(F.count(F.lit(1)).alias("n"))
            ),
            "st_watermark_dedup": lambda: _drain(
                streaming_dedup(_stream(spark, src), ["user_id", "event_type"], delay="2 hours")
            ),
            "st_stateful_totals": lambda: _drain(
                stateful_running_totals(
                    _stream(spark, src).select("event_id", "user_id", "value")
                ),
                "update",
            ),
            "st_upsert_sink": lambda: _upsert(spark, src, _run_dir("state")),
        }
        res = {}
        for name, wall in _time_all(family, ops, f"streaming {tag}").items():
            res[name] = wall
            res[f"{name}_rows_per_s"] = int(n / wall) if wall > 0 else -1
        results[tag] = res
    return {"results": results}


def run_st11_deep(spark, sizes: dict, ops: tuple) -> dict:
    """st11 (the PRODUCTION ``keyed_upsert_batch`` sink, retention on) one
    decade past the round-7 table: 100k -> 1M measured flat (1.77 -> 1.88 s);
    10M is where version-directory churn, the per-batch full state copy and
    ``_SUCCESS`` listing costs could start to show if the state were secretly
    proportional to stream history instead of the key set. Receipts: wall +
    rows/s per decade, final complete-version count (retention must hold it
    at ``KEEP_VERSIONS``), and the final state's key count."""
    results = {}
    for tag, n in sizes.items():
        src = _corpus(spark, "stream", n)
        roots: list[str] = []

        def one_pass() -> None:
            roots.append(_run_dir("st11"))
            _upsert(spark, src, roots[-1])

        wall = _time(one_pass, f"st11 {tag}")
        res = {"wall_s": wall, "rows_per_s": int(n / wall) if wall > 0 else -1}
        if wall >= 0:
            res["versions_kept"] = len(_complete_versions(roots[-1]))
            res["state_keys"] = latest_state(spark, roots[-1]).count()
        results[tag] = res
    return {"results": results}


def run_fuzzy(spark, sizes: dict, ops: tuple) -> dict:
    """Scale points for the FastSS ED-1 matcher (operators/fuzzy.py, j10's
    engine): zero-padded numeric names like the customer fixture, where the
    true pair set is exactly the one-digit-substitution neighborhoods, so
    expected output is ~n x digits x 9 / 2 in-range pairs — linear in n.
    Receipts: wall per decade plus pairs-out (the linearity check) and the
    blocked plan's candidate discipline (no cross join by construction)."""
    results = {}
    for tag, n in sizes.items():
        names = spark.range(n).select(
            F.col("id"), F.format_string("Customer#%09d", F.col("id")).alias("name")
        )

        def run():
            return ed1_pairs(names, "id", "name").agg(
                F.count(F.lit(1)).alias("pairs"), F.sum("dist").alias("dist_sum")
            )

        wall = _time(run, f"fuzzy {tag}")
        res = {"wall_s": wall}
        if wall >= 0:
            res["pairs_out"] = run().collect()[0]["pairs"]
            res["us_per_pair"] = round(wall * 1e6 / max(1, res["pairs_out"]), 2)
        results[tag] = res
    out = {"results": results}
    if {"10x", "100x"} <= results.keys():
        out["ratio_100x_vs_10x"] = _ratio(results["10x"]["wall_s"], results["100x"]["wall_s"])
    return out


def run_ivf(spark, sizes: dict, ops: tuple) -> dict:
    """The production-IVF lifecycle at the 500k point dd5's wall was
    measured at: build the persisted hash-IVF index at k = n/500 = 1000
    cells (assignment auto-routes through the two-level quantizer — the
    build-time twin of dd5's fix, since a flat build is the same n*k
    cross join that DNF'd in round 8), then probe with the index already
    on disk. Receipts: build wall (amortized — built once, one un-warmed
    pass), probe wall per n_probe, and recall@5 vs exact brute force — the
    numbers a 100 TB embedding-store operator actually provisions against."""
    results = {}
    for tag, n in sizes.items():
        emb = _read(spark, "emb", n)
        probes = emb.filter(F.col("vec_id") < 50)
        k, idx = max(8, n // 500), _run_dir("hivf")
        res = {
            "build_s": _time(
                lambda: sim.build_hash_ivf_index(emb, idx, n_clusters=k),
                f"ivf {tag} build (k={k})",
                once=True,
            )
        }
        if res["build_s"] >= 0:
            truth = _neighbors(sim.brute_force_topk(emb, probes, k=5))
            for n_probe in (4, 8, 16):
                def probe():
                    return sim.hash_ivf_topk_indexed(spark, idx, probes, k=5, n_probe=n_probe)

                wall = _time(probe, f"ivf {tag} n_probe={n_probe}")
                res[f"probe{n_probe}"] = {"wall_s": wall}
                if wall >= 0:
                    res[f"probe{n_probe}"]["recall_at_5"] = _recall_at_5(truth, probe())
        results[tag] = res
    return {"results": results}


def run_sqlsf1(spark, sizes: dict, ops: tuple) -> dict:
    """The TPC-H sql family at sf0.1 and sf1 (10×) in the SAME session (same
    JVM, same host weather) plus the ratio — one sf1 pass catches planner
    shapes that silently degrade with volume (build sides crossing the
    broadcast threshold, AQE switch points, skewed exchanges) the way the
    LSH rehearsals caught dd5's n·k wall. Rows scale 10×, so a healthy shape
    lands well under 10× wall. ``QuerySpec.run`` releases the previous
    query's caches itself."""
    ((tag, copies),) = sizes.items()
    big = _corpus(spark, "tpch", copies)
    sql = {name: spec for name, spec in load_all().items() if name.startswith("sql")}
    results = {}
    for name, spec in sorted(_select(sql, ops).items()):
        row = {
            "sf01": _time(lambda: spec.run(spark, SF01_DIR), f"{name} sf0.1"),
            tag: _time(lambda: spec.run(spark, big), f"{name} {tag}"),
        }
        row["ratio"] = _ratio(row["sf01"], row[tag])
        results[name] = row
    worst = sorted(results, key=lambda q: -results[q]["ratio"])[:5]
    return {"results": results, "worst_ratios": {q: results[q]["ratio"] for q in worst}}


def run_sim4_auto(spark, sizes: dict, ops: tuple) -> dict:
    """The PUBLIC lsh_neardup_pairs entrypoint at 1M vectors with its
    defaults — must auto-route through the staged arm (table groups under
    the scratch root, pointed at this run's directory), complete, and match
    the explicit-staged run's truth numbers (twin recall 1.000, ~169M
    pairs). One un-warmed pass, like sim4's staged pair list in
    ``run_lsh``."""
    results = {}
    for tag, n in sizes.items():
        emb = _read(spark, "emb", n)
        wd = _run_dir("sim4_auto")

        def auto() -> None:
            with _scratch_root(spark, wd):
                sim.lsh_neardup_pairs(
                    emb, 0.8, n_tables=None, dim=DIM, max_bucket=1024, n_rows=n
                ).write.mode("overwrite").parquet(f"{wd}_final")

        wall = _time(auto, f"sim4 auto {tag}", once=True)
        groups = _lsh_groups(wd)
        res = {"auto_staged": groups > 0, "n_groups": groups, "wall_s": wall}
        if wall >= 0:
            pairs = spark.read.parquet(f"{wd}_final")
            res["twin_recall"], res["pairs_out"] = _twin_recall(spark, n, pairs)
        results[tag] = res
    return {"results": results}


@dataclass(frozen=True)
class Mode:
    run: Callable[[object, dict, tuple], dict]  # (spark, sizes, ops) -> JSON fields
    sizes: dict[str, int]  # size tag -> rows (sf0.1 copies for joins/sqlsf1)
    shuffle: int = 64  # spark.sql.shuffle.partitions
    ops: tuple[str, ...] = ()  # default op-prefix filter


_DECADES = {"10x": N_SMALL * SCALE, "100x": N_SMALL * SCALE * 10}
_SMALL = {"1x": N_SMALL, "10x": N_SMALL * SCALE}

# 256 shuffle partitions for modes whose exchanges outgrow 64: per-partition
# sort memory scales with rows/partition, so the partition count must scale
# with the exchange — dd4's ~1e9-candidate join at 500k OOMs a 48g heap at
# 64 partitions and completes at 256; the 1M pair self-join's per-partition
# sort hit UNABLE_TO_ACQUIRE_MEMORY at 64.
MODES = {
    "1x": Mode(run_family, {"1x": N_SMALL}),
    "10x": Mode(run_family, {"10x": N_SMALL * SCALE}),
    "joins": Mode(run_joins, {"10x": SCALE}),
    "text": Mode(run_text, _SMALL),
    "mm": Mode(run_mm, _SMALL),
    "streaming": Mode(run_streaming, {"1x": 100_000, "10x": 1_000_000}),
    "100x": Mode(run_docs, _DECADES, 256),
    "100xlsh": Mode(run_lsh, _DECADES),
    "st11deep": Mode(run_st11_deep, {"1x": 100_000, "10x": 1_000_000, "100x": 10_000_000}),
    "fuzzy": Mode(run_fuzzy, _DECADES),
    "ivf500k": Mode(run_ivf, {"100x": 500_000}),
    "sqlsf1": Mode(run_sqlsf1, {"sf1": SCALE}),
    # the adaptive-L 32-table step one decade past its 500k receipt
    "sim1m": Mode(run_lsh, {"1m": 1_000_000}, 256, ("sim3", "sim4")),
    # 2M: first corpus where the occupancy rule derives P=13, validating
    # the 12 -> 14 cap raise ahead of the load-bearing frontier
    "sim2m": Mode(run_lsh, {"2m": 2_000_000}, 256, ("sim3",)),
    # 4M derives P=14 — the round-11 cap, measured AT its edge, which is
    # what triggered the round-14 raise to 16
    "sim4m": Mode(run_lsh, {"4m": 4_000_000}, 256, ("sim3",)),
    # 8M is the first corpus deriving P=15, past the old cap: validates the
    # 14 -> 16 raise one step ahead of the frontier
    "sim8m": Mode(run_lsh, {"8m": 8_000_000}, 256, ("sim3",)),
    # the doc-postings family one decade past its 500k receipts
    "docs1m": Mode(run_docs, {"1m": 1_000_000}, 256),
    "sim4auto1m": Mode(run_sim4_auto, {"1m": 1_000_000}, 256),
}


def rehearse(spark, name: str, sizes: dict | None = None, ops: tuple = ()) -> None:
    """Run mode ``name`` (at its declared sizes unless ``sizes`` is given)
    and print its JSON line."""
    mode = MODES[name]
    out = mode.run(spark, sizes or mode.sizes, tuple(ops) or mode.ops)
    print(json.dumps({"mode": name, **out}), flush=True)


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in MODES:
        sys.exit(f"usage: scale_rehearsal.py <mode> [op-prefix ...]\nmodes: {' '.join(MODES)}")
    name = sys.argv[1]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-rehearsal")
        .config("spark.sql.shuffle.partitions", str(MODES[name].shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    prep(spark)
    try:
        rehearse(spark, name, ops=tuple(sys.argv[2:]))
    finally:
        shutil.rmtree(f"{BASE}/run_{RUN_ID}", ignore_errors=True)


if __name__ == "__main__":
    main()
