#!/usr/bin/env python
"""Scale rehearsal: run the dedup/similarity family at 1× and 10× corpus
size with the documented scale dials turned, and report the wall-time ratio
per operator — the empirical check behind the "linear in corpus size" claims
in operators/dedup.py and operators/similarity.py.

The driver's parquet stops at sf0.1 (5k docs / 2k vectors), so this script
generates its own matched corpora (seeded, same generator for both sizes):

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

Usage: ``python scripts/scale_rehearsal.py [1x|10x|joins|text|mm|streaming|
100x|100xlsh|st11deep|fuzzy|ivf500k|sqlsf1|sim1m|sim2m|sim4m|sim8m|docs1m|
sim4auto1m]`` — one size per
invocation (each fits a CI timeout; corpora cached under
/tmp/spark_graft_rehearsal). ``joins`` runs the TPC-H-ish join/agg family at
1× and 10× in one invocation (10× fact tables derived from sf0.1 by
replicating lineitem/orders with offset keys — dims stay shared, so join
fan-out semantics are preserved). Numbers land in BENCH_LOCAL.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/tmp/spark_graft_rehearsal"
N_SMALL = 5_000
SCALE = 10
DIM = 64
SEED = 42


def gen_documents(spark, n_docs: int, path: str) -> None:
    """Seeded word-salad corpus with injected exact (5%) and near (5%) dups."""
    rng = np.random.RandomState(SEED)
    vocab = np.array([f"w{i:03d}" for i in range(600)])
    # zipf-ish weights: heavy head like real text
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    w /= w.sum()
    n_base = int(n_docs * 0.90)
    docs: list[tuple[int, str]] = []
    for i in range(n_base):
        L = 40 + int(rng.rand() * 30)
        docs.append((i, " ".join(rng.choice(vocab, size=L, p=w))))
    # 5% exact dups of random base docs
    for j in range(int(n_docs * 0.05)):
        src = docs[int(rng.rand() * n_base)]
        docs.append((n_base + j, src[1]))
    # 5% near dups: one token substituted
    start = len(docs)
    for j in range(n_docs - start):
        src = docs[int(rng.rand() * n_base)][1].split()
        src[int(rng.rand() * len(src))] = str(vocab[int(rng.rand() * len(vocab))])
        docs.append((start + j, " ".join(src)))
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in docs], "doc_id long, text string, n_chars int"
    )
    df.repartition(32).write.mode("overwrite").parquet(path)


def gen_embeddings(spark, n_vecs: int, path: str) -> None:
    rng = np.random.RandomState(SEED)
    centers = rng.randn(8, DIM) * 4.0
    n_base = int(n_vecs * 0.95)
    base = [centers[i % 8] + rng.randn(DIM) * 2.5 for i in range(n_base)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # 5% near-twins (cos ≈ 0.997 to their source): the linear true-dup signal
    for j in range(n_vecs - n_base):
        src = base[int(rng.rand() * n_base)]
        rows.append((n_base + j, [float(x) for x in src + rng.randn(DIM) * 0.15]))
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        32
    ).write.mode("overwrite").parquet(path)


def gen_documents_dist(spark, n_docs: int, path: str) -> None:
    """Same statistical family as ``gen_documents`` (zipf word salad, 5%
    exact + 5% near dups) generated DISTRIBUTIVELY for the 100x point: text
    is a pure function of doc_id, so dup docs REGENERATE their source's
    text from its id instead of joining — no driver-side list, linear
    scale-out to any corpus size."""
    import pandas as pd

    n_base = int(n_docs * 0.90)
    n_exact = int(n_docs * 0.05)

    def gen(batches):
        vocab = np.array([f"w{i:03d}" for i in range(600)])
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


def run_100x_mode(spark, sizes: dict[str, int] | None = None) -> None:
    """One 100x point (500k docs) for the two operators a 100 TB corpus
    leans on hardest: dd7 span postings and dd8's increment gate. The 10x
    point (50k docs) is re-measured with the SAME distributed generator so
    the printed growth ratio is apples-to-apples; a sublinear-in-data ratio
    (< 10 for 10x more docs) confirms the linear-postings claims
    extrapolate. ``sizes`` overrides the decade pair (docs1m mode runs the
    same family at a single 1M point); ``DOC_OPS`` (comma prefixes, like
    LSH_OPS) restricts the op set for a fault-isolated rerun."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import components
    from trafficanalysisbigdata_spark.operators import dedup as dd

    sizes = sizes or {"10x": N_SMALL * SCALE, "100x": N_SMALL * SCALE * 10}
    out: dict[str, dict[str, float]] = {}
    for tag, n in sizes.items():
        dp = f"{BASE}/docs_dist_{tag}"
        if not os.path.exists(f"{dp}/_SUCCESS"):
            t0 = time.perf_counter()
            gen_documents_dist(spark, n, dp)
            print(f"  gen {tag}: {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)
        docs = spark.read.parquet(dp)
        ops = {
            "dd7_duplicate_spans": lambda: dd.duplicate_span_stats(docs, n=5).agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.avg("dup_frac"), 4).alias("avg_frac"),
            ),
            "dd8_incremental_dedup": _registered_over_view(
                spark, "dd8_incremental_dedup", {"documents": docs_with_lang(docs)}
            ),
            # the iterative machinery at 500k nodes: 16-chains keep round
            # count O(log 16) while edge volume grows 10x — wall should
            # track edges, proving pointer-jumping CC extrapolates too
            "dd6_components": lambda: components.connected_components(
                docs.select(F.col("doc_id").alias("doc1"))
                .filter(F.col("doc_id") % 16 != 15)
                .withColumn("doc2", F.col("doc1") + 1)
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("component").alias("n_comp"),
            ),
            # the text family's two heaviest registered queries at 500k
            # docs — linear-postings claims for TF-IDF and the boilerplate
            # window, through the shipped code path
            "tx6_tfidf": _registered_over_view(
                spark, "tx6_tfidf_top_terms", {"documents": docs_with_lang(docs)}
            ),
            "tx9_boilerplate": _registered_over_view(
                spark, "tx9_boilerplate_share", {"documents": docs_with_lang(docs)}
            ),
            # winnowing: per-doc sliding window min (doc_id-partitioned, no
            # hot key by construction) + dd7-style hash postings
            "tx16_winnow": _registered_over_view(
                spark, "tx16_winnowing_fingerprints", {"documents": docs_with_lang(docs)}
            ),
            # bigram-Jaccard with the min(5%·n, 256) DF cap — the absolute
            # bound rules past 5.1k docs, so 500k/1M walls measure the cap
            # doing its job on a corpus 100x past where it was derived
            "dd4_ngram_jaccard": _registered_over_view(
                spark, "dd4_ngram_jaccard", {"documents": docs_with_lang(docs)}
            ),
        }
        sel = [x for x in os.environ.get("DOC_OPS", "").split(",") if x]
        if sel:
            ops = {k: v for k, v in ops.items() if any(k.startswith(x) for x in sel)}
        res = {}
        for name, fn in ops.items():
            fn().write.format("noop").mode("overwrite").save()  # warm codegen
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                ts.append(round(time.perf_counter() - t0, 2))
            res[name] = min(ts)  # min-of-2: discard roaming host stalls
            print(f"  {tag} {name}: {ts} -> {res[name]}s", file=sys.stderr, flush=True)
        out[tag] = res
    ratios = (
        {k: round(out["100x"][k] / out["10x"][k], 2) for k in out["10x"]}
        if {"10x", "100x"} <= out.keys()
        else {}
    )
    print(json.dumps({"mode": "100x", "timings": out, "ratio_100x_vs_10x": ratios}))


def docs_with_lang(docs):
    """Rehearsal corpus lacks the fixture's lang/source dims; derive
    deterministic 4-way splits so per-lang/per-source reports have real
    groups."""
    from pyspark.sql import functions as F

    return docs.withColumn(
        "lang", F.concat(F.lit("l"), (F.col("doc_id") % 4).cast("string"))
    ).withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("string"))
    )


def gen_embeddings_dist(spark, n_vecs: int, path: str) -> None:
    """Same statistical family as ``gen_embeddings`` (8 loose Gaussian
    clusters, 5% near-twins at cos ≈ 0.997) generated DISTRIBUTIVELY for
    the 100x point: every vector is a pure function of vec_id (twins
    REGENERATE their source from its id), so the generator scales linearly
    and the (source, twin) ground-truth pair set is derivable in closed
    form for recall measurement."""
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


def run_100x_lsh_mode(spark, sizes: dict[str, int] | None = None) -> None:
    """100x scale points for the LSH/IVF families (dd2, dd5, sim3, sim4)
    with the SHIPPED dials engaged, plus recall at scale:

    * dd2  — absolute ``max_bucket=256`` (constant worst-bucket work);
    * dd5  — k ≈ n/500 (pair volume ≈ n · cell_size, assignment n·k);
    * sim3 — in-code ``adaptive_n_planes`` (saturates at its
      recall-preserving cap P=8 for n >= 32k; candidate fetch stays
      probes × bucket, linear in bucket size);
    * sim4 — adaptive P **plus** ``max_bucket=1024``: past the P cap the
      per-bucket population grows with n again, so the absolute bucket cap
      is the engaged dial for the PAIR-LIST consumer — the measured
      trade is wall vs the twin-recall printed alongside.

    Recall receipts: sim3 = mean top-5 overlap vs exact brute force on 50
    probes (exact ground truth is probes × corpus — linear, feasible at
    500k); sim4 = fraction of the INJECTED near-twin pairs (known in
    closed form from the generator) recovered — all-pairs ground truth
    would be quadratic, the twin set is the linear true signal."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import dedup as dd
    from trafficanalysisbigdata_spark.operators import similarity as sim

    sizes = sizes or {"10x": N_SMALL * SCALE, "100x": N_SMALL * SCALE * 10}
    out: dict[str, dict] = {}
    for tag, n_docs in sizes.items():
        n_vecs = n_docs  # 1 vector per doc at this mode's scale
        dp = f"{BASE}/docs_dist_{tag}"
        ep = f"{BASE}/emb_dist_{tag}"
        # LSH_OPS (see below) also gates corpus generation: an
        # embeddings-only run (sim1m mode) must not pay the doc corpus.
        sel = [s for s in os.environ.get("LSH_OPS", "").split(",") if s]
        need_docs = not sel or any(s.startswith("dd2") for s in sel)
        gens = ((ep, gen_embeddings_dist, n_vecs),) + (
            ((dp, gen_documents_dist, n_docs),) if need_docs else ()
        )
        for path, gen, arg in gens:
            if not os.path.exists(f"{path}/_SUCCESS"):
                t0 = time.perf_counter()
                gen(spark, arg, path)
                print(f"  gen {path}: {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)
        docs = spark.read.parquet(dp) if need_docs else None
        emb = spark.read.parquet(ep)
        probes = emb.filter(F.col("vec_id") < 50)
        n_centroids = max(8, n_docs // 500)

        ops = {
            "dd2_minhash_lsh": lambda: dd.minhash_lsh_scores(docs, max_bucket=256)
            .filter(F.col("jaccard") >= 0.5)
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("jaccard"), 2).alias("s")),
            "dd5_centroid_dedup": lambda: sim.centroid_semantic_dedup(
                emb, n_centroids=n_centroids, threshold=0.30
            ).agg(F.sum("n_dupes").alias("dupes")),
            # n_rows: the rehearsal KNOWS the corpus size, so the adaptive-P
            # derivation must not spend a count() scan (the shipped API for
            # callers with table stats — round-8 verdict item)
            "sim3_lsh_topk": lambda: sim.lsh_topk(
                emb, probes, k=5, n_tables=None, dim=DIM, n_rows=n_vecs
            ),
            # n_tables=None: the SHIPPED auto-dial pair (P from the corpus,
            # L from (P, bar)) — pinning L=16 with the old P cap 8 is what
            # let 500k occupancy blow past max_bucket and cost twin recall
            # (0.748, round-9 first run); the dial holds bar-recall as
            # banding deepens.
            "sim4_lsh_neardup": lambda: sim.lsh_neardup_pairs(
                emb, 0.8, n_tables=None, dim=DIM, max_bucket=1024, n_rows=n_vecs
            ).agg(F.count(F.lit(1)).alias("pairs")),
        }
        # LSH_OPS=dd2,sim3 restricts the run to a subset (prefix match on
        # the op key) so a long member (dd5 at 100x) can be measured in a
        # separate invocation after its scale fix lands — the recall
        # receipts below are likewise gated on their op being selected.
        sel = [s for s in os.environ.get("LSH_OPS", "").split(",") if s]
        if sel:
            ops = {k: v for k, v in ops.items() if any(k.startswith(s) for s in sel)}
        # sim4 at the 1m point costs ~25 min per execution (candidate volume
        # ~2.5× the 500k row: same ~244 occupancy, 2× buckets, L 28→35), so
        # the generic warmup+2-pass+receipt flow (≈5 executions) is replaced
        # by ONE materializing pass below; receipts read the parquet back.
        sim4_single_1m = tag == "1m" and "sim4_lsh_neardup" in ops
        if sim4_single_1m:
            del ops["sim4_lsh_neardup"]
        res: dict[str, float] = {}
        for name, fn in ops.items():
            # dd5 at 100x: k = n/500 = 1000 centroids — the round-8 run
            # measured the flat broadcast assignment's n*k = 5e8-cosine
            # wall here (a single pass did not complete in 16.5 min).
            # centroid_semantic_dedup now auto-routes k >= 200 through the
            # two-level quantizer (~2*n*sqrt(k) work); a single un-warmed
            # pass is kept so the row stays comparable with round 8's and
            # an unexpected regression can't eat the round's wall-clock.
            single = name == "dd5_centroid_dedup" and tag == "100x"
            try:
                if not single:
                    fn().write.format("noop").mode("overwrite").save()  # warm codegen
                ts = []
                for _ in range(1 if single else 2):
                    t0 = time.perf_counter()
                    fn().write.format("noop").mode("overwrite").save()
                    ts.append(round(time.perf_counter() - t0, 2))
                res[name] = min(ts)
                print(f"  {tag} {name}: {ts} -> {res[name]}s", file=sys.stderr, flush=True)
            except Exception as e:  # a DNF must not eat the other receipts
                res[name] = -1.0
                print(f"  {tag} {name}: FAILED {type(e).__name__}: {e}",
                      file=sys.stderr, flush=True)

        # --- recall receipts (untimed) -----------------------------------
        if "sim3_lsh_topk" in ops:
            truth = {
                r.query_id: set()
                for r in probes.select("vec_id").withColumnRenamed("vec_id", "query_id").collect()
            }
            for r in sim.brute_force_topk(emb, probes, k=5).collect():
                truth.setdefault(r.query_id, set()).add(r.neighbor_id)
            approx: dict[int, set] = {}
            for r in sim.lsh_topk(
                emb, probes, k=5, n_tables=None, dim=DIM, n_rows=n_vecs
            ).collect():
                approx.setdefault(r.query_id, set()).add(r.neighbor_id)
            overlaps = [
                len(truth[q] & approx.get(q, set())) / max(1, len(truth[q]))
                for q in truth
                if truth[q]
            ]
            res["sim3_recall_at_5"] = round(sum(overlaps) / len(overlaps), 3)
            if n_vecs >= 1_000_000:
                # the verdict-r10 receipt: the adaptive-L table's 32 step,
                # validated against the same ground truth one decade past
                # its 500k measurement, BEFORE the dial hands it out
                a32: dict[int, set] = {}
                for r in sim.lsh_topk(
                    emb, probes, k=5, n_tables=32, n_planes=None, dim=DIM,
                    n_rows=n_vecs,
                ).collect():
                    a32.setdefault(r.query_id, set()).add(r.neighbor_id)
                o32 = [
                    len(truth[q] & a32.get(q, set())) / max(1, len(truth[q]))
                    for q in truth
                    if truth[q]
                ]
                res["sim3_recall_at_5_L32"] = round(sum(o32) / len(o32), 3)

        if "sim4_lsh_neardup" in ops or sim4_single_1m:
            n_base = int(n_vecs * 0.95)
            expected = (
                spark.range(n_base, n_vecs)
                .select(
                    F.least((F.col("id") * 40503) % n_base, F.col("id")).alias("id1"),
                    F.greatest((F.col("id") * 40503) % n_base, F.col("id")).alias("id2"),
                )
                .distinct()
            )
            if sim4_single_1m:
                import shutil as _sh

                pp = f"{BASE}/sim4_pairs_1m"
                _sh.rmtree(pp, ignore_errors=True)
                # The 1M pair LIST runs the STAGED operator at the SHIPPED
                # dial (auto P=12, L=35). Single-pass DNF'd three ways this
                # round: P=12's 4.3B-candidate distinct exceeds disk; at
                # P=14/P=16 re-dials the killer was the SCORING joins — 1M
                # prenormed rows are 560 MB > the 512 MB default broadcast
                # budget, so Catalyst sort-merges candidates widened by
                # 8*dim-byte vectors (~10^8 MB spill, exactly the wall the
                # operator docstring documents at 500k x 35). Staging bounds
                # the transient distinct to gs/L of total and 768 MB budget
                # keeps scoring map-side (measured headroom: 48g heap).
                pin_gs = int(os.environ.get("LSH_STAGE_GROUP", "4"))
                try:
                    t0 = time.perf_counter()
                    sim.lsh_neardup_pairs_staged(
                        emb, 0.8, work_dir=pp, n_tables=None,
                        dim=DIM, max_bucket=1024, n_rows=n_vecs,
                        group_size=pin_gs, broadcast_budget_mb=768,
                    ).write.mode("overwrite").parquet(f"{pp}_final")
                    res["sim4_lsh_neardup"] = round(time.perf_counter() - t0, 2)
                    print(f"  1m sim4_lsh_neardup (staged gs={pin_gs}, "
                          f"shipped dial): {res['sim4_lsh_neardup']}s",
                          file=sys.stderr, flush=True)
                except Exception as e:
                    res["sim4_lsh_neardup"] = -1.0
                    print(f"  1m sim4_lsh_neardup: FAILED "
                          f"{type(e).__name__}: {e}", file=sys.stderr, flush=True)
                pairs = (
                    spark.read.parquet(f"{pp}_final")
                    if res["sim4_lsh_neardup"] >= 0
                    else None
                )
            else:
                pairs = sim.lsh_neardup_pairs(
                    emb, 0.8, n_tables=None, dim=DIM, max_bucket=1024, n_rows=n_vecs
                )
            if pairs is not None:
                found = expected.join(pairs.select("id1", "id2"), ["id1", "id2"], "left_semi")
                n_exp = expected.count()
                res["sim4_twin_recall"] = round(found.count() / max(1, n_exp), 3)
                res["sim4_pairs_out"] = pairs.count()
            print(f"  {tag} recalls: sim3={res.get('sim3_recall_at_5')} "
                  f"sim4={res.get('sim4_twin_recall')} pairs={res.get('sim4_pairs_out')}",
                  file=sys.stderr, flush=True)
        out[tag] = res
    ratios = {}
    if "10x" in out and "100x" in out:
        timed = [k for k in ("dd2_minhash_lsh", "dd5_centroid_dedup", "sim3_lsh_topk", "sim4_lsh_neardup") if k in out["10x"]]
        ratios = {k: round(out["100x"][k] / out["10x"][k], 2) for k in timed}
    print(json.dumps({"mode": "100x_lsh", "timings": out, "ratio_100x_vs_10x": ratios}))


def _registered_over_view(spark, qname: str, views: dict):
    """Thunk running a REGISTERED query over temp views of rehearsal data —
    the shipped code path, same idiom as the text mode."""
    from trafficanalysisbigdata_spark.plans.registry import load_all
    from trafficanalysisbigdata_spark.session import prep

    def run():
        prep(spark)
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        return load_all()[qname].fn(spark, "")

    return run


def _sim8_indexed(spark, emb, emb_path: str, big: bool):
    """Thunk: query the persisted hash-IVF index (built once per corpus,
    outside the timed region — the amortized production lifecycle)."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.similarity import (
        build_hash_ivf_index,
        hash_ivf_topk_indexed,
    )

    tag = "10x" if big else "1x"
    index_dir = f"{BASE}/hivf_{tag}"
    n_clusters = 64 if big else 16  # k grows with n, dd5's rule

    def run():
        if not os.path.exists(f"{index_dir}/centroids/_SUCCESS"):
            build_hash_ivf_index(emb, index_dir, n_clusters=n_clusters)
        probes = emb.filter(F.col("vec_id") < 50)
        return hash_ivf_topk_indexed(spark, index_dir, probes, k=5, n_probe=4)

    return run


def run_family(spark, doc_path: str, emb_path: str, n_docs: int, big: bool) -> dict:
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import components
    from trafficanalysisbigdata_spark.operators import dedup as dd
    from trafficanalysisbigdata_spark.operators import similarity as sim

    docs = spark.read.parquet(doc_path)
    emb = spark.read.parquet(emb_path)
    probes = emb.filter(F.col("vec_id") < 50)
    n_centroids = max(8, n_docs // 500)  # dd5 dial: k ≈ n/cell_size

    # dd2/dd4 run THE SAME pipeline operators the registered queries use
    # (dedup.minhash_lsh_scores / ngram_jaccard_scores) — the rehearsal
    # measures the shipped algorithm, not a hand-copied variant.
    def dd2():
        return dd.minhash_lsh_scores(docs, max_bucket=256).filter(
            F.col("jaccard") >= 0.5
        ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("jaccard"), 2).alias("s"))

    def dd4():
        return dd.ngram_jaccard_scores(docs, max_df_frac=0.05, max_df_abs=256).filter(
            F.col("jaccard") >= 0.25
        ).agg(F.count(F.lit(1)).alias("n"))

    ops = {
        "dd1_exact": lambda: dd.exact_dedup_summary(docs),
        "dd2_minhash_lsh": dd2,
        "dd3_simhash": lambda: dd.simhash16(dd.doc_token_sets(docs)).groupBy(
            "simhash"
        ).agg(F.count(F.lit(1)).alias("n")).agg(F.count(F.lit(1)).alias("groups")),
        "dd4_ngram_jaccard": dd4,
        "dd5_centroid_dedup": lambda: sim.centroid_semantic_dedup(
            emb, n_centroids=n_centroids, threshold=0.30
        ).agg(F.sum("n_dupes").alias("dupes")),
        "sim1_bruteforce_topk": lambda: sim.brute_force_topk(emb, probes, k=5),
        # sim3, like sim4, runs the in-code adaptive_n_planes rule
        "sim3_lsh_topk": lambda: sim.lsh_topk(
            emb, probes, k=5, n_tables=16, dim=DIM
        ),
        # sim4 takes NO explicit n_planes: the rehearsal measures the
        # in-code adaptive_n_planes rule itself (P=5 at 5k, P=8 at 50k)
        "sim4_lsh_neardup": lambda: sim.lsh_neardup_pairs(
            emb, 0.8, n_tables=16, dim=DIM
        ).agg(F.count(F.lit(1)).alias("pairs")),
        # dd6 over synthetic 16-chains: measures the iterative CC machinery
        # itself (pointer jumping, single-job convergence, checkpointing) —
        # component COUNT scales with n while round count stays O(log 16),
        # so wall time should track edge volume
        "dd7_duplicate_spans": lambda: dd.duplicate_span_stats(docs, n=5).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("dup_frac"), 4).alias("avg_frac"),
        ),
        "sim7_int8_quantized_topk": lambda: sim.quantized_topk(emb, probes, k=5),
        # dd8 through the REGISTERED query (temp-view path, as in the text
        # mode): increment-vs-corpus gate — wall time should track the
        # increment's postings, not corpus²
        "dd8_incremental_dedup": _registered_over_view(
            spark, "dd8_incremental_dedup", {"documents": docs_with_lang(docs)}
        ),
        # sim8: steady-state indexed query (build amortized — rebuilt only
        # when the corpus changes, exactly the production lifecycle)
        "sim8_hash_ivf_query": _sim8_indexed(spark, emb, emb_path, big),
        "dd6_components": lambda: components.connected_components(
            docs.select(F.col("doc_id").alias("doc1"))
            .filter(F.col("doc_id") % 16 != 15)
            .withColumn("doc2", F.col("doc1") + 1)
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("n_comp"),
        ),
    }
    out = {}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def run_text_family(spark, doc_path: str, check: bool = False) -> dict:
    """Text-analysis scaling (VERDICT r5 #7): tx6 TF-IDF, tx7 entropy and
    tx9 boilerplate at rehearsal scale, measured through the REGISTERED
    query functions (spec.fn over a temp view — the shipped code path), plus
    tx9's documented 100×-skew alternative (compute the shingle-DF table
    with a map-side-combinable groupBy, then join it back) so the
    window-vs-DF-table advice in the tx9 docstring carries measured numbers
    at both sizes. ``check=True`` additionally asserts the alternative is
    bit-identical to the shipped window formulation."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.functions.text import token_bigrams
    from trafficanalysisbigdata_spark.plans.registry import load_all
    from trafficanalysisbigdata_spark.session import prep

    prep(spark)
    specs = load_all()
    docs = (
        spark.read.parquet(doc_path)
        # rehearsal corpus lacks the fixture's source/lang dims; derive a
        # deterministic 4-way source split so the rollups have real groups
        .withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("string"))
        )
        .withColumn("lang", F.lit("en"))
    )
    docs.createOrReplaceTempView("documents")

    def tx9_df_broadcast_alt():
        pairs = docs.select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(token_bigrams(F.col("text")))).alias("shingle"),
        )
        dftab = pairs.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
        n_corpus = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
        scored = (
            pairs.join(dftab, "shingle")
            .crossJoin(F.broadcast(n_corpus))
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

    if check:
        shipped = specs["tx9_boilerplate_share"].fn(spark, doc_path).collect()
        alt = tx9_df_broadcast_alt().collect()
        assert shipped == alt, f"tx9 alternative diverged:\n{shipped}\n{alt}"

    cases = {
        "tx6_tfidf": lambda: specs["tx6_tfidf_top_terms"].fn(spark, doc_path),
        "tx7_entropy": lambda: specs["tx7_token_entropy_by_lang"].fn(spark, doc_path),
        "tx9_window": lambda: specs["tx9_boilerplate_share"].fn(spark, doc_path),
        "tx9_df_broadcast_alt": tx9_df_broadcast_alt,
    }
    out = {}
    for name, fn in cases.items():
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def run_text_mode(spark) -> None:
    for tag, n in {"1x": N_SMALL, "10x": N_SMALL * SCALE}.items():
        dp = f"{BASE}/docs_{tag}"
        if not os.path.exists(f"{dp}/_SUCCESS"):
            gen_documents(spark, n, dp)
        print(f"--- text {tag} ({n} docs) ---", file=sys.stderr)
        # equality check once at 1×; warmup pass, then min of 3 (host noise
        # only ever adds time — see BENCH_LOCAL.md)
        run_text_family(spark, dp, check=(tag == "1x"))
        passes = [run_text_family(spark, dp) for _ in range(3)]
        result = {op: min(p[op] for p in passes) for op in passes[0]}
        print(f"text_{tag}: " + json.dumps(result))


def run_joins_family(spark) -> None:
    """Join/agg scaling: j1-shape star join and a1-shape agg at 1× (sf0.1)
    and 10× (replicated facts, offset keys). Broadcast dims + partial aggs
    mean cost should track the FACT side ~linearly."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.1"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    events = spark.read.parquet(f"{sf}/events.parquet")

    def amplify(df, key_cols, copies=10):
        parts = []
        for i in range(copies):
            part = df
            for k in key_cols:
                part = part.withColumn(k, F.col(k) + F.lit(i * 100_000_000))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    li10 = f"{BASE}/lineitem_10x"
    or10 = f"{BASE}/orders_10x"
    ev10 = f"{BASE}/events_10x"
    if not os.path.exists(f"{li10}/_SUCCESS"):
        amplify(li, ["l_orderkey"]).repartition(64).write.mode("overwrite").parquet(li10)
        amplify(orders, ["o_orderkey"]).repartition(64).write.mode("overwrite").parquet(or10)
        amplify(events, ["event_id"]).repartition(64).write.mode("overwrite").parquet(ev10)

    def star_join(l, o):
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).alias("revenue")
            )
        )

    def agg(e):
        return e.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )

    def bloom_join(on: bool):
        """j9's runtime-filter claim measured: a selective orders filter
        joined against the 10x lineitem as SMJ, bloom injection on vs off —
        the delta is map-side fact rows that never reach the shuffle."""
        s2 = spark.newSession()
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "true" if on else "false",
        )
        s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1KB",
        )
        l = s2.read.parquet(li10)
        o = s2.read.parquet(or10).filter(F.col("o_totalprice") > 450000)
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

    cases = {
        "j1_star_1x": lambda: star_join(li, orders),
        "j1_star_10x": lambda: star_join(
            spark.read.parquet(li10), spark.read.parquet(or10)
        ),
        "a1_agg_1x": lambda: agg(events),
        "a1_agg_10x": lambda: agg(spark.read.parquet(ev10)),
        "j9_smj_10x_bloom_off": lambda: bloom_join(False),
        "j9_smj_10x_bloom_on": lambda: bloom_join(True),
    }
    results = {}
    for name, fn in cases.items():
        fn().write.format("noop").mode("overwrite").save()  # warmup
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        results[name] = round(min(ts), 2)
        print(f"  {name}: {results[name]}s", file=sys.stderr, flush=True)
    print("joins: " + json.dumps(results))


def run_mm_family(spark, doc_path: str) -> dict:
    """Multimodal scaling: the Arrow-batched mapInPandas stages (decode/
    features, resize, audio windowing, perceptual hash) over the synthesized
    media table. All four are embarrassingly parallel — zero shuffles before
    the final summary agg — so the 10×/1× ratio should track data volume."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import multimodal as mm

    docs = (
        spark.read.parquet(doc_path)
        # the rehearsal corpus lacks source/lang; derive deterministic ones
        # so synthesize_media's meta struct is populated the same way
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

    ops = {
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
    out = {}
    for name, fn in ops.items():
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    return out


def run_mm_mode(spark) -> None:
    for tag, n in {"1x": N_SMALL, "10x": N_SMALL * SCALE}.items():
        dp = f"{BASE}/docs_{tag}"
        if not os.path.exists(f"{dp}/_SUCCESS"):
            gen_documents(spark, n, dp)
        print(f"--- mm {tag} ({n} assets) ---", file=sys.stderr)
        run_mm_family(spark, dp)  # warmup (codegen + Arrow init)
        passes = [run_mm_family(spark, dp) for _ in range(3)]
        result = {op: min(p[op] for p in passes) for op in passes[0]}
        print(f"mm_{tag}: " + json.dumps(result))


def gen_stream_events(spark, n_rows: int, path: str, n_files: int = 8) -> None:
    """Deterministic event stream staged as n_files parquet files (each file
    = one potential micro-batch under maxFilesPerTrigger)."""
    from pyspark.sql import functions as F

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


def run_streaming_family(spark, src: str, n_rows: int, ckpt_base: str) -> dict:
    """Throughput of the REAL streaming operators (AvailableNow, 4 forced
    micro-batches via maxFilesPerTrigger=2 over 8 staged files): watermarked
    tumbling-window agg, watermark-bounded dedup, applyInPandasWithState
    running totals. Per-op wall seconds; rows/sec = n_rows / wall."""
    import uuid

    from trafficanalysisbigdata_spark.streaming.dedup import streaming_dedup
    from trafficanalysisbigdata_spark.streaming.stateful import stateful_running_totals
    from trafficanalysisbigdata_spark.streaming.windows import watermarked_tumbling_hourly

    def stream():
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )

    from pyspark.sql import functions as F

    def session_agg():
        src_df = stream()
        return (
            src_df.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n")),
            "append",
        )

    ops = {
        "st_tumbling_agg": lambda: (watermarked_tumbling_hourly(stream()), "append"),
        "st_session_windows": session_agg,
        "st_watermark_dedup": lambda: (
            streaming_dedup(stream(), ["user_id", "event_type"], delay="2 hours"),
            "append",
        ),
        "st_stateful_totals": lambda: (
            stateful_running_totals(stream().select("event_id", "user_id", "value")),
            "update",
        ),
    }
    out = {}
    for name, fn in ops.items():
        df, mode = fn()
        ck = os.path.join(ckpt_base, f"{name}_{uuid.uuid4().hex[:8]}")
        t0 = time.perf_counter()
        q = (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(f"{name} did not drain within 600 s")
        wall = time.perf_counter() - t0
        out[name] = round(wall, 2)
        out[name + "_rows_per_s"] = int(n_rows / wall)
        print(f"  {name}: {out[name]}s ({out[name + '_rows_per_s']} rows/s)", file=sys.stderr, flush=True)

    # st11's foreachBatch keyed-upsert sink — separate block because its
    # writer is foreachBatch (versioned parquet state), not a format sink
    import tempfile as _tf

    state_root = _tf.mkdtemp(prefix="reh_upsert_")

    def upsert(batch_df, batch_id: int) -> None:
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        # replay safety: prior state must be strictly older than this batch
        versions = sorted(
            d
            for d in os.listdir(state_root)
            if d.startswith("v") and int(d[1:]) < batch_id
        )
        if versions:
            s = batch_df.sparkSession.read.parquet(
                os.path.join(state_root, versions[-1])
            )
            m = s.alias("s").join(b.alias("b"), "user_id", "full_outer").select(
                "user_id",
                (
                    F.coalesce(F.col("s.n"), F.lit(0))
                    + F.coalesce(F.col("b.n"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("s.total"), F.lit(0.0))
                    + F.coalesce(F.col("b.total"), F.lit(0.0))
                ).alias("total"),
            )
        else:
            m = b
        m.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id:05d}")
        )

    ck = os.path.join(ckpt_base, f"st_upsert_{uuid.uuid4().hex[:8]}")
    t0 = time.perf_counter()
    q = (
        stream()
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("st_upsert_sink did not drain within 600 s")
    wall = time.perf_counter() - t0
    out["st_upsert_sink"] = round(wall, 2)
    out["st_upsert_sink_rows_per_s"] = int(n_rows / wall)
    print(
        f"  st_upsert_sink: {out['st_upsert_sink']}s "
        f"({out['st_upsert_sink_rows_per_s']} rows/s)",
        file=sys.stderr,
        flush=True,
    )
    return out


def run_st11_deep_mode(spark) -> None:
    """st11 (the PRODUCTION ``keyed_upsert_batch`` sink, retention on) one
    decade past the round-7 table: 100k -> 1M measured flat (1.77 -> 1.88 s);
    10M is where version-directory churn, the per-batch full state copy and
    ``_SUCCESS`` listing costs could start to show if the state were secretly
    proportional to stream history instead of the key set. Receipts: wall +
    rows/s per decade, final complete-version count (retention must hold it
    at keep_versions), and the final state's key count."""
    import tempfile
    import uuid

    from trafficanalysisbigdata_spark.streaming.upsert import (
        _complete_versions,
        keyed_upsert_batch,
        latest_state,
    )

    out: dict[str, dict] = {}
    for tag, n in {"1x": 100_000, "10x": 1_000_000, "100x": 10_000_000}.items():
        sp = f"{BASE}/stream_deep_{tag}"
        if not os.path.exists(f"{sp}/_SUCCESS"):
            gen_stream_events(spark, n, sp)

        def one_pass() -> tuple[float, str]:
            state_root = tempfile.mkdtemp(prefix=f"reh_st11_{tag}_")
            ck = tempfile.mkdtemp(prefix=f"reh_st11_ck_{tag}_") + "/" + uuid.uuid4().hex[:8]
            t0 = time.perf_counter()
            q = (
                spark.readStream.schema(
                    "event_id bigint, ts timestamp, user_id bigint,"
                    " event_type string, value double"
                )
                .option("maxFilesPerTrigger", 2)
                .parquet(sp)
                .writeStream.foreachBatch(keyed_upsert_batch(state_root, keep_versions=3))
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(1200):
                q.stop()
                raise TimeoutError(f"st11 deep {tag} did not drain within 1200 s")
            return time.perf_counter() - t0, state_root

        one_pass()  # warm (codegen + state store init)
        walls, state_root = [], ""
        for _ in range(2):
            w, state_root = one_pass()
            walls.append(round(w, 2))
        wall = min(walls)
        res = {
            "wall_s": wall,
            "rows_per_s": int(n / wall),
            "versions_kept": len(_complete_versions(state_root)),
            "state_keys": latest_state(spark, state_root).count(),
        }
        out[tag] = res
        print(f"  st11 {tag}: {walls} -> {json.dumps(res)}", file=sys.stderr, flush=True)
    print(json.dumps({"mode": "st11_deep", "results": out}))


def run_streaming_mode(spark) -> None:
    import tempfile

    for tag, n in {"1x": 100_000, "10x": 1_000_000}.items():
        sp = f"{BASE}/stream_{tag}"
        if not os.path.exists(f"{sp}/_SUCCESS"):
            gen_stream_events(spark, n, sp)
        print(f"--- streaming {tag} ({n} rows, 4 micro-batches) ---", file=sys.stderr)
        ck = tempfile.mkdtemp(prefix=f"reh_stream_{tag}_")
        run_streaming_family(spark, sp, n, ck)  # warmup (codegen + state store init)
        passes = [
            run_streaming_family(spark, sp, n, tempfile.mkdtemp(prefix=f"reh_stream_{tag}_"))
            for _ in range(3)
        ]
        result = {op: min(p[op] for p in passes) for op in passes[0]}
        print(f"streaming_{tag}: " + json.dumps(result))


def run_fuzzy_mode(spark) -> None:
    """Scale points for the FastSS ED-1 matcher (operators/fuzzy.py, j10's
    engine): zero-padded numeric names like the customer fixture, where the
    true pair set is exactly the one-digit-substitution neighborhoods, so
    expected output is ~n x digits x 9 / 2 in-range pairs — linear in n.
    Receipts: wall per decade plus pairs-out (the linearity check) and the
    blocked plan's candidate discipline (no cross join by construction)."""
    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators.fuzzy import ed1_pairs

    out: dict[str, dict] = {}
    for tag, n in {"10x": 50_000, "100x": 500_000}.items():
        names = spark.range(n).select(
            F.col("id"),
            F.format_string("Customer#%09d", F.col("id")).alias("name"),
        )
        def run():
            return (
                ed1_pairs(names, "id", "name")
                .agg(
                    F.count(F.lit(1)).alias("pairs"),
                    F.sum("dist").alias("dist_sum"),
                )
            )

        run().write.format("noop").mode("overwrite").save()  # warm
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            run().write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 2))
        pairs = run().collect()[0]["pairs"]
        out[tag] = {"wall_s": min(ts), "pairs_out": pairs,
                    "us_per_pair": round(min(ts) * 1e6 / max(1, pairs), 2)}
        print(f"  fuzzy {tag}: {ts} -> {json.dumps(out[tag])}", file=sys.stderr, flush=True)
    out["ratio_100x_vs_10x"] = round(out["100x"]["wall_s"] / out["10x"]["wall_s"], 2)
    print(json.dumps({"mode": "fuzzy", "results": out}))


def run_ivf500k_mode(spark) -> None:
    """The production-IVF lifecycle at the 500k point dd5's wall was
    measured at: build the persisted hash-IVF index at k = n/500 = 1000
    cells (assignment auto-routes through the two-level quantizer — the
    build-time twin of dd5's fix, since a flat build is the same n*k
    cross join that DNF'd in round 8), then probe with the index already
    on disk. Receipts: build wall (amortized, once), probe wall per
    n_probe, and recall@5 vs exact brute force — the numbers a 100 TB
    embedding-store operator actually provisions against."""
    import shutil

    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import similarity as sim

    ep = f"{BASE}/emb_dist_100x"
    if not os.path.exists(f"{ep}/_SUCCESS"):
        gen_embeddings_dist(spark, 500_000, ep)
    emb = spark.read.parquet(ep)
    probes = emb.filter(F.col("vec_id") < 50)
    idx = f"{BASE}/hivf_500k_k1000"
    shutil.rmtree(idx, ignore_errors=True)
    t0 = time.perf_counter()
    sim.build_hash_ivf_index(emb, idx, n_clusters=1000)  # auto -> two_level
    build_s = round(time.perf_counter() - t0, 2)
    print(f"  ivf500k build (k=1000, two-level): {build_s}s", file=sys.stderr, flush=True)

    truth = {}
    for r in sim.brute_force_topk(emb, probes, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    out = {"build_s": build_s}
    for n_probe in (4, 8, 16):
        fn = lambda: sim.hash_ivf_topk_indexed(spark, idx, probes, k=5, n_probe=n_probe)
        fn().write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 2))
        approx = {}
        for r in fn().collect():
            approx.setdefault(r.query_id, set()).add(r.neighbor_id)
        rec = [len(truth[q] & approx.get(q, set())) / max(1, len(truth[q]))
               for q in truth if truth[q]]
        out[f"probe{n_probe}"] = {
            "wall_s": min(ts),
            "recall_at_5": round(sum(rec) / len(rec), 3),
        }
        print(f"  ivf500k n_probe={n_probe}: {ts} -> {json.dumps(out[f'probe{n_probe}'])}",
              file=sys.stderr, flush=True)
    print(json.dumps({"mode": "ivf500k", "results": out}))


def gen_sf1(spark) -> str:
    """Materialize an sf1-shaped TPC-H directory (10× sf0.1) by replicating
    the sf0.1 tables with offset keys, preserving referential integrity:
    copy i of orders points at copy i of customer, copy i of lineitem at
    copy i of orders/part/supplier — so join fan-outs, selectivities, and
    value distributions match the originals and only the DATA VOLUME grows.
    region/nation are fixed-size in TPC-H and copy as-is; events/documents/
    embeddings are byte-copied (the sql family doesn't read them, but
    register_views must find every table it's asked for)."""
    import shutil

    from pyspark.sql import functions as F

    sf01 = "/root/testdata/sf0.1"
    out = f"{BASE}/sf1"
    if os.path.exists(f"{out}/_DONE"):
        return out
    os.makedirs(out, exist_ok=True)

    def amplify(name, key_cols, n_parts, copies=10):
        df = spark.read.parquet(f"{sf01}/{name}.parquet")
        parts = []
        for i in range(copies):
            p = df
            for k in key_cols:
                p = p.withColumn(k, F.col(k) + F.lit(i * 100_000_000))
            parts.append(p)
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        acc.repartition(n_parts).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )

    t0 = time.perf_counter()
    amplify("customer", ["c_custkey"], 8)
    amplify("supplier", ["s_suppkey"], 4)
    amplify("part", ["p_partkey"], 8)
    amplify("orders", ["o_orderkey", "o_custkey"], 16)
    amplify("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"], 64)
    for name in ("region", "nation", "events", "documents", "embeddings"):
        shutil.copy(f"{sf01}/{name}.parquet", f"{out}/{name}.parquet")
    open(f"{out}/_DONE", "w").write("ok")
    print(f"  gen sf1: {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)
    return out


def run_sqlsf1_mode(spark) -> None:
    """Round-10 verdict item #2: the TPC-H sql family has only ever been
    timed at sf0.1 — one sf1 (10×) pass catches planner shapes that
    silently degrade with volume (build sides crossing the broadcast
    threshold, AQE switch points, skewed exchanges) the way the LSH
    rehearsals caught dd5's n·k wall. Reports sf0.1 and sf1 walls measured
    in the SAME session (same JVM, same host weather) plus the ratio;
    rows scale 10×, so a healthy shape lands well under 10× wall."""
    from trafficanalysisbigdata_spark.plans.registry import load_all, release_caches

    sf1_dir = gen_sf1(spark)
    sf01_dir = "/root/testdata/sf0.1"
    specs = load_all()
    names = sorted(n for n in specs if n.startswith("sql"))
    sel = [s for s in os.environ.get("SQL_OPS", "").split(",") if s]
    if sel:
        names = [n for n in names if any(n.startswith(s) for s in sel)]
    out: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        row = {}
        for tag, d in (("sf01", sf01_dir), ("sf1", sf1_dir)):
            spec.run(spark, d).write.format("noop").mode("overwrite").save()
            release_caches()
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                spec.run(spark, d).write.format("noop").mode("overwrite").save()
                ts.append(round(time.perf_counter() - t0, 2))
                release_caches()
            row[tag] = min(ts)
        row["ratio"] = round(row["sf1"] / max(row["sf01"], 1e-9), 1)
        out[name] = row
        print(f"  {name}: sf0.1={row['sf01']}s sf1={row['sf1']}s "
              f"ratio={row['ratio']}x", file=sys.stderr, flush=True)
    worst = sorted(out, key=lambda n: -out[n]["ratio"])[:5]
    print(json.dumps({
        "mode": "sqlsf1",
        "results": out,
        "worst_ratios": {n: out[n]["ratio"] for n in worst},
    }))


def run_sim4_auto_1m_mode(spark) -> None:
    """Round-12 receipt (verdict item #1): the PUBLIC lsh_neardup_pairs
    entrypoint at 1M vectors with default budget — must auto-route through
    the staged path (work_dir table groups), complete, and match the r11
    explicit-staged run's truth numbers (twin recall 1.000, ~169M pairs)."""
    import shutil

    from pyspark.sql import functions as F

    from trafficanalysisbigdata_spark.operators import similarity as sim

    n = 1_000_000
    ep = f"{BASE}/emb_dist_1m"
    if not os.path.exists(f"{ep}/_SUCCESS"):
        gen_embeddings_dist(spark, n, ep)
    emb = spark.read.parquet(ep)
    wd = f"{BASE}/sim4_auto_1m"
    shutil.rmtree(wd, ignore_errors=True)
    shutil.rmtree(f"{wd}_final", ignore_errors=True)
    res: dict = {}
    t0 = time.perf_counter()
    pairs = sim.lsh_neardup_pairs(
        emb, 0.8, n_tables=None, dim=DIM, max_bucket=1024, n_rows=n,
        work_dir=wd,
    )
    groups = sorted(os.listdir(wd)) if os.path.exists(wd) else []
    res["auto_staged"] = bool(groups)
    res["n_groups"] = len(groups)
    pairs.write.mode("overwrite").parquet(f"{wd}_final")
    res["wall_s"] = round(time.perf_counter() - t0, 2)
    print(f"  sim4 auto 1M: staged={res['auto_staged']} groups={groups[:3]}..."
          f" wall={res['wall_s']}s", file=sys.stderr, flush=True)
    final = spark.read.parquet(f"{wd}_final")
    n_base = int(n * 0.95)
    expected = (
        spark.range(n_base, n)
        .select(
            F.least((F.col("id") * 40503) % n_base, F.col("id")).alias("id1"),
            F.greatest((F.col("id") * 40503) % n_base, F.col("id")).alias("id2"),
        )
        .distinct()
    )
    found = expected.join(final.select("id1", "id2"), ["id1", "id2"], "left_semi")
    n_exp = expected.count()
    res["twin_recall"] = round(found.count() / max(1, n_exp), 3)
    res["pairs_out"] = final.count()
    print(json.dumps({"mode": "sim4auto1m", **res}))


def main() -> None:
    from pyspark.sql import SparkSession

    # REHEARSAL_SHUFFLE overrides the partition count for modes whose
    # exchanges outgrow 64 partitions (the sim1m lesson: per-partition sort
    # memory scales with rows/partition, so partition count must scale with
    # the exchange — dd4's ~1e9-candidate join at 500k OOMs 48g heap at 64
    # partitions and completes at 256)
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scale-rehearsal")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("REHEARSAL_SHUFFLE", "64"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    all_sizes = {"1x": N_SMALL, "10x": N_SMALL * SCALE}
    wanted = sys.argv[1:] or list(all_sizes)
    if wanted == ["joins"]:
        run_joins_family(spark)
        return
    if wanted == ["text"]:
        run_text_mode(spark)
        return
    if wanted == ["mm"]:
        run_mm_mode(spark)
        return
    if wanted == ["streaming"]:
        run_streaming_mode(spark)
        return
    if wanted == ["100x"]:
        run_100x_mode(spark)
        return
    if wanted == ["100xlsh"]:
        run_100x_lsh_mode(spark)
        return
    if wanted == ["st11deep"]:
        run_st11_deep_mode(spark)
        return
    if wanted == ["fuzzy"]:
        run_fuzzy_mode(spark)
        return
    if wanted == ["ivf500k"]:
        run_ivf500k_mode(spark)
        return
    if wanted == ["sqlsf1"]:
        run_sqlsf1_mode(spark)
        return
    if wanted == ["sim4auto1m"]:
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        run_sim4_auto_1m_mode(spark)
        return
    if wanted == ["docs1m"]:
        # the doc-postings family one decade past its 500k receipts
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        run_100x_mode(spark, sizes={"1m": 1_000_000})
        return
    if wanted == ["sim4m"]:
        # one full decade past the 1M receipt (r13 verdict item #7): keeps
        # the dial-validation one decade ahead of the corpus fixtures; at
        # 4M the occupancy rule derives P=14 — the round-11 cap, measured
        # AT its edge here, which is what triggered the round-14 raise to 16
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        os.environ.setdefault("LSH_OPS", "sim3")
        run_100x_lsh_mode(spark, sizes={"4m": 4_000_000})
        return
    if wanted == ["sim8m"]:
        # the round-14 cap-raise receipt (14 -> 16): 8M is the first corpus
        # deriving P=15 — past the old cap — so this point validates the
        # raise one step ahead of the frontier, exactly like r11's 2M point
        # validated the 12 -> 14 raise
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        os.environ.setdefault("LSH_OPS", "sim3")
        run_100x_lsh_mode(spark, sizes={"8m": 8_000_000})
        return
    if wanted == ["sim2m"]:
        # half-decade past the 1M receipt: first corpus where the occupancy
        # rule derives P=13 (2M/128 = 2^14, floor of log2 minus truncation),
        # validating the 12->14 cap raise ahead of the load-bearing frontier
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        os.environ.setdefault("LSH_OPS", "sim3")
        run_100x_lsh_mode(spark, sizes={"2m": 2_000_000})
        return
    if wanted == ["sim1m"]:
        # verdict r10 item #7: validate the adaptive-L 32-table step one
        # decade past its 500k receipt, before it's load-bearing.
        # 256 shuffle partitions: at 1M vectors the pair self-join's
        # per-partition sort exhausted execution memory at 64 (the round-11
        # first attempt's UNABLE_TO_ACQUIRE_MEMORY) — partition count must
        # scale with the exchange, exactly as it would on a real cluster.
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        os.environ.setdefault("LSH_OPS", "sim3,sim4")
        run_100x_lsh_mode(spark, sizes={"1m": 1_000_000})
        return
    for tag in wanted:
        n = all_sizes[tag]
        dp, ep = f"{BASE}/docs_{tag}", f"{BASE}/emb_{tag}"
        if not os.path.exists(f"{dp}/_SUCCESS"):
            gen_documents(spark, n, dp)
        if not os.path.exists(f"{ep}/_SUCCESS"):
            gen_embeddings(spark, n * 2 // 5, ep)  # keep the 5000:2000 ratio
        print(f"--- {tag} ({n} docs, {n * 2 // 5} vectors) ---", file=sys.stderr)
        # one warmup pass (codegen/broadcast compile), then 3 measured passes
        # reporting the per-op MINIMUM: the host shows roaming multi-second
        # stalls that land on whichever op is running (see BENCH_LOCAL.md),
        # and scheduling noise only ever ADDS time — min is the clean signal.
        run_family(spark, dp, ep, n_docs=n, big=(tag == "10x"))
        passes = [
            run_family(spark, dp, ep, n_docs=n, big=(tag == "10x")) for _ in range(3)
        ]
        result = {op: min(p[op] for p in passes) for op in passes[0]}
        print(f"{tag}: " + json.dumps(result))


if __name__ == "__main__":
    main()
