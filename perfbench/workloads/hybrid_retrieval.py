"""hybrid_retrieval — the LLM-data tier: dedup, index builds, retrieval.

A seeded corpus (Zipf-vocabulary text, clustered unit embeddings, and
injected exact and near-duplicate documents) is deduplicated with
``dedup.minhash_lsh_candidates`` → ``canonicalize`` (which runs
``connected_components``). The kept documents get a keyword index
(``textops.build_keyword_index``) and served IVF / IVF-PQ indexes
(``similarity.ivf_build_wide`` / ``pq_build_wide``,
``ann_serving.save_*_payload``); ``RetrievalEngine.retrieve`` then
answers keyword + vector queries fused by RRF.

- latency: median time of one ``retrieve`` (collected).
- throughput: corpus documents per second through one whole dedup pass
  (candidates → components → canonical keep list), median over passes.

Not in BENCHMARK.json's timed set (see the README): a run takes ~80 s
and a retrieve ~2.5 s, so a run holds two or three samples. Its
per-layer metrics are traced from stream_ingest's traced runs through
:func:`trace_layers`.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.common import Ctx, Result, attempt, median, overhead_pct

K, DEPTH, NPROBE, N_CAND = 10, 20, 8, 64
N_CELLS, PQ_M, PQ_K = 16, 8, 32
N_QUERIES = 4
N_PROBED = 2
#: mean recall@K of the vector tier against exact cosine, lowest allowed
RECALL_FLOOR = 0.5


def dedup_pass(docs) -> dict:
    """One pass: candidate pairs, then the canonical keep list (the
    components are computed inside canonicalize). Returns its rows as
    {doc_id: (component, canonical_id, keep)}."""
    from uwheel_datafusion_spark.operators import dedup as dd

    pairs = dd.minhash_lsh_candidates(docs)
    rows = dd.canonicalize(docs, pairs).collect()
    return {r.doc_id: (r.component, r.canonical_id, r.keep) for r in rows}


def dedup_diff(got: dict, want: dict, clusters: list) -> tuple[int, int]:
    """(injected clusters not recovered, documents merged beyond them).

    A cluster is recovered when all its members share one component and,
    where that component is exactly the cluster, the canonical and keep
    flags are the expected ones. Merges beyond the injected clusters are
    counted apart: MinHash-LSH candidates are not verified before
    canonicalize merges them, so now and then an unrelated pair collides
    (see CHANGES.md, FOUND)."""
    comp_size: dict = {}
    for c, _, _ in got.values():
        comp_size[c] = comp_size.get(c, 0) + 1
    missed = 0
    for members in clusters:
        comps = {got[m][0] for m in members}
        if len(comps) != 1:
            missed += 1
        elif comp_size[comps.pop()] == len(members) and any(got[m] != want[m] for m in members):
            missed += 1
    clustered = {m for c in clusters for m in c}
    extra = sum(1 for d, (c, _, _) in got.items() if d not in clustered and comp_size[c] > 1)
    return missed, extra


def load_corpus(ctx: Ctx):
    corpus = gen.corpus(ctx.seed, n_base=300 if ctx.smoke else 3000)
    docs = ctx.spark.read.parquet(corpus.docs_path)
    emb = ctx.spark.read.parquet(corpus.emb_path)
    want = oracle.dedup_expected(corpus.doc_id, corpus.n_chars, corpus.clusters)
    return corpus, docs, emb, want


def check_dedup(ctx: Ctx, res: Result, got: dict, corpus, want: dict) -> None:
    missed, extra = dedup_diff(got, want, corpus.clusters)
    res.check(
        "dedup recovers the injected duplicate clusters",
        missed == 0,
        f"{missed} of {len(corpus.clusters)} clusters not recovered",
    )
    ctx.layers.set("dedup.false_merges", extra)


def build_indexes(ctx: Ctx, docs, emb, kept: list):
    """Keyword index, IVF and IVF-PQ builds and payload saves over the
    kept documents; each step's time goes to its per-layer metric.
    Returns the RetrievalEngine and the two served indexes."""
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark.operators import ann_serving as srv
    from uwheel_datafusion_spark.operators import similarity as sim
    from uwheel_datafusion_spark.operators import textops as tx
    from uwheel_datafusion_spark.operators.retrieval import RetrievalEngine

    L = ctx.layers
    kept_docs = docs.filter(F.col("doc_id").isin(kept))
    kept_emb = emb.filter(F.col("vec_id").isin(kept))
    kw_path = os.path.join(ctx.work, "keyword")
    L.time_once("textops.keyword_build_s", lambda: tx.build_keyword_index(kept_docs, kw_path))
    ivf = L.time_once("similarity.ivf_build_s", lambda: sim.ivf_build_wide(kept_emb, n_cells=N_CELLS))
    pq = L.time_once("similarity.pq_build_s", lambda: sim.pq_build_wide(kept_emb, m=PQ_M, k=PQ_K))
    ctx.cleanup.append(lambda: (ivf.cells.unpersist(), pq.codes.unpersist()))
    t0 = time.perf_counter()
    ivf_served = srv.save_ivf_payload(ivf, kept_emb, os.path.join(ctx.work, "ivf"))
    pq_served = srv.save_ivfpq_payload(ivf, pq, os.path.join(ctx.work, "pq"))
    L.set("ann_serving.save_s", time.perf_counter() - t0)
    eng = RetrievalEngine(
        ctx.spark, keyword_path=kw_path, ivf_served=ivf_served, pq_served=pq_served
    )
    return eng, ivf_served, pq_served


class Queries:
    """N_QUERIES keyword + vector queries over the kept documents: three
    mid-frequency terms and one kept document's vector each."""

    def __init__(self, ctx: Ctx, eng, corpus, kept: list):
        rng = np.random.default_rng([ctx.seed, 40])
        counts: dict = {}
        for i in kept:
            for w in set(corpus.texts[i].split(" ")):
                counts[w] = counts.get(w, 0) + 1
        mid = sorted(w for w, c in counts.items() if 8 <= c <= 60)
        self.items = [
            (tuple(sorted(rng.choice(mid, 3, replace=False).tolist())), int(rng.choice(kept)))
            for _ in range(N_QUERIES)
        ]
        self.frames = [
            ctx.spark.createDataFrame(
                [(q, corpus.emb[q].tolist())], "vec_id long, embedding array<float>"
            )
            for _, q in self.items
        ]
        self.eng = eng

    def retrieve(self, j: int) -> list:
        return [
            (r.doc_id, r.rrf_score)
            for r in self.eng.retrieve(
                self.items[j][0], self.frames[j], k=K, depth=DEPTH,
                nprobe=NPROBE, n_candidates=N_CAND,
            ).collect()
        ]


def check_answers(ctx: Ctx, res: Result, qs: Queries, corpus, kept: list, answers) -> None:
    """BM25 against a plain-Python BM25, the vector tier's recall@K
    against exact cosine, and the fused list against RRF recomputed
    from the two tier lists."""
    from uwheel_datafusion_spark.operators import textops as tx

    kept_texts = [corpus.texts[i] for i in kept]
    kept_ids = np.array(kept, dtype=np.int64)
    recalls = []
    for j, ((terms, q), qf) in enumerate(zip(qs.items, qs.frames)):
        got_bm25 = [
            (r.doc_id, r.score)
            for r in tx.keyword_index_bm25_probe(
                ctx.spark, qs.eng.keyword_path, terms=terms, k=DEPTH
            ).collect()
        ]
        want_bm25 = oracle.bm25_topk(kept_texts, kept, terms, DEPTH)
        res.check("BM25 top-k equals an independent BM25", got_bm25 == want_bm25, f"query {j}")
        # the keyword tier ranks the probe's list by (score desc, doc_id)
        kw = [d for d, _ in want_bm25]
        vec = [
            r.doc_id
            for r in qs.eng.vector_ranked(qf, DEPTH, NPROBE, N_CAND).orderBy("vec_rank").collect()
        ]
        truth = oracle.cosine_topk(corpus.emb[kept_ids], kept_ids, q, K)
        recalls.append(len(set(vec[:K]) & set(truth)) / K)
        res.check(
            "fused scores equal RRF of the two tier lists",
            answers[j] == oracle.rrf(kw, vec, K),
            f"query {j}: {answers[j]} vs {oracle.rrf(kw, vec, K)}",
        )
    recall = float(np.mean(recalls))
    ctx.layers.set("ann_serving.recall_at_10", recall)
    res.check(
        f"ANN recall@{K} vs exact cosine >= {RECALL_FLOOR}",
        recall >= RECALL_FLOOR,
        f"mean recall {recall:.3f}",
    )


def run(ctx: Ctx) -> Result:
    corpus, docs, emb, want = load_corpus(ctx)
    n_docs = len(corpus.texts)
    res = Result()

    # the first pass warms the dedup path and yields the keep list
    first = dedup_pass(docs)
    check_dedup(ctx, res, first, corpus, want)
    kept = sorted(d for d, (_, _, keep) in first.items() if keep)
    with ctx.phase("setup"):
        t0 = time.perf_counter()
        eng, ivf_served, pq_served = build_indexes(ctx, docs, emb, kept)
        res.setup_s = time.perf_counter() - t0
    qs = Queries(ctx, eng, corpus, kept)
    answers = [qs.retrieve(j) for j in range(N_QUERIES)]  # also warms the path
    check_answers(ctx, res, qs, corpus, kept, answers)

    def retrieve_pass(deadline=None, n=None):
        lat, i = [], 0
        while (deadline is None or time.perf_counter() < deadline) and (n is None or i < n):
            j = i % N_QUERIES
            ok, got, dt = attempt(res, qs.retrieve, j)
            i += 1
            if ok:
                lat.append(dt * 1e3)
                if got != answers[j]:
                    res.check("retrieve answers repeat", False, f"query {j}: {got} vs {answers[j]}")
        return lat

    def dedup_rates(deadline=None, n=None):
        rates, i = [], 0
        while (deadline is None or time.perf_counter() < deadline) and (n is None or i < n):
            ok, got, dt = attempt(res, dedup_pass, docs)
            i += 1
            if ok:
                rates.append(n_docs / dt)
                if got != first:
                    res.check("dedup passes repeat", False, "a later pass differs")
        return rates

    lat = retrieve_pass(deadline=ctx.deadline(0.5))
    rates = dedup_rates(deadline=ctx.deadline(1.0))
    res.latency_ms = lat
    res.throughput = median(rates)
    res.throughput_values = rates
    res.check("retrieve answers repeat", True)
    res.check("dedup passes repeat", True)

    if ctx.trace:
        L = ctx.layers
        with ctx.phase("latency") as ph:
            t_lat = retrieve_pass(n=N_QUERIES)
        L.set("spark.jobs_per_retrieve", ph.values["spark_jobs"] / N_QUERIES)
        with ctx.phase("throughput") as ph:
            t_rates = dedup_rates(n=1)
        L.set("spark.shuffle_bytes.dedup", ph.values["shuffle_write_bytes"])
        L.set("trace.overhead.latency_pct", overhead_pct(median(lat), median(t_lat), "lower"))
        L.set("trace.overhead.throughput_pct", overhead_pct(res.throughput, median(t_rates), "higher"))
        _layer_probes(ctx, docs, qs, ivf_served, pq_served)
    return res


def trace_layers(ctx: Ctx, res: Result) -> None:
    """The tier's per-layer metrics on their own: one checked dedup pass,
    the index builds, one retrieve per query in a traced phase, then
    single layers timed directly."""
    corpus, docs, emb, want = load_corpus(ctx)
    with ctx.phase("dedup") as ph:
        got = dedup_pass(docs)
    ctx.layers.set("spark.shuffle_bytes.dedup", ph.values["shuffle_write_bytes"])
    check_dedup(ctx, res, got, corpus, want)
    kept = sorted(d for d, (_, _, keep) in got.items() if keep)
    eng, ivf_served, pq_served = build_indexes(ctx, docs, emb, kept)
    qs = Queries(ctx, eng, corpus, kept)
    with ctx.phase("retrieve") as ph:
        answers = [qs.retrieve(j) for j in range(N_QUERIES)]
    ctx.layers.set("spark.jobs_per_retrieve", ph.values["spark_jobs"] / N_QUERIES)
    check_answers(ctx, res, qs, corpus, kept, answers)
    _layer_probes(ctx, docs, qs, ivf_served, pq_served)


def _layer_probes(ctx: Ctx, docs, qs: Queries, ivf_served, pq_served) -> None:
    """Single layers timed directly; the per-query probes use the first
    N_PROBED queries (the traced run must stay within its time limit)."""
    from uwheel_datafusion_spark.operators import ann_serving as srv
    from uwheel_datafusion_spark.operators import dedup as dd
    from uwheel_datafusion_spark.operators import textops as tx
    from uwheel_datafusion_spark.operators.retrieval import rrf_fuse

    L = ctx.layers
    spark = ctx.spark
    pairs = L.time_once(
        "dedup.candidates_s", lambda: dd.minhash_lsh_candidates(docs).localCheckpoint(eager=True)
    )
    L.time_once("dedup.components_s", lambda: dd.connected_components(pairs).collect())
    L.time_once("dedup.canonicalize_s", lambda: dd.canonicalize(docs, pairs).collect())
    L.time_calls(
        "textops.bm25_probe_ms",
        lambda t: tx.keyword_index_bm25_probe(spark, qs.eng.keyword_path, terms=t, k=DEPTH).collect(),
        [(t,) for t, _ in qs.items[:N_PROBED]],
        1e-3,
    )
    L.time_calls(
        "ann_serving.rerank_served_ms",
        lambda qf: srv.ivfpq_rerank_served(
            pq_served, ivf_served, qf, topk=DEPTH, nprobe=NPROBE, n_candidates=N_CAND
        ).collect(),
        [(qf,) for qf in qs.frames[:N_PROBED]],
        1e-3,
    )
    ranked = [
        (
            spark.createDataFrame(qs.eng.keyword_ranked(t, DEPTH).collect(), "doc_id long, kw_rank long"),
            spark.createDataFrame(
                qs.eng.vector_ranked(qf, DEPTH, NPROBE, N_CAND).collect(), "doc_id long, vec_rank long"
            ),
        )
        for (t, _), qf in zip(qs.items[:N_PROBED], qs.frames[:N_PROBED])
    ]
    L.time_calls("retrieval.rrf_fuse_ms", lambda a, b: rrf_fuse(a, b, k=K).collect(), ranked, 1e-3)
