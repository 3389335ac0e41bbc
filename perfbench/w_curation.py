"""curation_batch: one LLM-data curation job over a generated corpus.

The job calls the registered query functions and the ``indexes`` classes
with the generated directory as ``sf_dir``, stage by stage:
quality filter -> exact dedup -> MinHash dedup -> embedding dedup ->
SemDeDup -> pipeline_e2e -> stream_curation (availableNow) -> IVF build +
batch KNN -> FTS build + BM25 queries. The SQL front door and the commit
path are not used. Each stage call (each index build, the KNN batch and
each BM25 query) is one operation of the closed loop; the searches are its
reads. Whole jobs repeat until the run's seconds are spent (at least one).

Checks: stages whose registry oracle is exact are compared with DuckDB
running that oracle; BM25 top-10 is compared with a Python BM25. LSH and
ANN stages report recall instead: dedup against the generator's planted
duplicate groups, KNN against an exact numpy top-10.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.trace import median

N_DOCS = 1200
N_EVENTS = 6000
SETUPS = 3
N_QUERIES = 50
TOP_K = 10
NPROBE = 4
IVF_K = 16
MINHASH_MIN_JACCARD = 0.75  # 6 of 8 signature slots agree
BM25_QUERIES = 4
EXACT_STAGES = ("quality_filter", "dedup_exact", "semdedup", "pipeline_e2e",
                "stream_curation")
TABLES = ("documents", "embeddings", "events")


def _norm(text: str) -> str:
    """The registry's document normalisation (lower(trim(collapse ws)))."""
    return re.sub(r"\s+", " ", text).strip(" ").lower()


def resolve(ctx, sf_dir: str) -> None:
    from plan_spark.catalog import table

    with ctx.span("catalog", "catalog.resolve"):
        for t in TABLES:
            table(ctx.spark, sf_dir, t)


class Job:
    """One curation job: the stage calls and what the checks need."""

    def __init__(self, ctx, sf_dir: str):
        from plan_spark.registry import load_all

        self.ctx = ctx
        self.sf = sf_dir
        self.reg = load_all()
        self.answers: dict[str, list[tuple]] = {}
        self.removed: set[int] = set()
        self.knn: list[tuple] = []
        self.bm25: list[tuple[list[str], list[tuple]]] = []
        self.keep_by_fp: dict[str, int] = {}
        self.passes = 0

    def stage(self, name: str, layer: str, fn):
        def call():
            with self.ctx.span(layer, f"stage.{name}"):
                return fn()

        return self.ctx.timed(name, call)

    def registry(self, name: str, layer: str = "operators"):
        rows = self.stage(name, layer, lambda: [
            tuple(r) for r in self.reg[name].fn(self.ctx.spark, self.sf).collect()])
        if rows is not None:
            self.answers[name] = rows
        return rows

    def run_once(self, knn_queries: np.ndarray, bm25_queries: list[list[str]]) -> None:
        from pyspark.sql import functions as F

        from plan_spark.catalog import table
        from plan_spark.indexes.fts import FtsIndex
        from plan_spark.indexes.ivf import IvfIndex

        spark, work = self.ctx.spark, self.ctx.work
        self.registry("quality_filter")
        exact = self.registry("dedup_exact")
        minhash = self.registry("dedup_minhash")
        embed = self.registry("dedup_embed")
        self.registry("semdedup")
        self.registry("pipeline_e2e")
        self.registry("stream_curation", layer="streaming")

        emb = table(spark, self.sf, "embeddings")
        ivf = self.stage("ivf_build", "indexes", lambda: IvfIndex.build(
            spark, emb, k=IVF_K, path=os.path.join(work, f"ivf{self.passes}")))
        q = emb.filter(F.col("vec_id").isin([int(i) for i in knn_queries])).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
        self.knn = self.stage("knn_search", "indexes", lambda: [
            tuple(r) for r in ivf.search(q, top_k=TOP_K, nprobe=NPROBE).collect()
        ]) if ivf is not None else None
        fts = self.stage("fts_build", "indexes", lambda: FtsIndex.build(
            spark, table(spark, self.sf, "documents"),
            path=os.path.join(work, f"fts{self.passes}")))
        self.bm25 = []
        for terms in bm25_queries if fts is not None else []:
            rows = self.stage("bm25_query", "indexes", lambda: [
                tuple(r) for r in fts.search(terms, top_k=TOP_K).collect()])
            if rows is not None:
                self.bm25.append((terms, rows))
        self.passes += 1
        # documents the job removes: non-kept members of exact groups plus
        # the higher id of every near-duplicate pair
        if exact is not None:
            self.keep_by_fp = {fp: keep for fp, keep, n in exact if n > 1}
        self.removed = set()
        for pairs, floor in ((minhash, MINHASH_MIN_JACCARD), (embed, -1.0)):
            self.removed |= {db for _, db, s in pairs or [] if s >= floor}


def _bm25_exact(docs: list[str], terms: list[str]) -> list[tuple[int, float]]:
    """BM25(k1=1.2, b=0.75) with the index's idf form, rounded to 6 places."""
    toks = [_norm(t).split(" ") for t in docs]
    avgdl = sum(len(t) for t in toks) / len(toks)
    df = Counter(w for t in toks for w in set(t) if w in terms)
    scores = {}
    for d, t in enumerate(toks):
        tf = Counter(w for w in t if w in terms)
        if not tf:
            continue
        s = 0.0
        for w, f in tf.items():
            idf = math.log((len(toks) - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
            s += idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
        scores[d] = math.floor(s * 1e6 + 0.5) / 1e6  # Spark's HALF_UP round
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]


def verify(ctx, job: Job, sf: str, truth: dict, emb: np.ndarray, texts: list[str]):
    """Failures for exact answers; recall/precision for the approximate
    stages. Returns the quality numbers."""
    con = oracle.connect({t: f"{sf}/{t}.parquet" for t in TABLES})
    for name in EXACT_STAGES:
        if name in job.answers:
            want = con.execute(job.reg[name].oracle).fetchall()
            if not oracle.rows_equal(job.answers[name], want, ordered=False):
                ctx.fail(f"{name}: {len(job.answers[name])} rows differ from its oracle")
    con.close()

    # exact dedup membership from the Python normalisation
    removed = set(job.removed)
    for d, t in enumerate(texts):
        keep = job.keep_by_fp.get(hashlib.md5(_norm(t).encode()).hexdigest())
        if keep is not None and keep != d:
            removed.add(d)
    dupes = {d for g in truth["groups"] for d in g[1:]}
    hit = len(removed & dupes)

    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    got = {}
    for q, c, rank, _ in job.knn or []:
        got.setdefault(q, set()).add(c)
    found = total = 0
    for q in got:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        top = set(np.argsort(-sims, kind="stable")[:TOP_K].tolist())
        found += len(top & got[q])
        total += TOP_K
    for terms, rows in job.bm25:
        want = _bm25_exact(texts, terms)
        if [d for d, _ in rows] != [d for d, _ in want] or any(
                abs(a - b) > 2e-6 for (_, a), (_, b) in zip(rows, want)):
            ctx.fail(f"bm25 {terms}: {rows[:3]} != {want[:3]}")
    q_rows = job.answers.get("quality_filter", [])
    return {
        "dedup_recall": hit / max(len(dupes), 1),
        "dedup_precision": hit / max(len(removed), 1),
        "knn_recall_at_10": found / max(total, 1),
        "drop_frac": (len(removed | {r[0] for r in q_rows if not r[-1]})) / len(texts),
    }


def run(ctx, start_s: float) -> dict:
    src = os.path.join(ctx.work, "corpus")
    truth = gen.gen_corpus(src, ctx.seed, N_DOCS, N_EVENTS)
    texts = pq.read_table(f"{src}/documents.parquet").column("text").to_pylist()
    emb = np.array(pq.read_table(f"{src}/embeddings.parquet").column("embedding").to_pylist())
    rng = np.random.default_rng([ctx.seed, 6])
    knn_queries = rng.choice(N_DOCS, N_QUERIES, replace=False)
    words = sorted({w for t in texts[:200] for w in _norm(t).split(" ") if w.isalpha()})
    bm25_queries = [sorted(rng.choice(words, 2, replace=False).tolist())
                    for _ in range(BM25_QUERIES)]

    # each set-up resolves a fresh copy of the corpus (the catalog caches by
    # directory); the copies are hard links, so making them costs no I/O
    setups, dirs = [], []
    for i in range(SETUPS):
        d = os.path.join(ctx.work, f"sf{i}")
        os.makedirs(d)
        for t in TABLES:
            os.link(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
        t0 = time.perf_counter()
        resolve(ctx, d)
        setups.append(time.perf_counter() - t0)
        dirs.append(d)

    job = Job(ctx, dirs[-1])
    t_end = time.perf_counter() + ctx.seconds
    t0 = time.perf_counter()
    while job.passes == 0 or time.perf_counter() < t_end:
        job.run_once(knn_queries, bm25_queries)
    ctx.loop_s = time.perf_counter() - t0
    q = verify(ctx, job, dirs[-1], truth, emb, texts)

    tr = ctx.tracer
    stream_s = median(tr.durations("stage.stream_curation"))
    layers = {
        f"stage.{n}_s": median(tr.durations(f"stage.{n}"))
        for n in ("quality_filter", "dedup_exact", "dedup_minhash", "dedup_embed",
                  "semdedup", "pipeline_e2e", "stream_curation")
    }
    layers.update({
        "catalog.resolve_s": median(tr.durations("catalog.resolve")),
        "indexes.build_s.ivf": median(tr.durations("stage.ivf_build")),
        "indexes.build_s.fts": median(tr.durations("stage.fts_build")),
        "indexes.search_s.ivf": median(tr.durations("stage.knn_search")),
        "indexes.search_s.fts": median(tr.durations("stage.bm25_query")),
        "indexes.recall_at_10": q["knn_recall_at_10"],
        "operators.drop_frac": q["drop_frac"],
        "streaming.run_s": stream_s,
        "streaming.rows_per_s": N_EVENTS / stream_s if stream_s else 0.0,
    })
    return {
        "setup_s": start_s + median(setups),
        "reads": ("knn_search", "bm25_query"),
        "detail": {
            "docs_per_s": (N_DOCS * job.passes / ctx.loop_s, "1/s"),
            "jobs": (job.passes, "count"),
            "knn_recall_at_10": (q["knn_recall_at_10"], "ratio"),
            "dedup_recall": (q["dedup_recall"], "ratio"),
            "dedup_precision": (q["dedup_precision"], "ratio"),
            "planted_duplicates": (sum(len(g) - 1 for g in truth["groups"]), "count"),
        },
        "layers": layers,
    }
