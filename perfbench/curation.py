"""The curation phase: a fixed job mix over a seeded document corpus
(planted exact and near duplicates) and clustered embeddings.

Each timed pass runs every job to completion and keeps its (small)
output; the checks then compare the first pass with the generator's
truth and every later pass with the first.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F

import gen
from probe import median

from defenda_data_lake_spark.operators.dedup import (
    exact_dedup,
    minhash_bucket_dedupe,
    ngram_jaccard_pairs,
)
from defenda_data_lake_spark.operators.pq import pq_encode, pq_topk, pq_train
from defenda_data_lake_spark.operators.similarity import cosine_topk, ivf_topk

K = 10


def land_corpus(ctx) -> None:
    p = ctx.profile
    c = gen.make_corpus(ctx.rng("corpus"), p["docs"], p["exact_dup_share"], p["near_dup_share"],
                        p["vectors"], p["dim"], p["clusters"], p["vector_queries"])
    root = os.path.join(ctx.work, "corpus")
    os.makedirs(root)
    pd.DataFrame({"doc_id": c.doc_ids, "text": c.texts}).to_parquet(
        os.path.join(root, "docs.parquet"), index=False)
    pd.DataFrame({
        "vec_id": c.vec_ids.astype("int64"),
        "embedding": [row.tolist() for row in c.vectors],
        "label": c.labels.astype("int64"),
    }).to_parquet(os.path.join(root, "vectors.parquet"), index=False)
    ctx.corpus, ctx.corpus_dir = c, root


class Jobs:
    """The job mix.  Each job runs to completion and returns its output
    in driver-side form (outputs are small: counts, pairs, top-k)."""

    def __init__(self, ctx):
        spark = ctx.spark
        self.docs = spark.read.parquet(os.path.join(ctx.corpus_dir, "docs.parquet"))
        self.vecs = spark.read.parquet(os.path.join(ctx.corpus_dir, "vectors.parquet"))
        self.queries = self.vecs.where(F.col("vec_id").isin(ctx.corpus.query_ids))
        self.query_list = [(int(q), ctx.corpus.vectors[q].tolist()) for q in ctx.corpus.query_ids]
        self.books = None

    def exact(self):
        return exact_dedup(self.docs).count()

    def minhash(self):
        rows = minhash_bucket_dedupe(self.docs).where(F.col("dup_of").isNotNull()).select(
            "doc_id", "dup_of").collect()
        return {tuple(sorted((int(r["dup_of"]), int(r["doc_id"])))) for r in rows}

    def jaccard(self):
        return {(int(r["id_a"]), int(r["id_b"]))
                for r in ngram_jaccard_pairs(self.docs, threshold=0.5).collect()}

    def cosine(self):
        return _ranked(cosine_topk(self.vecs, self.queries, k=K).collect(), "neighbor_id")

    def ivf(self):
        return _ranked(ivf_topk(self.vecs, self.queries, k=K, partition_col="label", n_probe=1)
                       .collect(), "neighbor_id")

    def pq_train(self):
        self.books = pq_train(self.vecs, m=4, k=16, iterations=2)
        return self.books

    def pq_topk(self):
        return _ranked(pq_topk(pq_encode(self.vecs, self.books), self.query_list, self.books,
                               k_top=K).collect(), "vec_id")

    def mix(self):
        return [("dedup.exact", self.exact), ("dedup.minhash_bucket", self.minhash),
                ("dedup.jaccard_pairs", self.jaccard), ("similarity.cosine_topk", self.cosine),
                ("similarity.ivf_topk", self.ivf), ("pq.train", self.pq_train),
                ("pq.topk", self.pq_topk)]


def _ranked(rows, col) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(int(r[col]))
    return out


def check_outputs(ctx, out: dict) -> None:
    """Compare one pass's outputs with the generator's truth."""
    c = ctx.corpus
    n = out["dedup.exact"]
    ctx.check("curate.exact_survivors", n == c.distinct_texts, f"{n} vs {c.distinct_texts}")
    pairs, flagged = out["dedup.jaccard_pairs"], out["dedup.minhash_bucket"]
    recall = sum(1 for pair in c.near_pairs if pair in pairs) / max(1, len(c.near_pairs))
    ctx.check("curate.jaccard_near_dup_recall", recall == 1.0, f"{recall:.3f}")
    truth = gen.brute_topk(c, K)
    ctx.check("curate.cosine_topk_exact", out["similarity.cosine_topk"] == truth,
              "differs from numpy brute force")
    ivf = out["similarity.ivf_topk"]
    pq = out["pq.topk"]
    ctx.check("curate.pq_topk_rows", sorted(pq) == sorted(truth) and all(len(v) == K for v in pq.values()),
              f"{sum(len(v) for v in pq.values())} rows")
    ctx.curate_info = {
        "minhash_near_dup_recall": sum(1 for p in c.near_pairs if p in flagged) / max(1, len(c.near_pairs)),
        "minhash_candidate_precision": sum(1 for p in flagged if p in pairs) / max(1, len(flagged)),
        "jaccard_near_dup_recall": recall,
        "ivf_recall_at_10": sum(len(set(ivf.get(q, [])) & set(t)) for q, t in truth.items())
        / (K * len(truth)),
    }


def run_curate(ctx, seconds: float) -> None:
    jobs = Jobs(ctx)
    tr, jc = ctx.tracer, ctx.jobs
    passes, per_job, outputs = [], {}, []
    deadline = time.perf_counter() + seconds
    p = 0
    while p == 0 or time.perf_counter() < deadline:
        p += 1
        total, out = 0.0, {}
        for name, fn in jobs.mix():
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with jc.op(f"curate.{name}.{p}"), tr.span(name, op=f"c{p}"):
                    out[name] = fn()
            except Exception as exc:
                ctx.fail(name, repr(exc))
                continue
            dt = time.perf_counter() - t0
            per_job.setdefault(name, []).append(dt)
            total += dt
        if len(out) == len(jobs.mix()):
            passes.append(total)
            outputs.append(out)
    ctx.layer["curate.pass_s"] = median(passes)
    if not outputs:
        return
    check_outputs(ctx, outputs[0])
    same = all(o == outputs[0] for o in outputs[1:])
    ctx.check("curate.passes_agree", same, "a later pass gave other results")
    info = ", ".join(f"{k}={v:.3f}" for k, v in ctx.curate_info.items())
    print(f"  curation quality: {info}")
    if tr.enabled:
        for name, vals in per_job.items():
            ctx.layer[f"{name}_s"] = median(vals)
        ctx.layer["dedup.minhash_candidate_precision"] = ctx.curate_info["minhash_candidate_precision"]
        ctx.layer["similarity.ivf_recall_at_10"] = ctx.curate_info["ivf_recall_at_10"]
