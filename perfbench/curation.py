"""Curation part of the ``pipeline`` workload — the LLM-data operators on a seeded corpus with planted
near-duplicates: short web-like documents (a share copied from another
document with a few token edits) and 64-dimensional embeddings (a share
drawn as tight clusters around a few seeds).

One op is one stage call, each result fetched with ``toPandas()``; one pass
runs the five stages in order:

1. ``text.clean_text`` / ``token_count`` over every document;
2. ``dedup.lsh_candidate_pairs`` over the cleaned text;
3. ``similarity.lsh_bucketed_cosine_pairs`` over the embeddings;
4. ``dedup.connected_components`` over the stage-3 pairs (the keep set is
   one representative per component);
5. ``similarity.ivf_topk`` probes against a 16-centroid codebook trained
   offline by the generator.

Input rows per pass are the documents of stages 1–2 and the vectors of
stages 3–5. Warm-up runs one pass.

Correctness: stage 1 equals a Python model of the cleaning rules; stage 3
pairs have the cosine they claim and clear the threshold; stage 4 equals a
union-find over the stage-3 pairs; every pass yields the same digests as
the warm-up pass. Planted-duplicate recall and the run's output digest are
reported.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Part, clear_cache, digest, job_stats, now

N_DOCS = 1_000
N_VECS = 1_000
DIMS = 64
DOC_DUP, VEC_DUP = 0.10, 0.15
LSH_HASHES, LSH_BANDS = 8, 4
COS_THRESHOLD = 0.9
IVF_CENTROIDS, IVF_K, IVF_QUERY_EVERY = 16, 5, 25
JACCARD_MIN = 0.5
STAGES = ("text", "minhash_lsh", "bucketed_pairs", "components", "ivf_topk")
PUNCT = ("", "", "", ",", ".", "!", "?", ";")


# --- input generation -------------------------------------------------------

def generate(out: str, seed: int) -> dict:
    """Documents and embeddings as parquet, plus the planted pairs."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(3_000)]
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts, planted = [], []
    for d in range(N_DOCS):
        if d > 10 and rng.random() < DOC_DUP:
            src = int(rng.integers(0, d))
            toks = texts[src].split(" ")
            for i in rng.choice(len(toks), size=max(1, len(toks) // 25), replace=False):
                toks[i] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            planted.append((src, d))
            continue
        n = int(rng.integers(40, 90))
        words = rng.choice(len(vocab), size=n, p=weights)
        toks = []
        for w in words:
            t = vocab[w]
            if rng.random() < 0.1:
                t = t.upper()
            toks.append(t + PUNCT[int(rng.integers(0, len(PUNCT)))])
        texts.append(" ".join(toks))
    seeds = rng.normal(size=(N_VECS // 20, DIMS))
    vecs = rng.normal(size=(N_VECS, DIMS))
    dup = rng.random(N_VECS) < VEC_DUP
    owner = rng.integers(0, len(seeds), N_VECS)
    vecs[dup] = seeds[owner[dup]] + rng.normal(scale=0.05, size=(int(dup.sum()), DIMS))
    vecs = vecs.astype(np.float32)
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(N_DOCS), pa.int64()), "text": texts}),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), os.path.join(out, "embeddings.parquet"))
    codebook = _kmeans(vecs, rng)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(IVF_CENTROIDS), pa.int64()),
        "embedding": pa.array(list(codebook), pa.list_(pa.float32())),
    }), os.path.join(out, "codebook.parquet"))
    return {"texts": texts, "planted": planted, "vecs": vecs}


def _kmeans(vecs: np.ndarray, rng, iters: int = 5) -> np.ndarray:
    """The IVF codebook, trained offline (Lloyd's on unit vectors)."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cent = unit[rng.choice(len(unit), IVF_CENTROIDS, replace=False)]
    for _ in range(iters):
        assign = np.argmax(unit @ cent.T, axis=1)
        for c in range(IVF_CENTROIDS):
            members = unit[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent.astype(np.float32)


# --- models -----------------------------------------------------------------

def clean_model(text: str) -> str | None:
    s = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()
    return s or None


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def components_model(pairs: pd.DataFrame) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["vec_a"], pairs["vec_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# --- the workload -----------------------------------------------------------

def make(r) -> Part:
    """Generate the corpus and return the curation stages bound to it."""
    from pyspark.sql import functions as F

    from redshift_etl_spark.operators import dedup, similarity, text

    data = os.path.join(r.work, "corpus")
    t = now()
    gen = generate(data, r.seed)
    r.notes["generate_s"] = r.notes.get("generate_s", 0.0) + now() - t
    cleaned_want = [clean_model(s) for s in gen["texts"]]
    vecs = gen["vecs"]
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    inputs: dict = {}
    tr = r.tracer

    def register(spark):
        emb = spark.read.parquet(os.path.join(data, "embeddings.parquet"))
        inputs.update(
            docs=spark.read.parquet(os.path.join(data, "documents.parquet")),
            emb=emb,
            queries=emb.filter(F.col("vec_id") % IVF_QUERY_EVERY == 0),
            codebook=spark.read.parquet(os.path.join(data, "codebook.parquet")),
        )

    def stage(spark, name: str, state: dict) -> pd.DataFrame:
        if name == "text":
            c = text.clean_text("text")
            return inputs["docs"].select(
                "doc_id", c.alias("text"), text.token_count(c).alias("n_tokens")
            ).toPandas()
        if name == "minhash_lsh":
            docs = inputs["docs"].select("doc_id", text.clean_text("text").alias("text"))
            return dedup.lsh_candidate_pairs(
                docs, "doc_id", "text", num_hashes=LSH_HASHES, bands=LSH_BANDS
            ).toPandas()
        if name == "bucketed_pairs":
            return similarity.lsh_bucketed_cosine_pairs(
                inputs["emb"], dims=DIMS, threshold=COS_THRESHOLD
            ).toPandas()
        if name == "components":
            edges = spark.createDataFrame(state["bucketed_pairs"][["vec_a", "vec_b"]])
            return dedup.connected_components(edges, "vec_a", "vec_b").toPandas()
        return similarity.ivf_topk(
            inputs["emb"], inputs["queries"], k=IVF_K, dims=DIMS,
            centroids=inputs["codebook"],
        ).toPandas()

    def one_pass(spark, op0: int, record) -> dict:
        state: dict[str, pd.DataFrame] = {}
        for i, name in enumerate(STAGES):
            group = f"op{op0 + i}"
            if r.trace:
                spark.sparkContext.setJobGroup(group, name)
            t0 = now()
            with tr.span("op", op0 + i), tr.span(f"stage.{name}", op0 + i):
                state[name] = stage(spark, name, state)
            record(name, now() - t0, group)
            clear_cache(spark)
        return state

    warm_passes: list[dict] = []

    def warmup(spark):
        warm_passes.append(one_pass(spark, 0, lambda *a: None))

    per_stage: dict[str, list[float]] = {s: [] for s in STAGES}
    comp_jobs: list[int] = []
    passes: list[dict] = []

    def measure(spark, op0: int) -> int:
        def record(name, lat, group):
            r.record(lat, True, name)
            per_stage[name].append(lat)
            if r.trace and name == "components":
                comp_jobs.append(job_stats(spark, group)[0])

        passes.append(one_pass(spark, op0, record))
        r.add_rows(2 * N_DOCS + 3 * N_VECS)
        return len(STAGES)

    def finish(spark) -> bool:
        first = passes[0]
        ref = {s: digest(warm_passes[-1][s]) for s in STAGES}
        bad = sum(1 for p in passes for s in STAGES if digest(p[s]) != ref[s])
        got = first["text"].sort_values("doc_id")
        if got["text"].tolist() != cleaned_want or got["n_tokens"].tolist() != [
            len(s.split(" ")) for s in cleaned_want
        ]:
            bad += len(passes)
            r.notes["text_mismatch"] = True
        bp = first["bucketed_pairs"]
        a, b = bp["vec_a"].to_numpy(), bp["vec_b"].to_numpy()
        cos = np.einsum("ij,ij->i", unit[a].astype(np.float64), unit[b].astype(np.float64))
        score = bp.drop(columns=["vec_a", "vec_b"]).iloc[:, 0].to_numpy(dtype=float)
        if len(bp) == 0 or (cos < COS_THRESHOLD - 1e-6).any() or (np.abs(cos - score) > 1e-4).any():
            bad += len(passes)
            r.notes["pairs_mismatch"] = True
        comp = first["components"]
        if dict(zip(comp["node"].astype(int), comp["component"].astype(int))) != components_model(bp):
            bad += len(passes)
            r.notes["components_mismatch"] = True
        r.failed += bad

        cand = first["minhash_lsh"]
        pairs = set(zip(cand["doc_a"].astype(int), cand["doc_b"].astype(int)))
        sh = {}
        good = 0
        for x, y in pairs:
            sa = sh.setdefault(x, _shingles(cleaned_want[x]))
            sb = sh.setdefault(y, _shingles(cleaned_want[y]))
            good += len(sa & sb) / max(len(sa | sb), 1) >= JACCARD_MIN
        planted = {(min(s, d), max(s, d)) for s, d in gen["planted"]}
        recall = len(planted & pairs) / max(len(planted), 1)
        out_digest = hashlib.sha256(repr(sorted(ref.items())).encode()).hexdigest()[:16]
        r.notes.update(passes=len(passes), docs=N_DOCS, vectors=N_VECS, dims=DIMS,
                       planted_recall=recall, output_digest=out_digest)
        r.layer.update({
            "text.clean_s": float(np.median(per_stage["text"])),
            "dedup.minhash_lsh_s": float(np.median(per_stage["minhash_lsh"])),
            "dedup.candidate_pairs": len(pairs),
            "dedup.candidate_precision": good / max(len(pairs), 1),
            "dedup.planted_recall": recall,
            "similarity.bucketed_pairs_s": float(np.median(per_stage["bucketed_pairs"])),
            "similarity.pairs_out": len(bp),
            "dedup.components_s": float(np.median(per_stage["components"])),
            "dedup.components_jobs": sum(comp_jobs) / max(len(comp_jobs), 1),
            "similarity.ivf_topk_s": float(np.median(per_stage["ivf_topk"])),
        })
        return bad == 0

    return Part(register, warmup, measure, lambda: True, finish)
