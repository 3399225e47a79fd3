"""Input-property check: each workload's reason to exist, measured on the
written parquet files, so a generator bug cannot silently turn one workload
into another.

  etl-wikibooks  no verbatim duplicates, near-dup pairs at most 1 per 1000
                 docs (dup-light).
  dedup-dense    every doc has >= 2 verified near-dup partners (5-shingle
                 Jaccard >= 0.5, the engine's threshold; groups hold 3 or 4
                 members) and every embedding >= 2 partners at cosine >= 0.99.
"""
import os
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from gen import SHINGLE

JACCARD = 0.5


def _shingles(text):
    toks = text.lower().split()
    return {" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


def near_dup_partners(texts):
    """Per doc, the number of other docs with 5-shingle Jaccard >= 0.5
    (candidates from a shingle inverted index, then verified exactly)."""
    sh = [_shingles(t) for t in texts]
    post = defaultdict(list)
    for d, s in enumerate(sh):
        for x in s:
            post[x].append(d)
    shared = defaultdict(int)
    for docs in post.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                shared[(a, b)] += 1
    partners = [0] * len(texts)
    for (a, b), inter in shared.items():
        if inter >= JACCARD * (len(sh[a]) + len(sh[b]) - inter):
            partners[a] += 1
            partners[b] += 1
    return partners


def _embeddings(path):
    col = pq.read_table(path, columns=["embedding"]).column(0).combine_chunks()
    return col.flatten().to_numpy().reshape(len(col), -1).astype(np.float64)


def _cosines(vecs):
    """Pairwise cosines of unit vectors, self pairs excluded."""
    sims = vecs @ vecs.T
    np.fill_diagonal(sims, -1.0)
    return sims


def check(workload, input_dir):
    """(ok, facts) for one workload's generated inputs."""
    if workload not in ("etl-wikibooks", "dedup-dense"):
        raise ValueError(f"unknown workload {workload!r}")
    texts = pq.read_table(os.path.join(input_dir, "documents.parquet"),
                          columns=["text"]).column(0).to_pylist()
    partners = near_dup_partners(texts)
    facts = {"docs": len(texts), "verbatim_dups": len(texts) - len(set(texts)),
             "near_dup_pairs": sum(partners) // 2, "min_partners": min(partners)}
    if workload == "etl-wikibooks":
        return (facts["verbatim_dups"] == 0
                and facts["near_dup_pairs"] <= facts["docs"] // 1000), facts
    vecs = _embeddings(os.path.join(input_dir, "embeddings.parquet"))
    close = (_cosines(vecs) >= 0.99).sum(axis=1)
    facts["vectors"] = len(vecs)
    facts["min_embedding_partners"] = int(close.min())
    return facts["min_partners"] >= 2 and facts["min_embedding_partners"] >= 2, facts
