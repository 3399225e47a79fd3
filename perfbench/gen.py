"""Seeded input generator for the benchmark workloads.

Every workload writes the engine's `documents` and/or `embeddings` tables
with the sf-layout schemas (`doc_id` long, `text`, `lang`, `source`,
`n_chars` = length(text); `vec_id` long, `embedding` array<float> of dim
64, `label` int), so `graft.Tables` loads them unchanged. The same
(workload, seed) always gives byte-identical parquet files.

Corpus shape follows the sf test data: texts are space-joined tokens drawn
from the same 31-word vocabulary, 10..100 tokens per doc, `lang` 40% `en`
and 15% each of four others, `source` round-robin over `src0..src19`,
embeddings unit-norm.

  etl-wikibooks  dup-light: independent token samples, no verbatim or near
                 copies (5-token shingles from a 31-word vocabulary almost
                 never collide by chance).
  dedup-dense    dup-dense: each base token sequence yields a group of
                 3 or 4 members, each a copy with seeded token drops and
                 adjacent swaps; embeddings of a group are jittered copies
                 of one base vector.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
DIM = 64
SHINGLE = 5  # graft.operators.Dedup.ShingleSize

# Workload sizes. Fixed per workload so every seed does the same amount of
# work; only the content varies with the seed.
SIZES = {
    "etl-wikibooks": {"docs": 4000},
    "dedup-dense": {"bases": 600, "group_sizes": (3, 4)},
}

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _rng(workload, seed, stream):
    # one independent stream per (workload, seed, purpose)
    key = sum(ord(c) * 31 ** i for i, c in enumerate(workload)) % (2 ** 31)
    return np.random.default_rng([int(seed), key, stream])


def _tokens(rng, lo, hi):
    n = int(rng.integers(lo, hi + 1))
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def perturb(rng, toks):
    """One near-copy: max(1, len // 50) edits, each a token drop or an
    adjacent swap. Each edit touches at most 2 * SHINGLE - 2 shingles, so
    two copies of a base of >= 40 tokens keep 5-shingle Jaccard >= 0.5."""
    out = list(toks)
    for _ in range(max(1, len(toks) // 50)):
        i = int(rng.integers(0, len(out) - 1))
        if rng.random() < 0.5:
            del out[i]
        else:
            out[i], out[i + 1] = out[i + 1], out[i]
    return out


def _unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _doc_table(texts, rng):
    n = len(texts)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)


def _emb_table(vecs, labels):
    flat = pa.array(np.ascontiguousarray(vecs).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(np.asarray(labels, dtype=np.int32)),
    }, schema=EMB_SCHEMA)


def _jittered(rng, bases, sizes, sigma):
    """Rows of unit vectors: base b repeated sizes[b] times, each jittered."""
    rep = np.repeat(bases, sizes, axis=0)
    return _unit(rep + rng.normal(0.0, sigma, rep.shape))


def tables(workload, seed):
    """name -> pyarrow Table for one workload's inputs."""
    cfg = SIZES[workload]
    if workload == "etl-wikibooks":
        rng = _rng(workload, seed, 0)
        texts = [" ".join(_tokens(rng, 10, 100)) for _ in range(cfg["docs"])]
        return {"documents": _doc_table(texts, _rng(workload, seed, 1))}
    if workload == "dedup-dense":
        rng = _rng(workload, seed, 0)
        lo, hi = cfg["group_sizes"]
        texts, sizes = [], []
        for b in range(cfg["bases"]):
            base = _tokens(rng, 40, 100)
            c = lo if b % 2 == 0 else hi  # fixed total, seed-independent
            members = set()
            while len(members) < c:
                members.add(" ".join(perturb(rng, base)))
            texts.extend(sorted(members))
            sizes.append(c)
        # groups sit apart in id order, as copies do in a crawl
        order = _rng(workload, seed, 2).permutation(len(texts))
        texts = [texts[i] for i in order]
        erng = _rng(workload, seed, 3)
        bases = _unit(erng.normal(0.0, 1.0, (len(sizes), DIM)))
        labels = np.repeat(erng.integers(0, 10, len(sizes)), sizes)
        vecs = _jittered(erng, bases, sizes, 0.002)
        return {"documents": _doc_table(texts, _rng(workload, seed, 1)),
                "embeddings": _emb_table(vecs[order], labels[order])}
    raise ValueError(f"unknown workload {workload!r}")


def write(workload, seed, out_dir):
    """Write the workload's tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(workload, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", store_schema=False)
    return out_dir
