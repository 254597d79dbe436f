"""Deterministic input generator for the benchmark.

Every value is a closed-form function of ``(seed, stream, index)``: a
splitmix64 hash of those integers, mapped to a uniform double and, where
needed, to a Gaussian by Box-Muller.  No random-number library is used,
so the same seed yields byte-identical inputs on any host.

Outputs are cached on disk by (seed, size) under the benchmark's own work
directory; the program under test only ever receives these files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# ---------------------------------------------------------------- hashing

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

# distinct streams keep independent draws from sharing hash inputs
S_LABEL, S_CENTER, S_NOISE, S_QLABEL, S_QNOISE = 1, 2, 3, 4, 5
S_PHRASE, S_TOPK, S_WORDS, S_DELTA = 6, 7, 8, 9


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + _GOLDEN).astype(np.uint64)
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        return x ^ (x >> np.uint64(31))


def hash64(seed: int, stream: int, idx: np.ndarray) -> np.ndarray:
    base = _mix(np.array([seed * 1_000_003 + stream], dtype=np.uint64))[0]
    return _mix(np.asarray(idx, dtype=np.uint64) ^ base)


def uniform(seed: int, stream: int, n: int, offset: int = 0) -> np.ndarray:
    """n doubles in [0, 1) — the top 53 bits of the hash."""
    h = hash64(seed, stream, np.arange(offset, offset + n, dtype=np.uint64))
    return (h >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


def gaussian(seed: int, stream: int, n: int, offset: int = 0) -> np.ndarray:
    """n standard normals by Box-Muller over two hashed uniforms."""
    u1 = uniform(seed, stream, n, 2 * offset)[:n]
    u2 = uniform(seed, stream + 1000, n, 2 * offset)[:n]
    return np.sqrt(-2.0 * np.log1p(-u1)) * np.cos(2.0 * np.pi * u2)


def zipf_choice(u: np.ndarray, n_items: int, s: float) -> np.ndarray:
    """Map uniforms to item ranks 0..n_items-1 with weight 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, u, side="right"), n_items - 1)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


# ---------------------------------------------------------------- corpus

def clustered_corpus(seed: int, n: int, dim: int, n_clusters: int,
                     sigma: float = 0.06) -> tuple[np.ndarray, np.ndarray]:
    """(vectors float32 [n, dim], labels) — unit vectors scattered around
    ``n_clusters`` unit centres whose sizes follow a Zipf(0.8) law, so
    some clusters are many times larger than others.  Labels are hashed
    per row, so cluster members are spread over the id space."""
    labels = zipf_choice(uniform(seed, S_LABEL, n), n_clusters, 0.8)
    centers = _unit_rows(gaussian(seed, S_CENTER, n_clusters * dim)
                         .reshape(n_clusters, dim))
    noise = gaussian(seed, S_NOISE, n * dim).reshape(n, dim)
    vecs = _unit_rows(centers[labels] + sigma * noise).astype(np.float32)
    return vecs, labels


def near_cluster_queries(seed: int, n: int, dim: int, n_clusters: int,
                         sigma: float = 0.06) -> np.ndarray:
    """n distinct float64 unit queries, each near a corpus cluster centre
    (clusters drawn with the corpus's own size law); rounded to 9 dp so
    the literal a query plan embeds is the exact double checked here."""
    centers = _unit_rows(gaussian(seed, S_CENTER, n_clusters * dim)
                         .reshape(n_clusters, dim))
    labels = zipf_choice(uniform(seed, S_QLABEL, n), n_clusters, 0.8)
    noise = gaussian(seed, S_QNOISE, n * dim).reshape(n, dim)
    return np.round(_unit_rows(centers[labels] + sigma * noise), 9)


# ---------------------------------------------------------------- hotels

_TEMPLATES = [
    "{kind} on {street} in {city}",
    "{street} near {city} center",
    "cheap {kind} {city}",
    "{city} {kind} close to {street}",
    "quiet {kind} quarter {city}",
]


def hotel_phrasings(seed: int, n: int = 50) -> list[str]:
    """n distinct free-text queries built from the hotel fixture's
    cities, streets and kinds."""
    from tripgogo_vector_search_spark.sources import hotels_fixture as hf
    out: list[str] = []
    i = 0
    u = uniform(seed, S_PHRASE, 16 * n)
    while len(out) < n:
        t, c, s, k = (int(x * m) for x, m in zip(
            u[4 * i:4 * i + 4],
            (len(_TEMPLATES), len(hf.CITIES), len(hf._STREETS), len(hf._KINDS))))
        text = _TEMPLATES[t].format(kind=hf._KINDS[k].lower(),
                                    street=hf._STREETS[s], city=hf.CITIES[c])
        if text not in out:
            out.append(text)
        i += 1
    return out


def hotel_requests(seed: int, n_requests: int, n_phrasings: int = 50
                   ) -> list[tuple[str, int]]:
    """(query text, k) pairs: texts Zipf(1.1)-repeated over the
    phrasings, k uniform in [1, 10] (the reference UI slider range)."""
    texts = hotel_phrasings(seed, n_phrasings)
    ranks = zipf_choice(uniform(seed, S_PHRASE + 100, n_requests),
                        n_phrasings, 1.1)
    ks = 1 + (uniform(seed, S_TOPK, n_requests) * 10).astype(int)
    return [(texts[r], int(k)) for r, k in zip(ranks, ks)]


# ---------------------------------------------------------------- documents

_SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
         "do", "gu", "hi", "ja", "ko", "be"]


def _word(i: int) -> str:
    return _SYLL[i % 16] + _SYLL[(i // 16) % 16] + _SYLL[(i // 256) % 16]


def base_texts(seed: int, n: int) -> list[str]:
    """n template documents of 8..31 words over a 2,048-word vocabulary
    (Zipf(1.0) word frequencies)."""
    lens = 8 + (uniform(seed, S_WORDS, n) * 24).astype(int)
    starts = np.concatenate([[0], np.cumsum(lens)])
    words = zipf_choice(uniform(seed, S_WORDS + 1, int(starts[-1])), 2048, 1.0)
    return [" ".join(_word(int(w)) for w in words[starts[i]:starts[i + 1]])
            for i in range(n)]


def replicated_documents(seed: int, n_docs: int, n_base: int = 2000
                         ) -> list[str]:
    """The document corpus: ``n_base`` template documents copied with id
    offsets (copy c holds ids c*n_base ..), each copy tagged with its own
    token so no two documents share a text."""
    base = base_texts(seed, n_base)
    return [f"{base[i % n_base]} copy{i // n_base}" for i in range(n_docs)]


def fingerprint(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def refresh_delta(seed: int, cycle: int, live_ids: list[int], next_id: int,
                  n_new: int, n_changed: int, n_retired: int) -> dict:
    """One refresh cycle's delta, clustered by id range: new docs take
    fresh ids past ``next_id``; changed and retired docs are contiguous
    runs of live ids starting at hashed positions, so each touches only
    one or two id-range partitions of the store."""
    u = uniform(seed, S_DELTA, 4, offset=4 * cycle)
    live = sorted(live_ids)
    span = len(live) - n_changed - n_retired
    c0 = int(u[0] * span)
    changed = live[c0:c0 + n_changed]
    rest = live[:c0] + live[c0 + n_changed:]
    r0 = int(u[1] * (len(rest) - n_retired))
    retired = rest[r0:r0 + n_retired]
    new = list(range(next_id, next_id + n_new))
    return {"new": new, "changed": changed, "retired": retired,
            "tag": f"rev{cycle}"}


# ---------------------------------------------------------------- cache

def _write_corpus_parquet(path: str, vecs: np.ndarray, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    n, dim = vecs.shape
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        flat = pa.array(vecs[lo:hi].reshape(-1), type=pa.float32())
        emb = pa.FixedSizeListArray.from_arrays(flat, dim).cast(
            pa.list_(pa.float32()))
        table = pa.table({"vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                          "embedding": emb})
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def corpus_inputs(cache_dir: str, seed: int, n: int, dim: int,
                  n_clusters: int, n_queries: int, n_files: int = 8) -> dict:
    """Generate (or reuse) the clustered corpus parquet + query matrix.
    Returns paths plus the arrays the answer checks need."""
    key = f"corpus_s{seed}_n{n}_d{dim}_c{n_clusters}_q{n_queries}"
    root = os.path.join(cache_dir, key)
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        vecs, _ = clustered_corpus(seed, n, dim, n_clusters)
        queries = near_cluster_queries(seed, n_queries, dim, n_clusters)
        _write_corpus_parquet(os.path.join(root, "corpus.parquet"), vecs, n_files)
        np.save(os.path.join(root, "vecs.npy"), vecs)
        np.save(os.path.join(root, "queries.npy"), queries)
        with open(done, "w") as f:
            json.dump({"seed": seed, "n": n, "dim": dim}, f)
    return {"dir": root,
            "vecs": np.load(os.path.join(root, "vecs.npy")),
            "queries": np.load(os.path.join(root, "queries.npy"))}
