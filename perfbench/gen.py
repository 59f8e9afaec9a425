"""Seeded input generation for the three workloads.

The same seed gives the same inputs. Each workload's tables are written
as Parquet under one directory, in the schemas the engine's loaders
(`graft.Tables`) read, so the engine receives only generated inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Origins and POIs scale separately: the nearest-POI ETA
# costs about origins x POIs in the 3x3 cell neighbourhood at the 60
# degree search cap, so growing both together grows the cost
# quadratically.
RAM = {"origins": 1200, "pois": 120}
# Base corpus, replicated COPIES times the way graft.ScaleProbe.buildScaled
# replicates (key shift, per-copy token suffix, per-copy sign flip).
CORPUS = {"docs": 120, "vectors": 60, "copies": 2, "dup_frac": 0.05,
          "near_frac": 0.05}
TABLE = {"rows": 3000, "rounds": 2, "upserts": 300, "appends": 150,
         "window": 1000}

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3,
                 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ["a", "the", "data", "spark", "table", "row", "column", "query",
         "join", "agg", "group", "sort", "filter", "scan", "hash", "key",
         "value", "part", "line", "order", "customer", "window", "stream",
         "batch", "merge", "vector", "fast", "slow", "big", "small", "index"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def ram_project(rng, d):
    """Origins (customer) at seeded keys, POIs (supplier) over the 0-based
    key space the road network is built on, 25 admin areas (nation).
    Coordinates derive from the keys inside the engine."""
    n, m = RAM["origins"], RAM["pois"]
    keys = np.sort(rng.choice(n * 8, n, replace=False)).astype(np.int64)
    _write(d, "customer", {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    s = np.arange(m, dtype=np.int64)
    _write(d, "supplier", {
        "s_suppkey": s,
        "s_name": [f"Supplier#{k:09d}" for k in s],
        "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, m), 2)})
    _write(d, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array(NATION_REGION, pa.int32())})


def _base_texts(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < CORPUS["dup_frac"]:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < CORPUS["dup_frac"] + CORPUS["near_frac"]:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return texts


def corpus_curation(rng, d):
    """A seeded base corpus with exact and near duplicates, replicated
    shape-preservingly: copy i shifts the keys by i * (max + 1), suffixes
    every token with ~i, and flips the embedding signs by one seeded +-1
    vector per copy, so copies are disjoint in every similarity space
    while each copy keeps the base corpus's structure."""
    n, nv, f = CORPUS["docs"], CORPUS["vectors"], CORPUS["copies"]
    texts = _base_texts(rng, n)
    lang = rng.choice(LANGS, n, p=LANG_P)
    source = [f"src{i % 20}" for i in range(n)]
    docs = {"doc_id": [], "text": [], "lang": [], "source": [],
            "n_chars": []}
    for c in range(f):
        for i, t in enumerate(texts):
            tc = t if c == 0 else " ".join(w + f"~{c}" for w in t.split(" "))
            docs["doc_id"].append(i + c * n)
            docs["text"].append(tc)
            docs["lang"].append(lang[i])
            docs["source"].append(source[i])
            docs["n_chars"].append(len(tc))
    docs["doc_id"] = pa.array(docs["doc_id"], pa.int64())
    docs["n_chars"] = pa.array(docs["n_chars"], pa.int64())
    _write(d, "documents", docs)

    vec = rng.standard_normal((nv, 64))
    for i in range(10, nv):
        if rng.random() < CORPUS["near_frac"]:
            vec[i] = vec[rng.integers(0, i)] + 0.05 * rng.standard_normal(64)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, 10, nv).astype(np.int32)
    copies = [vec] + [vec * rng.choice([-1.0, 1.0], 64).astype(np.float32)
                      for _ in range(1, f)]
    allv = np.concatenate(copies)
    _write(d, "embeddings", {
        "vec_id": pa.array(np.arange(nv * f), pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": pa.array(np.tile(label, f), pa.int32())})


def _payloads(rng, n):
    lens = rng.integers(30, 70, n)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    chars = rng.choice(alphabet, int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append("".join(chars[pos:pos + k]))
        pos += k
    return out


def table_churn(rng, d):
    """A base table and, per round, one change batch (updates and deletes
    inside a seeded key window plus fresh inserts), one append batch of
    fresh keys, and one updated key to read back."""
    t = TABLE
    n = t["rows"]
    _write(d, "table_base", {"k": np.arange(n, dtype=np.int64),
                             "p": _payloads(rng, n),
                             "v": rng.standard_normal(n)})
    next_key = n
    points = []
    for r in range(t["rounds"]):
        n_new = t["upserts"] // 5
        w0 = int(rng.integers(0, next_key - t["window"]))
        old = rng.choice(np.arange(w0, w0 + t["window"]),
                         t["upserts"] - n_new, replace=False)
        new = np.arange(next_key, next_key + n_new)
        next_key += n_new
        k = np.concatenate([old, new]).astype(np.int64)
        delete = np.zeros(len(k), bool)
        delete[:len(old) // 10] = True
        _write(d, f"upsert_{r}", {"k": k, "p": _payloads(rng, len(k)),
                                  "v": rng.standard_normal(len(k)),
                                  "del": delete})
        a = np.arange(next_key, next_key + t["appends"], dtype=np.int64)
        next_key += t["appends"]
        _write(d, f"append_{r}", {"k": a, "p": _payloads(rng, len(a)),
                                  "v": rng.standard_normal(len(a))})
        # read back a key the round's change batch updated, so every
        # seed's point read lands in the data the merge just wrote
        points.append(int(rng.choice(old[len(old) // 10:])))
    _write(d, "points", {"round": pa.array(range(t["rounds"]), pa.int32()),
                         "k": pa.array(points, pa.int64())})


WORKLOADS = {"ram_project": ram_project, "corpus_curation": corpus_curation,
             "table_churn": table_churn}


def generate(workload, seed, d):
    os.makedirs(d, exist_ok=True)
    WORKLOADS[workload](np.random.default_rng(seed), d)
